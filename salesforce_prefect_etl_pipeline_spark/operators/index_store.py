"""Versioned index store: the one lifecycle every persisted index family
shares — the MinHash-LSH index (``operators/dedup.py``), the IVF/PQ
vector index (``operators/similarity.py``) and the BM25 / champion /
positional text tiers (``operators/retrieval.py``). The families own
only their encode and probe kernels; publication, commit records,
batch ids, the committed read and tombstones live here, once.

Layout. An index dir holds named components (parquet dirs such as
``bands``, ``lists`` or ``postings``). A fresh build writes them FLAT
(``<index_dir>/<comp>``). The first compaction or rebuild introduces
versioned snapshots (``<index_dir>/versions/v<N>/<comp>``), and the
``CURRENT`` pointer file names the live one. Every reader and appender
resolves a component through :func:`component_path`.

Snapshot isolation (the Delta/Iceberg commit shape at directory
grain). :func:`publish` allocates ``v<N+1>`` after the current
version, lets the caller write every component into it, then fsyncs a
temporary pointer and ``os.replace``-s it over ``CURRENT`` — the single
commit point. There is no window where a live component is missing: a
probe that resolved ``CURRENT`` before the swap keeps reading the
previous version, which is retained; one that resolves after reads the
new one. A crash anywhere before the swap leaves ``CURRENT`` on intact
data, and the re-run rewrites the same ``v<N+1>`` anew, so it
converges to the uninterrupted run's files. Retention keeps the new
and previous versions, drops older ones, and drops the flat build once
it is no longer the previous snapshot — so a probe must finish within
one maintenance cycle. :func:`gc_versions` is the standalone,
schedulable form of that retention. Still required: ONE maintenance
writer, and no appends while a publish rewrites (an append into the
old version after the rewrite began would be dropped by the swap — the
ingest job and the compactor are the same owner, the reference's
operating model).

Commit records (the tear invariant). Every ingest or retraction batch
has a content-derived id (:func:`batch_id`: md5 of
``[prefix:]min:max:count`` over the batch's key column — no wall
clock, identical on replay). Data rows land FIRST, stamped with the
id; one row in the family's commit-record component (``totals``,
``posbatches``, ``vecbatches``) lands LAST and commits the batch. A
crash between the two leaves an uncommitted batch that
:func:`reconcile` never returns; the replay re-appends byte-identical
rows under the same id, which the read collapses by replay dedup. A
replayed already-committed batch is skipped by the streaming sinks'
:func:`committed_ids` guard. Commit rows carry ``origin``
(build/append/retract): the replay dedup is skipped only for a
single-batch index whose one ingest batch is an OVERWRITE build,
since an append-created single batch, torn and replayed, still
carries duplicates.

Retractions (:func:`write_retraction`) are the dual: tombstone rows
(key, batch_id) first, then a commit row with ``origin`` = retract.
Readers anti-join only tombstones of committed batches
(:func:`drop_tombstones`); compaction applies them physically, so a
published version carries none.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

R = TypeVar("R")

#: Committed-id sets small enough to push as a plan-time ``isin``
#: literal instead of a broadcast semi-join. Batch counts are
#: control-plane sized (one id per ingest batch), so even heavy
#: streaming stays in the hundreds between compactions.
_BATCH_ISIN_CAP = 128


def component_path(index_dir: str, comp: str) -> str:
    """Resolve a component through the ``CURRENT`` pointer: the live
    version's copy once one is published, else the flat build's."""
    v = current_version(index_dir)
    if v:
        return os.path.join(index_dir, "versions", v, comp)
    return os.path.join(index_dir, comp)


def current_version(index_dir: str) -> str:
    """The version ``CURRENT`` names, or "" for the flat
    (never-published) layout. Cache keys derived from an index dir
    should include this: a publish changes it, so memoized per-version
    artifacts (e.g. loaded IVF centroids) never pair with a newer
    version's data."""
    cur = os.path.join(index_dir, "CURRENT")
    if os.path.exists(cur):
        return open(cur).read().strip()
    return ""


def reset_versions(index_dir: str) -> None:
    """Drop the pointer and every version before a full flat rebuild —
    else the fresh flat layout would be shadowed by a stale snapshot."""
    if os.path.exists(os.path.join(index_dir, "CURRENT")):
        os.remove(os.path.join(index_dir, "CURRENT"))
        shutil.rmtree(os.path.join(index_dir, "versions"), ignore_errors=True)


def publish(
    index_dir: str, write: Callable[[str], R], flat_components: tuple[str, ...]
) -> R:
    """Publish a new version: ``write(new_root)`` fills
    ``versions/v<N+1>/`` (N = the current version, 0 when flat), then
    the pointer swap commits it. Returns what ``write`` returned.
    ``flat_components`` are the family's flat-build dirs, removed once
    a version (not the flat build) is the previous snapshot."""
    prev = current_version(index_dir)
    next_v = f"v{int(prev[1:]) + 1 if prev else 1}"
    versions_root = os.path.join(index_dir, "versions")
    new_root = os.path.join(versions_root, next_v)
    shutil.rmtree(new_root, ignore_errors=True)
    out = write(new_root)
    tmp_pointer = os.path.join(index_dir, ".CURRENT.tmp")
    with open(tmp_pointer, "w") as f:
        f.write(next_v)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_pointer, os.path.join(index_dir, "CURRENT"))
    for v in os.listdir(versions_root):
        if v not in (next_v, prev):
            shutil.rmtree(os.path.join(versions_root, v), ignore_errors=True)
    if prev:
        for comp in flat_components:
            shutil.rmtree(os.path.join(index_dir, comp), ignore_errors=True)
    return out


def gc_versions(index_dir: str, keep_n: int = 2) -> list[str]:
    """Garbage-collect superseded ``versions/v<N>/`` snapshots — the
    retention :func:`publish` applies, as a standalone schedulable job
    for snapshots a crashed publish or a lowered keep-N left behind.

    Never deletes the ``CURRENT`` target, and keeps at least the
    previous version too (``keep_n`` is clamped to >= 2: a reader that
    resolved the pointer one publish ago still reads data that exists).
    Versions NEWER than ``CURRENT`` are left alone (an in-flight
    publish's staging dir). Each victim is removed independently, so a
    killed GC leaves a subset removed and the re-run converges. Flat
    layouts are a no-op. Returns the removed names (e.g. ``["v1"]``)."""
    keep_n = max(2, int(keep_n))
    cur = current_version(index_dir)
    versions_root = os.path.join(index_dir, "versions")
    if not cur or not os.path.isdir(versions_root):
        return []
    cur_n = int(cur[1:])
    numbered = sorted(
        int(v[1:])
        for v in os.listdir(versions_root)
        if v.startswith("v") and v[1:].isdigit()
    )
    retained = set(sorted((n for n in numbered if n <= cur_n), reverse=True)[:keep_n])
    removed = []
    for n in numbered:
        if n < cur_n and n not in retained:
            shutil.rmtree(os.path.join(versions_root, f"v{n}"), ignore_errors=True)
            removed.append(f"v{n}")
    return removed


def batch_id(key: str, prefix: str = "") -> Column:
    """The content-derived batch id as an aggregate Column:
    md5([prefix:]min:max:count) over ``key``. Batches hold disjoint
    keys by contract, so the id is unique and deterministic. Callers
    fold it into the aggregate they already run; on its own it touches
    only ``key``, so the scan is column-pruned to it."""
    parts = ([F.lit(prefix)] if prefix else []) + [
        F.min(key),
        F.max(key),
        F.count(F.lit(1)),
    ]
    return F.md5(F.concat_ws(":", *parts)).alias("batch_id")


def collect_batch_id(df: DataFrame, key: str, prefix: str = "") -> str:
    """:func:`batch_id` of ``df``, collected (one job)."""
    return df.agg(batch_id(key, prefix)).collect()[0]["batch_id"]


def write_commit(
    spark: SparkSession,
    record_path: str,
    mode: str,
    bid: str,
    origin: str,
    **totals: int,
) -> None:
    """Write a batch's one-row commit record: the family's ``totals``
    columns (long, in the given order), then ``batch_id`` and
    ``origin``."""
    schema = "".join(f"{k} long, " for k in totals)
    spark.createDataFrame(
        [(*totals.values(), bid, origin)],
        schema + "batch_id string, origin string",
    ).write.mode(mode).parquet(record_path)


def write_retraction(
    keys: DataFrame,
    bid: str,
    tomb_path: str,
    record_path: str,
    **totals: int,
) -> None:
    """Tombstones first, then the commit record: append ``keys``
    stamped with ``bid`` to ``tomb_path``, then commit the batch with
    an ``origin`` = retract row."""
    keys.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(
        tomb_path
    )
    write_commit(keys.sparkSession, record_path, "append", bid, "retract", **totals)


def _commit_rows(spark: SparkSession, record_path: str) -> list[dict]:
    """One dict per commit record — batch_id plus the provenance columns
    the record carries (``n_docs``, ``origin``); control-plane sized."""
    rec = spark.read.parquet(record_path)
    extra = [c for c in ("n_docs", "origin") if c in rec.columns]
    return [r.asDict() for r in rec.select("batch_id", *extra).collect()]


def committed_ids(spark: SparkSession, record_path: str) -> set[str]:
    """The committed batch ids — the streaming sinks' replay guard (a
    replayed already-committed batch is skipped) and the maintenance
    report's committed filter."""
    return {r["batch_id"] for r in _commit_rows(spark, record_path)}


def _is_ingest(r: dict) -> bool:
    # BM25 totals mark retractions by negative n_docs; other records by
    # origin where they carry it; records with neither are all ingest
    if "n_docs" in r:
        return r["n_docs"] >= 0
    return r.get("origin") != "retract"


def committed_tombstones(
    spark: SparkSession, tomb_path: str, committed: str | list[str], key: str
) -> DataFrame | None:
    """Distinct ``key``s retracted by COMMITTED batches, or None when
    the index has no tombstone component (zero read cost). ``committed``
    is either the commit-record path (read here) or the committed ids
    the caller already collected."""
    if not os.path.isdir(tomb_path):
        return None
    if isinstance(committed, str):
        ids = (
            spark.read.parquet(committed)
            .select("batch_id")
            .dropDuplicates(["batch_id"])
        )
    else:
        ids = spark.createDataFrame([(b,) for b in committed], "batch_id string")
    return (
        spark.read.parquet(tomb_path)
        .join(F.broadcast(ids), "batch_id", "leftsemi")
        .select(key)
        .distinct()
    )


def drop_tombstones(
    df: DataFrame,
    spark: SparkSession,
    tomb_path: str,
    committed: str | list[str],
    key: str,
) -> DataFrame:
    """Anti-join ``df`` against the committed tombstones (no-op without
    a tombstone component). Deliberately not a forced broadcast:
    retraction sets grow unboundedly at crawl scale, and AQE promotes
    the join while they are small."""
    tomb = committed_tombstones(spark, tomb_path, committed, key)
    return df if tomb is None else df.join(tomb, key, "anti")


def reconcile(
    spark: SparkSession,
    df: DataFrame,
    record_path: str,
    dedup_keys: list[str],
) -> tuple[DataFrame, list[str]]:
    """The committed read: ``df`` (stamped data rows, pruning already
    applied) restricted to committed batches, replay-deduped on
    ``dedup_keys`` unless the index is one overwrite build. Returns the
    frame and the sorted committed ids.

    Kept shuffle-free in the common cases: the ids are collected once
    and pushed as a plan-time ``isin`` (parquet-scannable) up to
    ``_BATCH_ISIN_CAP``, past it a broadcast semi-join against the
    record. Data rows carry only ingest-batch stamps — retraction ids
    exist solely as commit records — so the literal filter is exact."""
    rows = _commit_rows(spark, record_path)
    ids = sorted({r["batch_id"] for r in rows})
    ingest = {r["batch_id"]: r.get("origin") for r in rows if _is_ingest(r)}
    single_build = len(ingest) == 1 and set(ingest.values()) == {"build"}
    if len(ids) <= _BATCH_ISIN_CAP:
        df = df.filter(F.col("batch_id").isin(ids))
    else:
        committed = spark.read.parquet(record_path).select("batch_id")
        df = df.join(F.broadcast(committed), "batch_id", "leftsemi")
    if not single_build:
        df = df.dropDuplicates(dedup_keys)
    return df, ids
