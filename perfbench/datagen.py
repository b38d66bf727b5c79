"""Deterministic benchmark data: an sf0.1-shaped star schema plus the
sf1 set derived from it.

The benchmark brings its own inputs, so it needs nothing outside the
checkout. ``write_base`` synthesizes the ten tables the queries read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the column names, types and value domains
of the project's sf0.1 test data: the same categorical vocabularies,
key ranges, date spans and a 30-word document vocabulary with planted
near-duplicates. The tables are a pure function of ``DATA_SEED``; the
workload seed only chooses operation sequences, so prepared data and
oracle answers are reused across runs.

sf1 is built from this base by ``tools/gen_scale_data.py --replicas
10``, the project's own scale-out tool, and accepted only when its
row-group layout guard and recorded file checksums pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the table contents. Fixed: the workload seed varies the
#: operations, never the data, so oracle answers stay reusable.
DATA_SEED = 42

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: Row counts of the sf0.1 shape.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_PART_ADJ = "blue old large hot cold red small new".split()
_PART_NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
_EPOCH_DAY = np.datetime64("1970-01-01", "D")


def _days(lo: str, hi: str, rng: np.random.Generator, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH_DAY).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH_DAY).astype(int)
    d = rng.integers(a, b + 1, n)
    return (d.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(DOC_VOCAB)
    texts: list[str] = []
    for i in range(n):
        # ~5% near-duplicates of an earlier document (one token swapped,
        # a marker appended) and a few exact copies, so the dedup and
        # near-dup stages of curation have real work.
        u = rng.random()
        if i > 10 and u < 0.05:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks = [t for t in toks if t != "dup"]
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(vocab))
            texts.append(" ".join(toks + ["dup"]))
        elif i > 10 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    langs = rng.choice(
        np.array(["en", "zh", "de", "fr", "es"]), n, p=[0.4, 0.15, 0.15, 0.15, 0.15]
    )
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(size=(10, dim))
    mat = centers[labels] + 1.5 * rng.normal(size=(n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(
                [row.tolist() for row in mat.astype("float32")],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(labels),
        }
    )


def base_tables(seed: int = DATA_SEED, scale: float = 1.0) -> dict[str, pa.Table]:
    """All ten sf0.1-shaped tables as Arrow tables, row counts times
    ``scale``."""
    rng = np.random.default_rng(seed)
    n = {k: max(50, int(v * scale)) for k, v in SF01_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(
                rng.choice(
                    np.array(
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
                    ),
                    nc,
                ).tolist()
            ),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype="int64")),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, 8, npart), rng.integers(0, 8, npart)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": pa.array(
                rng.choice(
                    np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
                    npart,
                ).tolist()
            ),
            "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
            ),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
            "o_orderstatus": pa.array(
                rng.choice(np.array(["F", "O", "P"]), no).tolist()
            ),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", rng, no)),
            "o_orderpriority": pa.array(
                rng.choice(
                    np.array(
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                    ),
                    no,
                ).tolist()
            ),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(
                rng.choice(np.array(["A", "N", "R"]), nl).tolist()
            ),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), nl).tolist()),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", rng, nl)),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + start
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype="int64")),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, ne).astype("int64")),
            "event_type": pa.array(
                rng.choice(
                    np.array(["click", "error", "purchase", "signup", "view"]), ne
                ).tolist()
            ),
            "value": pa.array(np.round(rng.exponential(60.0, ne), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def dir_checksums(data_dir: str) -> dict[str, str]:
    return {t: file_sha256(os.path.join(data_dir, f"{t}.parquet")) for t in TABLES}


def _manifest_path(data_dir: str) -> str:
    return os.path.join(data_dir, "_perfbench_manifest.json")


def verified_checksums(data_dir: str) -> dict[str, str] | None:
    """The recorded per-table checksums when every table file still
    matches them, else None (missing, partial or altered data)."""
    try:
        with open(_manifest_path(data_dir)) as f:
            recorded = json.load(f)["checksums"]
    except (OSError, ValueError, KeyError):
        return None
    try:
        return recorded if dir_checksums(data_dir) == recorded else None
    except OSError:
        return None


def _record(data_dir: str, extra: dict) -> dict[str, str]:
    sums = dir_checksums(data_dir)
    with open(_manifest_path(data_dir), "w") as f:
        json.dump({"checksums": sums, **extra}, f, indent=1, sort_keys=True)
    return sums


def write_base(out_dir: str, scale: float = 1.0) -> dict[str, str]:
    """Write the sf0.1-shaped tables (one parquet file each, the
    project's test-data layout) and record their checksums."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(scale=scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return _record(out_dir, {"data_seed": DATA_SEED, "scale": scale})


def layout_ok(data_dir: str, tools_dir: str) -> bool:
    """gen_scale_data's own row-group guard, re-checked on reuse."""
    sys.path.insert(0, tools_dir)
    import rechunk_scaledata

    for t in TABLES:
        meta = pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata
        if meta.num_row_groups < rechunk_scaledata.expected_min_groups(meta.num_rows):
            return False
    return True


def write_sf1(base_dir: str, out_dir: str, repo_root: str, env: dict) -> dict[str, str]:
    """Replicate the base ten times with ``tools/gen_scale_data.py``
    (its own Spark session, layout guard included)."""
    subprocess.run(
        [
            sys.executable,
            os.path.join(repo_root, "tools", "gen_scale_data.py"),
            "--replicas",
            "10",
            "--src",
            base_dir,
            "--out",
            out_dir,
        ],
        check=True,
        env=env,
        cwd=repo_root,
        stdout=subprocess.DEVNULL,
    )
    return _record(out_dir, {"replicas": 10})
