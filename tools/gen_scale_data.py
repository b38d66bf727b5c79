"""Synthesize a larger scale factor from the driver's sf0.1 testdata by
ISOMORPHIC REPLICATION — the repo's own scaling fixture for measuring
how bench queries grow with data volume (TESTDATA.md caps the driver
data at sf0.1; correctness stays oracle-checked at sf0.01, this data is
used ONLY for scaling-exponent measurement in SCALE.md).

Design: N replicas of every sf0.1 table, each replica shifted into its
own key space (constant 10M stride on every surrogate key). Fixed
dimensions (region, nation) are copied once, TPC-H-style. Two tables
need more than key offsets to preserve WORKLOAD SHAPE:

- ``documents``: replica r > 0 applies a seeded alphabet permutation to
  the text (letters->letters, digits->digits, case-consistently).
  Shingle sets are isomorphic under the permutation, so WITHIN a
  replica the near-dup/containment/cluster structure of sf0.1 is
  preserved EXACTLY (same df distribution, same pair counts), while
  CROSS-replica shingles share essentially nothing — scaling the
  corpus means 10x the clusters, not 10x-bigger clusters (which would
  distort candidate counts quadratically). n_chars is unchanged by the
  permutation.
- ``embeddings``: replica r > 0 applies a seeded random rotation
  (orthogonal Q from QR of a Gaussian). Within-replica cosines are
  exact; cross-replica cosines are near-orthogonal random, matching
  the base corpus's own cross-pair statistics.

Usage: python tools/gen_scale_data.py [--replicas 10]
       [--src /root/testdata/sf0.1] [--out /root/repo/.scaledata/sf1]
"""

from __future__ import annotations

import argparse
import os
import random
import string
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
from pyspark.sql import functions as F

from salesforce_prefect_etl_pipeline_spark.plans import load_table
from salesforce_prefect_etl_pipeline_spark.session import get_spark

#: every surrogate key space in sf0.1 tops out well below this
KEY_STRIDE = 10_000_000

#: key columns per replicated table (all BIGINT in the source schema)
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}


def _alphabet_maps(replica: int) -> tuple[str, str]:
    """(src, dst) for F.translate: seeded permutations of lowercase,
    uppercase (same permutation, case-consistent) and digits."""
    rng = random.Random(10_000 + replica)
    lower = list(string.ascii_lowercase)
    perm = lower[:]
    rng.shuffle(perm)
    digits = list(string.digits)
    dperm = digits[:]
    rng.shuffle(dperm)
    src = string.ascii_lowercase + string.ascii_uppercase + string.digits
    dst = (
        "".join(perm)
        + "".join(c.upper() for c in perm)
        + "".join(dperm)
    )
    return src, dst


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".scaledata",
            "sf1",
        ),
    )
    args = ap.parse_args()
    spark = get_spark("gen_scale_data")
    os.makedirs(args.out, exist_ok=True)

    def write(df, name):
        # one flat parquet FILE per table, exactly the driver layout —
        # the streaming sources symlink '{sf_dir}/events.parquet' as a
        # file, so a directory-per-table layout breaks them
        import glob
        import shutil

        tmp = f"{args.out}/.__tmp_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{args.out}/{name}.parquet")
        shutil.rmtree(tmp)
        print(f"wrote {name}", flush=True)

    for name in ("region", "nation"):
        write(load_table(spark, args.src, name), name)

    for name, keys in KEYED.items():
        base = load_table(spark, args.src, name)
        parts = []
        for r in range(args.replicas):
            rep = base
            for kcol in keys:
                rep = rep.withColumn(kcol, F.col(kcol) + F.lit(r * KEY_STRIDE))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        write(out, name)

    docs = load_table(spark, args.src, "documents")
    parts = []
    for r in range(args.replicas):
        rep = docs.withColumn("doc_id", F.col("doc_id") + F.lit(r * KEY_STRIDE))
        if r > 0:
            src_chars, dst_chars = _alphabet_maps(r)
            rep = rep.withColumn("text", F.translate("text", src_chars, dst_chars))
        parts.append(rep)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    write(out, "documents")

    emb_rows = load_table(spark, args.src, "embeddings").collect()
    base_mat = np.array([list(r.embedding) for r in emb_rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in emb_rows])
    labels = np.array([r.label for r in emb_rows])
    frames = []
    for r in range(args.replicas):
        if r == 0:
            mat = base_mat
        else:
            q, _ = np.linalg.qr(
                np.random.default_rng(20_000 + r).normal(size=(64, 64))
            )
            mat = base_mat @ q
        frames.append(
            [
                (int(i + r * KEY_STRIDE), [float(x) for x in v], int(lb))
                for i, v, lb in zip(ids, mat, labels)
            ]
        )
    emb_out = spark.createDataFrame(
        [row for fr in frames for row in fr],
        "vec_id long, embedding array<float>, label int",
    )
    write(emb_out, "embeddings")

    # Layout guard (r16 post-mortem): the coalesce(1) writes above leave
    # ONE row group per file (Spark's 128 MB parquet block), which makes
    # big tables unsplittable — sf10's 57 MB single-group documents file
    # serialized every text kernel and inflated the ladder point 2.4x.
    # Rechunking is part of generation, not a separate step a caller can
    # forget; the guard makes a silent revert impossible.
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import rechunk_scaledata

    rechunk_scaledata.main([args.out])
    rechunk_scaledata.check_layout(args.out)
    print(f"done -> {args.out}")


if __name__ == "__main__":
    main()
