#!/usr/bin/env python3
"""Materialize a K-fold scaled replica of a driver testdata dir.

Usage: python tools/make_scaled_dir.py [sf_dir] [K] [out_dir]
       (defaults: /root/testdata/sf0.1  5  <mkdtemp>)

Produces the same 10-table layout with every fact/dim table
replicated K times under consistent key shifts, so all foreign keys
stay valid and per-key fan-in stays realistic (TPC-H semantics: the
25-nation / 5-region dims stay FIXED as sf grows; everything keyed
grows linearly).  Replica payloads are decorrelated so scaled runs do
not manufacture degenerate duplicate blowups:

  * documents.text is alphabet-rotated per replica (corpus grows K×
    without cross-replica near-dup pairs);
  * embeddings.embedding is cyclically rotated per replica (unit norm
    preserved, direction decorrelated).

Prints the output dir on stdout, so a scaled run is e.g.
``python tools/check_oracle.py $(python tools/make_scaled_dir.py)``
(every registered query at 5× sf0.1, sf0.5 equivalent).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tmp_parquet_merge_spark.session import get_spark  # noqa: E402

SHIFT = 10_000_000

# key columns shifted per replica (referential integrity preserved:
# both sides of every FK edge shift by the same replica offset)
KEY_SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED_DIMS = ("region", "nation")
ALPHA = "abcdefghijklmnopqrstuvwxyz"


def replicate(df, table: str, k: int):
    rep = df.withColumn(
        "__r", F.explode(F.array(*[F.lit(i) for i in range(k)]))
    )
    for c in KEY_SHIFTS[table]:
        rep = rep.withColumn(c, F.col(c) + F.col("__r").cast("long") * SHIFT)
    if table == "documents":
        rot = F.col("text")
        for i in range(1, k):
            r = i % 26 or 1
            rot = F.when(
                F.col("__r") == i,
                F.translate("text", ALPHA, ALPHA[r:] + ALPHA[:r]),
            ).otherwise(rot)
        rep = rep.withColumn("text", rot)
    if table == "embeddings":
        # cyclic rotation by replica index: same norm, decorrelated
        dim = F.size("embedding")
        rep = rep.withColumn(
            "embedding",
            F.when(F.col("__r") == 0, F.col("embedding")).otherwise(
                F.concat(
                    F.slice(
                        "embedding",
                        (F.col("__r") % dim) + 1,
                        F.lit(10_000),
                    ),
                    F.slice("embedding", 1, F.col("__r") % dim),
                )
            ),
        )
    return rep.drop("__r")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    out = (
        sys.argv[3]
        if len(sys.argv) > 3
        else tempfile.mkdtemp(prefix=f"tpms_sfx{k}_")
    )
    spark = get_spark("make-scaled-dir")
    for table in FIXED_DIMS:
        df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        df.write.mode("overwrite").parquet(
            os.path.join(out, f"{table}.parquet")
        )
    for table, _keys in KEY_SHIFTS.items():
        df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        n_out = max(4, min(32, 4 * k))
        replicate(df, table, k).repartition(n_out).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{table}.parquet"))
        print(f"# {table}: x{k}", file=sys.stderr)
    print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
