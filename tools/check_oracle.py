"""Local mini-driver: run every registered query on Spark AND its DuckDB
oracle, compare row count / column names / order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from tmp_parquet_merge_spark.queries import REGISTRY  # noqa: E402
from tmp_parquet_merge_spark.registry import register_duckdb_views  # noqa: E402
from tmp_parquet_merge_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # NO -0.0 masking: the correctness driver hashes '-0.0' != '0.0', so a
        # local gate that unifies them hides real driver failures (it hid
        # q_column_stats' footer -0.0). Queries must canonicalize
        # signed zero themselves (add F.lit(0.0) to the expression).
        #
        # Integral floats keep a '.0' marker so they do NOT collapse onto
        # ints: the driver hashes pandas float64 12345.0 apart from int64
        # 12345 (q_tokenizer_fertility/q_shard_balance hash-FAILED through
        # a shared '%.10g' spelling). Float-vs-float
        # comparisons are unaffected — both sides get the marker.
        s = f"{v:.10g}"
        if "." not in s and "e" not in s and "inf" not in s:
            s += ".0"
        return s
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )


def main():
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    elif args and args[0] not in REGISTRY:
        # neither a directory nor a known query: a typo'd sf_dir would
        # otherwise surface as a confusing view-bind file-not-found
        sys.exit(f"usage: check_oracle.py [sf_dir] [query ...] — "
                 f"{args[0]!r} is neither a directory nor a registered query")
    unknown = [n for n in args if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown query name(s): {unknown}")
    names = args or list(REGISTRY)
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)

    failures = []
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = q.build(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        if q.oracle is None:
            print(f"rows  {name}: {len(srows)} rows ({time.time()-t0:.1f}s) [rows-only]")
            if len(srows) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            res = con.execute(q.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            ok = False
        else:
            sn, on = norm_rows(scols, srows), norm_rows(ocols, orows)
            if sn != on:
                diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
                print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
                ok = False
        if ok:
            print(f"OK    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print("failing:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
