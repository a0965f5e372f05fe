"""Driver-faithful correctness pre-flight.

The correctness driver collects each registered
query on Spark AND its DuckDB oracle into pandas, canonicalizes both
with a column-name sort followed by ``sort_values`` over ALL columns,
and hashes the values.  That pandas sort path crashes on unhashable
cells (``Categorical`` -> ``factorize`` -> ``TypeError: unhashable
type: 'list'``) — the exact failure that turned q_agg_collect and
q_multimodal_features into ERR rows even though the local
normalizer in tools/check_oracle.py handled lists fine.

This tool replicates the driver's canonicalization verbatim so list/
dict/ndarray cells crash HERE, at sf0.01, not in the driver run.  Usage:

    python tools/driver_sim.py [sf_dir] [--first N] [query ...]

Default: the first 50 registry entries, in definition order, at sf0.01.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from tmp_parquet_merge_spark.queries import REGISTRY  # noqa: E402
from tmp_parquet_merge_spark.registry import register_duckdb_views  # noqa: E402
from tmp_parquet_merge_spark.session import get_spark  # noqa: E402


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalizer shape: column-name sort, then a full
    sort_values over every column.  Intentionally NO list handling —
    an unhashable cell must raise, as it does in the driver."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _norm(v):
    """Value normalization for the comparison AFTER canonicalization
    succeeds.  Floats to 6 significant digits (the driver hashes with
    its own rounding; 6 sig figs flags real mismatches without noise)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # NO -0.0 normalization: the real driver hashes '-0.0' != '0.0'
        # (q_column_stats hash-failed while a preflight that masked
        # signed zero passed). Queries must canonicalize
        # signed zero themselves; the gate must match the driver.
        return f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _frame_key(df: pd.DataFrame) -> list[tuple]:
    return [tuple(_norm(v) for v in row) for row in df.itertuples(index=False)]


def _hashes_apart(a, b) -> bool:
    """Would this dtype pair hash apart in the driver?  Same values but
    a float-vs-integer dtype mix DOES: a build shipped
    q_tokenizer_fertility / q_shard_balance with a bare SUM(BIGINT)
    oracle column (DuckDB HUGEINT -> pandas float64) and both
    hash-FAILED while this gate only warned.  Width-only integer mixes
    (int32 vs int64) and datetime64 unit mixes (ns vs us) are
    driver-invisible and stay warnings."""
    ka = getattr(a, "kind", "O")
    kb = getattr(b, "kind", "O")
    if ka == "b" or kb == "b":
        # bool stringifies True/False while int64 spells 1/0 — a
        # bool-vs-int mix hashes apart in the driver; only b-vs-b is
        # benign
        return ka != kb
    ints = {"i", "u"}
    if ka in ints and kb in ints:
        return False  # width-only: same str() spelling
    if ka == "M" and kb == "M":
        return False  # unit-only: isoformat identical
    return ka != kb  # f-vs-i, f-vs-O, i-vs-O, ...


def main() -> None:
    args = [a for a in sys.argv[1:]]
    first = 50
    if "--first" in args:
        i = args.index("--first")
        try:
            first = int(args[i + 1])
        except (IndexError, ValueError):
            sys.exit("usage: driver_sim.py [sf_dir] [--first N] [query ...]")
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    unknown = [n for n in args if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown query name(s): {unknown}")
    names = args or list(REGISTRY)[:first]

    spark = get_spark("driver-sim")
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)

    failures: list[str] = []
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        status = "OK  "
        detail = ""
        try:
            sdf = q.build(spark, sf_dir)
            spdf = sdf.toPandas()
            spdf = _canon(spdf)  # driver crash point for unhashable cells
        except Exception as exc:  # noqa: BLE001
            print(f"ERR   {name}: spark/canon: {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        if q.oracle is None:
            n = len(spdf)
            flag = "" if n > 0 else "  ** ZERO ROWS **"
            print(f"rows  {name}: {n} rows ({time.time()-t0:.1f}s) [rows-only]{flag}")
            if n == 0:
                failures.append(name)
            continue
        try:
            opdf = con.execute(q.oracle).fetchdf()
            opdf = _canon(opdf)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR   {name}: duckdb/canon: {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        if sorted(spdf.columns) != sorted(opdf.columns):
            status, detail = "FAIL", (
                f" cols spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
            )
        elif len(spdf) != len(opdf):
            status, detail = "FAIL", f" rows spark={len(spdf)} oracle={len(opdf)}"
        else:
            sk, ok_ = _frame_key(spdf), _frame_key(opdf)
            if sorted(sk) != sorted(ok_):
                diffs = [(a, b) for a, b in zip(sorted(sk), sorted(ok_)) if a != b][:2]
                status, detail = "FAIL", f" values, first diffs: {diffs}"
            else:
                # dtype-mix adjudication: see _hashes_apart above.
                dt = [
                    (c, str(spdf[c].dtype), str(opdf[c].dtype))
                    for c in spdf.columns
                    if str(spdf[c].dtype) != str(opdf[c].dtype)
                ]
                hard = [
                    x for x in dt
                    if _hashes_apart(spdf[x[0]].dtype, opdf[x[0]].dtype)
                ]
                if hard:
                    status, detail = "FAIL", f" dtype mix: {hard}"
                elif dt:
                    detail = f"  ~ benign dtype mix: {dt}"
        if status != "OK  ":
            failures.append(name)
        print(f"{status}  {name}: {len(spdf)} rows ({time.time()-t0:.1f}s){detail}")

    print(f"\n{len(names) - len(failures)}/{len(names)} driver-sim clean")
    if failures:
        print("failing:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
