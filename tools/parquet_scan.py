#!/usr/bin/env python3
"""CLI twin of the reference's parquet-scan tool
(cpp/tools/parquet/parquet-scan.cc): timed projected scan of a Parquet
file/dataset, printing "<N> rows scanned in <T> seconds.".

Usage:
    python tools/parquet_scan.py [--columns=0,2,5] [--batch-size=4096] FILE

``--columns`` takes ordinals like the reference (:36-49); they resolve
against the file schema and prune the Spark scan.  ``--batch-size``
maps to the vectorized reader's columnar batch size (the reference's
ReadBatch size, default 256 there at :35 — Spark's default 4096).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> int:
    columns: list[int] = []
    batch_size = None
    filename = None
    for arg in argv:
        if arg.startswith("--columns="):
            columns = [int(x) for x in arg.removeprefix("--columns=").split(",") if x]
        elif arg.startswith("--batch-size="):
            batch_size = int(arg.removeprefix("--batch-size="))
        else:
            filename = arg
    if not filename:
        print("Usage: parquet_scan.py [--columns=...] [--batch-size=...] FILE",
              file=sys.stderr)
        return 1

    from tmp_parquet_merge_spark.session import get_spark

    extra = {}
    if batch_size is not None:
        extra["spark.sql.parquet.columnarReaderBatchSize"] = str(batch_size)
    spark = get_spark("parquet-scan", extra_conf=extra)

    start = time.perf_counter()
    df = spark.read.parquet(filename)
    if columns:
        names = [df.columns[i] for i in columns]
        df = df.select(*names)
    total_rows = df.count()
    total_time = time.perf_counter() - start
    print(f"{total_rows} rows scanned in {total_time:.6g} seconds.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
