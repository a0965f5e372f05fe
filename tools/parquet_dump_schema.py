#!/usr/bin/env python3
"""CLI twin of the reference's parquet-dump-schema tool
(cpp/tools/parquet/parquet-dump-schema.cc): print the schema tree of a
Parquet file, recovered from the self-describing footer.

Usage: python tools/parquet_dump_schema.py FILE
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print("Usage: parquet_dump_schema.py FILE", file=sys.stderr)
        return 1
    from tmp_parquet_merge_spark.session import get_spark

    spark = get_spark("parquet-dump-schema")
    spark.read.parquet(argv[0]).printSchema()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
