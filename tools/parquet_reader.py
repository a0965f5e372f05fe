#!/usr/bin/env python3
"""CLI twin of the reference's parquet_reader tool
(cpp/tools/parquet/parquet_reader.cc): dump file/row-group/column-chunk
metadata and optionally values.

Usage:
    python tools/parquet_reader.py [--only-metadata]
        [--print-key-value-metadata] [--columns=0,1] [--json] FILE

Flags mirror the reference (:44-57): ``--only-metadata`` suppresses
values, ``--print-key-value-metadata`` adds footer key-value pairs,
``--columns`` selects ordinals, ``--json`` switches the value dump to
JSON lines (JSONPrint, :50-51).  ``--no-memory-map`` is accepted and
ignored (SURVEY §4: Spark I/O goes through the FS client).
Metadata comes from the engine's distributed footer reader
(sources/parquet_io.metadata_stats); values stream through Spark.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> int:
    print_values = True
    print_kv = False
    as_json = False
    columns: list[int] = []
    filename = None
    for arg in argv:
        if arg == "--only-metadata":
            print_values = False
        elif arg == "--print-key-value-metadata":
            print_kv = True
        elif arg == "--json":
            as_json = True
        elif arg == "--no-memory-map":
            pass
        elif arg.startswith("--columns="):
            columns = [int(x) for x in arg.removeprefix("--columns=").split(",") if x]
        elif not arg.startswith("--"):
            filename = arg
    if not filename:
        print("Usage: parquet_reader.py [flags] FILE", file=sys.stderr)
        return 1

    from tmp_parquet_merge_spark.session import get_spark
    from tmp_parquet_merge_spark.sources.parquet_io import metadata_stats

    spark = get_spark("parquet-reader")
    for row in metadata_stats(spark, filename).collect():
        print(f"File: {row.file}")
        print(f"  num_rows: {row.num_rows}")
        print(f"  num_row_groups: {row.num_row_groups}")
        print(f"  num_columns: {row.num_columns}")
        print(f"  total_byte_size: {row.total_byte_size}")
        print(f"  total_compressed_size: {row.total_compressed_size}")
        print(f"  created_by: {row.created_by}")
        if print_kv:
            print(f"  key_value_metadata: {row.key_value_metadata}")

    if print_values:
        df = spark.read.parquet(filename)
        if columns:
            df = df.select(*[df.columns[i] for i in columns])
        if as_json:
            for line in df.toJSON().toLocalIterator():
                print(line)
        else:
            df.show(df.count(), truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
