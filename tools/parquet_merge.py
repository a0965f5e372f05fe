#!/usr/bin/env python3
"""The namesake tool: merge many Parquet files/datasets into one
compacted dataset (wesm/tmp-parquet-merge's reason to exist, expressed
as Spark's read → AQE-coalesced write; see
tmp_parquet_merge_spark/sources/parquet_io.py::merge_files).

Usage:
    python tools/parquet_merge.py [options] OUTPUT_DIR INPUT [INPUT ...]

Options:
    --target-size-mb=N   aim for merged files near N MiB (default 128)
    --block-size-mb=N    parquet row-group budget (default 16, the
                         reference's ROW_GROUP_SIZE, reader-writer2.cc:46)
    --no-merge-schema    require identical schemas instead of evolving
                         (missing columns otherwise become NULL)
    --incremental        maintenance mode (single INPUT dataset): only
                         files below --small-file-mb are rewritten into
                         OUTPUT_DIR; right-sized files stay untouched
                         and are listed as kept in the manifest
    --small-file-mb=N    incremental-mode rewrite threshold (default 32)
    --kv=KEY=VALUE       stamp footer key-value metadata on the merged
                         files (repeatable; the write side of
                         parquet_reader.cc:46-47's kv dump)
    --int96-timestamps   write TimestampType columns as physical INT96
                         raw triples (reader_writer.h:48-49)

Prints "<N> rows merged into <F> files in <T> seconds." (merge mode) or
the kept/compacted/written manifest counts (incremental mode); exits 0.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> int:
    target_mb, block_mb, merge_schema = 128, 16, True
    incremental, small_mb = False, 32
    kv: dict[str, str] = {}
    int96 = False
    paths: list[str] = []
    for arg in argv:
        if arg.startswith("--target-size-mb="):
            target_mb = int(arg.removeprefix("--target-size-mb="))
        elif arg.startswith("--block-size-mb="):
            block_mb = int(arg.removeprefix("--block-size-mb="))
        elif arg.startswith("--kv="):
            k, sep, v = arg.removeprefix("--kv=").partition("=")
            if not sep or not k:
                print(f"--kv needs KEY=VALUE: {arg}", file=sys.stderr)
                return 1
            kv[k] = v
        elif arg == "--int96-timestamps":
            int96 = True
        elif arg == "--incremental":
            incremental = True
        elif arg.startswith("--small-file-mb="):
            small_mb = int(arg.removeprefix("--small-file-mb="))
        elif arg == "--no-merge-schema":
            merge_schema = False
        elif arg.startswith("--"):
            print(f"unknown option: {arg}", file=sys.stderr)
            return 1
        else:
            paths.append(arg)
    if len(paths) < 2:
        print(__doc__, file=sys.stderr)
        return 1
    output, inputs = paths[0], paths[1:]

    from tmp_parquet_merge_spark.session import get_spark
    from tmp_parquet_merge_spark.sources import parquet_io

    spark = get_spark("parquet-merge")
    t0 = time.time()
    if incremental:
        if len(inputs) != 1:
            print("--incremental takes exactly one INPUT dataset", file=sys.stderr)
            return 1
        if kv or int96:
            # kept files are never rewritten, so stamping/retyping only
            # the compacted tail would silently split the dataset's
            # footer layout — refuse instead of half-applying
            print(
                "--kv/--int96-timestamps are not supported with "
                "--incremental (kept files would stay unstamped)",
                file=sys.stderr,
            )
            return 1
        manifest = parquet_io.compact_incremental(
            spark,
            inputs[0],
            output,
            small_file_bytes=small_mb * 1024 * 1024,
            target_file_size_bytes=target_mb * 1024 * 1024,
            block_size_bytes=block_mb * 1024 * 1024,
        ).collect()
        counts = {}
        for r in manifest:
            counts[r.action] = counts.get(r.action, 0) + 1
        parts = ", ".join(
            f"{counts.get(k, 0)} {k}" for k in ("kept", "compacted", "written")
        )
        print(f"{parts} in {time.time() - t0:.2f} seconds.")
        return 0
    merged = parquet_io.merge_files(
        spark,
        inputs,
        output,
        merge_schema=merge_schema,
        target_file_size_bytes=target_mb * 1024 * 1024,
        block_size_bytes=block_mb * 1024 * 1024,
        kv_metadata=kv or None,
        int96_timestamps=int96,
    )
    n_rows = merged.count()
    n_files = len(parquet_io._expand_parquet_paths(spark, output))
    print(f"{n_rows} rows merged into {n_files} files in {time.time() - t0:.2f} seconds.")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
