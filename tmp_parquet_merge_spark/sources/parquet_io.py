"""Parquet sources & sinks — the reference's core capability surface.

Reference parity (cites are files under /root/reference):
  * open/read            — ParquetFileReader::OpenFile / ReadTable
                           (cpp/examples/parquet/parquet-arrow/src/reader-writer.cc:61-74,
                            cpp/tools/parquet/parquet-scan.cc:63-66)
  * write w/ row-group sizing & compression
                         — AppendRowGroup / AppendBufferedRowGroup, 16 MiB
                           budget, Snappy (cpp/examples/parquet/low-level-api/
                           reader-writer.cc:57-74, reader-writer2.cc:46,74-101)
  * merge (repo namesake)— implied by the tools; here: multi-path /
                           schema-evolution read → compacted write
  * schema dump          — parquet-dump-schema.cc:23-36
  * metadata dump        — parquet_reader.cc:63-72 (file / row-group /
                           column-chunk metadata)
  * row-group read       — reader->RowGroup(i)->ReadTable
                           (parquet-arrow/src/reader-writer.cc:77-90)

Scale notes: reads/writes are plain DataFrame ops, so they distribute
(one task per split, column pruning + predicate pushdown reach the
scan).  Footer introspection is distributed too: the file list is
parallelized and footers are read executor-side via mapInPandas —
at 100 TB / ~1e6 files the driver never holds more than the file list.

Data the driver already holds enters Spark as Arrow, never as pickled
Python rows.  A ``createDataFrame`` over a Python list becomes a
PythonRDD whose first action runs a Python-worker job of its own
(~0.4 s warm on 4 cores for a 16-file list); an Arrow table becomes a
LocalRelation that costs no job (~0.03 s):

  * file lists (``_file_list_df``: footer/kv/stat scans), the
    ``schema_dump`` row and the ``compact_incremental`` manifest are
    Arrow tables, so they plan as ``LocalTableScan``;
  * a ``read_row_group`` payload (up to ``max_bytes``) is the one
    exception that must NOT be a LocalRelation: its rows would ride
    inside every task closure.  It is built as an Arrow-batch RDD by
    lowering ``spark.sql.execution.arrow.localRelationThreshold`` to 0
    for that one ``createDataFrame`` only (a ``session_conf`` window),
    so small broadcast sides elsewhere stay LocalRelations;
  * ``merge_files`` reads its output back with the schema it just
    wrote, which saves the footer schema-inference job.

Schema cache.  A ``spark.read.parquet`` call without a schema runs one
Spark job to infer it from a footer (~0.13 s warm on 4 vCPU against
~0.02 s with the schema given).  ``read_parquet`` (no ``schema``, no
``merge_schema``), ``read_parquet_widened``, ``schema_dump`` and the
registry's table loaders therefore read through
``_read_inferred``, which keeps the schema Spark itself inferred, so
every Spark type rule (INT96, nanos-as-long, TIME) still applies:

  * the key is the resolved path(s), each file's ``(st_size,
    st_mtime_ns)`` or a directory's sorted recursive listing of
    ``(relative name, st_size, st_mtime_ns)``, and the session confs
    that change inference (``_INFERENCE_CONFS``).  Rewriting a path,
    adding a file or flipping one of those confs is a miss;
  * globs, non-``file:`` schemes, missing paths, file-less directories
    and reads touching more than ``_DISTRIBUTED_STAT_THRESHOLD`` files
    bypass the cache, so no new serial driver listing appears at lake
    scale;
  * a failed inference caches nothing, so a broken footer raises on
    every call;
  * the first read of a path still pays its inference job; only
    repeated reads of unchanged files are faster.  ``merge_files``
    stores the schema it wrote under its output's key, so its output's
    first read is already a hit.

The cache is a ``_SCHEMA_CACHE_ENTRIES``-entry LRU under a lock.
"""

from __future__ import annotations

import contextlib
import os
import stat
import threading
from collections import OrderedDict
from collections.abc import Iterator, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Serializes set-conf → act → restore-conf windows (INT96 writes,
# batch-size-pinned scans) within this Python process, so two engine
# writers on the same session cannot interleave their windows and leak
# a setting into each other's jobs.  A session
# conf is still process-global JVM state: threads that bypass this
# module (raw spark.conf.set) are outside the contract, which the
# docstrings state.
_SESSION_CONF_LOCK = threading.RLock()


@contextlib.contextmanager
def session_conf(spark: SparkSession, **confs: str):
    """Set session confs for the duration of the block and restore the
    prior effective values after, holding the module-wide conf lock so
    concurrent WINDOW OPENERS on the same session serialize instead of
    inheriting each other's settings.  The lock cannot protect ops
    that never open a window: a plain write/scan running during
    another thread's window still sees the session-global setting —
    conf-sensitive operations (INT96 writes, batch-size-pinned scans)
    therefore keep single-writer-session semantics, as their
    docstrings state.  Spark-style dotted keys are passed as a dict:
    ``session_conf(spark, **{"spark.sql.x": "y"})``."""
    with _SESSION_CONF_LOCK:
        # get(k, None) instead of get(k): a key that is unset and has
        # no built-in default must not raise on entry, and a prior
        # value of None means "restore by UNSETTING" — leaving the
        # window's value behind would leak the setting into every
        # later query on the session.
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def read_parquet(
    spark: SparkSession,
    *paths: str,
    merge_schema: bool = False,
    columns: Sequence[str] | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read one or more Parquet paths (file, directory, or glob).

    ``columns`` projects early so Catalyst prunes the Parquet scan to the
    selected columns (the reference's --columns ordinal projection,
    cpp/tools/parquet/parquet-scan.cc:36-49, by name instead of index).
    ``schema`` skips footer schema inference — required for
    :func:`write_parquet_typed` files whose TIME logical type Spark's
    footer converter rejects (pass :func:`typed_read_schema`).  Without
    ``schema`` and ``merge_schema``, a repeated read of unchanged files
    takes the schema from the module's schema cache.
    """
    if schema is None and not merge_schema:
        df = _read_inferred(spark, paths)
    else:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*paths)
    if columns:
        df = df.select(*columns)
    return df


# Session confs that change the schema Spark infers from a footer; the
# session-level mergeSchema changes which footers it reads.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_CACHE_ENTRIES = 256
_SCHEMA_CACHE: OrderedDict[tuple, T.StructType] = OrderedDict()
_SCHEMA_CACHE_LOCK = threading.Lock()
_GLOB_CHARS = frozenset("*?[{")


def _listing(root: str, budget: int) -> list[tuple[str, int, int]] | None:
    """Every file under ``root`` as ``(relative name, st_size,
    st_mtime_ns)``, or None once more than ``budget`` files turn up
    (the walk stops there, so a lake-sized directory costs at most
    ``budget + 1`` entries of listing)."""
    out: list[tuple[str, int, int]] = []
    stack = [root]
    while stack:
        with os.scandir(stack.pop()) as it:
            for e in it:
                if e.is_dir():
                    stack.append(e.path)
                    continue
                st = e.stat()
                out.append((os.path.relpath(e.path, root), st.st_size, st.st_mtime_ns))
                if len(out) > budget:
                    return None
    return out


def _schema_key(spark: SparkSession, paths: Sequence[str]) -> tuple | None:
    """The schema-cache key for reading ``paths``, or None when the read
    must bypass the cache (see the module docstring)."""
    budget = _DISTRIBUTED_STAT_THRESHOLD
    entries = []
    try:
        for p in paths:
            if _has_remote_scheme(p) or _GLOB_CHARS.intersection(p):
                return None
            local = os.path.abspath(_strip_scheme(p))
            st = os.stat(local)
            if stat.S_ISDIR(st.st_mode):
                files = _listing(local, budget)
                # Spark lists no file whose name starts with _ or .
                if files is None or all(
                    os.path.basename(f[0]).startswith(("_", ".")) for f in files
                ):
                    return None
                budget -= len(files)
                entries.append((local, tuple(sorted(files))))
            else:
                budget -= 1
                entries.append((local, st.st_size, st.st_mtime_ns))
    except OSError:  # missing, or changed while listed: let Spark decide
        return None
    if not entries or budget < 0:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return tuple(entries), confs


def _cache_schema(key: tuple, schema: T.StructType) -> None:
    with _SCHEMA_CACHE_LOCK:
        _SCHEMA_CACHE[key] = schema
        _SCHEMA_CACHE.move_to_end(key)
        while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_ENTRIES:
            _SCHEMA_CACHE.popitem(last=False)


def _read_inferred(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """``spark.read.parquet(*paths)``, with the schema from the cache
    when these files were inferred before under the same confs.  The
    key is taken before the read, so a file that changes during the
    inference leaves an entry no later key matches."""
    key = _schema_key(spark, paths)
    if key is not None:
        with _SCHEMA_CACHE_LOCK:
            schema = _SCHEMA_CACHE.get(key)
            if schema is not None:
                _SCHEMA_CACHE.move_to_end(key)
        if schema is not None:
            return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)  # a failed inference raises here
    if key is not None:
        _cache_schema(key, df.schema)
    return df


# Safe primitive widenings only: integral widths and float -> double.
# Anything else (string vs int, decimal scale changes, ...) is a real
# schema conflict and must fail loudly, not be papered over with casts.
_WIDEN_ORDER: dict[str, int] = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_WIDEN_FLOAT: dict[str, int] = {"float": 0, "double": 1}


def _widen_type(a: str, b: str) -> str:
    if a == b:
        return a
    if a in _WIDEN_ORDER and b in _WIDEN_ORDER:
        return a if _WIDEN_ORDER[a] >= _WIDEN_ORDER[b] else b
    if a in _WIDEN_FLOAT and b in _WIDEN_FLOAT:
        return a if _WIDEN_FLOAT[a] >= _WIDEN_FLOAT[b] else b
    raise ValueError(
        f"cannot widen parquet column types {a!r} and {b!r}: only "
        "integral-width and float->double widenings are value-preserving; "
        "this is a schema conflict, fix the writers or read the "
        "generations separately"
    )


def read_parquet_widened(spark: SparkSession, *paths: str) -> DataFrame:
    """Read file generations whose schemas differ by value-preserving
    primitive WIDTH (int32 vs int64, float vs double) — the evolution
    step Spark's ``mergeSchema`` rejects outright
    (``Failed to merge fields``: StructType.merge does not widen).

    Per-path schemas come from one footer probe each (O(generations)
    driver work, never a data read); the widened schema is the
    column-union with :func:`_widen_type` resolving width conflicts;
    each generation is then cast and unioned by name (missing columns
    NULL-filled, mergeSchema semantics).  The casts are value-preserving
    by construction, so the read is lossless; a non-widenable conflict
    raises rather than silently coercing.  Data reads stay fully
    distributed — only schemas ride the driver."""
    if not paths:
        raise ValueError("read_parquet_widened needs at least one path")
    frames = [read_parquet(spark, p) for p in paths]
    widened: dict[str, str] = {}
    order: list[str] = []
    for df in frames:
        for name, dtype in df.dtypes:
            if name not in widened:
                widened[name] = dtype
                order.append(name)
            else:
                widened[name] = _widen_type(widened[name], dtype)
    out = []
    for df in frames:
        have = dict(df.dtypes)
        cols = [
            (
                F.col(c).cast(widened[c]) if c in have else F.lit(None).cast(widened[c])
            ).alias(c)
            for c in order
        ]
        out.append(df.select(*cols))
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    compression: str = "snappy",
    block_size_bytes: int | None = None,
    max_records_per_file: int | None = None,
    partition_by: Sequence[str] | None = None,
    num_files: int | None = None,
    mode: str = "overwrite",
    kv_metadata: dict[str, str] | None = None,
    int96_timestamps: bool = False,
) -> None:
    """Write Parquet with explicit layout control.

    ``block_size_bytes`` is the row-group byte budget — the engine analog
    of the reference's 16 MiB buffered row-group rotation
    (reader-writer2.cc:46,88-93).  ``max_records_per_file`` mirrors the
    fixed-row AppendRowGroup sizing (reader-writer.cc:45,73-74) at file
    granularity.  ``num_files`` compacts via coalesce (no shuffle).
    ``kv_metadata`` stamps custom key-value footer metadata on every
    written file post-write (attach_kv_metadata — O(footer) appends,
    the write side of parquet_reader.cc:46-47's kv dump).
    ``int96_timestamps`` emits TimestampType columns as physical INT96
    (``spark.sql.parquet.outputTimestampType=INT96``) — the raw-triple
    layout the reference declares (reader_writer.h:48-49); JVM-native,
    so the write stays whole-stage distributed.  The conf is session-
    scoped (Spark offers no per-write knob — the writer ignores a
    DataFrameWriter option of the same name), set for the duration of
    this write and restored to the prior effective value afterwards,
    under the module-wide ``_SESSION_CONF_LOCK``: concurrent
    ENGINE writers/scanners on the same session serialize their
    conf windows instead of inheriting each other's settings.  Raw
    ``spark.conf.set`` callers outside this module remain outside the
    contract.  ``write_parquet_typed`` uses a writer-local pyarrow
    flag instead and has no such window.
    """
    if num_files is not None:
        df = df.coalesce(num_files)
    writer = df.write.mode(mode).option("compression", compression)
    if block_size_bytes is not None:
        writer = writer.option("parquet.block.size", str(block_size_bytes))
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    spark = df.sparkSession
    if int96_timestamps:
        # session_conf holds the module conf lock for the window and
        # restores the prior effective value after (set-back for keys
        # with one, unset otherwise).  Protection scope: two WINDOW
        # OPENERS cannot interleave; a plain write/scan on the same
        # session DURING a window still inherits the session setting —
        # conf-sensitive ops keep single-writer-session semantics
        # (documented in session_conf).
        with session_conf(
            spark, **{"spark.sql.parquet.outputTimestampType": "INT96"}
        ):
            writer.parquet(path)
    else:
        writer.parquet(path)
    if kv_metadata:
        attach_kv_metadata(df.sparkSession, path, kv_metadata)


def write_parquet_typed(
    df: DataFrame,
    path: str,
    *,
    flba_lengths: dict[str, int] | None = None,
    time_millis_cols: Sequence[str] = (),
    required_cols: Sequence[str] = (),
    int96_timestamps: bool = False,
    compression: str = "snappy",
    row_group_rows: int | None = None,
    block_size_bytes: int = 16 * 1024 * 1024,
    mode: str = "overwrite",
) -> list[str]:
    """Physical-type-fidelity Parquet writer for the declarations
    Spark's native writer cannot express (reference reader_writer.h
    SetupSchema, reader_writer.h:28-67):

      * ``flba_lengths``    — BinaryType cols written as
                              FIXED_LEN_BYTE_ARRAY(n) (reader_writer.h:
                              30,61-65; every value must be exactly n
                              bytes or the arrow cast raises)
      * ``time_millis_cols``— IntegerType ms-of-day cols written as
                              INT32 / TIME_MILLIS (reader_writer.h:40-42;
                              values outside [0, 86_399_999] raise —
                              same hard contract as the FLBA length)
      * ``required_cols``   — written with Repetition::REQUIRED
                              (non-nullable; the reference marks all but
                              ba_field REQUIRED)
      * ``int96_timestamps``— TimestampType cols as raw INT96 triples
                              (reader_writer.h:48-49)

    Fully distributed: each partition converts its Arrow batches and
    streams them through a pyarrow ParquetWriter into one output file —
    no shuffle, no driver data path (same per-executor-file layout as
    Spark's native writer).  Arrow batches are buffered into row groups
    rotated at ``block_size_bytes`` (the reference's 16 MiB budget,
    reader-writer2.cc:46) or, when ``row_group_rows`` is set, at that
    fixed row count (AppendRowGroup-by-rows, reader-writer.cc:45,73-74).
    The driver only collects the file manifest (one row per non-empty
    partition).  Local/shared-FS paths, matching the reference's
    ``FileOutputStream`` scope.

    ``mode``: ``overwrite`` (default, matches :func:`write_parquet`)
    removes existing parquet files under ``path`` first; ``append``
    keeps them; ``error`` raises if any exist.  Task commit is
    rename-based: each task writes ``.part-*.inprogress`` (dot-prefixed
    — invisible to Spark/pyarrow/DuckDB directory reads) and renames to
    ``part-*.parquet`` only after a clean ``close()``, so a failed or
    killed attempt never surfaces a truncated file and its retry simply
    commits under a fresh name.  After the job, the writer RECONCILES
    the directory against the collected manifest: orphan
    ``part-*.parquet`` files (a speculative/zombie attempt that
    committed after the winner) and leftover ``.inprogress`` temps are
    deleted, so the directory always equals the returned manifest plus
    (in append mode) the pre-existing files.  ``int96_timestamps``
    here is writer-local (pyarrow), so unlike :func:`write_parquet` no
    session conf is touched.

    Spark itself cannot re-read TIME(MILLIS) footers
    ([PARQUET_TYPE_ILLEGAL]); read typed files back with
    ``read_parquet(spark, path, schema=typed_read_schema(spark, path))``,
    which maps TIME back to the engine's ms-of-day IntegerType
    convention.  Returns the written file paths.
    """
    import os as _os

    if mode not in ("overwrite", "append", "error"):
        raise ValueError(f"mode must be overwrite|append|error: {mode}")
    if _has_remote_scheme(path):
        # same loud refusal as attach_kv_metadata: without
        # this, each executor would write its part file to its OWN
        # local disk under a literal 's3a:/...' directory and return a
        # manifest no shared filesystem can see — a silent bad write
        raise ValueError(
            f"write_parquet_typed: {path} is not a local/shared-FS "
            "path; the pyarrow writer commits via POSIX rename. Write "
            "with write_parquet (scheme-agnostic) or point at a "
            "shared mount."
        )
    local_dir = _strip_scheme(path)
    existing = (
        _expand_parquet_paths(df.sparkSession, local_dir)
        if _os.path.isdir(local_dir)
        else []
    )
    existing = [f for f in existing if _os.path.isfile(f)]
    if existing and mode == "error":
        raise FileExistsError(
            f"{path} already contains {len(existing)} parquet file(s) "
            "and mode='error'"
        )
    if existing and mode == "overwrite":
        for f in existing:
            _os.unlink(f)
    _os.makedirs(local_dir, exist_ok=True)
    flba = dict(flba_lengths or {})
    tms = tuple(time_millis_cols)
    req = frozenset(required_cols)
    # per-invocation run id: every part (and temp) this write creates —
    # including speculative/zombie duplicate attempts, which run the
    # same closure — carries it, so the reconcile sweep below can be
    # scoped to THIS write's files and can never delete a concurrent
    # append's committed parts.
    import uuid as _uuid

    run_id = _uuid.uuid4().hex[:12]

    # self-contained closure (executor workers may not have this repo
    # importable; see metadata_stats)
    def write_part(batches):
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        def conv(b):
            cols, fields = [], []
            for i, name in enumerate(b.schema.names):
                arr = b.column(i)
                if name in flba:
                    arr = arr.cast(pa.binary(flba[name]))
                elif name in tms:
                    arr = arr.cast(pa.int32())
                    lo_hi = pa.compute.min_max(arr)
                    lo, hi = lo_hi["min"].as_py(), lo_hi["max"].as_py()
                    if lo is not None and (lo < 0 or hi > 86_399_999):
                        raise ValueError(
                            f"time_millis col {name}: value range "
                            f"[{lo}, {hi}] outside ms-of-day "
                            "[0, 86399999]"
                        )
                    arr = arr.cast(pa.time32("ms"))
                cols.append(arr)
                fields.append(
                    pa.field(name, arr.type, nullable=name not in req)
                )
            return pa.RecordBatch.from_arrays(cols, schema=pa.schema(fields))

        writer = None
        tmp = final = None
        buffer: list = []
        buf_rows = buf_bytes = n = 0

        def flush():
            nonlocal writer, buffer, buf_rows, buf_bytes
            if not buffer:
                return
            table = pa.Table.from_batches(buffer)
            writer.write_table(table, row_group_size=row_group_rows or len(table))
            buffer, buf_rows, buf_bytes = [], 0, 0

        for b in batches:
            cb = conv(b)
            if writer is None:
                stem = f"part-{run_id}-{uuid.uuid4().hex}"
                tmp = os.path.join(local_dir, f".{stem}.inprogress")
                final = os.path.join(local_dir, f"{stem}.parquet")
                writer = pq.ParquetWriter(
                    tmp,
                    cb.schema,
                    compression=compression,
                    use_deprecated_int96_timestamps=int96_timestamps,
                )
            buffer.append(cb)
            buf_rows += cb.num_rows
            buf_bytes += cb.nbytes
            n += cb.num_rows
            if (row_group_rows and buf_rows >= row_group_rows) or (
                not row_group_rows and buf_bytes >= block_size_bytes
            ):
                flush()
        if writer is not None:
            flush()
            writer.close()
            os.rename(tmp, final)  # commit: visible only when complete
            yield pa.RecordBatch.from_arrays(
                [pa.array([final], pa.string()), pa.array([n], pa.int64())],
                names=["file", "num_rows"],
            )

    manifest = df.mapInArrow(write_part, "file string, num_rows long")
    written = sorted(r.file for r in manifest.collect())
    _reconcile_typed_output(
        local_dir,
        written,
        existing,
        run_id,
        sweep_all_temps=(mode == "overwrite"),
    )
    return written


def _reconcile_typed_output(
    local_dir: str,
    written: Sequence[str],
    existing: Sequence[str],
    run_id: str,
    *,
    sweep_all_temps: bool = False,
) -> list[str]:
    """Manifest-reconcile for :func:`write_parquet_typed`: only files
    in the collected manifest are
    committed output.  A speculative or zombie duplicate attempt can
    rename its part under a fresh uuid AFTER the winning attempt —
    Spark discards the loser's manifest row but not its file — and a
    killed attempt leaves a ``.part-<run>-*.inprogress`` temp.

    BOTH sweeps are scoped to THIS write's ``run_id``: every attempt
    of this write (speculative duplicates included) shares it, while a
    CONCURRENT append to the same directory carries its own.  An
    unscoped ``part-*.parquet`` glob would delete that writer's
    committed files (silent data loss) the moment they landed after
    our pre-write snapshot, and an unscoped ``.inprogress`` glob would
    unlink its still-OPEN temp — its rename then fails, and under
    local mode's ``spark.task.maxFailures=1`` that kills the whole
    concurrent job, not just a task attempt.  ``sweep_all_temps``
    (set for mode="overwrite", where this write has declared exclusive
    ownership of the directory) additionally clears foreign
    ``.part-*.inprogress`` debris left by CRASHED prior jobs; in
    append mode such debris is dot-prefixed (invisible to readers)
    and left for the next overwrite or manual cleanup.  Returns the
    deleted paths."""
    import glob as _glob
    import os as _os

    keep = set(written) | set(existing)
    removed = []
    temp_pat = (
        ".part-*.inprogress"
        if sweep_all_temps
        else f".part-{run_id}-*.inprogress"
    )
    for orphan in _glob.glob(_os.path.join(local_dir, temp_pat)):
        _os.unlink(orphan)
        removed.append(orphan)
    for f in _glob.glob(_os.path.join(local_dir, f"part-{run_id}-*.parquet")):
        if f not in keep:
            _os.unlink(f)
            removed.append(f)
    return removed


def typed_read_schema(spark: SparkSession, path: str) -> T.StructType:
    """Explicit Spark read schema for a :func:`write_parquet_typed` file:
    TIME(MILLIS)→IntegerType / TIME(MICROS)→LongType (the engine's
    ms/µs-of-day convention, SURVEY §7 deviation 3 — Spark's footer
    converter rejects TIME outright), FLBA→BinaryType, INT96→Timestamp;
    everything else through the standard Arrow→Spark mapping."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    def conv(at: pa.DataType) -> T.DataType:
        if pa.types.is_time32(at):
            return T.IntegerType()
        if pa.types.is_time64(at):
            return T.LongType()
        if pa.types.is_fixed_size_binary(at):
            return T.BinaryType()
        if pa.types.is_list(at) or pa.types.is_large_list(at):
            return T.ArrayType(conv(at.value_type))
        return from_arrow_type(at)

    import os as _os

    files = [
        f
        for f in _expand_parquet_paths(spark, path)
        if _os.path.isfile(_strip_scheme(f))
    ]
    if not files:
        raise ValueError(
            f"typed_read_schema: no parquet files under {path} "
            "(empty dataset? write_parquet_typed returns [] for an "
            "empty input and writes nothing)"
        )
    asch = pq.ParquetFile(_strip_scheme(files[0])).schema_arrow
    return T.StructType(
        [T.StructField(f.name, conv(f.type), True) for f in asch]
    )


def attach_kv_metadata(
    spark: SparkSession, path: str, kv: dict[str, str]
) -> int:
    """Attach key-value footer metadata to every parquet file under
    ``path`` — the write side of the reference's
    ``--print-key-value-metadata`` surface
    (cpp/tools/parquet/parquet_reader.cc:46-47), which Spark's writer
    does not expose.

    O(footer), never O(data): a NEW footer with the merged key-value
    map (existing keys preserved, ``kv`` wins on collision) is
    APPENDED to each file — row-group offsets in a parquet footer are
    absolute from the file start, and every reader locates the footer
    from the trailing length+magic, so the data pages and the old
    footer become untouched dead bytes and all readers (Spark, DuckDB,
    pyarrow) see the new metadata.  Rewriting data to stamp metadata
    at 100 TB would be absurd; this costs one footer read + append per
    file, executor-parallel via mapInPandas.

    Values are stored UTF-8.  Local/shared-FS paths append in place;
    s3:///s3a:///s3n:// paths route to the O(footer) multipart
    server-side-copy stamp (sources/object_store.py::stamp_kv_s3);
    other remote schemes refuse loudly.  Returns the number of files
    stamped.

    Crash safety: the append is journal-free but
    recoverable — each stamp records the pre-append length, fsyncs the
    appended footer, and truncates back on any in-process failure; a
    crash that kills the process mid-append (torn tail) is healed on
    the next stamp/retry by ``_recover_parquet_tail``, which scans the
    tail for the last parseable footer and truncates the garbage.  So
    a failed stamp never leaves a permanently unreadable file, and the
    Spark task retry repairs rather than compounds.  In-place append
    is still not atomic for CONCURRENT readers (a reader hitting the
    window between append start and fsync can see a torn tail);
    stamping is a maintenance operation — run it like the reference's
    tools, without concurrent readers of the same files, or stamp
    before publishing the path."""
    if path.startswith(("s3://", "s3a://", "s3n://")):
        # no POSIX append on S3 — delegate to the O(footer) multipart
        # server-side-copy stamp (sources/object_store.py): ranged
        # tail GET + UploadPartCopy recompose + atomic complete.
        from tmp_parquet_merge_spark.sources.object_store import stamp_kv_s3

        return stamp_kv_s3(path, kv)
    if _has_remote_scheme(path):
        raise ValueError(
            f"attach_kv_metadata: {path} is not a local/shared-FS or S3 "
            "path; footer appends are not supported on this object "
            "store (write the data first, stamp where a POSIX append "
            "or a server-side multipart copy exists)"
        )
    files = _expand_parquet_paths(spark, path)
    if not files:
        return 0
    files_df = _file_list_df(spark, files)
    kv_bytes = {k.encode("utf8"): v.encode("utf8") for k, v in kv.items()}

    # self-contained closure (see metadata_stats note): executors may
    # not have this package importable
    def stamp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os
        import tempfile as _tf

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        def recover_tail(local: str) -> bool:
            """Heal a torn trailing footer left by a crashed stamp.

            Called only after a whole-file footer parse FAILED (the
            clean path pays exactly one footer parse per file).
            A valid parquet file ends
            [footer][4-byte len][PAR1]; a stamp killed mid-append
            leaves trailing garbage after the last complete footer.
            Scan the tail (bounded — footers are KBs-to-MBs, never
            data-sized) for PAR1 markers newest first, probe each
            candidate end with a length-clamped read_metadata
            (non-destructive), and truncate to the first that parses.
            Returns True once a truncation repaired the file."""
            size = _os.path.getsize(local)

            class _TruncView:
                # file-like view clamped to `limit` bytes, enough for
                # pa.PythonFile / pq.read_metadata's tail seek+reads
                def __init__(self, fh, limit):
                    self._fh, self._limit, self.closed = fh, limit, False

                def size(self):
                    return self._limit

                def tell(self):
                    return self._fh.tell()

                def seek(self, pos, whence=0):
                    if whence == 2:
                        pos = self._limit + pos
                        whence = 0
                    return self._fh.seek(min(pos, self._limit), whence)

                def read(self, n=-1):
                    here = self._fh.tell()
                    room = max(0, self._limit - here)
                    if n is None or n < 0 or n > room:
                        n = room
                    return self._fh.read(n)

                def readable(self):
                    return True

                def seekable(self):
                    return True

                def writable(self):
                    return False

                def flush(self):
                    pass

                def close(self):
                    self.closed = True

            win = min(size, 32 * 1024 * 1024)
            with open(local, "rb") as fh:
                fh.seek(size - win)
                tail = fh.read(win)
                base = size - win
                j = len(tail)
                while True:
                    j = tail.rfind(b"PAR1", 0, j)
                    if j < 0:
                        raise ValueError(
                            f"attach_kv_metadata: {local} has no "
                            "recoverable parquet footer in its tail "
                            f"(scanned last {win} bytes)"
                        )
                    end = base + j + 4
                    if end != size:  # == size already failed (caller's open)
                        try:
                            fh.seek(0)
                            _pq.read_metadata(_TruncView(fh, end))
                        except Exception:
                            continue
                        _os.truncate(local, end)
                        return True

        for pdf in batches:
            out = []
            for fname in pdf["file"]:
                local = fname[5:] if fname.startswith("file:") else fname
                # ONE footer parse per file:
                # a single ParquetFile handle supplies both the
                # metadata and the arrow schema; tail recovery runs
                # ONLY when that open fails (a prior torn append), so
                # the healthy path never pays a second parse
                try:
                    pf = _pq.ParquetFile(local)
                except Exception:
                    recover_tail(local)  # heal the torn append
                    pf = _pq.ParquetFile(local)
                md = pf.metadata
                merged = dict(md.metadata or {})
                merged.update(kv_bytes)
                schema = pf.schema_arrow.with_metadata(merged)
                # SYNC NOTE: object_store._rebuild_footer carries the
                # driver-side twin of this kv-merge + INT96 +
                # mixed-timestamp rebuild; changes here must land
                # there too (both sites carry this note).
                # the rebuilt footer must declare the SAME physical
                # types as the existing row groups (AppendRowGroups
                # requires equal schemas): a file whose timestamps are
                # stored as INT96 (write_parquet(int96_timestamps=True)
                # or Spark's INT96 default) must have the new footer
                # written in INT96 form too.  Read the FOOTER schema
                # (valid even for zero-row-group part files from empty
                # partitions); the int96 flag is writer-global, so a
                # file MIXING INT96 and INT64 timestamps (e.g. an LTZ
                # column next to an NTZ one under the INT96 conf) has
                # no rebuildable footer through this path — refuse
                # loudly rather than emit a mismatched schema
                phys = [
                    md.schema.column(c).physical_type
                    for c in range(md.num_columns)
                ]
                has_int96 = "INT96" in phys
                n_ts_arrow = sum(
                    _pa.types.is_timestamp(f.type) for f in pf.schema_arrow
                )
                if has_int96 and n_ts_arrow > phys.count("INT96"):
                    raise ValueError(
                        f"attach_kv_metadata: {fname} mixes INT96 and "
                        "non-INT96 timestamp columns; the rebuilt "
                        "footer cannot match both (pyarrow's int96 "
                        "flag is writer-global). Write the file with "
                        "a uniform timestamp layout before stamping."
                    )
                fd, tmp = _tf.mkstemp(suffix="._md")
                _os.close(fd)
                try:
                    _pq.write_metadata(
                        schema,
                        tmp,
                        metadata_collector=[md],
                        use_deprecated_int96_timestamps=has_int96,
                    )
                    blob = open(tmp, "rb").read()
                finally:
                    _os.unlink(tmp)
                # blob = PAR1 + footer + len + PAR1; the leading magic
                # is already present at the head of the data file.
                # Recoverable append: remember the pre-append length,
                # fsync the new tail, truncate back on ANY in-process
                # failure so a failed stamp leaves the file exactly as
                # it was (a hard crash instead leaves a torn tail that
                # the next stamp's recover_tail heals).
                orig_len = _os.path.getsize(local)
                try:
                    with open(local, "ab") as f:
                        f.write(blob[4:])
                        f.flush()
                        _os.fsync(f.fileno())
                except BaseException:
                    _os.truncate(local, orig_len)
                    raise
                # the append invalidates Hadoop LocalFS's .crc sidecar
                # (written out-of-band of the FS API); drop it — a
                # missing sidecar means "no checksum verification",
                # not an error
                crc = _os.path.join(
                    _os.path.dirname(local),
                    "." + _os.path.basename(local) + ".crc",
                )
                if _os.path.exists(crc):
                    _os.unlink(crc)
                out.append({"file": fname, "appended": len(blob) - 4})
            yield pd.DataFrame(out, columns=["file", "appended"])

    stamped = files_df.mapInPandas(
        stamp,
        T.StructType(
            [
                T.StructField("file", T.StringType(), False),
                T.StructField("appended", T.LongType(), False),
            ]
        ),
    )
    return stamped.count()


def merge_files(
    spark: SparkSession,
    inputs: Sequence[str],
    output: str,
    *,
    merge_schema: bool = True,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    block_size_bytes: int = 16 * 1024 * 1024,
    kv_metadata: dict[str, str] | None = None,
    int96_timestamps: bool = False,
) -> DataFrame:
    """Merge many Parquet files into a compacted dataset (repo namesake).

    ``kv_metadata`` / ``int96_timestamps`` pass through to
    :func:`write_parquet` (footer key-value stamping; physical-INT96
    timestamps) so a compaction can also normalize footer metadata.
    kv stamping appends to the written files, so it requires a
    local/shared-FS ``output`` (attach_kv_metadata raises on object-
    store schemes before any stamping starts); remote outputs remain
    fine without ``kv_metadata``.

    Schema evolution is handled by ``mergeSchema`` (missing columns become
    NULL).  Output file count is sized from the input bytes so merged
    files land near ``target_file_size_bytes`` — at 100 TB this is the
    small-files compaction pattern (many tasks read, AQE-coalesced write).
    The 16 MiB default row-group budget matches the reference
    (reader-writer2.cc:46).

    Output sizing stats the input files via a local-FS glob for plain /
    ``file:`` paths — serially for small inputs (no JVM round-trips),
    executor-parallel (mapInPandas, the metadata_stats pattern) past
    ``_DISTRIBUTED_STAT_THRESHOLD`` files so a 1e6-file merge never
    serially stats on the driver — and falls back to the Hadoop
    FileSystem listing for any other scheme (hdfs://, s3a://, ...), so
    remote inputs size correctly instead of failing a local stat; the
    read/write path itself is scheme-agnostic DataFrame I/O.
    """
    df = read_parquet(spark, *inputs, merge_schema=merge_schema)
    # expand globs/dirs to concrete files BEFORE stat-ing — a glob input
    # (supported by read_parquet) would make fs.getFileStatus throw.
    # Local sizing goes through _dataset_bytes: serial under the
    # threshold, executor-parallel mapInPandas above it, so a 1e6-file
    # merge never stat-loops on the driver.
    total_bytes = 0
    local_files: list[str] = []
    for p in inputs:
        if _has_remote_scheme(p):
            total_bytes += _hadoop_input_bytes(spark, p)
        elif p.endswith(".parquet") and not any(c in p for c in "*?["):
            # already a concrete file path (the compact_incremental →
            # merge_files handoff passes ~backlog-many of these): skip
            # the per-path isdir+glob — at the 1e6-file design point
            # that serial driver syscall loop is the same stall class
            # as the stat loop the executor-side sizing removed.  A
            # missing file fails loudly in the distributed stat.
            local_files.append(_strip_scheme(p))
        else:
            local_files.extend(_expand_parquet_paths(spark, p))
    total_bytes += _dataset_bytes(spark, local_files)
    n_files = max(1, -(-total_bytes // target_file_size_bytes))  # ceil
    write_parquet(
        df,
        output,
        num_files=n_files,
        block_size_bytes=block_size_bytes,
        kv_metadata=kv_metadata,
        int96_timestamps=int96_timestamps,
    )
    # the schema just written: reading it back needs no inference job,
    # and neither does a later read_parquet(output).  Spark-written
    # footers carry Spark's own schema, which inference returns as is.
    key = _schema_key(spark, (output,))
    if key is not None:
        _cache_schema(key, df.schema)
    return spark.read.schema(df.schema).parquet(output)


def schema_dump(spark: SparkSession, path: str) -> DataFrame:
    """Schema of a Parquet dataset as a one-row DataFrame.

    Engine analog of PrintSchema over the schema tree
    (cpp/tools/parquet/parquet-dump-schema.cc:23-36): Spark recovers the
    schema from the self-describing footer; we emit both the tree form
    and simpleString so it is assertable/oracle-able.
    """
    schema = read_parquet(spark, path).schema
    return spark.createDataFrame(
        pa.table(
            {
                "simple_string": [schema.simpleString()],
                "tree_string": [schema.treeString()],
            }
        ),
        T.StructType(
            [
                T.StructField("simple_string", T.StringType(), False),
                T.StructField("tree_string", T.StringType(), False),
            ]
        ),
    )


_FOOTER_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("num_rows", T.LongType(), False),
        T.StructField("num_row_groups", T.IntegerType(), False),
        T.StructField("num_columns", T.IntegerType(), False),
        T.StructField("total_byte_size", T.LongType(), False),
        T.StructField("total_compressed_size", T.LongType(), False),
        T.StructField("max_row_group_bytes", T.LongType(), False),
        T.StructField("created_by", T.StringType(), True),
        T.StructField("key_value_metadata", T.StringType(), True),
    ]
)


def metadata_stats(spark: SparkSession, *paths: str) -> DataFrame:
    """Per-file footer metadata as a DataFrame.

    Engine analog of ParquetFilePrinter::DebugPrint (file-level,
    per-row-group, per-column-chunk metadata + key-value metadata;
    cpp/tools/parquet/parquet_reader.cc:44-72, reader-writer2.cc:222).
    Footer reads run executor-side over a parallelized file list
    (mapInPandas), so a million-file lake doesn't bottleneck the driver.
    """
    files = [
        f for p in paths for f in _expand_parquet_paths(spark, p)
    ]
    files_df = _file_list_df(spark, files)

    # NB: the closure must be self-contained (no references to names in
    # this package) — executor Python workers may not have the repo on
    # their import path, and cloudpickle serializes module-level
    # references as imports.
    out_columns = [f.name for f in _FOOTER_SCHEMA]

    def scan_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fname in pdf["file"]:
                local = fname[5:] if fname.startswith("file:") else fname
                md = pq.ParquetFile(local).metadata
                rg = [md.row_group(i) for i in range(md.num_row_groups)]
                kv = md.metadata or {}
                rows.append(
                    {
                        "file": fname,
                        "num_rows": md.num_rows,
                        "num_row_groups": md.num_row_groups,
                        "num_columns": md.num_columns,
                        "total_byte_size": sum(g.total_byte_size for g in rg),
                        "total_compressed_size": sum(
                            g.column(c).total_compressed_size
                            for g in rg
                            for c in range(g.num_columns)
                        ),
                        "max_row_group_bytes": max(
                            (g.total_byte_size for g in rg), default=0
                        ),
                        "created_by": md.created_by,
                        "key_value_metadata": json.dumps(
                            {
                                k.decode("utf8", "replace"): v.decode("utf8", "replace")[:200]
                                for k, v in kv.items()
                            },
                            sort_keys=True,
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=out_columns)

    return files_df.mapInPandas(scan_footers, schema=_FOOTER_SCHEMA)


_FILE_LIST_SCHEMA = T.StructType([T.StructField("file", T.StringType(), False)])


def _file_list_df(spark: SparkSession, files: Sequence[str]) -> DataFrame:
    """The driver's file list as the one-column leaf that the
    executor-side footer/stat scans map over.  Built from an Arrow
    table, so it is a LocalRelation: a Python row list would become a
    pickled PythonRDD and cost a Python-worker job of its own.  Up to
    64 files the scan runs as one task (one Python worker beats four
    for a few footers); past that it spreads over ``n // 8`` tasks,
    capped at 512."""
    df = spark.createDataFrame(
        pa.table({"file": pa.array(files, pa.string())}), _FILE_LIST_SCHEMA
    )
    if len(files) > 64:
        return df.repartition(min(len(files) // 8, 512))
    return df.coalesce(1)


# Below this many files a serial driver stat loop is cheaper than a
# Spark job (64-file compaction benches stay JVM-round-trip-free);
# above it, stats go executor-side — at the 100 TB design point
# (~1e6 files) a serial driver loop stalls the driver for minutes
# before any task launches.
_DISTRIBUTED_STAT_THRESHOLD = 256


def _file_sizes_df(spark: SparkSession, files: Sequence[str]) -> DataFrame:
    """(file, bytes) DataFrame via executor-parallel os.stat over the
    parallelized name list — the metadata_stats pattern applied to
    sizing, so merge/compaction planning never serially stats 1e6
    files on the driver."""
    files_df = _file_list_df(spark, files)

    # self-contained closure (see metadata_stats note)
    def stat_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "file": pdf["file"],
                    "bytes": [
                        os.path.getsize(
                            f[5:] if f.startswith("file:") else f
                        )
                        for f in pdf["file"]
                    ],
                }
            )

    return files_df.mapInPandas(
        stat_files,
        T.StructType(
            [
                T.StructField("file", T.StringType(), False),
                T.StructField("bytes", T.LongType(), False),
            ]
        ),
    )


def _file_sizes(
    spark: SparkSession, files: Sequence[str]
) -> list[tuple[str, int]]:
    """Per-file sizes; serial under _DISTRIBUTED_STAT_THRESHOLD,
    executor-side above it."""
    import os as _os

    if len(files) <= _DISTRIBUTED_STAT_THRESHOLD:
        return [(f, _os.path.getsize(_strip_scheme(f))) for f in files]
    return [
        (r.file, r.bytes) for r in _file_sizes_df(spark, files).collect()
    ]


def _dataset_bytes(spark: SparkSession, files: Sequence[str]) -> int:
    """Total bytes of ``files``; the sum is computed executor-side
    above the threshold (a 1-row agg collect — the driver never even
    holds the per-file sizes)."""
    import os as _os

    if len(files) <= _DISTRIBUTED_STAT_THRESHOLD:
        return sum(_os.path.getsize(_strip_scheme(f)) for f in files)
    row = _file_sizes_df(spark, files).agg(
        F.sum("bytes").alias("total")
    ).collect()[0]
    return int(row.total or 0)


def _has_remote_scheme(path: str) -> bool:
    """True for URIs whose scheme is not the local filesystem
    (hdfs://, s3a://, gs://, ...) — those must be sized through the
    Hadoop FileSystem API, not os.stat."""
    import re as _re

    return bool(
        _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", path)
    ) and not path.startswith("file:")


def _hadoop_input_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes of the parquet files under ``path`` (file, directory
    or glob) via the Hadoop FileSystem bound to the path's scheme —
    fs.globStatus for glob/plain paths, a recursive listing for
    directories.  Used by merge_files sizing for non-local inputs."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    statuses = fs.globStatus(hpath)
    total = 0
    for st in statuses or []:
        if st.isDirectory():
            it = fs.listFiles(st.getPath(), True)
            while it.hasNext():
                f = it.next()
                if f.getPath().getName().endswith(".parquet"):
                    total += f.getLen()
        else:
            total += st.getLen()
    return total


def _expand_parquet_paths(spark: SparkSession, path: str) -> list[str]:
    import glob as _glob
    import os as _os

    # FILES only: Spark writes tables as directories whose names
    # themselves end in .parquet (…/nation.parquet/part-*), so both a
    # listed dir entry and a glob match can be a directory — returning
    # it would feed pyarrow a directory and crash the footer scan;
    # recursing into it yields its part files instead
    def expand(p: str) -> list[str]:
        if _os.path.isdir(p):
            return [
                f
                for f in _glob.glob(
                    _os.path.join(p, "**", "*.parquet"), recursive=True
                )
                if _os.path.isfile(f)
            ]
        return [p]

    p = _strip_scheme(path)
    if _os.path.isdir(p):
        return sorted(expand(p))
    return sorted(f for m in _glob.glob(p) for f in expand(m)) or [p]


def _strip_scheme(path: str) -> str:
    return path[len("file:") :] if path.startswith("file:") else path


_NULLABLE_INTS = {
    pa.int8(): pd.Int8Dtype(),
    pa.int16(): pd.Int16Dtype(),
    pa.int32(): pd.Int32Dtype(),
    pa.int64(): pd.Int64Dtype(),
}


def read_row_group(
    spark: SparkSession,
    path: str,
    row_group: int = 0,
    columns: Sequence[str] | None = None,
    *,
    max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Read a single row group (optionally one column) as a DataFrame.

    Spark has no row-group-number API (splits are byte-ranged), so this
    edge op reads the row group with pyarrow and re-enters Spark via
    Arrow — the analog of reader->RowGroup(i)->ReadTable / ->Column(j)
    (parquet-arrow/src/reader-writer.cc:77-125).  Inspection-only by
    contract: the group materializes on the driver, so groups beyond
    ``max_bytes`` (uncompressed, per footer stats) are refused — bulk
    reads belong to read_parquet, where Spark's own row-group skipping
    applies and nothing touches the driver.

    ``path`` may be a single file OR a Spark-written table directory:
    directories address row groups GLOBALLY across their part files in
    sorted-name order (group i of the table, not of one shard), so the
    op works unchanged on lake layouts.
    """
    import os as _os

    import pyarrow.parquet as pq

    p = _strip_scheme(path)
    if _os.path.isdir(p):
        offset = row_group
        for f in _expand_parquet_paths(spark, p):
            n = pq.ParquetFile(f).metadata.num_row_groups
            if offset < n:
                p, row_group = f, offset
                break
            offset -= n
        else:
            raise IndexError(
                f"row group {row_group} out of range for directory {path}"
            )
    pf = pq.ParquetFile(p)
    rg_meta = pf.metadata.row_group(row_group)
    if rg_meta.total_byte_size > max_bytes:
        raise ValueError(
            f"row group {row_group} of {path} is "
            f"{rg_meta.total_byte_size} bytes uncompressed, over the "
            f"{max_bytes}-byte inspection ceiling. read_row_group is a "
            "driver-side inspection tool; for bulk reads use "
            "read_parquet (distributed, with row-group skipping)."
        )
    table = pf.read_row_group(row_group, columns=list(columns) if columns else None)
    # pandas nullable integers keep a nullable INT32/INT64 column exact
    # (plain to_pandas turns it into float64); the threshold window
    # makes Spark keep the batches as an Arrow RDD instead of copying
    # the rows into a LocalRelation that every task closure carries
    pdf = table.to_pandas(types_mapper=_NULLABLE_INTS.get)
    with session_conf(
        spark, **{"spark.sql.execution.arrow.localRelationThreshold": "0"}
    ):
        return spark.createDataFrame(pdf)


_COLUMN_STATS_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("row_group", T.IntegerType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("physical_type", T.StringType(), False),
        T.StructField("num_values", T.LongType(), False),
        T.StructField("null_count", T.LongType(), True),
        T.StructField("min_value", T.StringType(), True),
        T.StructField("max_value", T.StringType(), True),
        T.StructField("compressed_bytes", T.LongType(), False),
        T.StructField("uncompressed_bytes", T.LongType(), False),
        T.StructField("encodings", T.StringType(), False),
    ]
)


def column_stats(spark: SparkSession, *paths: str) -> DataFrame:
    """Per-column-chunk footer statistics (min/max/null_count/sizes/
    encodings) as a DataFrame — the stats the reader's row-group
    skipping consults, surfaced for layout diagnostics.  Engine analog
    of the per-column sections of ParquetFilePrinter::DebugPrint
    (cpp/tools/parquet/parquet_reader.cc:63-72).

    Footers are read executor-side over the parallelized file list
    (mapInPandas), same pattern as :func:`metadata_stats`; min/max are
    stringified so one uniform schema covers all physical types.
    """
    files = [f for p in paths for f in _expand_parquet_paths(spark, p)]
    files_df = _file_list_df(spark, files)

    out_columns = [f.name for f in _COLUMN_STATS_SCHEMA]

    # self-contained closure (executor workers may not have this repo
    # importable; see scan_footers above)
    def scan_column_chunks(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fname in pdf["file"]:
                local = fname[5:] if fname.startswith("file:") else fname
                md = pq.ParquetFile(local).metadata
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for c in range(rg.num_columns):
                        col = rg.column(c)
                        st = col.statistics
                        rows.append(
                            {
                                "file": fname,
                                "row_group": g,
                                "column": col.path_in_schema,
                                "physical_type": col.physical_type,
                                "num_values": col.num_values,
                                "null_count": (
                                    st.null_count
                                    if st is not None and st.has_null_count
                                    else None
                                ),
                                "min_value": (
                                    str(st.min)
                                    if st is not None and st.has_min_max
                                    else None
                                ),
                                "max_value": (
                                    str(st.max)
                                    if st is not None and st.has_min_max
                                    else None
                                ),
                                "compressed_bytes": col.total_compressed_size,
                                "uncompressed_bytes": col.total_uncompressed_size,
                                "encodings": ",".join(col.encodings),
                            }
                        )
            yield pd.DataFrame(rows, columns=out_columns)

    return files_df.mapInPandas(scan_column_chunks, schema=_COLUMN_STATS_SCHEMA)


def compact_incremental(
    spark: SparkSession,
    path: str,
    output: str,
    *,
    small_file_bytes: int = 32 * 1024 * 1024,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    block_size_bytes: int = 16 * 1024 * 1024,
) -> DataFrame:
    """Incremental small-files compaction — the lake-maintenance form
    of the repo-namesake merge: only files BELOW ``small_file_bytes``
    are rewritten (into ``output``, sized like :func:`merge_files`);
    right-sized files are left untouched.  This is the policy real
    table services (OPTIMIZE / rewrite_data_files) apply so steady-
    state maintenance cost tracks the small-file backlog, not the
    table size: a 100 TB table with a 1 % daily small-file tail
    rewrites 1 TB, not 100 TB.

    Returns a manifest DataFrame (file, bytes, action ∈ kept|compacted
    |written) covering every input file and every newly written file.
    The compacted output is ONLY the rewritten tail — readers union
    ``output`` with the kept files (the kept list is in the manifest),
    exactly like a metadata-swap commit would.
    """
    files = _expand_parquet_paths(spark, path)
    # sizes via _file_sizes: serial under the threshold, executor-side
    # mapInPandas above it — small-file selection over a 1e6-file table
    # must not stat-loop on the driver
    sizes = dict(_file_sizes(spark, files))
    small = [f for f, b in sizes.items() if b < small_file_bytes]
    small_set = set(small)  # hoisted: per-element set() builds are O(n²)
    kept = [f for f in files if f not in small_set]
    rows = [(f, sizes[f], "kept") for f in kept] + [
        (f, sizes[f], "compacted") for f in small
    ]
    if small:
        merge_files(
            spark,
            small,
            output,
            target_file_size_bytes=target_file_size_bytes,
            block_size_bytes=block_size_bytes,
        )
        rows += [
            (f, b, "written")
            for f, b in _file_sizes(
                spark, _expand_parquet_paths(spark, output)
            )
        ]
    manifest_schema = T.StructType(
        [
            T.StructField("file", T.StringType(), False),
            T.StructField("bytes", T.LongType(), False),
            T.StructField("action", T.StringType(), False),
        ]
    )
    columns = list(zip(*rows)) or [(), (), ()]
    return spark.createDataFrame(
        pa.table(columns, names=manifest_schema.names), manifest_schema
    )
