"""Declared query registry — SURVEY.md §2's operator inventory.

Each entry binds a name to (a) a Spark DataFrame builder taking
``(spark, sf_dir)`` and (b) a DuckDB oracle SQL string (or ``None`` for
rows-only checks).  ``__spark_entry__.py`` exposes the registry to the
driver, which hash-compares Spark vs DuckDB results at sf0.01.

Determinism conventions (see functions/deterministic.py):
  * double aggregates go through DECIMAL(18,6) on both sides;
  * every LIMIT has a total order (unique tiebreaker);
  * ``events.ts`` is nanosecond-precision parquet — Spark truncates to
    micros on read, so oracle SQL always ``CAST(ts AS TIMESTAMP)``;
  * integer-ish oracle outputs are cast to match Spark types
    (DuckDB count()→BIGINT matches Spark long; DuckDB length()→BIGINT
    is cast to INTEGER to match Spark's int, etc.).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from tmp_parquet_merge_spark.functions.deterministic import (
    davg,
    dsum,
    dsum_expr,
)
from tmp_parquet_merge_spark.operators.relational import (
    asof_join,
    grouped_top_k,
    range_join,
    top_k,
)
from tmp_parquet_merge_spark.registry import (  # noqa: F401  (re-exported)
    REGISTRY,
    events_table,
    query,
    t,
)
from tmp_parquet_merge_spark.sources import fixtures, parquet_io


# ---------------------------------------------------------------------------
# §2.A scans / sources / sinks
# ---------------------------------------------------------------------------


@query("q_scan_full", oracle="SELECT * FROM lineitem")
def q_scan_full(spark, sf_dir):
    """Full-file scan, all columns — FileReader::ReadTable
    (parquet-arrow/src/reader-writer.cc:61-74)."""
    return t(spark, sf_dir, "lineitem")


@query(
    "q_scan_count",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
)
def q_scan_count(spark, sf_dir):
    """Timed whole-file scan row count — ScanFileContents
    (cpp/tools/parquet/parquet-scan.cc:60-71).  Catalyst answers this
    from parquet footer statistics (aggregate pushdown)."""
    return t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "q_scan_batch_size",
    oracle="""
        SELECT CAST(256 AS INTEGER) AS batch_size,
               COUNT(*) AS n_rows,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem
        UNION ALL
        SELECT CAST(4096 AS INTEGER),
               COUNT(*),
               CAST(SUM(l_quantity) AS BIGINT)
        FROM lineitem
    """,
)
def q_scan_batch_size(spark, sf_dir):
    """Batch-size-parity scan (closing the last §6 baseline anchor):
    the same projected scan-aggregate executed at
    the reference's default vectorized batch of 256 rows
    (parquet-scan.cc:35) AND Spark's 4096 default
    (spark.sql.parquet.columnarReaderBatchSize), one row per setting —
    results must be invariant to the knob.  The aggregate reads a real
    data column (sum) so the scan can't be answered from footer stats.
    Eager by necessity (the knob is a session conf read at execution,
    so the two scans run inside build, like the layout writers).
    Oracle: the knob itself isn't SQL-visible, but the INVARIANCE
    claim is — the oracle computes the one true aggregate per batch
    size, so a batch-size-dependent scan result hash-fails (l_quantity
    is integral 1..50, so the double sum is exact and the BIGINT cast
    is truncation-safe in both engines).  Each setting's scan runs
    inside parquet_io.session_conf (module conf lock + restore),
    so a concurrent engine write/scan on the same session cannot
    inherit the pinned batch size."""
    knob = "spark.sql.parquet.columnarReaderBatchSize"
    out = []
    for n in (256, 4096):
        with parquet_io.session_conf(spark, **{knob: str(n)}):
            row = (
                t(spark, sf_dir, "lineitem")
                .select("l_orderkey", "l_quantity")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("l_quantity").cast("long").alias("sum_qty"),
                )
                .first()
            )
        out.append((n, row.n_rows, row.sum_qty))
    return spark.createDataFrame(
        out, "batch_size: int, n_rows: long, sum_qty: long"
    )


@query("q_project_one", oracle="SELECT l_orderkey FROM lineitem")
def q_project_one(spark, sf_dir):
    """Single-column read — reader->ReadColumn(0)
    (parquet-arrow/src/reader-writer.cc:93-106); Catalyst prunes the
    parquet scan to one column (ReadSchema in .explain)."""
    return t(spark, sf_dir, "lineitem").select("l_orderkey")


@query(
    "q_project_subset",
    oracle="SELECT l_orderkey, l_extendedprice, l_shipdate FROM lineitem",
)
def q_project_subset(spark, sf_dir):
    """Multi-column ordinal projection — parquet-scan --columns=i,j
    (cpp/tools/parquet/parquet-scan.cc:36-49), by name."""
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )


@query(
    "q_merge_files",
    oracle="SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem",
)
def q_merge_files(spark, sf_dir):
    """Multi-file merge read (repo namesake): one DataFrame over many
    parquet paths — spark.read.parquet(f1, f2, ...)."""
    p = os.path.join(sf_dir, "lineitem.parquet")
    return spark.read.parquet(p, p)


@query(
    "q_roundtrip",
    # The oracle is the fixture's closed form re-derived over
    # range(500) (fixtures.alltypes_df generators, reader-writer.cc:
    # 80-163): every cell the roundtrip returns must equal the
    # generator value, so any write- or read-side corruption
    # hash-fails.  Literals are CAST to DOUBLE before arithmetic —
    # DuckDB decimal literals would otherwise compute in DECIMAL and
    # drift from Spark's double math in the last ulp.
    oracle="""
        SELECT (i % 2 = 0) AS boolean_field,
               CAST(i AS INTEGER) AS int32_field,
               '[' || CAST(2 * i AS VARCHAR) || ',' ||
                      CAST(2 * i + 1 AS VARCHAR) || ']' AS int64_field,
               strftime(make_timestamp(i * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS int96_field,
               CAST(i * CAST(1.1 AS DOUBLE) AS REAL) AS float_field,
               i * CAST(1.1111111 AS DOUBLE) AS double_field,
               CASE WHEN i % 2 = 0
                    THEN 'parquet' || lpad(CAST(i AS VARCHAR), 3, '0')
               END AS ba_field,
               repeat(lpad(upper(to_hex(i % 256)), 2, '0'), 10)
                   AS flba_field
        FROM range(500) AS t(i)
    """,
)
def q_roundtrip(spark, sf_dir):
    """Write→read roundtrip of the 8-type reference schema with snappy
    + 16 MiB row groups (reader-writer.cc:57-74, reader-writer2.cc:46).
    Oracle: the fixture generators are closed-form over the row
    index, so DuckDB re-derives every expected cell from range(500)
    and the hash compare proves value fidelity end-to-end through the
    write+read cycle (the oracle can't write files, but it CAN state
    what a lossless roundtrip must return).
    The REPEATED field stays an array in the *written* file (that is
    the fidelity under test); the *returned* frame serializes it to
    JSON because the driver's pandas canonicalizer can't sort/factorize
    list cells.  int96_field is written as physical INT96 raw triples
    (reader_writer.h:48-49, pinned via int96_timestamps regardless of
    cluster default) and returned as a formatted UTC string so the
    INT96 read path is driver-visible without timezone-display noise.
    Full physical-type fidelity (TIME_MILLIS, FLBA(10), REQUIRED) is
    write_parquet_typed, pinned in tests/test_typed_write.py."""
    out = os.path.join(tempfile.mkdtemp(prefix="tpms_rt_"), "alltypes")
    df = fixtures.alltypes_df(spark, 500)
    parquet_io.write_parquet(
        df,
        out,
        block_size_bytes=16 * 1024 * 1024,
        compression="snappy",
        int96_timestamps=True,
    )
    back = spark.read.parquet(out)
    return (
        back.withColumn("int64_field", F.to_json("int64_field"))
        .withColumn(
            "int96_field",
            F.date_format(
                F.to_utc_timestamp(
                    "int96_field",
                    spark.conf.get("spark.sql.session.timeZone"),
                ),
                "yyyy-MM-dd HH:mm:ss",
            ),
        )
        # hex, not raw binary: DuckDB BLOBs surface as unhashable
        # bytearray cells in the driver's pandas canonicalizer (the
        # oracle side would ERR), and hex keeps the byte fidelity
        # check intact
        .withColumn("flba_field", F.hex("flba_field"))
    )


@query(
    "q_typed_roundtrip",
    # Golden oracle: the expected footer is a pure function of
    # the fixture (500 rows, 2 list elements per row) and the typed
    # writer's declared physical types — nothing here depends on file
    # layout, partition count, or byte sizes, so the golden is stable
    # under any executor split (n_values SUMS across part files).
    oracle="""
        SELECT * FROM (VALUES
            ('ba_field', 'BYTE_ARRAY',
             CAST(500 AS BIGINT), CAST(500 AS INTEGER)),
            ('boolean_field', 'BOOLEAN',
             CAST(500 AS BIGINT), CAST(500 AS INTEGER)),
            ('double_field', 'DOUBLE',
             CAST(500 AS BIGINT), CAST(500 AS INTEGER)),
            ('flba_field', 'FIXED_LEN_BYTE_ARRAY',
             CAST(500 AS BIGINT), CAST(500 AS INTEGER)),
            ('float_field', 'FLOAT',
             CAST(500 AS BIGINT), CAST(500 AS INTEGER)),
            ('int32_field', 'INT32',
             CAST(500 AS BIGINT), CAST(500 AS INTEGER)),
            ('int64_field.list.element', 'INT64',
             CAST(1000 AS BIGINT), CAST(500 AS INTEGER)),
            ('int96_field', 'INT96',
             CAST(500 AS BIGINT), CAST(500 AS INTEGER))
        ) AS t("column", physical_type, n_values, rows_read_back)
    """,
)
def q_typed_roundtrip(spark, sf_dir):
    """Physical-type-fidelity roundtrip, driver-visible: writes the
    reference's exact 8-type schema via write_parquet_typed —
    FIXED_LEN_BYTE_ARRAY(10), INT32/TIME_MILLIS, Repetition::REQUIRED,
    raw INT96 (reader_writer.h:28-67) — re-reads the data through the
    explicit typed_read_schema (Spark's footer converter rejects TIME),
    and returns per-column footer physical types + value counts from
    column_stats plus the read-back row count, so the declared footer
    IS the query result.  Oracle: a golden VALUES table — the
    expected footer is closed-form (8 declared physical types, 500
    values per column, 1000 for the 2-element repeated leaf), so the
    hash compare certifies the typed writer's physical-type fidelity;
    footer shape also pinned in tests/test_typed_write.py.

    Schema-tree parity: 7 of the 8 reference fields byte-match the
    reference footer.  The exception is ``int64_field`` —
    reader_writer.h:45-46 declares a bare 2-level ``repeated int64``
    primitive leaf (legacy pre-LIST parquet), which NO available
    writer can emit: pyarrow unconditionally wraps ArrayType in the
    3-level LIST group (its use_compliant_nested_type knob only
    renames element→item) and Spark's writeLegacyFormat writes a
    3-level ``bag`` group.  Readers treat both spellings as the same
    array<long> per the parquet-format backward-compat rules; the
    exact delta is pinned in
    tests/test_typed_write.py::test_int64_field_list_encoding_delta_is_pinned
    so a future pyarrow that learns the legacy spelling surfaces."""
    out = os.path.join(tempfile.mkdtemp(prefix="tpms_typed_"), "alltypes")
    df = fixtures.alltypes_df(spark, 500)
    parquet_io.write_parquet_typed(
        df,
        out,
        flba_lengths={"flba_field": 10},
        time_millis_cols=["int32_field"],
        required_cols=(
            "boolean_field",
            "int32_field",
            "int96_field",
            "float_field",
            "double_field",
            "flba_field",
        ),
        int96_timestamps=True,
    )
    back = parquet_io.read_parquet(
        spark, out, schema=parquet_io.typed_read_schema(spark, out)
    )
    n_back = back.count()  # bounded: one count over the 500-row fixture
    return (
        parquet_io.column_stats(spark, out)
        .groupBy("column", "physical_type")
        .agg(F.sum("num_values").alias("n_values"))
        .withColumn("rows_read_back", F.lit(n_back))
        .orderBy("column")
    )


@query(
    "q_merge_schema_evolution",
    # The fixture generations are closed-form (int_str_df ± the
    # derived `extra` column), so the oracle states the exact unioned
    # result a mergeSchema read must produce: gen1 rows with extra
    # NULL, gen2 rows with extra = int*10.
    oracle="""
        WITH v("int", str) AS (VALUES
            (1, 'some'), (2, 'string'), (3, 'content'),
            (4, 'in'), (5, 'rows'))
        SELECT CAST("int" AS BIGINT) AS "int", str,
               CAST(NULL AS BIGINT) AS extra
        FROM v
        UNION ALL
        SELECT CAST("int" AS BIGINT), str, CAST("int" * 10 AS BIGINT)
        FROM v
    """,
)
def q_merge_schema_evolution(spark, sf_dir):
    """Schema-evolution merge: two file generations, second adds a
    column; mergeSchema read unions the schemas (missing → NULL).
    Oracle: the two generations are deterministic fixtures, so
    the schema-union semantics (old rows NULL-filled in the new
    column) are stated exactly as a VALUES union."""
    base = tempfile.mkdtemp(prefix="tpms_evo_")
    f1, f2 = os.path.join(base, "gen1"), os.path.join(base, "gen2")
    v1 = fixtures.int_str_df(spark)
    v2 = v1.withColumn("extra", F.col("int") * 10)
    parquet_io.write_parquet(v1, f1)
    parquet_io.write_parquet(v2, f2)
    return parquet_io.read_parquet(spark, f1, f2, merge_schema=True)


@query(
    "q_schema_widening",
    # Closed-form fixture generations: gen1 carries INT32 ids with a
    # FLOAT measure, gen2 INT64 ids (beyond int32 range, proving the
    # widening is value-preserving) with a DOUBLE measure and an added
    # column.  The widened read must union them as BIGINT/DOUBLE with
    # gen1's missing column NULL-filled.
    oracle="""
        WITH v(id) AS (VALUES (1), (2), (3), (4), (5))
        SELECT CAST(id AS BIGINT) AS id,
               CAST(CAST(id AS FLOAT) / 2 AS DOUBLE) AS measure,
               CAST(NULL AS BIGINT) AS extra
        FROM v
        UNION ALL
        SELECT CAST(id AS BIGINT) + 4294967296,
               CAST(id AS DOUBLE) / 2,
               CAST(id * 10 AS BIGINT)
        FROM v
    """,
)
def q_schema_widening(spark, sf_dir):
    """Type-widening schema evolution: a writer upgraded a column
    from INT32 to INT64 (and FLOAT to DOUBLE) across file generations —
    the lake evolution step Spark's ``mergeSchema`` REJECTS outright
    (StructType.merge throws ``Failed to merge fields`` on width
    conflicts; probed and pinned in tests/test_merge.py).  The engine's
    ``read_parquet_widened`` resolves widths up the value-preserving
    lattice (integral widths, float→double) from one footer probe per
    generation, casts, and unions by name with missing columns
    NULL-filled; non-widenable conflicts (string vs int) raise loudly.
    gen2's ids exceed int32 range, so a lossy spelling could not
    hash-match.  Data reads stay distributed; only schemas ride the
    driver."""
    base = tempfile.mkdtemp(prefix="tpms_widen_")
    f1, f2 = os.path.join(base, "gen1"), os.path.join(base, "gen2")
    v = fixtures.int_str_df(spark).select(F.col("int").alias("id"))
    g1 = v.select(
        F.col("id").cast("int").alias("id"),
        # the trailing cast matters: Spark's Divide promotes float/int
        # to double, so without it gen1 would silently write DOUBLE and
        # the float→double widening this query exists to exercise
        # would be dead coverage
        (F.col("id").cast("float") / 2).cast("float").alias("measure"),
    )
    g2 = v.select(
        (F.col("id").cast("bigint") + F.lit(4294967296)).alias("id"),
        (F.col("id").cast("double") / 2).alias("measure"),
        (F.col("id") * 10).cast("bigint").alias("extra"),
    )
    parquet_io.write_parquet(g1, f1)
    parquet_io.write_parquet(g2, f2)
    return parquet_io.read_parquet_widened(spark, f1, f2)


@query(
    "q_merge_incremental",
    # Oracle: fixture-closed-form invariants — the scatter is BY
    # CONSTRUCTION 4 right-sized + 48 small files holding exactly the
    # 4000-row tail (limit(4000).repartition(48)), and incremental
    # compaction must keep the 4, rewrite the 48, and conserve the
    # tail's rows on both sides of the rewrite (footer-read).  File
    # BYTES are sf-coupled and deliberately not oracled;
    # written-file count is byte-coupled likewise.
    oracle="""
        SELECT CAST(4 AS INTEGER) AS n_kept,
               CAST(48 AS INTEGER) AS n_compacted,
               CAST(4000 AS BIGINT) AS rows_compacted_in,
               CAST(4000 AS BIGINT) AS rows_written_out
    """,
)
def q_merge_incremental(spark, sf_dir):
    """Incremental small-files compaction — the steady-state lake-
    maintenance form of the namesake merge (parquet_io.
    compact_incremental): lineitem scattered into 4 right-sized files
    + 48 small ones, then only the sub-threshold tail is rewritten
    toward the target size while the big files stay untouched
    (manifest actions kept/compacted/written).  At 100 TB maintenance
    cost tracks the small-file backlog, not table size.  Returns the
    footer-verified kept/rewritten split and row conservation; the
    full per-file manifest stays pinned in tests/test_merge.py."""
    base = tempfile.mkdtemp(prefix="tpms_inc_")
    mixed = os.path.join(base, "mixed")
    li = t(spark, sf_dir, "lineitem")
    # repartition (not num_files/coalesce): the single-file local scan
    # has 1 partition, and coalesce can only shrink
    parquet_io.write_parquet(li.repartition(4), mixed)
    parquet_io.write_parquet(
        li.limit(4_000).repartition(48), mixed, mode="append"
    )
    # sf-independent threshold: the small-file tail is ≥10× smaller
    # than the right-sized files at every bundled sf, so the geometric
    # mean of the extreme file sizes splits the two populations
    sizes = [
        # _expand_parquet_paths returns plain local paths (scheme
        # already stripped)
        os.path.getsize(f)
        for f in parquet_io._expand_parquet_paths(spark, mixed)
    ]
    thr = int((min(sizes) * max(sizes)) ** 0.5)
    compacted_dir = os.path.join(base, "compacted")
    manifest = parquet_io.compact_incremental(
        spark,
        mixed,
        compacted_dir,
        small_file_bytes=thr,
        target_file_size_bytes=8 * thr,
        block_size_bytes=4 * thr,
    )
    # footer-verified invariants: the kept/compacted split is the
    # fixture's 4-big/48-small construction, and the rewritten tail
    # conserves its 4000 rows exactly (footer num_rows on BOTH sides —
    # the compacted inputs and the written outputs)
    in_rows = parquet_io.metadata_stats(spark, mixed).select(
        "file", F.col("num_rows").alias("in_rows")
    )
    sides = manifest.join(in_rows, "file", "left").agg(
        F.sum(F.when(F.col("action") == "kept", 1).otherwise(0))
        .cast("int")
        .alias("n_kept"),
        F.sum(F.when(F.col("action") == "compacted", 1).otherwise(0))
        .cast("int")
        .alias("n_compacted"),
        F.sum(
            F.when(F.col("action") == "compacted", F.col("in_rows"))
        ).alias("rows_compacted_in"),
    )
    out_rows = parquet_io.metadata_stats(spark, compacted_dir).agg(
        F.sum("num_rows").alias("rows_written_out")
    )
    return sides.crossJoin(out_rows)


@query(
    "q_merge_compaction",
    # Oracle: the compaction invariants the footers must satisfy —
    # row conservation (sum of output footer num_rows == count(*) of
    # the scattered source), schema width, and the row-group byte
    # budget (block ≤ group ≤ 2×block slack, the tests/test_merge.py
    # contract).  Output file COUNT is byte-coupled (sf-dependent) and
    # deliberately not oracled, like every layout byte count.
    oracle="""
        SELECT (SELECT count(*) FROM lineitem) AS total_rows,
               11 AS num_columns,
               true AS rowgroup_budget_ok
    """,
)
def q_merge_compaction(spark, sf_dir):
    """Small-files compaction at bench scale — the repo-namesake
    operation as it runs on a lake: lineitem scattered into 64 small
    files, then ``merge_files`` compacts them into target-size outputs
    (file count sized from input bytes, 16 MiB row-group budget
    matching the reference's buffered row-group rotation,
    reader-writer2.cc:46).  Returns the footer-verified compaction
    invariants (row conservation / schema width / row-group budget);
    per-file layout detail stays in tests/test_merge.py.  Bench
    reports the scatter+compact write phase separately from the
    footer read."""
    base = tempfile.mkdtemp(prefix="tpms_compact_")
    small = os.path.join(base, "small")
    merged = os.path.join(base, "merged")
    t(spark, sf_dir, "lineitem").repartition(64).write.mode(
        "overwrite"
    ).parquet(small)
    block = 16 * 1024 * 1024
    parquet_io.merge_files(
        spark,
        [small],
        merged,
        target_file_size_bytes=2 * block,
        block_size_bytes=block,
    )
    return parquet_io.metadata_stats(spark, merged).agg(
        F.sum("num_rows").alias("total_rows"),
        F.max("num_columns").cast("int").alias("num_columns"),
        (F.max("max_row_group_bytes") <= F.lit(2 * block)).alias(
            "rowgroup_budget_ok"
        ),
    )


@query("q_rowgroup_read", oracle="SELECT * FROM nation")
def q_rowgroup_read(spark, sf_dir):
    """Single row-group read — reader->RowGroup(0)->ReadTable
    (parquet-arrow/src/reader-writer.cc:77-90).  Oracle: the
    bundled nation.parquet is a single-row-group file at every sf
    (25 rows), so RowGroup(0) ≡ the whole table and the hash compare
    certifies the row-group read path's values; multi-row-group
    addressing (group 1+ of a multi-group file) is pinned in
    tests/test_merge.py."""
    return parquet_io.read_row_group(
        spark,
        os.path.join(sf_dir, "nation.parquet"),
        row_group=0,
    )


@query(
    "q_schema_dump",
    # Golden oracle: lineitem's schema is pinned by TESTDATA.md
    # (driver-generated, read-only, identical across sf dirs), so the
    # recovered tree is a known constant — the hash compare certifies
    # the footer→schema conversion letter for letter.  DuckDB e''
    # strings carry the tree's newlines.
    oracle="""
        SELECT 'struct<l_orderkey:bigint,l_partkey:bigint,'
            || 'l_suppkey:bigint,l_linenumber:int,l_quantity:double,'
            || 'l_extendedprice:double,l_discount:double,l_tax:double,'
            || 'l_returnflag:string,l_linestatus:string,'
            || 'l_shipdate:timestamp_ntz>' AS simple_string,
            e'root\\n'
            || e' |-- l_orderkey: long (nullable = true)\\n'
            || e' |-- l_partkey: long (nullable = true)\\n'
            || e' |-- l_suppkey: long (nullable = true)\\n'
            || e' |-- l_linenumber: integer (nullable = true)\\n'
            || e' |-- l_quantity: double (nullable = true)\\n'
            || e' |-- l_extendedprice: double (nullable = true)\\n'
            || e' |-- l_discount: double (nullable = true)\\n'
            || e' |-- l_tax: double (nullable = true)\\n'
            || e' |-- l_returnflag: string (nullable = true)\\n'
            || e' |-- l_linestatus: string (nullable = true)\\n'
            || e' |-- l_shipdate: timestamp_ntz (nullable = true)\\n'
            AS tree_string
    """,
)
def q_schema_dump(spark, sf_dir):
    """Schema tree dump — parquet-dump-schema.cc:23-36.  Oracle:
    golden — the bundled lineitem schema is immutable (TESTDATA.md),
    so the expected simpleString/treeString are stated verbatim."""
    return parquet_io.schema_dump(spark, os.path.join(sf_dir, "lineitem.parquet"))


@query(
    "q_metadata_stats",
    # Oracle: footer facts the views can restate — num_rows per
    # table is data-derived (count(*)); num_row_groups is 1 for every
    # bundled file AND the engine-written stamp (single-partition
    # nation; measured invariant at sf0.001/0.01, TESTDATA.md-pinned
    # generator); num_columns is schema-pinned per table (the
    # q_schema_dump golden pattern); the engine-stamped file must
    # surface its custom kv key.  Byte sizes stay in the operator and
    # its tests (not SQL-visible).
    oracle="""
        SELECT 'customer' AS table_name,
               (SELECT count(*) FROM customer) AS num_rows,
               1 AS num_row_groups, 5 AS num_columns,
               CAST(NULL AS VARCHAR) AS engine_writer
        UNION ALL SELECT 'documents', (SELECT count(*) FROM documents),
               1, 5, NULL
        UNION ALL SELECT 'embeddings', (SELECT count(*) FROM embeddings),
               1, 3, NULL
        UNION ALL SELECT 'events', (SELECT count(*) FROM events),
               1, 6, NULL
        UNION ALL SELECT 'lineitem', (SELECT count(*) FROM lineitem),
               1, 11, NULL
        UNION ALL SELECT 'nation', (SELECT count(*) FROM nation),
               1, 3, NULL
        UNION ALL SELECT 'orders', (SELECT count(*) FROM orders),
               1, 6, NULL
        UNION ALL SELECT 'part', (SELECT count(*) FROM part),
               1, 6, NULL
        UNION ALL SELECT 'region', (SELECT count(*) FROM region),
               1, 2, NULL
        UNION ALL SELECT 'supplier', (SELECT count(*) FROM supplier),
               1, 4, NULL
        UNION ALL SELECT 'nation_kv', (SELECT count(*) FROM nation),
               1, 3, 'tmp-parquet-merge-spark'
    """,
)
def q_metadata_stats(spark, sf_dir):
    """Footer metadata dump (file/row-group/column counts, key-value
    metadata) — parquet_reader.cc:44-72.  Distributed footer reads via
    mapInPandas.  Also exercises the WRITE side of the kv surface
    (parquet_reader.cc:46-47): one engine-written file with custom
    footer keys (write_parquet(kv_metadata=...)) joins the dump, so
    the engine_writer column carries an engine-written key, not just
    arrow/spark schema blobs.  Oracle: per-table (num_rows,
    num_row_groups, num_columns, engine kv) — footer num_rows must
    equal the view's count(*); byte sizes stay pinned in
    tests/test_merge.py (not SQL-visible)."""
    stamped = os.path.join(tempfile.mkdtemp(prefix="tpms_kv_"), "nation_kv")
    parquet_io.write_parquet(
        t(spark, sf_dir, "nation"),
        stamped,
        kv_metadata={
            "engine.writer": "tmp-parquet-merge-spark",
            "engine.query": "q_metadata_stats",
        },
    )
    md = parquet_io.metadata_stats(spark, sf_dir, stamped)
    base = F.element_at(F.split(F.col("file"), "/"), -1)
    parent = F.element_at(F.split(F.col("file"), "/"), -2)
    # dir-shaped tables: …/nation.parquet/part-* names the TABLE by
    # its parent dir — strip the suffix there too, so single-file and
    # Spark-written layouts roll up under the same logical name
    table_name = F.regexp_replace(
        F.when(base.startswith("part-"), parent).otherwise(base),
        r"\.parquet$",
        "",
    )
    # aggregate per logical table: the stamped dir may hold several
    # part files in general (single-partition nation writes one; the
    # sum/max spelling stays correct either way)
    return (
        md.withColumn("table_name", table_name)
        .groupBy("table_name")
        .agg(
            F.sum("num_rows").alias("num_rows"),
            F.sum("num_row_groups").cast("int").alias("num_row_groups"),
            F.max("num_columns").cast("int").alias("num_columns"),
            F.max(
                F.get_json_object(
                    F.col("key_value_metadata"), "$['engine.writer']"
                )
            ).alias("engine_writer"),
        )
    )


_LI_NUM_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
)
_LI_STR_COLS = ("l_returnflag", "l_linestatus", "l_shipdate")
_LI_PHYS = {
    "l_orderkey": "INT64",
    "l_partkey": "INT64",
    "l_suppkey": "INT64",
    "l_linenumber": "INT32",
    "l_quantity": "DOUBLE",
    "l_extendedprice": "DOUBLE",
    "l_discount": "DOUBLE",
    "l_tax": "DOUBLE",
    "l_returnflag": "BYTE_ARRAY",
    "l_linestatus": "BYTE_ARRAY",
    "l_shipdate": "INT64",
}


def _column_stats_oracle() -> str:
    """One branch per lineitem column: the footer's min/max/null_count
    must equal the same aggregates computed FROM THE DATA — a real
    cross-check of the stats the reader's row-group skipping trusts,
    not a golden transcription.  physical_type is schema-pinned (the
    q_schema_dump golden pattern); timestamps compare as their VARCHAR
    spelling (identical '%Y-%m-%d %H:%M:%S' on both engines)."""
    branches = []
    for c in _LI_NUM_COLS:
        branches.append(
            f"SELECT '{c}' AS column_name, '{_LI_PHYS[c]}' AS physical_type,"
            f" count(*) AS num_values,"
            f" count(*) - count({c}) AS null_count,"
            f" CAST(min({c}) AS DOUBLE) AS min_num,"
            f" CAST(max({c}) AS DOUBLE) AS max_num,"
            f" CAST(NULL AS VARCHAR) AS min_str,"
            f" CAST(NULL AS VARCHAR) AS max_str"
            f" FROM lineitem"
        )
    for c in _LI_STR_COLS:
        branches.append(
            f"SELECT '{c}', '{_LI_PHYS[c]}', count(*),"
            f" count(*) - count({c}),"
            f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
            f" CAST(min({c}) AS VARCHAR), CAST(max({c}) AS VARCHAR)"
            f" FROM lineitem"
        )
    return " UNION ALL ".join(branches)


@query("q_column_stats", oracle=_column_stats_oracle())
def q_column_stats(spark, sf_dir):
    """Per-column-chunk footer stats (min/max/null_count/num_values) —
    the per-column sections of parquet_reader.cc's DebugPrint (:63-72)
    and the inputs to row-group skipping.  Distributed footer reads
    via mapInPandas.  Oracle: the footer stats, aggregated across
    row groups (min-of-mins / sum-of-counts — the multi-group-correct
    rollup), must equal the same aggregates computed from the data by
    the oracle engine; encodings/byte sizes stay in the operator and
    tests/test_merge.py (writer-specific, not SQL-visible)."""
    cs = parquet_io.column_stats(
        spark, os.path.join(sf_dir, "lineitem.parquet")
    )
    is_num = F.col("column").isin(*_LI_NUM_COLS)
    return (
        cs.groupBy(F.col("column").alias("column_name"))
        .agg(
            F.first("physical_type").alias("physical_type"),
            F.sum("num_values").alias("num_values"),
            F.sum("null_count").alias("null_count"),
            # + 0.0 canonicalizes IEEE signed zero: parquet footers may
            # record -0.0 as a double min while the data-side oracle's
            # min() is 0.0, and the driver hashes '-0.0' != '0.0'
            # (this hash-failed on l_discount/l_tax).
            (
                F.min(F.when(is_num, F.col("min_value").cast("double")))
                + F.lit(0.0)
            ).alias("min_num"),
            (
                F.max(F.when(is_num, F.col("max_value").cast("double")))
                + F.lit(0.0)
            ).alias("max_num"),
            # lexicographic min-of-mins is exact for strings, and ISO
            # timestamp spellings sort chronologically
            F.min(F.when(~is_num, F.col("min_value"))).alias("min_str"),
            F.max(F.when(~is_num, F.col("max_value"))).alias("max_str"),
        )
    )


# ---------------------------------------------------------------------------
# §2.B projections / filters
# ---------------------------------------------------------------------------


@query(
    "q_filter_pushdown",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_quantity < 10
    """,
)
def q_filter_pushdown(spark, sf_dir):
    """Predicate pushdown to the parquet scan (range + numeric filters
    land in PushedFilters; row-group min/max stats skip groups)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_quantity") < 10)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@query(
    "q_filter_nulls",
    oracle="""
        SELECT doc_id, NULLIF(lang, 'en') AS lang_or_null
        FROM documents
        WHERE NULLIF(lang, 'en') IS NULL
    """,
)
def q_filter_nulls(spark, sf_dir):
    """NULL semantics: OPTIONAL-column handling (def-level 0 ⇔ NULL,
    reader-writer.cc:147-150,371-375) surfaced as isNull filtering."""
    d = t(spark, sf_dir, "documents").withColumn(
        "lang_or_null", F.when(F.col("lang") != "en", F.col("lang"))
    )
    return d.filter(F.col("lang_or_null").isNull()).select("doc_id", "lang_or_null")


# ---------------------------------------------------------------------------
# §2.C metadata-ish / json
# ---------------------------------------------------------------------------


@query(
    "q_to_json",
    oracle="""
        SELECT r_regionkey,
               to_json(struct_pack(r_regionkey := r_regionkey,
                                   r_name := r_name)) AS js
        FROM region
    """,
)
def q_to_json(spark, sf_dir):
    """JSON output mode — parquet_reader.cc:50-51 JSONPrint."""
    r = t(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        F.to_json(F.struct("r_regionkey", "r_name")).alias("js"),
    )


# ---------------------------------------------------------------------------
# §2.E relational: aggregation
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@query("q_agg_basic", oracle=_Q1_ORACLE)
def q_agg_basic(spark, sf_dir):
    """TPC-H Q1-style hash aggregation: scan → pushed filter → partial
    (map-side) agg → final agg.  The flagship query."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum_expr(disc_price).alias("sum_disc_price"),
        dsum_expr(charge).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q_agg_distinct",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark, sf_dir):
    """Distinct aggregation (expand + two-phase agg in Spark).  Exact
    countDistinct, not approx, for oracle hash parity."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q_agg_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark, sf_dir):
    """Hierarchical grouping-sets aggregation (rollup)."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# §2.E relational: joins
# ---------------------------------------------------------------------------


@query(
    "q_join_inner",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_inner(spark, sf_dir):
    """Equi-join fact→dimension.  Customer is broadcast so the orders
    side never shuffles — the only sane plan when orders is 100 TB."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "q_join_multiway",
    oracle="""
        SELECT n.n_name,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
    """,
)
def q_join_multiway(spark, sf_dir):
    """TPC-H Q5-style star join: one big fact (lineitem) + broadcast
    dims.  lineitem⋈orders shuffles on orderkey; every other join is a
    broadcast, so the fact table is shuffled exactly once."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("n_name").agg(
        dsum_expr(revenue).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "q_join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark, sf_dir):
    """Left-semi join (EXISTS): customers having orders."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark, sf_dir):
    """Left-anti join (NOT EXISTS): customers with no orders."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_asof",
    oracle="""
        WITH o AS (
            SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS last_orderkey
            FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT e.event_id, e.user_id, o.last_orderkey,
               o.o_orderdate AS last_orderdate
        FROM events e
        ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
    """,
)
def q_join_asof(spark, sf_dir):
    """As-of join: latest order at or before each event, per user.
    Union-merge formulation (operators/relational.py): ONE shuffle on
    the key, no per-key row explosion — scale-safe where an
    inequality-join + argmax would blow up."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")
        .withColumn("last_orderdate", F.col("o_orderdate"))
        .drop("o_orderdate")
        .withColumn("__rt", F.col("last_orderdate"))
    )
    return asof_join(
        e,
        o,
        on="user_id",
        left_time="ts",
        right_time="__rt",
        right_values=["last_orderkey", "last_orderdate"],
    ).select("event_id", "user_id", "last_orderkey", "last_orderdate")


@query(
    "q_join_range",
    oracle="""
        SELECT p.p_partkey, p.p_size, b.band
        FROM part p
        JOIN (VALUES (0, 10, 'small'), (10, 25, 'medium'), (25, 100, 'large'))
             AS b(lo, hi, band)
          ON p.p_size >= b.lo AND p.p_size < b.hi
    """,
)
def q_join_range(spark, sf_dir):
    """Interval/range join against a broadcast band dimension — the
    fact side streams through BroadcastNestedLoopJoin, no shuffle."""
    p = t(spark, sf_dir, "part")
    bands = fixtures.size_bands_df(spark)
    return range_join(p, bands, "p_size").select("p_partkey", "p_size", "band")


# ---------------------------------------------------------------------------
# §2.E relational: windows / sort / set ops
# ---------------------------------------------------------------------------


@query(
    "q_window_rank",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
)
def q_window_rank(spark, sf_dir):
    """Top-3 orders per customer via row_number window — one shuffle on
    the partition key, heap-friendly per group."""
    return grouped_top_k(
        t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )


@query(
    "q_window_running",
    oracle="""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_qty
        FROM lineitem
    """,
)
def q_window_running(spark, sf_dir):
    """Running sum per supplier over a total order.  The synthetic
    lineitem is NOT (l_orderkey, l_linenumber)-unique (sf0.1 has 118k
    duplicate keys with differing quantities), so the summed column
    itself is the final tiebreaker: rows that still tie are identical
    in every ordering key AND the value, making their prefix sums — and
    therefore the output multiset — order-independent."""
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running_qty"),
    )


@query(
    "q_window_lag",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day', LAG(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ), o_orderdate) AS INTEGER) AS days_since_prev,
               LEAD(o_orderkey) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS next_orderkey
        FROM orders
    """,
)
def q_window_lag(spark, sf_dir):
    """lag/lead offset windows: per-customer days since previous order
    and next order key — one shuffle by customer, sorted once, both
    offsets computed in the same window pass."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w))
        .cast("int")
        .alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@query(
    "q_topk_orders",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk_orders(spark, sf_dir):
    """Global top-k — TakeOrderedAndProject (per-partition heaps), not a
    full sort; unique tiebreaker for determinism."""
    return top_k(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        10,
    )


@query(
    "q_sort_global",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def q_sort_global(spark, sf_dir):
    """Full global sort: range-partitioned exchange (sampled bounds ⇒
    balanced partitions at any scale) + per-partition sort.  The heap
    twin for bounded output is q_topk_orders; this is the unbounded
    ORDER BY path (exports, sorted sinks)."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


@query(
    "q_set_intersect",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        INTERSECT
        SELECT o_custkey AS custkey FROM orders
    """,
)
def q_set_intersect(spark, sf_dir):
    """Set intersection (distinct semantics both engines)."""
    c = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.intersect(o)


@query(
    "q_set_except",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders
    """,
)
def q_set_except(spark, sf_dir):
    """Set difference (distinct semantics both engines)."""
    c = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.subtract(o)


# ---------------------------------------------------------------------------
# §2.E scalar functions
# ---------------------------------------------------------------------------


@query(
    "q_scalar_string",
    oracle="""
        SELECT p_partkey,
               lower(p_name) AS name_lower,
               substring(p_type, 1, 5) AS type_prefix,
               p_brand || '-' || CAST(p_size AS VARCHAR) AS brand_size,
               CAST(length(p_name) AS INTEGER) AS name_len
        FROM part
    """,
)
def q_scalar_string(spark, sf_dir):
    """String scalar functions (lower/substring/concat/length)."""
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("-", F.col("p_brand"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
        F.length("p_name").alias("name_len"),
    )


@query(
    "q_scalar_date",
    oracle="""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(month(o_orderdate) AS INTEGER) AS o_month,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               CAST(date_diff('day', o_orderdate, TIMESTAMP '2000-01-01') AS INTEGER) AS days_to_y2k
        FROM orders
    """,
)
def q_scalar_date(spark, sf_dir):
    """Date/time scalar functions (year/month/trunc/datediff)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate")).alias(
            "days_to_y2k"
        ),
    )


@query(
    "q_scalar_array",
    oracle="""
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
               unnest(embedding) AS val
        FROM embeddings
        WHERE vec_id < 100
    """,
)
def q_scalar_array(spark, sf_dir):
    """Array explode with position — repeated-field (def/rep level)
    semantics surfaced as posexplode (SURVEY §1.3)."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return e.select("vec_id", F.posexplode("embedding").alias("pos", "val"))


@query(
    "q_scalar_map",
    oracle="""
        SELECT event_id,
               array_to_string(list_sort(json_keys(props)), ',') AS keys_str,
               CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k_val
        FROM events
    """,
)
def q_scalar_map(spark, sf_dir):
    """Map-typed column operations: parse the props JSON into
    map<string,int>, then map_keys / size / element_at — the
    key-value-column surface (Parquet MAP logical type semantics,
    SURVEY §1.3).  Keys are sorted and serialized so the row is
    hashable by row-oriented canonicalizers (map cells, like arrays,
    are not)."""
    e = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_str"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(m, "k").alias("k_val"),
    )


@query(
    "q_scalar_json",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        FROM events
    """,
)
def q_scalar_json(spark, sf_dir):
    """JSON field extraction from the events.props payload column."""
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# §2.E streaming semantics (batch-mode for oracle parity)
# ---------------------------------------------------------------------------


@query(
    "q_window_tumbling",
    oracle="""
        SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
)
def q_window_tumbling(spark, sf_dir):
    """Tumbling 1-hour event-time window aggregation — the batch twin of
    the Structured Streaming pipeline in streaming/windows.py (same
    F.window expression there, plus watermarking)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value"
        )
    )


# Registration side-effect imports: each module adds its queries to
# REGISTRY on import (LLM-pipeline extensions, streaming batch twins,
# extended relational coverage).
from tmp_parquet_merge_spark import queries_llm  # noqa: E402,F401
from tmp_parquet_merge_spark import queries_relational_ext  # noqa: E402,F401
from tmp_parquet_merge_spark import queries_streaming  # noqa: E402,F401
from tmp_parquet_merge_spark import queries_tpch  # noqa: E402,F401
from tmp_parquet_merge_spark import queries_udf_sources  # noqa: E402,F401
