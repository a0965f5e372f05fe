"""Relations that ``sources.parquet_io`` builds from data the driver
already holds enter Spark as Arrow, never as pickled Python rows.

A Python row list becomes a PythonRDD (``Scan ExistingRDD``) whose
collect costs a Python-worker job; an Arrow table becomes a
LocalRelation.  A row group read on the driver goes the other way: it
becomes an Arrow-batch RDD, so its rows do not ride inside every task
closure of a LocalRelation.
"""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tmp_parquet_merge_spark.plans.explain import plan_tree
from tmp_parquet_merge_spark.sources import fixtures, parquet_io


def _jobs(spark, group, fn):
    """(result, number of Spark jobs ``fn`` launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("op", ["metadata_stats", "column_stats"])
def test_footer_scan_file_list_is_a_local_relation(spark, sf_dir, op):
    tree = plan_tree(getattr(parquet_io, op)(spark, sf_dir))
    assert "MapInPandas" in tree, tree  # the scan stays executor-side
    assert "LocalTableScan" in tree, tree
    assert "Scan ExistingRDD" not in tree, tree


def test_driver_built_tables_are_local_relations(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    parquet_io.write_parquet(fixtures.int_str_df(spark), src)
    manifest = parquet_io.compact_incremental(spark, src, out)
    for df in (parquet_io.schema_dump(spark, src), manifest):
        tree = plan_tree(df)
        assert "LocalTableScan" in tree and "Scan ExistingRDD" not in tree, tree
    assert {r.action for r in manifest.collect()} == {"compacted", "written"}


def test_empty_directory_gives_no_footer_rows(spark, tmp_path):
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    assert parquet_io.metadata_stats(spark, empty).count() == 0
    assert parquet_io.column_stats(spark, empty).count() == 0
    assert parquet_io.compact_incremental(spark, empty, str(tmp_path / "o")).count() == 0


def test_merge_files_reads_back_without_schema_inference(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    parquet_io.write_parquet(fixtures.int_str_df(spark), a)
    parquet_io.write_parquet(fixtures.int_str_df(spark), b)
    # one job merges the input schemas, one writes; the read-back reuses
    # the written schema instead of inferring it again
    merged, n = _jobs(
        spark, "merge_files_jobs", lambda: parquet_io.merge_files(spark, [a, b], str(tmp_path / "m"))
    )
    assert n == 2
    assert merged.count() == 10


@pytest.mark.parametrize("case", ["schema_evolution", "int96_timestamps", "kv_metadata"])
def test_merge_files_schema_matches_inferred(spark, tmp_path, case):
    a, b, out = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "m")
    v1 = fixtures.int_str_df(spark).withColumn(
        "ts", F.timestamp_seconds(F.col("int").cast("long"))
    )
    kwargs = {}
    if case == "schema_evolution":
        v2 = v1.withColumn("extra", F.col("int") * 10)
    else:
        v2 = v1
        kwargs = (
            {"int96_timestamps": True}
            if case == "int96_timestamps"
            else {"kv_metadata": {"engine.case": case}}
        )
    parquet_io.write_parquet(v1, a)
    parquet_io.write_parquet(v2, b)
    merged = parquet_io.merge_files(spark, [a, b], out, **kwargs)
    inferred = spark.read.parquet(out).schema
    assert merged.schema == inferred
    assert merged.count() == 10
    # the schema cache holds the written schema under the output's key,
    # so a later read_parquet(output) runs no inference job
    key = parquet_io._schema_key(spark, (out,))
    assert parquet_io._SCHEMA_CACHE[key] == inferred
    again, n = _jobs(spark, f"merge_read_back_{case}", lambda: parquet_io.read_parquet(spark, out))
    assert n == 0 and again.schema == inferred


@pytest.fixture
def nullable_ints(tmp_path):
    path = str(tmp_path / "ints.parquet")
    pq.write_table(
        pa.table(
            {
                "big": pa.array([2**53 + 1, None, 7], pa.int64()),
                "small": pa.array([-(2**31), None, 2**31 - 1], pa.int32()),
                "dense32": pa.array([1, 2, 3], pa.int32()),
                "dense64": pa.array([2**53 + 1, 0, -1], pa.int64()),
                "x": pa.array([1.5, None, 2.0], pa.float64()),
            }
        ),
        path,
    )
    return path


def test_read_row_group_keeps_nullable_integers_exact(spark, nullable_ints):
    df = parquet_io.read_row_group(spark, nullable_ints, 0)
    assert df.dtypes == [
        ("big", "bigint"),
        ("small", "int"),
        ("dense32", "int"),
        ("dense64", "bigint"),
        ("x", "double"),
    ]
    rows = [tuple(r) for r in df.collect()]
    assert rows == [
        (2**53 + 1, -(2**31), 1, 2**53 + 1, 1.5),
        (None, None, 2, 0, None),
        (7, 2**31 - 1, 3, -1, 2.0),
    ]


def test_read_row_group_rows_are_not_a_local_relation(spark, nullable_ints):
    key = "spark.sql.execution.arrow.localRelationThreshold"
    before = spark.conf.get(key)
    tree = plan_tree(parquet_io.read_row_group(spark, nullable_ints, 0))
    assert "LocalTableScan" not in tree, tree
    # the threshold is lowered for this one relation only: small
    # driver-built frames elsewhere stay LocalRelations
    assert spark.conf.get(key) == before
    small = spark.createDataFrame(pd.DataFrame({"a": [1, 2]}))
    assert "LocalTableScan" in plan_tree(small), plan_tree(small)
