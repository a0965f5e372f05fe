"""A warm pass repeats no schema inference and no code generation.

``sources.parquet_io`` caches the schema Spark inferred for unchanged
files under the session confs that shape inference, and the session
sizes Spark's generated-code cache to the engine's working set.  Each
test here either pins a repeated read at zero inference jobs or shows
that a changed input (a rewritten file, an added file, a flipped conf, a
broken footer) is inferred again.
"""

import datetime as dt
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tmp_parquet_merge_spark import registry
from tmp_parquet_merge_spark.queries import REGISTRY
from tmp_parquet_merge_spark.sources import fixtures, parquet_io
from tmp_parquet_merge_spark.sources.parquet_io import (
    _SCHEMA_CACHE,
    _schema_key,
    read_parquet,
    session_conf,
)


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(result or raised exception type name, jobs ``fn`` launched)."""
    sc = spark.sparkContext
    group = f"warm-passes-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    except Exception as e:  # the outcome is compared, not raised
        out = type(e).__name__
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _uncached_schema(spark, *paths):
    try:
        return spark.read.parquet(*paths).schema
    except Exception as e:
        return type(e).__name__


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)
    return path


def test_repeated_read_runs_no_inference_job(spark, tmp_path):
    p = _write(str(tmp_path / "a.parquet"), x=pa.array([1, 2, 3]))
    first, n1 = _jobs(spark, lambda: read_parquet(spark, p).schema)
    again, n2 = _jobs(spark, lambda: read_parquet(spark, p).schema)
    assert (n1, n2) == (1, 0)
    assert first == again == _uncached_schema(spark, p)
    assert read_parquet(spark, p, columns=["x"]).count() == 3


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    p = _write(str(tmp_path / "a.parquet"), x=pa.array([1, 2, 3]))
    assert read_parquet(spark, p).columns == ["x"]
    _write(p, y=pa.array(["a", "b"]), z=pa.array([1.5, 2.5]))
    schema, n = _jobs(spark, lambda: read_parquet(spark, p).schema)
    assert n == 1
    assert schema == _uncached_schema(spark, p)
    assert schema.names == ["y", "z"]


def test_added_file_is_inferred_again(spark, tmp_path):
    d = tmp_path / "d"
    d.mkdir()
    _write(str(d / "a.parquet"), x=pa.array([1, 2]))
    assert read_parquet(spark, str(d)).count() == 2
    _write(str(d / "b.parquet"), x=pa.array([3]))
    df, n = _jobs(spark, lambda: read_parquet(spark, str(d)))
    assert n == 1
    assert df.count() == 3


def _nanos_file(path):
    ts = pa.array([1_000_000_123, None], pa.timestamp("ns"))
    return _write(path, ts=ts)


# conf -> (fixture writer, two values whose inferred schemas differ)
_CONF_CASES = {
    "spark.sql.legacy.parquet.nanosAsLong": (_nanos_file, ("true", "false")),
    "spark.sql.parquet.binaryAsString": (
        lambda p: _write(p, b=pa.array([b"x", None], pa.binary())),
        ("false", "true"),
    ),
    "spark.sql.parquet.int96AsTimestamp": (
        lambda p: pq.write_table(
            pa.table({"ts": pa.array([1_000_000, None], pa.timestamp("us"))}),
            p,
            use_deprecated_int96_timestamps=True,
        ),
        ("true", "false"),
    ),
    "spark.sql.caseSensitive": (
        lambda p: _write(p, a=pa.array([1]), A=pa.array([2])),
        ("true", "false"),
    ),
    "spark.sql.parquet.inferTimestampNTZ.enabled": (
        lambda p: _write(p, ts=pa.array([1_000_000], pa.timestamp("us"))),
        ("true", "false"),
    ),
    "spark.sql.parquet.mergeSchema": (
        lambda d: (
            os.makedirs(d),
            _write(os.path.join(d, "a.parquet"), x=pa.array([1])),
            _write(os.path.join(d, "b.parquet"), y=pa.array([2])),
        ),
        ("false", "true"),
    ),
}


@pytest.mark.parametrize("conf", sorted(_CONF_CASES))
def test_each_key_conf_gives_a_new_inference(spark, tmp_path, conf):
    write, (v1, v2) = _CONF_CASES[conf]
    p = str(tmp_path / "f.parquet")
    write(p)
    outcomes = []
    for v in (v1, v2, v1):
        with session_conf(spark, **{conf: v}):
            got, n = _jobs(spark, lambda: read_parquet(spark, p).schema)
            assert got == _uncached_schema(spark, p), (conf, v)
            outcomes.append((got, n))
    (s1, n1), (s2, n2), (s3, n3) = outcomes
    assert s1 != s2, conf  # the fixture separates the two values
    # the flip is inferred (or refused) afresh; flipping back is a hit
    assert isinstance(s2, str) or n2 == 1, conf
    assert n3 == 0 and s3 == s1, conf


def test_events_nanos_path_follows_the_conf(spark, tmp_path):
    _nanos_file(str(tmp_path / "events.parquet"))
    p = str(tmp_path / "events.parquet")
    with session_conf(spark, **{"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        ev = registry.events_table(spark, str(tmp_path))
        assert ev.schema["ts"].dataType.simpleString() == "timestamp_ntz"
        assert ev.collect()[0].ts == dt.datetime(1970, 1, 1, 0, 0, 1)
        with session_conf(spark, **{"spark.sql.legacy.parquet.nanosAsLong": "false"}):
            for _ in range(2):  # no stale bigint schema from the cache
                got, _n = _jobs(spark, lambda: read_parquet(spark, p).schema)
                assert isinstance(got, str), got
        again, n = _jobs(spark, lambda: registry.events_table(spark, str(tmp_path)).schema)
        assert n == 0 and again == ev.schema


def test_truncated_footer_raises_every_time_and_is_never_cached(spark, tmp_path):
    p = _write(str(tmp_path / "t.parquet"), x=pa.array(range(100)))
    assert read_parquet(spark, p).count() == 100
    size = os.path.getsize(p)
    os.truncate(p, size - 6)  # cuts into the footer length and magic
    before = len(_SCHEMA_CACHE)
    for _ in range(2):
        got, _n = _jobs(spark, lambda: read_parquet(spark, p).schema)
        assert isinstance(got, str), got
    key = _schema_key(spark, (p,))
    assert key is not None and key not in _SCHEMA_CACHE
    assert len(_SCHEMA_CACHE) <= before


def test_zero_row_file_reads_back(spark, tmp_path):
    p = str(tmp_path / "z.parquet")
    pq.write_table(
        pa.table({"x": pa.array([], pa.int64()), "s": pa.array([], pa.string())}), p
    )
    for expect_jobs in (1, 0):
        df, n = _jobs(spark, lambda: read_parquet(spark, p))
        assert n == expect_jobs
        assert df.schema == _uncached_schema(spark, p)
        assert df.count() == 0


def test_partitioned_directory_matches_uncached_read(spark, tmp_path):
    d = str(tmp_path / "part")
    src = fixtures.int_str_df(spark).withColumn("p", F.col("int") % 3)
    parquet_io.write_parquet(src, d, partition_by=["p"])
    read_parquet(spark, d)  # fills the cache
    cached, n = _jobs(spark, lambda: read_parquet(spark, d))
    plain = spark.read.parquet(d)
    assert n == 0
    assert cached.schema == plain.schema
    assert sorted(cached.collect()) == sorted(plain.collect())
    assert sorted(cached.filter("p = 1").collect()) == sorted(plain.filter("p = 1").collect())


def test_globs_remote_schemes_and_lake_sized_dirs_bypass(spark, tmp_path, monkeypatch):
    d = tmp_path / "g"
    d.mkdir()
    for i in range(3):
        _write(str(d / f"{i}.parquet"), x=pa.array([i]))
    glob = str(d / "*.parquet")
    for _ in range(2):
        df, n = _jobs(spark, lambda: read_parquet(spark, glob))
        assert n == 1 and df.count() == 3
    for remote in ("s3a://bucket/t.parquet", "hdfs://nn/t", "gs://b/x"):
        assert _schema_key(spark, (remote,)) is None
    assert _schema_key(spark, (glob,)) is None
    assert _schema_key(spark, ("file:" + str(d),)) == _schema_key(spark, (str(d),))
    monkeypatch.setattr(parquet_io, "_DISTRIBUTED_STAT_THRESHOLD", 2)
    assert _schema_key(spark, (str(d),)) is None


def test_schema_dump_and_widened_reads_reuse_the_cache(spark, tmp_path):
    a = _write(str(tmp_path / "a.parquet"), x=pa.array([1], pa.int32()))
    b = _write(str(tmp_path / "b.parquet"), x=pa.array([2], pa.int64()))
    dump = parquet_io.schema_dump(spark, a).collect()
    again, n = _jobs(spark, lambda: parquet_io.schema_dump(spark, a).collect())
    assert n == 0 and again == dump
    parquet_io.read_parquet_widened(spark, a, b)
    df, n = _jobs(spark, lambda: parquet_io.read_parquet_widened(spark, a, b))
    assert n == 0 and df.dtypes == [("x", "bigint")]


LLM_CURATION_QUERIES = (
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_cluster_lsh",
    "q_quality_score",
    "q_lang_id",
    "q_tfidf",
    "q_ann_lsh",
)


def test_second_run_of_the_llm_queries_compiles_nothing(spark, sf_dir):
    """The seven queries need ~117 generated classes at sf0.001; with
    Spark's default 100-entry cache the second run recompiles 64 of
    them.  AQE numbers the whole-stage codegen stages of concurrent
    query stages in completion order, and the engine's session drops
    that id from class names, so a renamed copy of a cached class is
    a hit too."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run():
        for name in LLM_CURATION_QUERIES:
            REGISTRY[name].build(spark, sf_dir).collect()

    run()
    before = metric.getCount()
    run()
    assert metric.getCount() - before == 0
