"""SparkSession factory with defaults tuned for both local testing and
large-cluster execution.

The reference slice is single-process C++ (`cpp/tools/parquet/
parquet-scan.cc:63-71` opens one file and loops); Spark replaces that
with a driver that schedules one task per file split across executors.
Every config here is a public Spark SQL conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the scale story:
#  - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
#    and dynamic broadcast conversion — the knobs that keep the same
#    logical plans viable from sf0.001 local runs to 100 TB clusters.
#  - Arrow on: columnar Python interchange for the (rare) Pandas-UDF path,
#    the idiomatic descendant of the reference's Arrow interop
#    (cpp/examples/parquet/parquet-arrow/src/reader-writer.cc).
#  - UTC session timezone: deterministic timestamp semantics vs oracles.
#  - Parquet vectorized reader (Spark default) is the engine's analog of
#    the reference's batched ReadBatch loops (reader-writer.cc:206-399).
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # events.ts is TIMESTAMP(NANOS) parquet, which Spark's reader rejects;
    # read as raw int64 ns and convert explicitly (queries.py events loader).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # local[N] single-JVM: keep shuffle partition count near core count;
    # on a real cluster this would scale with executors — AQE coalesces
    # down from a higher initial number there.
    "spark.sql.shuffle.partitions": "32",
    # Generated-code cache (static conf, default 100 classes).  Distinct
    # classes compiled over a run's first four passes (perfbench seed 1,
    # 4 cores): llm_curation 132, parquet_merge 23, tpch_sql 351.
    # Under LRU a cyclic working set larger than the cache misses on
    # every lookup: at 100 a warm pass recompiled ~114 classes on
    # llm_curation and ~320 on tpch_sql; at 2000 it compiles 0 (4 on
    # tpch_sql, whose plans change a few classes per pass).  2000 is
    # over 4x the largest working set.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # AQE numbers concurrent query stages in completion order, and the
    # whole-stage codegen stage id is part of the generated class name,
    # so a warm run missed the cache on renamed copies of cached
    # classes (q_tfidf recompiled 4, 4 and 2 classes in its first three
    # warm passes).  Without the id, equal code is one cache entry.
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    # managed-table scratch space (bucketed tables); keep the repo and
    # cwd clean of spark-warehouse/ and metastore_db/ litter.  Per-PID
    # dirs: concurrent processes (test suite + bench) must not share a
    # Derby metastore or fight over managed-table locations.
    "spark.sql.warehouse.dir": f"/tmp/tpms_warehouse_{os.getpid()}",
    "spark.driver.extraJavaOptions": f"-Dderby.system.home=/tmp/tpms_derby_{os.getpid()}",
}


def get_spark(
    app_name: str = "tmp_parquet_merge_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured in the environment.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
