"""Query registry core — shared by every query module.

Each registered query binds a name to (a) a Spark DataFrame builder
taking ``(spark, sf_dir)`` and (b) a DuckDB oracle SQL string (or
``None`` for rows-only checks).  ``__spark_entry__.py`` exposes the
registry to the driver, which hash-compares Spark vs DuckDB results.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tmp_parquet_merge_spark.sources.parquet_io import read_parquet


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table; a repeated read of an unchanged file takes
    its schema from ``parquet_io``'s schema cache (no inference job)."""
    if name == "events":
        return events_table(spark, sf_dir)
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# Fact tables worth a conditional parallelism floor when their scan is
# split-deficient (single row group), and the deterministic key each
# spreads on.  Dim tables stay un-spread: they broadcast.
_FACT_SPREAD_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}


def t_spread(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str | tuple[str, ...] | None = None,
) -> DataFrame:
    """:func:`t`, plus a conditional repartition for the fact tables
    when the scan has fewer splits than the cluster's parallelism
    (:func:`dedup.spread_scan`; no-op on any real multi-file dataset).
    Used by the SQL-view registration helpers so aggregate/join-heavy
    queries get cluster-parallel map sides on one-row-group local
    files; every aggregate in those queries follows the repo's
    DECIMAL(18,6) order-independent-sum discipline, so the layout
    change cannot perturb results.  Plain scans keep :func:`t` — a
    shuffle would only add cost there.

    ``key`` overrides the default orderkey spread key with the
    column(s) the query's FIRST exchange actually clusters on (q2's
    (l_partkey, l_suppkey) supply aggregate, q11's and q17's l_partkey
    aggregates) so the deficient-scan spread exchange is REUSED
    downstream instead of adding a second full-table shuffle before
    it.  It applies only to the spread fact tables; passing it for any
    other table raises ``ValueError`` before the scan is built."""
    keys = _FACT_SPREAD_KEYS.get(name)
    if key is not None:
        if keys is None:
            raise ValueError(
                f"t_spread: key= applies only to the spread fact tables "
                f"{sorted(_FACT_SPREAD_KEYS)}, not {name!r}"
            )
        keys = key
    df = t(spark, sf_dir, name)
    if keys is not None:
        from tmp_parquet_merge_spark.operators.dedup import spread_scan

        if isinstance(keys, str):
            keys = (keys,)
        df = spread_scan(df, *keys)
    return df


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so users can work
    purely in SQL (``spark.sql("SELECT ... FROM lineitem")``) — the
    same names the DuckDB oracle sees.  ``events`` gets the ns→µs
    timestamp normalization."""
    for name in TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)


def register_duckdb_views(con, sf_dir: str) -> None:
    """Register the same table set as DuckDB views over the parquet
    files — the one place the oracle-side table list lives, so the
    parity tools (tools/check_oracle.py, tools/driver_sim.py) cannot
    drift from :data:`TABLES` when a table is added."""
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')"
        )


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` usable in Spark, tolerant of the generator's
    timestamp physical type.

    Earlier driver testdata stored ts as TIMESTAMP(NANOS,false), which
    Spark's vectorized reader rejects outright — that path reads the
    column as raw int64 nanoseconds (``spark.sql.legacy.parquet.
    nanosAsLong``) and converts explicitly.  Current testdata stores
    TIMESTAMP(MICROS); either way the column is normalized to
    TIMESTAMP_NTZ at microsecond precision, so collection never passes
    through driver-local timezone conversion and matches DuckDB's naive
    timestamps (oracle side uses ``CAST(ts AS TIMESTAMP)``, identical
    µs truncation).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type in ("bigint", "long"):  # NANOS read as raw int64 ns
        conv = F.expr("timestamp_micros(ts DIV 1000)")
    else:  # TIMESTAMP / TIMESTAMP_NTZ at µs
        conv = F.col("ts")
    return df.withColumn("ts", conv.cast("timestamp_ntz"))
