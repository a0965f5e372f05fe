"""Streaming sinks: foreachBatch upsert into a keyed parquet target.

The missing piece of the streaming matrix after windows/stateful/
dedup/joins — writing a continuously-updated TABLE (not an append
log): each micro-batch is reduced to one row per key
(last-writer-wins) and merged into the target.  Spark has no built-in
parquet MERGE sink, so the idiomatic shape is ``foreachBatch`` + a
union-reduce merge (existing profiles re-enter :func:`latest_per_user`
as synthetic events next to the batch's, so cross-batch ties resolve
identically to one batch pass; counts sum null-safely alongside) + an
atomic directory swap — what Delta/Iceberg do with a metadata commit
instead of the swap.

``foreachBatch`` is at-least-once: a replayed micro-batch (driver
death between the swap commit and the checkpoint write) would
double-count ``n_events``, so the last merged batch id is committed
INSIDE the swapped directory (``_batch_id`` sidecar, underscore-
prefixed so parquet readers ignore it) and replays are skipped —
data + dedup cursor commit in the same os.replace.

Scale notes (100 TB): per batch the sink shuffles the micro-batch
(small) once for its in-batch last-writer-wins reduce, then performs
one keyed merge against the target.  On a real lake the merge is a
partition-pruned MERGE INTO (only partitions containing changed keys
rewrite); the directory swap stands in for the table-format commit.
State is the target table itself — nothing accumulates in executor
memory, any batch size drains.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

PROFILE_COLS = (
    "user_id",
    "last_event_type",
    "last_value",
    "last_ts",
    "last_event_id",
    "n_events",
)


def latest_per_user(events: DataFrame) -> DataFrame:
    """One row per user: the latest event by (ts, event_id) plus the
    event count — the deterministic last-writer-wins reduction applied
    both inside each micro-batch and by the batch oracle twin.  The
    winning event_id is PART of the profile (last_event_id): the merge
    tie-break needs the real id, so a later micro-batch carrying a
    LOWER event_id at the same ts loses to the stored row exactly as
    it would in one batch pass (a -1/0 surrogate would make the later
    batch always win ts ties, diverging stream from batch)."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_events",
            F.count(F.lit(1)).over(Window.partitionBy("user_id")),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            "n_events",
        )
    )


def _merge_batch(
    spark: SparkSession, batch: DataFrame, target_dir: str, batch_id: int
) -> None:
    cur = os.path.join(target_dir, "current")
    bid_path = os.path.join(cur, "_batch_id")
    if os.path.exists(bid_path):
        with open(bid_path) as f:
            if batch_id <= int(f.read().strip() or -1):
                return  # at-least-once replay: this batch is already in
    reduced = latest_per_user(batch)
    if os.path.exists(cur):
        existing = spark.read.parquet(cur)
        # merge on (ts, event_id) with the REAL stored event_id on
        # both sides — ts ties across micro-batches then resolve
        # identically to a single batch pass over all events
        merged = latest_per_user(
            existing.select(
                "user_id",
                F.col("last_event_type").alias("event_type"),
                F.col("last_value").alias("value"),
                F.col("last_ts").alias("ts"),
                F.col("last_event_id").alias("event_id"),
            )
            .unionByName(
                reduced.select(
                    "user_id",
                    F.col("last_event_type").alias("event_type"),
                    F.col("last_value").alias("value"),
                    F.col("last_ts").alias("ts"),
                    F.col("last_event_id").alias("event_id"),
                )
            )
        ).drop("n_events")
        counts = (
            existing.select("user_id", "n_events")
            .unionByName(reduced.select("user_id", "n_events"))
            .groupBy("user_id")
            .agg(F.sum("n_events").cast("long").alias("n_events"))
            .withColumnRenamed("user_id", "__cnt_uid")
        )
        # null-safe: events.user_id is nullable and both sides carry
        # the NULL group (window/groupBy keep it) — a plain equality
        # join would silently DROP the NULL-user profile on every
        # merge after the first batch (stream ≠ batch, rows lost).
        # The batch upsert operator (operators/relational.py::upsert)
        # uses eqNullSafe for the same reason.
        merged = merged.join(
            counts, merged.user_id.eqNullSafe(counts.__cnt_uid)
        ).drop("__cnt_uid")
    else:
        merged = reduced.withColumn(
            "n_events", F.col("n_events").cast("long")
        )
    nxt = os.path.join(target_dir, "next")
    merged.select(*PROFILE_COLS).write.mode("overwrite").parquet(nxt)
    # the dedup cursor commits WITH the data: both become visible in
    # the same os.replace, so a crash on either side of the swap
    # leaves cursor and table consistent
    with open(os.path.join(nxt, "_batch_id"), "w") as f:
        f.write(str(batch_id))
    # atomic-enough swap (a table format would commit metadata here)
    if os.path.exists(cur):
        shutil.rmtree(cur)
    os.replace(nxt, cur)


def run_upsert_sink(
    events_stream: DataFrame, target_dir: str
) -> str:
    """Drain a streaming events source into the keyed target with
    trigger(availableNow); returns the current-table path."""
    spark = events_stream.sparkSession

    q = (
        events_stream.writeStream.foreachBatch(
            lambda batch, bid: _merge_batch(spark, batch, target_dir, bid)
        )
        .option(
            "checkpointLocation", os.path.join(target_dir, "_chk")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return os.path.join(target_dir, "current")
