"""Continuous aggregate: a streaming job that incrementally maintains
a daily per-account rollup TABLE (parquet, day-partitioned) — the
hypertable-style "continuous rollup" / materialized-view pattern the
reference approximates with RocksDB window state that is only visible
at fire time. Here the rollup is a queryable table at every point in
the stream's life, updated per micro-batch.

Mechanics (all deliberate, all scale-relevant):

- The aggregation runs in UPDATE output mode, so each micro-batch
  emits the complete new value of every (day, account) the batch
  touched — not a delta. That makes the sink's merge IDEMPOTENT:
  re-delivery of a batch after a crash rewrites the same final values.
- The sink merges via read-back + anti-join + dynamic partition
  overwrite: only the day-partitions present in the update set are
  replaced (`partitionOverwriteMode=dynamic`); untouched history is
  never rewritten. At 100 TB the watermark bounds how many days a
  batch can touch, so each merge reads/writes a bounded, recent slice
  regardless of total table size.
- The merged frame is `localCheckpoint`-ed before the overwrite:
  the new partition content must be fully materialized before Spark
  deletes the old files it was computed from (read-modify-write on
  the same path is otherwise lazily evaluated into a self-overwrite).
- The touched-day list is collected to the driver to prune the
  read-back; it is O(days per batch), bounded by the watermark
  horizon — not O(data).

Durability contract: per-partition atomicity comes from the write
job's commit protocol (staging dir + rename); a crash between the
overwrite and the checkpoint commit re-delivers the batch, and the
idempotent merge converges. This is the same at-least-once + idempotent
sink contract as sinks.foreach_batch_idempotent_parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .jobs import IN_ORDER, window_agg

DAY_MS = 86_400_000


def daily_rollup_stream(stream: DataFrame) -> DataFrame:
    """Per-(day, account) running sum/count in update mode — the
    continuous-aggregate query itself (event-time tumbling day)."""
    return _daily(stream, [F.sum("amount").alias("sum_amount"), F.count("*").alias("n_events")])


def _daily(stream: DataFrame, aggs: list, key: str | None = "account_id") -> DataFrame:
    """In-order tumbling-day `window_agg`, its `w_start` replaced by the
    day number `day`."""
    agg = window_agg(stream, F.window("event_time", f"{DAY_MS} milliseconds"), aggs, key, IN_ORDER)
    return agg.select(
        (F.col("w_start") / F.lit(DAY_MS)).cast("long").alias("day"), *agg.columns[1:]
    )


def continuous_rollup_sink(
    spark: SparkSession, table_dir: str, keys: tuple[str, ...] = ("day", "account_id")
):
    """foreachBatch merger: upsert the batch's updated rows (complete
    new values per `keys`, update-mode contract) into the
    day-partitioned rollup table, overwriting only the touched day
    partitions. `keys` must include "day"."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # The update-mode aggregate behind batch_df re-executes for
        # EVERY action this sink takes (emptiness probe, touched-day
        # collect, checkpoint materialization) — persist so the
        # micro-batch plan runs once and the later actions read the
        # cached rows (guide §5: cache only what is reused; unpersisted
        # in finally so nothing outlives the batch).
        batch_df.persist()
        try:
            # head(1) instead of isEmpty(): same one-job emptiness
            # probe, but its result lands in the cache for reuse
            if not batch_df.head(1):
                return
            out = batch_df
            if os.path.isdir(table_dir) and any(
                not e.name.startswith((".", "_")) for e in os.scandir(table_dir)
            ):
                days = [r["day"] for r in batch_df.select("day").distinct().collect()]
                # partition-column inference reads `day` back as int — recast
                # so the union keeps the written long schema
                existing = (
                    spark.read.parquet(table_dir)
                    .where(F.col("day").isin(days))
                    .withColumn("day", F.col("day").cast("long"))
                )
                keep = existing.join(
                    batch_df.select(*keys), list(keys), "left_anti"
                )
                out = keep.unionByName(batch_df)
            # Materialize BEFORE the overwrite deletes the files `keep` reads.
            out = out.localCheckpoint(eager=True)
            (
                out.write.partitionBy("day")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(table_dir)
            )
        finally:
            batch_df.unpersist()

    return merge


def run_rollup(
    spark: SparkSession,
    rollup: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("day", "account_id"),
) -> None:
    """Drive an update-mode rollup (`daily_rollup_stream`, or
    `daily_users_sketch_stream` with keys=("day",)) over a (finite)
    replay to completion, merging each micro-batch into the table by
    `keys`. On a live stream this would run forever; the table is
    queryable (spark.read.parquet) at any point, and a sketch table's
    any horizon is a hll_union_agg over its O(days) rows."""
    q = (
        rollup.writeStream.outputMode("update")
        .foreachBatch(continuous_rollup_sink(spark, table_dir, keys))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def read_rollup(spark: SparkSession, table_dir: str) -> DataFrame:
    return spark.read.parquet(table_dir).select(
        F.col("day").cast("long").alias("day"),
        "account_id",
        "sum_amount",
        "n_events",
    )


# ------------------------------------------------- sketch rollup variant

def daily_users_sketch_stream(stream: DataFrame) -> DataFrame:
    """Per-day DISTINCT-USER HLL sketch in update mode — the
    continuous-aggregate form of the persisted-sketch cardinality
    pattern (weekly_users_sketch_rollup's batch twin). The streaming
    aggregate state IS the day's sketch (TypedImperativeAggregate,
    same state machinery as the holistic-median face); update mode
    re-emits each touched day's COMPLETE sketch per micro-batch, so
    the sink merge stays a whole-row replace. At-least-once delivery
    is absorbed TWICE over: redelivered raw events are set-semantics
    no-ops inside the sketch, and a redelivered batch rewrites the
    same final sketch row."""
    return _daily(stream, [F.expr("hll_sketch_agg(account_id)").alias("sk")], key=None)


def read_sketch_rollup(spark: SparkSession, table_dir: str) -> DataFrame:
    return spark.read.parquet(table_dir).select(
        F.col("day").cast("long").alias("day"), "sk"
    )
