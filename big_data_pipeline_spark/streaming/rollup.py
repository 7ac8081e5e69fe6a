"""Continuous aggregate (hypertable-style rollup) over the events stream.

``time_rollup_multigrain`` (workloads/timeseries.py) computes the
hour/day rollup as a batch query; this module MAINTAINS the hourly
rollup incrementally — the continuous-aggregate pattern from
time-series stores, re-expressed with Structured Streaming:

1. checkpointed file stream over the events directory (each file is
   consumed exactly once, like streaming/incremental.py),
2. watermarked tumbling-window aggregation in UPDATE mode — the state
   store carries running per-(window, event_type) totals across drains,
   so every micro-batch emits the windows it touched with their
   CUMULATIVE values,
3. ``foreachBatch`` MERGE of those emitted rows into the rollup parquet
   (``io.merge_upsert`` keyed on window_start+event_type, partitioned
   by day → dynamic overwrite rewrites only the touched days).

Querying the rollup is then a scan of pre-aggregated rows — at 100 TB
the difference between answering "events per hour last month" from
~720 rows/type vs re-scanning the raw corpus. Late events inside the
watermark horizon update their window's row on the next drain; events
later than the watermark are dropped by the stream (the documented
continuous-aggregate contract — widen the watermark to widen the
correction horizon, at proportional state cost).

Correctness story: after any sequence of drains covering a set of
files, the rollup table must equal the batch aggregation over exactly
those files — asserted in tests/test_rollup.py, including across
incremental file arrivals.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import merge_upsert, read_table_stream
from big_data_pipeline_spark.streaming.windows import drain_confs

ROLLUP_KEYS = ["window_start", "event_type"]


def rollup_drain(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    grain: str = "1 hour",
    watermark: str = "30 days",
) -> int:
    """Drain new event files into the hourly rollup; return micro-batch
    count (0 = nothing new, or no event file yet).

    ``events_dir`` is a directory the ingest layer appends to, or a glob;
    the source is ``io.read_table_stream``, so its schema comes from the
    files already there. The state partition count follows the same
    ``windows.drain_confs`` rule as every other drain, but only the
    FIRST drain sets it: Spark restores a checkpoint's partition count
    on every later start, so a maintained rollup keeps the count of the
    host that created it. State stays on the session's provider (the
    HDFS-backed default): under the RocksDB drain confs this drain
    took 5.84 s against 1.18 s (sf0.1, 4 partitions, 4-core host).
    """
    try:
        events = read_table_stream(spark, events_dir, "events")
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return 0
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", grain).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

    n_batches = 0

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        updates = batch_df.withColumn("day", F.to_date("window_start"))
        if not os.path.isdir(rollup_dir) or not any(
            not f.startswith((".", "_")) for f in os.listdir(rollup_dir)
        ):
            updates.write.mode("overwrite").partitionBy("day").parquet(rollup_dir)
            return
        # UPDATE-mode rows carry cumulative totals → replace-by-key is
        # the correct merge, and replays of the same batch are idempotent.
        merge_upsert(spark, rollup_dir, updates, ROLLUP_KEYS, partition_by="day")

    with drain_confs(spark):
        q = (
            agg.writeStream.foreachBatch(merge_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return n_batches


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """The serving scan: pre-aggregated (window_start, event_type) rows."""
    return spark.read.parquet(rollup_dir).drop("day")


def batch_rollup(events: DataFrame, grain: str = "1 hour") -> DataFrame:
    """The batch twin the maintained table must equal (test oracle)."""
    return (
        events.groupBy(F.window("ts", grain).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
