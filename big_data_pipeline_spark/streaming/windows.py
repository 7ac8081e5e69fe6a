"""Structured Streaming surface over the events table.

The reference is strictly batch (SURVEY.md §2.9): freshness is faked by
truncate-and-reload on a daily schedule. This module is the incremental
re-expression — the same windowed aggregations the batch workload
computes (``workloads/events.py``), but as continuous queries with
event-time watermarks, runnable incrementally with
``trigger(availableNow=True)`` + checkpointing.

Batch equivalence is the correctness story (SURVEY.md §7.4: streaming
state has no DuckDB twin): ``run_available_now`` drains the source and
the result must equal the batch query over the same files — asserted in
``tests/test_streaming.py``.

Scale notes:
- Watermarks bound state: a 1-hour watermark on a 5-minute tumbling
  window keeps at most ~13 open windows per key regardless of input
  volume.
- ``dropDuplicatesWithinWatermark`` is the streaming face of exact
  dedup — state is one key hash per event inside the watermark horizon,
  not the full history.
- Session windows use the native ``session_window`` function —
  state-store backed merge of overlapping sessions, no Python.
"""

from __future__ import annotations

import atexit
import contextlib
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table_stream

# State-store configuration for one-shot drains (and the same provider a
# production continuous job with large keyed state runs):
# - RocksDB provider: the default HDFSBackedStateStoreProvider keeps
#   EVERY state row on the JVM heap — a complete-mode session
#   aggregation over the sf10 stress corpus (10 M events) ran the 8 g
#   heap out executor-side (r9 stress). RocksDB holds state off-heap
#   and spills to local disk. Results are provider-independent.
# - Changelog checkpointing (r10): without it every micro-batch commit
#   uploads a FULL RocksDB snapshot (zip of all SST files) per state
#   partition into the checkpoint; with it the commit writes only the
#   batch's changelog and snapshots happen in background maintenance.
#   Purely a checkpoint-layout change — state contents and results are
#   identical (it is the documented production setting for
#   commit-latency-sensitive jobs).
# - trackTotalNumberOfRows=false (r10): skips the extra get-per-put
#   RocksDB does to maintain the numRowsTotal METRIC; documented
#   perf knob, observability-only — no effect on results.
_ROCKSDB_DRAIN_CONFS: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb."
    "changelogCheckpointing.enabled": "true",
    "spark.sql.streaming.stateStore.rocksdb."
    "trackTotalNumberOfRows": "false",
}


# Complete-mode drain sink dirs must outlive run_available_now (the
# returned DataFrame reads them lazily), so they cannot be context-
# managed per call — but leaking one per drain across a 289-query × N-run
# bench session accumulates in the OS tmpdir (r9 verdict item 3).
# Register them and sweep at interpreter exit, when no plan can still
# read them.
_SINK_DIRS: list[str] = []


def _clean_sinks_at_exit() -> None:
    import shutil

    for d in _SINK_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _SINK_DIRS.clear()


atexit.register(_clean_sinks_at_exit)


# Cap on the drain's state partition count: going 32 → 8 partitions
# measured 6.1s→2.4s at sf0.1 for the interval join (r9), because every
# partition pays its own task and state-store commit.
_MAX_DRAIN_STATE_PARTITIONS = 8


@contextlib.contextmanager
def drain_confs(spark: SparkSession, confs: dict[str, str] | None = None):
    """Scope the drain confs to one streaming query; every previous value
    is restored on exit so batch queries and caller-set providers are
    untouched.

    The state partition count (``spark.sql.shuffle.partitions``) is
    ``min(defaultParallelism, 8)``: one state store per core, so the
    CPU-bound stateful operators run in one wave, capped at 8 because
    each extra store pays its own commit (per-store commit rose from
    32 ms at 2 partitions to 82 ms at 8 on a 4-core host). ``confs``
    adds the caller's own settings on top (``run_available_now``: the
    RocksDB provider and, optionally, no trailing no-data batch)."""
    confs = {
        "spark.sql.shuffle.partitions": str(
            min(spark.sparkContext.defaultParallelism, _MAX_DRAIN_STATE_PARTITIONS)
        ),
        **(confs or {}),
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events parquet (S5's streaming twin):
    ``io.read_table_stream`` over the corpus file, so ``ts`` is
    normalized by the same rule as ``io.read_table`` and batch/stream
    results stay comparable."""
    return read_table_stream(spark, f"{sf_dir}/events.parquet*", "events")


def tumbling_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """5-minute tumbling counts per event_type (batch twin:
    ``tumbling_window_counts``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """10-minute windows sliding every 5 (batch twin:
    ``sliding_window_counts``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_windows_stream(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows with a fixed inactivity gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id, state bounded by the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_available_now(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    final_watermark_batch: bool = True,
) -> DataFrame:
    """Drain the stream with availableNow into a memory sink; return the
    materialized batch result. Incremental semantics, batch latency —
    the Spark-native version of the reference's daily reprocess.

    Mode trap: for WINDOWED AGGREGATIONS, append emits only windows the
    watermark has closed — after a drain, every window inside the final
    watermark horizon is silently withheld in state. Pass
    ``output_mode="complete"`` (as the aggregation queries here do) for
    full results; append is right for joins/dedup/row streams.

    State partitions: the drain sets ``spark.sql.shuffle.partitions`` to
    ``min(defaultParallelism, 8)`` (restored after; see
    ``drain_confs``). Per-partition task+store overhead
    dominates one-shot replays: 32→8 measured 6.1s→2.4s at sf0.1 for
    the interval join, and 8→4 on a 4-core host cut a pass of the
    stateful, attribution and dedup drains from 7.55s to 6.04s. The
    checkpoint is deleted after the drain, so the count never has to
    match a previous run. A production continuous job instead sizes
    it to the cluster (~2-3× executor cores) BEFORE first start — the
    state-store count is fixed by the first checkpoint.

    ``final_watermark_batch``: after the data batches, Spark runs one
    more micro-batch with no data so the advanced watermark can evict
    state and emit what eviction produces. Pass ``False`` only when
    the output can never depend on the watermark moving (inner
    interval joins, ``dropDuplicatesWithinWatermark`` in append mode):
    there the trailing batch only evicts state from a checkpoint that
    is deleted straight after the drain. Skipping it took the pass of
    the three drains above from 6.04s to 4.80s; with the partition rule
    that is 7.55s→4.80s (attribution 3.01→1.48s, dedup 1.78→1.26s).
    Keep the default for outer joins and append-mode windowed
    aggregations, whose rows are emitted only in that batch."""
    spark = stream_df.sparkSession
    confs = dict(_ROCKSDB_DRAIN_CONFS)
    if not final_watermark_batch:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    with drain_confs(spark, confs), \
            tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
        if output_mode == "complete":
            # Complete-mode results are corpus-shaped (e.g. one
            # session row per burst — ~|events| rows), and the
            # memory sink materializes EVERY batch's full result as
            # driver-heap Rows: at the sf10 stress corpus that blew
            # the shared local-JVM heap even with RocksDB state
            # (r9 stress). foreachBatch + parquet overwrite is the
            # scalable drain — each micro-batch's complete result
            # is written by executor tasks straight to files, the
            # last committed batch IS the final answer, and nothing
            # result-sized ever lives on the driver. The sink dir
            # deliberately outlives this call (the returned
            # DataFrame reads it lazily); it sits in the OS tmpdir
            # and is removed at JVM exit (see _clean_sinks_at_exit).
            sink = tempfile.mkdtemp(prefix=f"sink_{name}_")
            _SINK_DIRS.append(sink)
            out = f"{sink}/data"

            def _overwrite(batch_df: DataFrame, _bid: int) -> None:
                batch_df.write.mode("overwrite").parquet(out)

            q = (
                stream_df.writeStream.foreachBatch(_overwrite)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(out)
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_lag: str = "2 hours",
    left_watermark: str = "1 hour",
    right_watermark: str = "3 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join with a time-range condition.

    Matches right rows that precede the left row on the same key by at
    most ``max_lag``. Both sides carry watermarks, so the join state is
    bounded: the right side buffers ``max_lag + right_watermark`` of
    events per key, the left side only its own watermark horizon — this
    is what makes the join runnable continuously at cluster scale (an
    unwatermarked stream-stream join buffers forever).

    The right watermark should cover ``max_lag`` plus the left
    watermark, or late-but-admitted left rows could find their right
    match already evicted (Spark drops state strictly by watermark).

    ``how="left_outer"`` adds the watermark-gated null rows: a left row
    with no match emits (right-side nulls) only once the RIGHT
    watermark passes its timestamp — before that, a matching right row
    could still arrive. Dually, right-side match state is evicted by
    the LEFT watermark (+ lag): a one-shot drain that must not lose
    matches across micro-batches wants a large left delay, and tight
    null emission wants a small right delay — see
    ``stream_unattributed_purchases`` for the oracle-exact recipe.
    """
    if left_ts == right_ts:
        raise ValueError(
            "left_ts and right_ts must have distinct column names "
            "(alias one side, e.g. .withColumnRenamed('ts', 'l_ts')) — "
            "a shared name makes the join condition ambiguous"
        )
    lw = left.withWatermark(left_ts, left_watermark)
    rw = right.withWatermark(right_ts, right_watermark).withColumnRenamed(
        key, f"_r_{key}"
    )
    cond = (
        (F.col(key) == F.col(f"_r_{key}"))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {max_lag}"))
        & (F.col(right_ts) <= F.col(left_ts))
    )
    return lw.join(rw, cond, how).drop(f"_r_{key}")
