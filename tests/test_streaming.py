"""Streaming surface: availableNow drain must equal the batch query
(SURVEY.md §7.4 — streaming has no DuckDB oracle; batch equivalence is
the check)."""

from __future__ import annotations

import json
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.streaming import (
    dedup_within_watermark,
    run_available_now,
    stream_events,
    tumbling_counts_stream,
)


def _batch_tumbling(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream = tumbling_counts_stream(stream_events(spark, sf_dir))
    got = run_available_now(stream, "t_tumble", output_mode="complete")
    want = _batch_tumbling(spark, sf_dir)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_dedup_keeps_distinct_ids(spark, sf_dir):
    events = stream_events(spark, sf_dir)
    got = run_available_now(dedup_within_watermark(events), "t_dedup")
    n_distinct = read_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got.count() == n_distinct


def test_interval_join_stream_equals_batch(spark, sf_dir):
    """The watermarked stream-stream interval join must reproduce the
    plain batch join over the same files (inner join + full drain)."""
    from big_data_pipeline_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    def sides(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_event_id"),
            F.col("ts").alias("p_ts"),
            "user_id",
        )
        c = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("c_ts"),
            "user_id",
        )
        return p, c

    sp, sc = sides(stream_events(spark, sf_dir))
    got = run_available_now(
        stream_stream_interval_join(
            sp, sc, key="user_id", left_ts="p_ts", right_ts="c_ts"
        ),
        "t_interval_join",
    ).select("p_event_id", "c_event_id")

    bp, bc = sides(read_table(spark, sf_dir, "events"))
    want = bp.join(
        bc.withColumnRenamed("user_id", "cu"),
        (F.col("user_id") == F.col("cu"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("p_event_id", "c_event_id")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_outer_interval_join_stream_equals_batch(spark, sf_dir):
    """The watermark-gated LEFT OUTER interval join must equal the
    batch left join on the resolved region (p_ts < min-side max ts) —
    matched rows AND the null rows that only emit once the global
    watermark passes them. Regression pin for the
    multipleWatermarkPolicy=min trap: a generous delay on either input
    drags the global watermark back and silently withholds every null
    row."""
    from big_data_pipeline_spark.workloads.streaming_surface import (
        stream_unattributed_purchases,
    )

    got = stream_unattributed_purchases(spark, sf_dir).cache()
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter("event_type = 'purchase'")
    c = ev.filter("event_type = 'click'")
    horizon = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type").agg(F.max("ts").alias("mx"))
        .agg(F.min("mx")).collect()[0][0]
    )
    want = (
        p.alias("p")
        .join(
            c.alias("c"),
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 2 HOURS"))
            & (F.col("c.ts") <= F.col("p.ts")),
            "left_outer",
        )
        .filter(F.col("p.ts") < F.lit(horizon))
        .select(
            F.col("p.user_id"),
            F.col("p.event_id").alias("p_event_id"),
            F.col("c.event_id").alias("c_event_id"),
            (F.unix_micros("p.ts") - F.unix_micros("c.ts")).alias("lag_us"),
        )
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # both classes are present: true matches and watermark-resolved nulls
    assert got.filter("c_event_id IS NULL").count() > 0
    assert got.filter("c_event_id IS NOT NULL").count() > 0


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress; callbacks arrive on a Py4J
    thread, a query's progress events before its termination event."""

    def __init__(self):
        self._lock = threading.Lock()
        self.terminated = 0
        self.progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated += 1

    def take(self, timeout_s=30.0):
        """Wait for one drain to terminate; hand over its progress."""
        end = time.monotonic() + timeout_s
        while time.monotonic() < end:
            with self._lock:
                if self.terminated:
                    break
            time.sleep(0.02)
        with self._lock:
            out = self.progress
            self.terminated, self.progress = 0, []
        return out


def test_drain_batches_and_state_partitions_on_runtime_progress(spark, sf_dir):
    """Pins the drain mechanics on StreamingQueryListener progress: the
    inner attribution join and the dedup skip the trailing no-data
    batch (one micro-batch each), the outer join keeps it (its null rows
    are emitted only there), every state operator runs
    min(defaultParallelism, 8) partitions, and the session's own
    settings come back after each drain."""
    from big_data_pipeline_spark.workloads import streaming_surface as ss

    parts_key = "spark.sql.shuffle.partitions"
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    want_parts = min(spark.sparkContext.defaultParallelism, 8)
    saved = {k: spark.conf.get(k) for k in (parts_key, nodata_key)}
    # A session value the drain would never pick, so a missed restore shows.
    session = {parts_key: str(want_parts + 1), nodata_key: "true"}
    listener = _ProgressListener()
    spark.streams.addListener(listener)
    try:
        for k, v in session.items():
            spark.conf.set(k, v)
        for query, batches in (
            (ss.stream_click_purchase_attribution, 1),
            (ss.stream_dedup_exact, 1),
            (ss.stream_unattributed_purchases, 2),
            (ss.stream_stateful_user_stats, 1),
        ):
            query(spark, sf_dir)
            progress = listener.take()
            assert len(progress) == batches, query.__name__
            ops = [o for p in progress for o in p["stateOperators"]]
            assert ops, query.__name__
            assert {o["numShufflePartitions"] for o in ops} == {want_parts}
            assert {k: spark.conf.get(k) for k in session} == session
    finally:
        spark.streams.removeListener(listener)
        for k, v in saved.items():
            spark.conf.set(k, v)
