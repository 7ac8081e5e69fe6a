"""Streaming surface: availableNow drain must equal the batch query
(SURVEY.md §7.4 — streaming has no DuckDB oracle; batch equivalence is
the check)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

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


def test_drain_batches_and_state_partitions_on_runtime_progress(
    spark, sf_dir, progress_listener
):
    """Pins the drain mechanics on StreamingQueryListener progress: the
    inner attribution join and the dedup skip the trailing no-data
    batch (one micro-batch each), the outer join and the rollup keep it
    (their rows are emitted only there), every state operator runs
    min(defaultParallelism, 8) partitions, the session's own settings
    come back after each drain, and no drain leaves a state-store
    provider set on the session."""
    from big_data_pipeline_spark.workloads import streaming_surface as ss

    parts_key = "spark.sql.shuffle.partitions"
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    want_parts = min(spark.sparkContext.defaultParallelism, 8)
    saved = {k: spark.conf.get(k, None) for k in (parts_key, nodata_key, provider_key)}
    # A session value the drain would never pick, so a missed restore shows.
    session = {parts_key: str(want_parts + 1), nodata_key: "true"}
    try:
        for k, v in session.items():
            spark.conf.set(k, v)
        spark.conf.unset(provider_key)
        for query, batches in (
            (ss.stream_click_purchase_attribution, 1),
            (ss.stream_dedup_exact, 1),
            (ss.stream_unattributed_purchases, 2),
            (ss.stream_stateful_user_stats, 1),
            (ss.stream_continuous_rollup, 2),
        ):
            query(spark, sf_dir)
            progress = progress_listener.take()
            assert len(progress) == batches, query.__name__
            ops = [o for p in progress for o in p["stateOperators"]]
            assert ops, query.__name__
            assert {o["numShufflePartitions"] for o in ops} == {want_parts}
            assert {k: spark.conf.get(k) for k in session} == session
            assert spark.conf.get(provider_key, None) is None, query.__name__
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _events_ts_table(ts_type, ts_values):
    n = len(ts_values)
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts_values, ts_type),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.0] * n),
            "props": pa.array(["{}"] * n),
        }
    )


def test_both_ts_encodings_read_alike_in_batch_and_stream(spark, tmp_path):
    """TIMESTAMP(NANOS) (int64 under nanosAsLong) and µs timestamp_ntz
    ``events.ts`` files both go through io's one normalization: the
    batch read and a drained stream return the same µs timestamps."""
    base_us = 1_700_000_000_123_456
    want = None
    for unit, values in (
        ("ns", [base_us * 1000 + 789, (base_us + 60_000_000) * 1000 + 1]),
        ("us", [base_us, base_us + 60_000_000]),
    ):
        sf = tmp_path / unit
        sf.mkdir()
        pq.write_table(
            _events_ts_table(pa.timestamp(unit), values), str(sf / "events.parquet")
        )
        batch = read_table(spark, str(sf), "events")
        drained = run_available_now(stream_events(spark, str(sf)), f"t_ts_{unit}")
        got = [
            [r.ts for r in df.orderBy("event_id").select("ts").collect()]
            for df in (batch, drained)
        ]
        assert dict(batch.dtypes)["ts"] == "timestamp", unit
        assert got[0] == got[1], unit
        want = want or got[0]
        assert got[0] == want, unit
