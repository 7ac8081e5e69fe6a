"""Streaming surface as oracle-checked queries.

Each entry builds a Structured Streaming query over the events table,
drains it with ``trigger(availableNow=True)`` into a memory sink, and
returns the materialized result. Because the drain consumes exactly the
batch's input files, the result is deterministic and hash-checkable
against the same DuckDB SQL the batch twins use — a stronger guarantee
than the usual rows-only streaming check (SURVEY.md §7.4).

Scale notes:
- These plans are the incremental replacements for the reference's
  daily truncate-and-reload (§2.9): on a cluster the same code runs
  continuously with a real trigger; watermarks bound state.
- Complete-mode memory sinks are for the verification harness only —
  production sinks are parquet/Kafka in append mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_pipeline_spark.oracle import exact_sum, exact_sum_sql
from big_data_pipeline_spark.streaming.stateful import running_user_stats
from big_data_pipeline_spark.streaming.windows import (
    dedup_within_watermark,
    run_available_now,
    stream_events,
    stream_stream_interval_join,
)


def stream_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, "mem_stream_tumbling", output_mode="complete")


_STREAM_TUMBLING_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {exact_sum_sql("value", "sum_value")}
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def stream_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-memory streaming heavy hitters: ≤ MG_K weighted counters
    per event_type in the state store no matter how many distinct users
    flow through (streaming/stateful.py Misra-Gries). MG estimates are
    traversal-order-specific → rows-only check; the guarantee and the
    exact replay equivalence are pinned in tests."""
    from big_data_pipeline_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    out = streaming_heavy_hitters(stream_events(spark, sf_dir))
    return run_available_now(
        out, "mem_stream_heavy", output_mode="update"
    )


def stream_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate (streaming/rollup.py): a
    checkpointed drain maintains the hourly rollup TABLE (update-mode
    state + keyed MERGE into day-partitioned parquet), then the serving
    scan answers from pre-aggregated rows. Exposes the exact columns
    (counts) for the oracle; the maintained double sum is covered by
    tests/test_rollup.py's batch-equivalence across incremental
    arrivals, which this one-shot drain can't show."""
    import tempfile

    from big_data_pipeline_spark.streaming.rollup import (
        read_rollup,
        rollup_drain,
    )

    with tempfile.TemporaryDirectory(prefix="rollup_") as tmp:
        rollup_dir = f"{tmp}/rollup"
        # the corpus table is one parquet file; glob it as the watched dir.
        # The oracle is the FULL batch aggregate, so this one-shot drain
        # must not drop anything as late: an effectively-infinite
        # watermark makes the equality hold even if the source ever
        # splits into multiple out-of-order micro-batches (the
        # maintained-table path keeps the production 30-day default).
        rollup_drain(
            spark, f"{sf_dir}/events.parquet*", rollup_dir, f"{tmp}/ckpt",
            watermark="3650 days",
        )
        out = read_rollup(spark, rollup_dir).select(
            "window_start", "event_type", "n_events"
        )
        # materialize before the TemporaryDirectory (the scan's input)
        # is deleted
        out = out.localCheckpoint(eager=True)
    return out


_STREAM_ROLLUP_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (state-store merge of overlapping
    sessions). Its window end is last-event-ts + gap; the oracle's
    lag/running-sum formulation reproduces that closed form."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return run_available_now(agg, "mem_stream_sessions", output_mode="complete")


_STREAM_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
"""


def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_window`` with a PER-EVENT gap expression (purchases
    hold a session open 30 minutes, everything else 10) — the Spark
    3.2+ dynamic-gap API the fixed-gap query can't exercise.

    The oracle needs real interval-union logic: with variable gaps the
    session end is ``MAX(ts + gap)`` over the merged events (a later
    short-gap event does NOT shrink the window a purchase opened), and
    a new session starts only when ts exceeds the RUNNING MAX of all
    preceding window ends — the fixed-gap lag(ts) shortcut is wrong
    here. Merge inclusivity (ts == running end still merges) matches
    the fixed-gap oracle already proven hash-green.
    """
    events = stream_events(spark, sf_dir)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return run_available_now(agg, "mem_stream_dynsessions", output_mode="complete")


_STREAM_DYNSESSION_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 30 MINUTE
                   ELSE INTERVAL 10 MINUTE END AS w_end
  FROM events
),
m AS (
  SELECT user_id, ts, event_id, w_end,
         MAX(w_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_max
  FROM g
),
n AS (
  SELECT user_id, ts, w_end,
         SUM(CASE WHEN prev_max IS NULL OR ts > prev_max
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT MIN(ts) AS session_start,
       MAX(w_end) AS session_end,
       user_id,
       COUNT(*) AS n_events
FROM n GROUP BY user_id, sid
"""


def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` over event_id. The fixture's
    event_ids are unique, so the checked semantic is pass-through — the
    state machinery is what's being exercised."""
    events = stream_events(spark, sf_dir)
    out = dedup_within_watermark(events, watermark="1 hour").select(
        "event_id", "user_id", "event_type", "value"
    )
    # Append-mode dedup emits each first occurrence in its data batch;
    # the trailing no-data batch would only evict watermark state.
    return run_available_now(
        out, "mem_stream_dedup", output_mode="append", final_watermark_batch=False
    )


_STREAM_DEDUP_SQL = """
SELECT event_id, user_id, event_type, value FROM events
"""


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running count/sum/EWMA. The EWMA recurrence has no closed window
    form, but it IS oracle-checkable: a DuckDB recursive CTE replays
    the identical per-event recurrence (same (ts, event_id) order, same
    ``a*v + (1-a)*e`` expression tree), and IEEE doubles make the two
    engines bit-identical — verified exact at sf0.01 and sf0.1. The
    numeric golden check against a pandas recomputation also lives in
    tests/test_stateful_streaming.py."""
    out = running_user_stats(stream_events(spark, sf_dir))
    return run_available_now(out, "mem_stream_stateful", output_mode="update")


# Replays _advance_stats exactly: one working row per user advanced one
# event per iteration. 0.2/0.8 cast to DOUBLE (DuckDB decimal literals
# would compute in DECIMAL); Python's (1 - 0.2) == 0.8 exactly, so the
# literal matches the recurrence's coefficient bit-for-bit.
_STREAM_STATEFUL_SQL = """
WITH RECURSIVE ev AS MATERIALIZED (
  SELECT user_id, CAST(value AS DOUBLE) AS value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_tot
  FROM events
), walk AS (
  SELECT user_id, rn, n_tot,
         CAST(1 AS BIGINT) AS n_events,
         value AS value_sum,
         value AS ewma
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.n_tot,
         w.n_events + 1,
         w.value_sum + e.value,
         0.2::DOUBLE * e.value + 0.8::DOUBLE * w.ewma
  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT user_id, n_events, value_sum, ewma FROM walk WHERE rn = n_tot
"""


def stream_click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase matched to
    the clicks that preceded it by ≤2h for the same user (the classic
    attribution join). Inner join + append mode → the availableNow drain
    is a deterministic batch join, so it hash-checks against plain SQL.

    State bounds at scale: clicks buffer 2h (lag) + 3h (watermark) per
    key partition, purchases 1h — constant in stream length."""
    events = stream_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
        "user_id",
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("ts").alias("c_ts"),
        "user_id",
    )
    joined = stream_stream_interval_join(
        purchases, clicks, key="user_id", left_ts="p_ts", right_ts="c_ts",
        max_lag="2 hours",
    ).select(
        "user_id",
        "p_event_id",
        "c_event_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )
    # Inner join: every match is emitted in the batch that brings both
    # rows; the trailing no-data batch would only evict buffered state.
    return run_available_now(
        joined, "mem_stream_attrib", output_mode="append",
        final_watermark_batch=False,
    )


_STREAM_ATTRIB_SQL = """
SELECT p.user_id,
       p.event_id AS p_event_id,
       c.event_id AS c_event_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def stream_unattributed_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER watermarked interval join — attribution including the
    purchases with NO preceding click. The outer side is the genuinely
    stateful part: a null row may only emit once the click-side
    watermark guarantees no matching click can still arrive, so
    "unmatched" is a statement about event-time progress, not batch
    completeness.

    Oracle-exactness recipe (this is the subtle bit): a left row's
    null result emits only when the GLOBAL watermark strictly passes
    its timestamp, and under the default multipleWatermarkPolicy=min
    that watermark is the MINIMUM over both inputs — a generous delay
    on either side drags it back and withholds every null (measured:
    a 3650-day purchase delay emitted exactly zero outer rows).
    With 0-second delays on both sides, the final no-data batch of the
    availableNow drain advances the watermark to
    ``least(max purchase ts, max click ts)``, so the
    guaranteed-resolved region is exactly ``p_ts < least(...)`` — BOTH
    the drained stream and the batch LEFT JOIN oracle restrict to it,
    making the comparison cell-exact whatever Spark does on the
    boundary itself. The 0-second delays are correct for the one-shot
    drain because the corpus arrives in a single data micro-batch (no
    cross-batch match to lose); a continuously running deployment
    picks both delays from its real lateness SLO instead (the 1h/3h
    defaults) and accepts null emission lagging by that SLO.

    Scale: same bounded state as the inner attribution join; the outer
    rows add no state, only an emit-on-eviction.
    """
    events = stream_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
        "user_id",
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("ts").alias("c_ts"),
        "user_id",
    )
    joined = stream_stream_interval_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="p_ts",
        right_ts="c_ts",
        max_lag="2 hours",
        left_watermark="0 seconds",
        right_watermark="0 seconds",
        how="left_outer",
    ).select(
        "user_id",
        "p_event_id",
        "p_ts",
        "c_event_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )
    drained = run_available_now(
        joined, "mem_stream_unattrib", output_mode="append"
    )
    from big_data_pipeline_spark.io import read_table as _read

    horizon = (
        _read(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg(F.min("mx"))
        .collect()[0][0]
    )
    return drained.filter(F.col("p_ts") < F.lit(horizon)).drop("p_ts")


_STREAM_UNATTRIB_SQL = """
SELECT p.user_id,
       p.event_id AS p_event_id,
       c.event_id AS c_event_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events p LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts
WHERE p.event_type = 'purchase'
  AND p.ts < (SELECT LEAST(
                MAX(CASE WHEN event_type = 'click' THEN ts END),
                MAX(CASE WHEN event_type = 'purchase' THEN ts END))
              FROM events)
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each streamed event enriched with a batch
    profile of its user (per-user lifetime count/sum computed from the
    static table). The static side needs no watermark — it's planned as
    an ordinary (here broadcast) join against each micro-batch, the
    standard pattern for dimension enrichment of a live stream. Inner
    join + append drains deterministically → oracle-checked.

    Scale: the static side re-reads per micro-batch (fresh dimension
    data is picked up automatically); a slowly-changing dim at 100 TB
    would snapshot to a compact profile table first, exactly as the
    aggregate here does."""
    from big_data_pipeline_spark.io import read_table as _read

    profile = (
        _read(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("lifetime_events"),
            exact_sum("value", "lifetime_value"),
        )
    )
    stream = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream.join(F.broadcast(profile), "user_id").select(
        "user_id",
        "event_id",
        "value",
        "lifetime_events",
        "lifetime_value",
    )
    return run_available_now(joined, "mem_stream_enrich", output_mode="append")


_STREAM_ENRICH_SQL = f"""
WITH profile AS (
  SELECT user_id, COUNT(*) AS lifetime_events,
         {exact_sum_sql("value", "lifetime_value")}
  FROM events GROUP BY user_id
)
SELECT e.user_id, e.event_id, e.value, p.lifetime_events, p.lifetime_value
FROM events e JOIN profile p ON e.user_id = p.user_id
WHERE e.event_type = 'purchase'
"""


def stream_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding every hour: each event lands in exactly
    two overlapping windows. The one streaming window shape the surface
    was missing (tumbling/session already covered); state size is
    windows x event_types, bounded by the watermark."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, "mem_stream_sliding", output_mode="complete")


# An event at t belongs to the 2h/1h-slide windows starting at
# date_trunc(hour, t) and one hour earlier — enumerate both via UNNEST.
_STREAM_SLIDING_SQL = f"""
SELECT date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {exact_sum_sql("value", "sum_value")}
FROM events, UNNEST([0, 1]) AS u(o)
GROUP BY date_trunc('hour', ts) - o * INTERVAL 1 HOUR, event_type
"""


# --- stream_windowed_topk: streamed aggregate + serving-layer rank ----------
# "Top event types per hour" over a stream. Window RANKING functions
# are not allowed on a streaming DataFrame (state would be unbounded
# until the window closes), so the production pattern is exactly what
# runs here: the stream maintains the per-(window, key) aggregate —
# bounded state under the watermark — and the top-k rank runs on the
# DRAINED/maintained table at serving time (same division of labor as
# the continuous rollup). WindowGroupLimit applies to the serving rank,
# so only k rows per window survive each partition before its shuffle.


def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    drained = run_available_now(agg, "mem_stream_topk", output_mode="complete")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        drained.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("window_start", "rank", "event_type", "n_events")
    )


_STREAM_TOPK_SQL = """
WITH agg AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, "rank", event_type, n_events FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type ASC)
              AS "rank"
  FROM agg
) WHERE "rank" <= 3
"""


QUERIES = {
    "stream_sliding_window_counts": stream_sliding_window_counts,
    "stream_windowed_topk": stream_windowed_topk,
    "stream_tumbling_window_counts": stream_tumbling_window_counts,
    "stream_continuous_rollup": stream_continuous_rollup,
    "stream_heavy_hitter_users": stream_heavy_hitter_users,
    "stream_session_windows": stream_session_windows,
    "stream_session_dynamic_gap": stream_session_dynamic_gap,
    "stream_dedup_exact": stream_dedup_exact,
    "stream_stateful_user_stats": stream_stateful_user_stats,
    "stream_click_purchase_attribution": stream_click_purchase_attribution,
    "stream_unattributed_purchases": stream_unattributed_purchases,
    "stream_static_enrich": stream_static_enrich,
}

ORACLE = {
    "stream_sliding_window_counts": _STREAM_SLIDING_SQL,
    "stream_windowed_topk": _STREAM_TOPK_SQL,
    "stream_tumbling_window_counts": _STREAM_TUMBLING_SQL,
    "stream_continuous_rollup": _STREAM_ROLLUP_SQL,
    "stream_session_windows": _STREAM_SESSION_SQL,
    "stream_session_dynamic_gap": _STREAM_DYNSESSION_SQL,
    "stream_stateful_user_stats": _STREAM_STATEFUL_SQL,
    "stream_dedup_exact": _STREAM_DEDUP_SQL,
    "stream_click_purchase_attribution": _STREAM_ATTRIB_SQL,
    "stream_unattributed_purchases": _STREAM_UNATTRIB_SQL,
    "stream_static_enrich": _STREAM_ENRICH_SQL,
}
