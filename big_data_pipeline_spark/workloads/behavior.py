"""Behavioral analytics over the events stream: funnels and cohorts.

The two workhorse product-analytics shapes a clickstream warehouse
runs daily, both oracle-checked cell-exact:

- ``funnel_conversion``: strictly-ordered step funnel
  (view → click → purchase). Each step is "first qualifying event at
  or after the user's previous step time". One events scan, one hash
  shuffle on user_id: the step times are three stacked unordered
  window aggregates behind a single exchange, then a per-user reduce
  and a global non-null count.
- ``cohort_retention``: users cohorted by first-active day, counted by
  day offset. Two grouped passes (first-day, distinct active days) and
  one join, keyed on the bounded user_id space — the fact-sized
  shuffle is the distinct, which AQE coalesces.

Scale notes (100 TB): the funnel's only shuffle moves the
type-filtered events once; cohort reduces events to per-user /
per-(user, day) rows before its join, so join inputs are |users|, not
|events|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table

_FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE events scan, ONE shuffle: the three step times are stacked
    # unordered window aggregates over the same user partitioning (each
    # step's condition references the previous step's column, so Spark
    # plans three Window operators behind a single exchange), then one
    # per-user reduce and a global count of non-null steps.
    s1, s2, s3 = _FUNNEL_STEPS
    w = Window.partitionBy("user_id")
    per_event = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*_FUNNEL_STEPS))
        .select("user_id", "event_type", "ts")
        .withColumn(
            "t1", F.min(F.when(F.col("event_type") == s1, F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == s2) & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == s3) & (F.col("ts") >= F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = per_event.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )
    return per_user.agg(
        F.count("t1").alias("n_step1"),
        F.count("t2").alias("n_step2"),
        F.count("t3").alias("n_step3"),
    )


_FUNNEL_SQL = """
WITH step1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
step2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN step1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= t1
  GROUP BY e.user_id
),
step3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN step2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= t2
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM step1) AS n_step1,
       (SELECT COUNT(*) FROM step2) AS n_step2,
       (SELECT COUNT(*) FROM step3) AS n_step3
"""


# --- funnel_window_timeout: conversion funnel with step deadlines -----------
# The production funnel semantics: each step only counts if it lands
# within _FUNNEL_TIMEOUT of the PREVIOUS step's time (a purchase a week
# after the click is not "conversion"). Same one-scan / one-exchange
# stacked-window shape as funnel_conversion — the deadline is one extra
# predicate inside each step's conditional MIN, so the timeout variant
# costs nothing extra at any scale. Timestamp arithmetic is exact
# (integer microseconds), so the oracle twin is cell-exact.

_FUNNEL_TIMEOUT_MIN = 60


def funnel_window_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1, s2, s3 = _FUNNEL_STEPS
    lim = F.expr(f"INTERVAL {_FUNNEL_TIMEOUT_MIN} MINUTES")
    w = Window.partitionBy("user_id")
    per_event = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*_FUNNEL_STEPS))
        .select("user_id", "event_type", "ts")
        .withColumn(
            "t1", F.min(F.when(F.col("event_type") == s1, F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == s2)
                    & (F.col("ts") >= F.col("t1"))
                    & (F.col("ts") <= F.col("t1") + lim),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == s3)
                    & (F.col("ts") >= F.col("t2"))
                    & (F.col("ts") <= F.col("t2") + lim),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = per_event.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )
    return per_user.agg(
        F.count("t1").alias("n_step1"),
        F.count("t2").alias("n_step2"),
        F.count("t3").alias("n_step3"),
    )


_FUNNEL_TIMEOUT_SQL = f"""
WITH step1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
step2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN step1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= t1
    AND e.ts <= t1 + INTERVAL {_FUNNEL_TIMEOUT_MIN} MINUTES
  GROUP BY e.user_id
),
step3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN step2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= t2
    AND e.ts <= t2 + INTERVAL {_FUNNEL_TIMEOUT_MIN} MINUTES
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM step1) AS n_step1,
       (SELECT COUNT(*) FROM step2) AS n_step2,
       (SELECT COUNT(*) FROM step3) AS n_step3
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = events.select(
        "user_id", F.to_date("ts").alias("active_day")
    ).distinct()
    return (
        active.join(F.broadcast(first_day), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_COHORT_SQL = """
WITH first_day AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
)
SELECT cohort_day,
       date_diff('day', cohort_day, active_day) AS day_offset,
       COUNT(*) AS n_users
FROM active JOIN first_day USING (user_id)
GROUP BY cohort_day, day_offset
"""


def sequence_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection without the syntax:
    serialize each user's time-ordered event types into one string
    (order pinned by (ts, event_id)), then count regex occurrences of
    the behavioral pattern — here non-overlapping view→click→purchase
    runs with anything in between within the run's user. Counting over
    the serialized sequence is the classic poor-man's CEP; the per-user
    string is bounded by the user's event count, and the heavy lifting
    (ordering) is one window shuffle.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqs = (
        read_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_list(F.struct("rn", "event_type")))
                .getField("event_type")
            ).alias("seq")
        )
    )
    pat = "view,(?:[a-z]+,)*?click,(?:[a-z]+,)*?purchase"
    return (
        seqs.select(
            "user_id",
            F.regexp_count(F.col("seq"), F.lit(pat))
            .cast("long")  # DuckDB len() is BIGINT
            .alias("n_conversions"),
        )
        .filter(F.col("n_conversions") > 0)
    )


_SEQ_SQL = """
WITH seqs AS (
  SELECT user_id,
         string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
SELECT user_id,
       len(regexp_extract_all(seq,
           'view,(?:[a-z]+,)*?click,(?:[a-z]+,)*?purchase'))
         AS n_conversions
FROM seqs
WHERE len(regexp_extract_all(seq,
      'view,(?:[a-z]+,)*?click,(?:[a-z]+,)*?purchase')) > 0
"""


# --- attribution_latency_stats: click→purchase conversion-time profile ------
# The batch companion to the streaming attribution join: the same
# per-user ≤2h interval match, then the distribution of conversion
# latency by purchase hour-of-day — the report a marketing/behavior
# dashboard actually serves ("how fast do morning vs evening purchases
# convert?"). Latencies are integer microseconds; the holistic
# median/p90 come from the exact-quantile GROUPED_AGG UDAFs (24
# bounded groups; interpolated midpoints of integers are exact
# doubles, DuckDB-bit-identical). The interval join shuffles once on
# user_id; the bounded ±lag predicate is applied post-join (the
# streaming twin bounds the same state with watermarks).

_ATTR_LAG_US = 2 * 3600 * 1_000_000


def attribution_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.functions.udxf import (
        exact_median,
        exact_p90,
    )

    events = read_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.hour("ts").alias("hod"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    pairs = (
        purchases.join(clicks, "user_id")
        .withColumn(
            "lag_us", F.unix_micros("p_ts") - F.unix_micros("c_ts")
        )
        .filter((F.col("lag_us") >= 0) & (F.col("lag_us") <= _ATTR_LAG_US))
        .withColumn("lag_s", F.col("lag_us").cast("double") / 1e6)
    )
    # GROUPED_AGG pandas UDFs can't mix with JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT, same constraint as
    # median_order_value) — two grouped passes over the 24-row key,
    # joined back
    jvm = pairs.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("lag_s").alias("min_lag_s"),
        F.max("lag_s").alias("max_lag_s"),
    )
    holistic = pairs.groupBy("hod").agg(
        exact_median("lag_s").alias("median_lag_s"),
        exact_p90("lag_s").alias("p90_lag_s"),
    )
    return jvm.join(holistic, "hod").select(
        "hod", "n_pairs", "min_lag_s", "max_lag_s", "median_lag_s", "p90_lag_s"
    )


_ATTR_LATENCY_SQL = f"""
WITH purchases AS (
  SELECT user_id, ts AS p_ts, hour(ts) AS hod FROM events
  WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
),
pairs AS (
  SELECT hod,
         CAST(epoch_us(p_ts) - epoch_us(c_ts) AS DOUBLE) / 1e6 AS lag_s
  FROM purchases JOIN clicks USING (user_id)
  WHERE epoch_us(p_ts) - epoch_us(c_ts) BETWEEN 0 AND {_ATTR_LAG_US}
)
SELECT hod, COUNT(*) AS n_pairs,
       MIN(lag_s) AS min_lag_s, MAX(lag_s) AS max_lag_s,
       median(lag_s) AS median_lag_s,
       quantile_cont(lag_s, 0.9) AS p90_lag_s
FROM pairs GROUP BY hod
"""


# --- event_transition_matrix: first-order behavioral Markov chain -----------
# The transition-probability matrix behind next-action prediction and
# journey visualization: for each user's time-ordered event stream
# (order pinned by (ts, event_id)), count from→to adjacencies and
# normalize by the from-state's outgoing total. One window shuffle on
# user_id (lead), one tiny groupBy; probabilities are exact integer
# divisions. |event_types|² output rows — model-sized at any corpus.


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = steps.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    outgoing = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_out")
    )
    return counts.join(F.broadcast(outgoing), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / F.col("n_out")).alias(
            "p_transition"
        ),
    )


_TRANSITION_SQL = """
WITH steps AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM steps WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
outgoing AS (
  SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_out
  FROM counts GROUP BY from_type
)
SELECT from_type, to_type, n_transitions,
       CAST(n_transitions AS DOUBLE) / n_out AS p_transition
FROM counts JOIN outgoing USING (from_type)
"""


# --- rfm_user_segments: recency/frequency/monetary quintile scoring ---------
# The classic customer-value segmentation, built scale-first: each
# metric's global equal-depth quintile comes from a GLOBAL rank — the
# canonical single-task-window trap — computed with the sharded prefix
# sum over a constant partition (32-way parallel, identical integers).
# Bucket = ((rank-1)*5) // n + 1 (the deterministic equal-depth rule,
# stated identically in the oracle — NTILE's remainder placement
# differs, so the formula IS the contract). R is inverted (recent =
# high score). Monetary sums route through exact decimals; ordering
# ties break on user_id, so ranks are total and engine-identical.

_RFM_BUCKETS = 5


def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.operators.prefix import sharded_running_sum
    from big_data_pipeline_spark.oracle import DEC

    events = read_table(spark, sf_dir, "events")
    maxd = events.select(F.max(F.to_date("ts")).alias("maxd"))
    base = (
        events.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("frequency"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
                .cast(DEC)
            )
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "user_id",
            F.datediff("maxd", "last_day").alias("recency_days"),
            "frequency",
            "monetary",
            F.lit(0).alias("g"),
        )
    )
    # materialize the per-user frame ONCE: each of the three prefix
    # sums below starts with an approxQuantile job, and without a
    # lineage cut every one of those (plus the final plan) would
    # re-execute the full events scan+agg. The checkpointed frame is
    # |users| rows — orders of magnitude smaller than events — so this
    # is the standard cache-the-reduced-side move, safe at any scale.
    # lazy: the one-pass approxQuantile below is a full action and
    # materializes the checkpoint in the same job
    base = base.localCheckpoint(eager=False)
    n = base.select(F.count(F.lit(1)).alias("n_users"))
    # ONE approxQuantile pass computes all three metrics' shard
    # boundaries (identical per-column results to three separate calls);
    # the per-metric form paid three full boundary-probe jobs over base
    metrics = ("recency_days", "frequency", "monetary")
    from big_data_pipeline_spark.operators.prefix import shard_bounds

    all_bounds = shard_bounds(base, list(metrics))
    ranked = base
    for metric, out, bnds in zip(
        metrics, ("r_rank", "f_rank", "m_rank"), all_bounds
    ):
        ranked = sharded_running_sum(
            ranked,
            ["g"],
            metric,
            F.lit(1),
            out,
            tiebreak_cols=["user_id"],
            bounds=bnds,
        )
    b = _RFM_BUCKETS
    bucket = lambda c: ((F.col(c) - 1) * b / F.col("n_users")).cast(  # noqa: E731
        "long"
    ) + 1
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary",
            (F.lit(b + 1) - bucket("r_rank")).alias("r_score"),
            bucket("f_rank").alias("f_score"),
            bucket("m_rank").alias("m_score"),
        )
        .withColumn(
            "rfm_segment",
            F.concat_ws(
                "", F.col("r_score"), F.col("f_score"), F.col("m_score")
            ),
        )
    )


_RFM_SQL = f"""
WITH maxd AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
base AS (
  SELECT user_id,
         date_diff('day', MAX(CAST(ts AS DATE)), maxd) AS recency_days,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS frequency,
         CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(value AS DECIMAL(38,6))
                            ELSE 0 END) AS VARCHAR) AS DOUBLE) AS monetary
  FROM events, maxd GROUP BY user_id, maxd
),
n AS (SELECT COUNT(*) AS n_users FROM base),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY recency_days, user_id) AS r_rank,
         ROW_NUMBER() OVER (ORDER BY frequency, user_id) AS f_rank,
         ROW_NUMBER() OVER (ORDER BY monetary, user_id) AS m_rank
  FROM base
)
SELECT user_id, recency_days, frequency, monetary,
       {_RFM_BUCKETS + 1} - ((r_rank - 1) * {_RFM_BUCKETS} // n_users + 1)
         AS r_score,
       (f_rank - 1) * {_RFM_BUCKETS} // n_users + 1 AS f_score,
       (m_rank - 1) * {_RFM_BUCKETS} // n_users + 1 AS m_score,
       CAST({_RFM_BUCKETS + 1} - ((r_rank - 1) * {_RFM_BUCKETS} // n_users + 1)
            AS VARCHAR)
         || CAST((f_rank - 1) * {_RFM_BUCKETS} // n_users + 1 AS VARCHAR)
         || CAST((m_rank - 1) * {_RFM_BUCKETS} // n_users + 1 AS VARCHAR)
         AS rfm_segment
FROM ranked, n
"""


# --- markov_removal_attribution: absorbing-chain channel attribution --------
#
# Markov removal-effect attribution (Anderl et al. 2014): model user
# journeys as a first-order chain over touchpoints with two absorbing
# states (purchase = conversion, END = drop-off); a channel's credit is
# how much total conversion probability disappears when every
# transition INTO that channel is redirected to drop-off.
#
# Journey semantics (identical in both engines): events per user
# ordered by (ts, event_id); a purchase closes the journey, so the
# event after a purchase (and the first event overall) enters from
# START; a user's final non-purchase event absorbs to END.
#
# Determinism: transition probabilities are exact (integer count /
# integer total in double division); the fixed-{iters}-round value
# iteration is pure double mul/add whose accumulation order differs
# between engines only in the last ulp, absorbed by ROUND(.., 8) on
# the outputs — same contract as pagerank_nation_trade.
#
# Scale: the data-sized work (sessionize + transition counts) is one
# window + one map-side-combinable groupBy; the chain itself is
# |event_types|²-bounded REGARDLESS of input size, so the value
# iteration driver-solves on a ≤ 64-row matrix (the pagerank
# driver-small pattern, workloads/graph_rank._pagerank_driver).

_MRA_ITERS = 20
_MRA_ROUND = 8
_MRA_MAX_EDGES = 256  # |event_types|² guard for the driver solve


def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("next_type", F.lead("event_type").over(w))
    )
    base = seq.select(
        F.when(
            F.col("prev_type").isNull() | (F.col("prev_type") == "purchase"),
            F.lit("START"),
        )
        .otherwise(F.col("prev_type"))
        .alias("src"),
        F.col("event_type").alias("dst"),
    )
    ends = seq.filter(
        F.col("next_type").isNull() & (F.col("event_type") != "purchase")
    ).select(F.col("event_type").alias("src"), F.lit("END").alias("dst"))
    counts = (
        base.unionAll(ends)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = counts.groupBy("src").agg(F.sum("cnt").alias("tot"))
    probs = (
        counts.join(tot, "src")
        .filter(F.col("dst") != "END")
        .select(
            "src", "dst", (F.col("cnt").cast("double") / F.col("tot")).alias("p")
        )
    )
    edges = sorted(
        ((r.src, r.dst, r.p) for r in probs.collect()),
        key=lambda t: (t[0], t[1]),
    )
    if len(edges) > _MRA_MAX_EDGES:  # chain is type-bounded; this is a bug trap
        raise ValueError(f"transition matrix unexpectedly large: {len(edges)}")
    channels = sorted(
        {s for s, _, _ in edges if s not in ("START",)}
        | {d for _, d, _ in edges if d != "purchase"}
        - {"START"}
    )

    def conv_from_start(removed: str | None) -> float:
        states = {s for s, _, _ in edges} | {d for _, d, _ in edges}
        v = {s: 1.0 if s == "purchase" else 0.0 for s in states}
        for _ in range(_MRA_ITERS):
            nv: dict[str, float] = {}
            for s, d, p in edges:
                if d == removed:
                    continue
                nv[s] = nv.get(s, 0.0) + p * v.get(d, 0.0)
            nv["purchase"] = 1.0  # absorbing self-loop
            v = {s: nv.get(s, 0.0) for s in states}
        return v.get("START", 0.0)

    conv_full = conv_from_start(None)
    removed = {c: conv_from_start(c) for c in channels}
    re = {c: 1.0 - removed[c] / conv_full for c in channels}
    re_sum = sum(re[c] for c in channels)
    rows = [
        (c, conv_full, removed[c], re[c], re[c] / re_sum) for c in channels
    ]
    out = spark.createDataFrame(
        rows,
        "channel string, conv_full double, conv_removed double, "
        "removal_effect double, attribution_share double",
    )
    return out.select(
        "channel",
        F.round("conv_full", _MRA_ROUND).alias("conv_full"),
        F.round("conv_removed", _MRA_ROUND).alias("conv_removed"),
        F.round("removal_effect", _MRA_ROUND).alias("removal_effect"),
        F.round("attribution_share", _MRA_ROUND).alias("attribution_share"),
    )


_MRA_SQL = f"""
WITH RECURSIVE seq AS (
  SELECT event_type,
         LAG(event_type) OVER w AS prev_type,
         LEAD(event_type) OVER w AS next_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
trans AS (
  SELECT CASE WHEN prev_type IS NULL OR prev_type = 'purchase'
              THEN 'START' ELSE prev_type END AS src,
         event_type AS dst
  FROM seq
  UNION ALL
  SELECT event_type, 'END' FROM seq
  WHERE next_type IS NULL AND event_type <> 'purchase'
),
counts AS (SELECT src, dst, COUNT(*) AS cnt FROM trans GROUP BY 1, 2),
tot AS (SELECT src, SUM(cnt) AS tot FROM counts GROUP BY 1),
probs AS (
  SELECT src, dst, CAST(cnt AS DOUBLE) / tot AS p
  FROM counts JOIN tot USING (src) WHERE dst <> 'END'
),
chans AS (SELECT DISTINCT id AS c FROM (
  SELECT src AS id FROM probs WHERE src <> 'START'
  UNION ALL
  SELECT dst FROM probs WHERE dst <> 'purchase' AND dst <> 'START')),
scen AS (SELECT * FROM (
  SELECT 'NONE' AS removed UNION ALL SELECT c FROM chans)),
edges AS (SELECT * FROM (
  SELECT removed, src, dst, p FROM scen, probs WHERE dst <> removed
  UNION ALL
  SELECT removed, 'purchase', 'purchase', CAST(1.0 AS DOUBLE) FROM scen)),
states AS (SELECT DISTINCT removed, id FROM (
  SELECT removed, src AS id FROM edges
  UNION ALL SELECT removed, dst FROM edges)),
v(iter, removed, state, val) AS (
  SELECT 0, removed, id,
         CAST(CASE WHEN id = 'purchase' THEN 1.0 ELSE 0.0 END AS DOUBLE)
  FROM states
  UNION ALL
  SELECT v.iter + 1, e.removed, e.src, SUM(e.p * v.val)
  FROM v JOIN edges e ON e.removed = v.removed AND e.dst = v.state
  WHERE v.iter < {_MRA_ITERS}
  GROUP BY 1, 2, 3
),
fin AS (SELECT removed, val FROM v
        WHERE iter = {_MRA_ITERS} AND state = 'START'),
fullv AS (SELECT val AS conv_full FROM fin WHERE removed = 'NONE'),
re AS (
  SELECT removed AS channel, conv_full, val AS conv_removed,
         1.0 - val / conv_full AS re
  FROM fin, fullv WHERE removed <> 'NONE'
),
tot_re AS (SELECT SUM(re) AS s FROM re)
SELECT channel,
       ROUND(conv_full, {_MRA_ROUND}) AS conv_full,
       ROUND(conv_removed, {_MRA_ROUND}) AS conv_removed,
       ROUND(re, {_MRA_ROUND}) AS removal_effect,
       ROUND(re / s, {_MRA_ROUND}) AS attribution_share
FROM re, tot_re
"""


# --- conversion_hazard_table: discrete-time survival analysis ----------------
# Time-to-conversion as a life table: for each day d since a user's
# first event, the risk set (users not yet converted and not yet
# censored before d), the conversions at d, the censorings at d, and
# the discrete hazard d_conv/n_at_risk. Conversion = first purchase
# above the value threshold; users without one are right-censored at
# the end of their observation window. Everything is integer counts
# plus one exact division per day — no cumulative survival PRODUCT
# (the Kaplan-Meier product is fp-order-trouble; the hazard table is
# the exact-arithmetic form every survival stack builds first).
#
# Scale shape: one user-level collapse (keyed shuffle), one per-day
# count (≤ observation-window days, a bounded frame), and the reverse
# cumulative risk set computed on that DAY-SIZED frame — the window
# runs over ~31 rows, not the corpus.

_HAZARD_CONV_VALUE = 150.0


def conversion_hazard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    users = events.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > _HAZARD_CONV_VALUE),
                F.col("ts"),
            )
        ).alias("conv_ts"),
    )
    day = lambda a, b: F.floor(  # noqa: E731
        (F.unix_timestamp(a) - F.unix_timestamp(b)) / F.lit(86400)
    )
    per_user = users.select(
        F.when(F.col("conv_ts").isNotNull(), day("conv_ts", "first_ts"))
        .otherwise(day("last_ts", "first_ts"))
        .alias("day"),
        F.col("conv_ts").isNotNull().alias("converted"),
    )
    daily = per_user.groupBy("day").agg(
        F.sum(F.col("converted").cast("long")).alias("n_conv"),
        F.sum((~F.col("converted")).cast("long")).alias("n_censored"),
    )
    # reverse cumulative risk set over the DAY-sized frame (~31 rows)
    w = Window.orderBy(F.desc("day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        daily.withColumn(
            "n_at_risk", F.sum(F.col("n_conv") + F.col("n_censored")).over(w)
        )
        .select(
            "day",
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            F.col("n_conv").cast("bigint").alias("n_conv"),
            F.col("n_censored").cast("bigint").alias("n_censored"),
            (
                F.col("n_conv").cast("double") / F.col("n_at_risk")
            ).alias("hazard"),
        )
    )


_HAZARD_SQL = f"""
WITH u AS (
  SELECT user_id,
         MIN(ts) AS first_ts,
         MAX(ts) AS last_ts,
         MIN(CASE WHEN event_type = 'purchase'
                   AND value > {_HAZARD_CONV_VALUE} THEN ts END) AS conv_ts
  FROM events GROUP BY user_id
),
per_user AS (
  SELECT CASE WHEN conv_ts IS NOT NULL
              THEN CAST(FLOOR((epoch(conv_ts) - epoch(first_ts)) / 86400)
                        AS BIGINT)
              ELSE CAST(FLOOR((epoch(last_ts) - epoch(first_ts)) / 86400)
                        AS BIGINT) END AS day,
         conv_ts IS NOT NULL AS converted
  FROM u
),
daily AS (
  SELECT day,
         CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_conv,
         CAST(SUM(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT)
           AS n_censored
  FROM per_user GROUP BY day
)
SELECT day,
       CAST(SUM(n_conv + n_censored)
            OVER (ORDER BY day DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_at_risk,
       n_conv, n_censored,
       CAST(n_conv AS DOUBLE)
         / SUM(n_conv + n_censored)
             OVER (ORDER BY day DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS hazard
FROM daily
"""


# --- position_attribution_credit: U-shaped multi-touch model -----------------
# The third standard attribution model next to the Markov
# removal-effect and time-decay queries: 40% credit to the first
# touch, 40% to the last, 20% split evenly across the middle touches
# of each converting user's pre-purchase path (single-touch paths get
# 100%, two-touch 50/50). Credit fractions are exact dyadic/decimal
# rationals only when the middle count divides nicely, so credit is
# accumulated in exact INTEGER MILLI-CREDITS: per-touch credit =
# round(weight*1000/k) with the rounding remainder assigned to the
# first middle touch — total credit per user is exactly 1000, so
# channel sums are integers and the oracle is cell-exact by
# construction (no fp division order anywhere).
#
# Scale shape: per-user paths come from one keyed window (first/last/
# count), per-touch credit is a projection, channel rollup is
# map-side combinable. Same single-shuffle shape as the funnels.


def position_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id")
    conv = events.withColumn(
        "conv_ts",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(w),
    ).filter(F.col("conv_ts").isNotNull())
    touches = conv.filter(
        (F.col("ts") < F.col("conv_ts"))
        & (F.col("event_type") != "purchase")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = (
        touches.withColumn("pos", F.row_number().over(wo))
        .withColumn("n", F.count(F.lit(1)).over(w))
    )
    k_mid = F.col("n") - 2
    base_mid = F.floor(F.lit(200) / k_mid)
    rem = F.lit(200) - base_mid * k_mid
    credit = (
        F.when(F.col("n") == 1, F.lit(1000))
        .when(F.col("n") == 2, F.lit(500))
        .when(F.col("pos") == 1, F.lit(400))
        .when(F.col("pos") == F.col("n"), F.lit(400))
        .when(F.col("pos") == 2, base_mid + rem)  # first middle touch
        .otherwise(base_mid)
    )
    return (
        marked.select("event_type", credit.cast("long").alias("milli"))
        .groupBy("event_type")
        .agg(F.sum("milli").cast("bigint").alias("milli_credit"))
    )


_POSITION_ATTR_SQL = """
WITH conv AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'purchase' THEN ts END)
           AS conv_ts
  FROM events GROUP BY user_id
),
touches AS (
  SELECT e.user_id, e.event_type,
         ROW_NUMBER() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS pos,
         COUNT(*) OVER (PARTITION BY e.user_id) AS n
  FROM events e JOIN conv c USING (user_id)
  WHERE c.conv_ts IS NOT NULL
    AND e.ts < c.conv_ts AND e.event_type <> 'purchase'
)
SELECT event_type,
       CAST(SUM(CASE
         WHEN n = 1 THEN 1000
         WHEN n = 2 THEN 500
         WHEN pos = 1 THEN 400
         WHEN pos = n THEN 400
         WHEN pos = 2 THEN CAST(FLOOR(200 / (n - 2)) AS BIGINT)
                           + 200 - CAST(FLOOR(200 / (n - 2)) AS BIGINT)
                             * (n - 2)
         ELSE CAST(FLOOR(200 / (n - 2)) AS BIGINT)
       END) AS BIGINT) AS milli_credit
FROM touches
GROUP BY event_type
"""


# --- dau_mau_stickiness: the engagement-ratio product metric -----------------
# DAU/MAU per calendar month: average daily distinct actives divided by
# monthly distinct actives — the classic stickiness score (a user
# active every day scores 1.0; drive-by users pull it toward 1/days).
# Everything is exact: two COUNT(DISTINCT) aggregations and one ratio
# of integer-derived doubles, no windows, no floats in the counting.
#
# Scale: daily actives are a (day, user) distinct — map-side
# combinable two-phase aggregate; monthly actives the same at month
# grain. Output is calendar-sized (a model), joined by month.


def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    daily = events.groupBy("month", "day").agg(
        F.count_distinct("user_id").alias("dau")
    )
    dau_m = daily.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("dau").alias("dau_sum"),
    )
    mau_m = events.groupBy("month").agg(
        F.count_distinct("user_id").alias("mau")
    )
    j = dau_m.join(mau_m, "month")
    avg_dau = F.col("dau_sum").cast("double") / F.col("n_days")
    return j.select(
        "month",
        "n_days",
        "mau",
        avg_dau.alias("avg_dau"),
        (avg_dau / F.col("mau")).alias("stickiness"),
    )


_DAU_MAU_SQL = """
WITH e AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(ts AS DATE) AS day, user_id
  FROM events
),
daily AS (
  SELECT month, day, COUNT(DISTINCT user_id) AS dau
  FROM e GROUP BY month, day
),
dau_m AS (
  SELECT month, COUNT(*) AS n_days, SUM(dau) AS dau_sum
  FROM daily GROUP BY month
),
mau_m AS (SELECT month, COUNT(DISTINCT user_id) AS mau FROM e GROUP BY month)
SELECT month, n_days, mau,
       CAST(dau_sum AS DOUBLE) / n_days AS avg_dau,
       CAST(dau_sum AS DOUBLE) / n_days / mau AS stickiness
FROM dau_m JOIN mau_m USING (month)
"""


QUERIES = {
    "dau_mau_stickiness": dau_mau_stickiness,
    "position_attribution_credit": position_attribution_credit,
    "conversion_hazard_table": conversion_hazard_table,
    "attribution_latency_stats": attribution_latency_stats,
    "markov_removal_attribution": markov_removal_attribution,
    "event_transition_matrix": event_transition_matrix,
    "rfm_user_segments": rfm_user_segments,
    "funnel_conversion": funnel_conversion,
    "funnel_window_timeout": funnel_window_timeout,
    "cohort_retention": cohort_retention,
    "sequence_pattern_counts": sequence_pattern_counts,
}

ORACLE = {
    "dau_mau_stickiness": _DAU_MAU_SQL,
    "conversion_hazard_table": _HAZARD_SQL,
    "position_attribution_credit": _POSITION_ATTR_SQL,
    "attribution_latency_stats": _ATTR_LATENCY_SQL,
    "markov_removal_attribution": _MRA_SQL,
    "event_transition_matrix": _TRANSITION_SQL,
    "rfm_user_segments": _RFM_SQL,
    "funnel_conversion": _FUNNEL_SQL,
    "funnel_window_timeout": _FUNNEL_TIMEOUT_SQL,
    "cohort_retention": _COHORT_SQL,
    "sequence_pattern_counts": _SEQ_SQL,
}
