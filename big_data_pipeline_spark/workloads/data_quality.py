"""Data-quality suite over orders as an oracle-checked query."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.quality import (
    expect_accepted_values,
    expect_between,
    expect_not_null,
    expect_unique,
    run_expectations,
)

_STATUSES = ["O", "F", "P"]


def dq_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass expectation suite on orders (see quality/expectations.py:
    all checks fuse into a single aggregation job)."""
    orders = read_table(spark, sf_dir, "orders")
    return run_expectations(
        orders,
        [
            expect_not_null("o_custkey"),
            expect_unique("o_orderkey"),
            expect_between("o_totalprice", 0.0, 1e7),
            expect_accepted_values("o_orderstatus", _STATUSES),
        ],
    )


_DQ_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS v_null,
         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v_uniq,
         COUNT(CASE WHEN NOT (o_totalprice BETWEEN 0.0 AND 1e7) THEN 1 END) AS v_range,
         COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                      OR o_orderstatus IS NULL THEN 1 END) AS v_vals
  FROM orders
)
SELECT r.check, r.violations, agg.n_rows, r.violations = 0 AS passed
FROM agg, (
  SELECT 'not_null_o_custkey' AS check, v_null AS violations FROM agg
  UNION ALL SELECT 'unique_o_orderkey', v_uniq FROM agg
  UNION ALL SELECT 'between_o_totalprice', v_range FROM agg
  UNION ALL SELECT 'accepted_o_orderstatus', v_vals FROM agg
) r
"""


# --- zscore_outlier_orders: statistical anomaly flagging --------------------

# Shared formula text -> identical IEEE evaluation in both engines. All
# inputs are exact integer cents, so the doubles agree bit-for-bit.
_Z = "(xc - s / n) / sqrt((ss - s * s / n) / n)"
_Z_THRESHOLD = 1.5


def zscore_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag orders whose total price sits in the far tail (>1.5
    population-sigma; the synthetic prices are uniform, so |z| is
    bounded by sqrt(3) and a 3-sigma rule can never fire) of their
    priority class — the anomaly-detection companion
    to the expectation suite above.

    Two-pass shape: tiny per-group moment aggregation (map-side
    combinable), broadcast back, z computed rowside in closed form from
    exact integer-cent sums. Z-scores are scale-invariant, so the cent
    scaling cancels and never needs undoing.
    """
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("xc"),
    )
    moments = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("xc").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum((F.col("xc") * F.col("xc")).cast("decimal(38,0)"))
        .cast("double")
        .alias("ss"),
    )
    return (
        orders.join(F.broadcast(moments), "o_orderpriority")
        .withColumn("zscore", F.expr(_Z))
        .filter(F.abs(F.col("zscore")) > _Z_THRESHOLD)
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "zscore")
    )


_ZSCORE_SQL = f"""
WITH cents AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS xc
  FROM orders
),
moments AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(xc AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS s,
         CAST(CAST(SUM(CAST(xc * xc AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS ss
  FROM cents GROUP BY o_orderpriority
)
SELECT o_orderkey, c.o_orderpriority, o_totalprice, {_Z} AS zscore
FROM cents c JOIN moments m ON c.o_orderpriority = m.o_orderpriority
WHERE ABS({_Z}) > {_Z_THRESHOLD}
"""


# --- join_fanout_audit: pre-join blowup / hot-key sanity check --------------
# The pre-flight a 100 TB pipeline runs before an expensive join:
# per-key multiplicity on BOTH sides predicts the exact output
# cardinality (sum over keys of l_count*r_count), surfaces the max
# fan-out and how many hot keys exceed a threshold (salting
# candidates), and counts orphans on each side (referential leaks).
# Two map-side-combinable per-key counts + one full-outer equi-join on
# the key space + one global fold — all integer-exact.

_FANOUT_HOT = 8


def join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    lkeys = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    rkeys = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("rc"))
    )
    both = lkeys.join(rkeys, "key", "full_outer").select(
        F.coalesce("lc", F.lit(0)).alias("lc"),
        F.coalesce("rc", F.lit(0)).alias("rc"),
    )
    return both.agg(
        F.sum((F.col("lc") > 0).cast("long")).alias("n_left_keys"),
        F.sum((F.col("rc") > 0).cast("long")).alias("n_right_keys"),
        F.sum(F.col("lc") * F.col("rc")).alias("predicted_join_rows"),
        F.max(F.col("lc") * F.col("rc")).alias("max_key_fanout"),
        F.sum(
            ((F.col("lc") * F.col("rc")) >= _FANOUT_HOT).cast("long")
        ).alias("n_hot_keys"),
        F.sum(((F.col("rc") == 0)).cast("long")).alias("n_left_orphan_keys"),
        F.sum(((F.col("lc") == 0)).cast("long")).alias("n_right_orphan_keys"),
    )


_FANOUT_SQL = f"""
WITH lkeys AS (
  SELECT o_orderkey AS key, COUNT(*) AS lc FROM orders GROUP BY o_orderkey
),
rkeys AS (
  SELECT l_orderkey AS key, COUNT(*) AS rc FROM lineitem GROUP BY l_orderkey
),
keymult AS (
  SELECT COALESCE(lc, 0) AS lc, COALESCE(rc, 0) AS rc
  FROM lkeys FULL OUTER JOIN rkeys USING (key)
)
SELECT CAST(SUM(CASE WHEN lc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_left_keys,
       CAST(SUM(CASE WHEN rc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_right_keys,
       CAST(SUM(lc * rc) AS BIGINT) AS predicted_join_rows,
       CAST(MAX(lc * rc) AS BIGINT) AS max_key_fanout,
       CAST(SUM(CASE WHEN lc * rc >= {_FANOUT_HOT} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hot_keys,
       CAST(SUM(CASE WHEN rc = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_left_orphan_keys,
       CAST(SUM(CASE WHEN lc = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_right_orphan_keys
FROM keymult
"""


# --- fk_integrity_audit: schema-wide referential integrity ------------------
# The dbt-`relationships`-test shape as one query: for every declared
# FK edge of the corpus schema, count child rows, NULL FKs, orphan rows
# (non-NULL FK with no parent), and distinct orphan keys. join_fanout
# audits ONE join's multiplicity; this audits the whole schema's
# integrity — the gate a lake pipeline runs after every load, before
# downstream joins silently drop rows.
#
# Scale (100 TB): each edge is an independent left join of the child's
# FK column (one narrow projection — column pruning reaches the scan)
# against the parent's distinct key set; dimension parents broadcast,
# fact-fact edges shuffle on the FK — the same shape the production
# join would use, so the audit never costs more than the join it
# protects. Each child's aggregate is one row, stacked into one row per
# edge; the union of children is free.
# Both engines' queries are generated from the same relation list so
# they cannot drift.

_FK_RELATIONS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from pyspark.sql import functions as F

    # r10: child tables with several FK edges (lineitem has three) are
    # scanned ONCE and all their parents attached to the same pass — the
    # per-edge metrics are computable from one joined row set because a
    # left join against a DISTINCT parent key set never fans out. At
    # corpus scale this turns 3 full child scans into 1 (guide §2.4);
    # the per-edge aggregates and the 7-row output are unchanged.
    by_child: dict[str, list[tuple[str, str, str]]] = {}
    for child, fk, parent, pk in _FK_RELATIONS:
        by_child.setdefault(child, []).append((fk, parent, pk))

    # _FK_RELATIONS lists each child's edges together, so one stack() row
    # per edge off each child's single aggregate row keeps its order
    parts = []
    for child, edges in by_child.items():
        joined = read_table(spark, sf_dir, child).select(
            *[F.col(fk).alias(f"fk_{i}") for i, (fk, _, _) in enumerate(edges)]
        )
        for i, (_, parent, pk) in enumerate(edges):
            p = (
                read_table(spark, sf_dir, parent)
                .select(F.col(pk).alias(f"pk_{i}"))
                .distinct()
            )
            joined = joined.join(
                p, F.col(f"fk_{i}") == F.col(f"pk_{i}"), "left"
            )
        aggs = [F.count(F.lit(1)).alias("n_child_rows")]
        for i in range(len(edges)):
            orphan = F.col(f"fk_{i}").isNotNull() & F.col(f"pk_{i}").isNull()
            aggs.extend(
                [
                    # SUM over an empty child is NULL on both engines; an
                    # empty table has zero violations, so pin 0
                    F.coalesce(
                        F.sum(F.col(f"fk_{i}").isNull().cast("long")),
                        F.lit(0),
                    ).alias(f"n_null_fk_{i}"),
                    F.coalesce(F.sum(orphan.cast("long")), F.lit(0)).alias(
                        f"n_orphan_rows_{i}"
                    ),
                    F.count_distinct(
                        F.when(orphan, F.col(f"fk_{i}"))
                    ).alias(f"n_orphan_keys_{i}"),
                ]
            )
        rows = ", ".join(
            f"'{child}.{fk}->{parent}.{pk}', n_child_rows, n_null_fk_{i}, "
            f"n_orphan_rows_{i}, n_orphan_keys_{i}"
            for i, (fk, parent, pk) in enumerate(edges)
        )
        parts.append(
            joined.agg(*aggs).selectExpr(
                f"stack({len(edges)}, {rows}) AS (relation, n_child_rows, "
                "n_null_fk, n_orphan_rows, n_orphan_keys)"
            )
        )
    return reduce(lambda a, b: a.unionAll(b), parts)


def _fk_audit_sql() -> str:
    selects = []
    for child, fk, parent, pk in _FK_RELATIONS:
        selects.append(f"""
SELECT '{child}.{fk}->{parent}.{pk}' AS relation,
       COUNT(*) AS n_child_rows,
       CAST(COALESCE(SUM(CASE WHEN fk IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_null_fk,
       CAST(COALESCE(SUM(CASE WHEN fk IS NOT NULL AND pk IS NULL
                         THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_orphan_rows,
       COUNT(DISTINCT CASE WHEN fk IS NOT NULL AND pk IS NULL THEN fk END)
         AS n_orphan_keys
FROM (SELECT {fk} AS fk FROM {child}) c
LEFT JOIN (SELECT DISTINCT {pk} AS pk FROM {parent}) p ON c.fk = p.pk
""")
    return " UNION ALL ".join(selects)


# --- measure_corr_matrix: per-group Pearson correlation profiling -----------
# The column-profiling step a lake pipeline runs before feature
# selection / drift monitoring: pairwise Pearson correlation of the
# lineitem measures (quantity, extended price, discount) within each
# return-flag class, long-form output. Moments accumulate as exact
# DECIMAL(38,0) sums of integer-scaled values (quantities are whole,
# prices exact cents, discounts exact hundredths), convert once to
# double, and both engines evaluate the IDENTICAL closed-form text —
# every arithmetic step is the same IEEE-754 op stream, so the doubles
# are bit-equal without any rounding fudge.
#
# Scale (100 TB): one narrow scan, one map-side-combinable aggregation
# onto |return flags| = 3 keys, then a kilobyte-sized reshape. This is
# the cheapest possible shape for a full-table statistic — no window,
# no second scan, no Python.

# degenerate guard as in _RHO below: a zero-variance column yields NULL
# instead of an ANSI DIVIDE_BY_ZERO (cannot happen on the TPC-H-ish
# measures, but the operator must not crash on a constant column)
_CORR = (
    "CASE WHEN (n * sxx - sx * sx) <= CAST(0 AS DOUBLE)"
    " OR (n * syy - sy * sy) <= CAST(0 AS DOUBLE) THEN NULL"
    " ELSE (n * sxy - sx * sy) / "
    "(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END"
)


def _corr_expr(x: str, y: str) -> str:
    return (
        _CORR.replace("sxy", f"s_{x}{y}")
        .replace("sxx", f"s_{x}{x}")
        .replace("syy", f"s_{y}{y}")
        .replace("sx", f"s_{x}")
        .replace("sy", f"s_{y}")
    )


def measure_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("q"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("p"),
        F.expr("CAST(ROUND(l_discount * 100) AS BIGINT)").alias("d"),
    )

    def dsum(expr: str, alias: str):
        return (
            F.sum(F.expr(expr).cast("decimal(38,0)"))
            .cast("double")
            .alias(alias)
        )

    moments = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("q", "s_q"),
        dsum("p", "s_p"),
        dsum("d", "s_d"),
        dsum("q * q", "s_qq"),
        dsum("p * p", "s_pp"),
        dsum("d * d", "s_dd"),
        dsum("q * p", "s_qp"),
        dsum("q * d", "s_qd"),
        dsum("p * d", "s_pd"),
    )
    pairs = [
        ("quantity~extendedprice", _corr_expr("q", "p")),
        ("quantity~discount", _corr_expr("q", "d")),
        ("extendedprice~discount", _corr_expr("p", "d")),
    ]
    stack = ", ".join(f"'{name}', {expr}" for name, expr in pairs)
    return moments.select(
        "l_returnflag",
        F.expr(f"stack({len(pairs)}, {stack}) AS (pair, corr)"),
    ).select("l_returnflag", "pair", "corr")


def _corr_matrix_sql() -> str:
    def dsum_sql(expr: str, alias: str) -> str:
        from big_data_pipeline_spark.oracle import _dec_to_double_sql

        return (
            _dec_to_double_sql(f"SUM(CAST({expr} AS DECIMAL(38,0)))")
            + f" AS {alias}"
        )

    sums = ",\n         ".join(
        [
            dsum_sql("q", "s_q"),
            dsum_sql("p", "s_p"),
            dsum_sql("d", "s_d"),
            dsum_sql("q * q", "s_qq"),
            dsum_sql("p * p", "s_pp"),
            dsum_sql("d * d", "s_dd"),
            dsum_sql("q * p", "s_qp"),
            dsum_sql("q * d", "s_qd"),
            dsum_sql("p * d", "s_pd"),
        ]
    )
    arms = " UNION ALL ".join(
        f"SELECT l_returnflag, '{name}' AS pair, {expr} AS corr FROM moments"
        for name, expr in [
            ("quantity~extendedprice", _corr_expr("q", "p")),
            ("quantity~discount", _corr_expr("q", "d")),
            ("extendedprice~discount", _corr_expr("p", "d")),
        ]
    )
    return f"""
WITH scaled AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS d
  FROM lineitem
),
moments AS (
  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
         {sums}
  FROM scaled GROUP BY l_returnflag
)
{arms}
"""


# --- benford_deviation_audit: first-digit fraud/corruption screen -----------
# Benford's-law conformance of order totals per priority class: observed
# vs expected leading-digit shares plus the per-class chi-square
# statistic — the classic forensic screen for fabricated or truncated
# numeric feeds (Nigrini 2012; first-digit law: P(d) = log10(1 + 1/d)).
# The expected shares are Python-repr'd double literals embedded in BOTH
# engines' expression text (repr round-trips exactly; strtod parses
# correctly-rounded in both), counts are exact integers, each per-row
# double derives through the identical IEEE op stream, and the
# chi-square contributions accumulate as DECIMAL(38,6) so the group sum
# is order-insensitive. Absent digits materialize via a priority x 1..9
# grid so zero-count cells still contribute n*P(d) to the statistic.
#
# Scale (100 TB): one map-side-combinable count onto (|priorities| x 9)
# keys; everything after the first aggregation is kilobytes. The
# uniform synthetic prices should NOT be Benford-conformant — the audit
# flagging a synthetic feed is the demo working as intended.

import math as _math

_BENFORD_CASE = (
    "CASE digit "
    + " ".join(
        # CAST: a bare numeric literal parses as DECIMAL in Spark SQL
        # but the share math must run entirely in double
        f"WHEN {d} THEN CAST({_math.log10(1.0 + 1.0 / d)!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    + " END"
)
_CONTRIB = "n_total * (obs_share - exp_share) * (obs_share - exp_share) / exp_share"


def benford_deviation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    digits = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(
            "CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit"),
    )
    counts = digits.groupBy("o_orderpriority", "digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    totals = digits.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    grid = totals.select(
        "o_orderpriority",
        "n_total",
        F.explode(
            F.sequence(F.lit(1).cast("bigint"), F.lit(9).cast("bigint"))
        ).alias("digit"),
    )
    cell = (
        grid.join(counts, ["o_orderpriority", "digit"], "left")
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0)))
        .withColumn(
            "obs_share", F.col("n_obs").cast("double") / F.col("n_total")
        )
        .withColumn("exp_share", F.expr(_BENFORD_CASE))
        .withColumn("contrib", F.expr(_CONTRIB))
    )
    chi2 = cell.groupBy("o_orderpriority").agg(
        F.sum(F.col("contrib").cast("decimal(38,6)"))
        .cast("double")
        .alias("chi2")
    )
    return cell.join(F.broadcast(chi2), "o_orderpriority").select(
        "o_orderpriority", "digit", "n_obs", "obs_share", "exp_share", "chi2"
    )


def _benford_sql() -> str:
    from big_data_pipeline_spark.oracle import _dec_to_double_sql

    chi2 = _dec_to_double_sql("SUM(CAST(contrib AS DECIMAL(38,6)))")
    return f"""
WITH digits AS (
  SELECT o_orderpriority,
         CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
              AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
),
counts AS (
  SELECT o_orderpriority, digit, COUNT(*) AS n_obs
  FROM digits GROUP BY o_orderpriority, digit
),
totals AS (
  SELECT o_orderpriority, COUNT(*) AS n_total
  FROM digits GROUP BY o_orderpriority
),
grid AS (
  SELECT o_orderpriority, n_total, CAST(d AS BIGINT) AS digit
  FROM totals, UNNEST(range(1, 10)) AS u(d)
),
cell AS (
  SELECT g.o_orderpriority, g.digit,
         COALESCE(c.n_obs, 0) AS n_obs,
         CAST(COALESCE(c.n_obs, 0) AS DOUBLE) / g.n_total AS obs_share,
         {_BENFORD_CASE.replace("digit", "g.digit")} AS exp_share,
         g.n_total AS n_total
  FROM grid g LEFT JOIN counts c
    ON g.o_orderpriority = c.o_orderpriority AND g.digit = c.digit
),
contribs AS (
  SELECT *, {_CONTRIB} AS contrib FROM cell
),
chi AS (
  SELECT o_orderpriority, {chi2} AS chi2
  FROM contribs GROUP BY o_orderpriority
)
SELECT c.o_orderpriority, digit, n_obs, obs_share, exp_share, chi2
FROM contribs c JOIN chi USING (o_orderpriority)
"""


# --- table_profile_summary: one-pass column profiling ------------------------
# The deequ/dbt-style column profiler: per column of orders, null count,
# distinct count, and min/max rendered to one uniform string column
# (integer/date casts are identical across engines; doubles go through
# C-style %.2f on cents-exact values so both engines print the same
# digits). Long-form output, one row per column.
#
# Scale (100 TB): a single scan; the distinct counts are the only
# expensive part (each adds an Expand duplicate of the projected rows,
# shuffled on its column) — exactly what a production profiler pays
# unless it downgrades to approx_count_distinct, which stays the
# documented switch (the sketch family: workloads/llm_pipeline.py).

_PROFILE_COLS = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "str"),
)


def _render(kind: str, expr: str, strtype: str = "VARCHAR") -> str:
    if kind == "money":
        return f"printf('%.2f', {expr})"
    return f"CAST({expr} AS {strtype})"


def table_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders")
    # Two aggregates, deliberately: mixing the multi-column
    # count_distincts (an Expand that duplicates every row 7×) with
    # min/max over STRING columns forces the whole aggregate onto the
    # SortAggregate fallback (string agg buffers are not hash-mutable),
    # i.e. a full sort of the 7×-expanded table — the before-plan's
    # dominant cost. Split, the distinct pass stays pure HashAggregate
    # over the Expand, and the min/max/null pass is a global aggregate
    # with no grouping keys, so its sort-based fallback sorts nothing.
    # Both are 1-row results; the crossJoin is free.
    dist_aggs = [
        F.count_distinct(F.col(col)).alias(f"dist_{col}")
        for col, _ in _PROFILE_COLS
    ]
    rest_aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, kind in _PROFILE_COLS:
        rest_aggs += [
            F.sum(F.col(col).isNull().cast("long")).alias(f"nulls_{col}"),
            F.expr(
                _render(kind, f"MIN({col})", "STRING").replace(
                    "printf", "format_string"
                )
            ).alias(f"min_{col}"),
            F.expr(
                _render(kind, f"MAX({col})", "STRING").replace(
                    "printf", "format_string"
                )
            ).alias(f"max_{col}"),
        ]
    wide = orders.agg(*rest_aggs).crossJoin(
        F.broadcast(orders.agg(*dist_aggs))
    )
    stack = ", ".join(
        f"'{col}', nulls_{col}, dist_{col}, min_{col}, max_{col}"
        for col, _ in _PROFILE_COLS
    )
    return wide.select(
        F.col("n_rows"),
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) "
            "AS (column, n_nulls, n_distinct, min_value, max_value)"
        ),
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


def _profile_sql() -> str:
    arms = " UNION ALL ".join(
        f"""
SELECT '{col}' AS column, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       COUNT(DISTINCT {col}) AS n_distinct,
       {_render(kind, f"MIN({col})")} AS min_value,
       {_render(kind, f"MAX({col})")} AS max_value
FROM orders"""
        for col, kind in _PROFILE_COLS
    )
    return arms


# --- spearman_rank_corr: rank correlation, exact under ties -----------------
# Spearman's rho = Pearson correlation of the AVERAGE ranks — the
# robust monotone-association twin of measure_corr_matrix, immune to
# the outliers/nonlinearity that distort Pearson on raw values. The
# tie-handling is the exactness trick: avg rank = cnt_less +
# (cnt_eq + 1)/2, so DOUBLED ranks 2*cum - cnt_eq + 1 (cum = inclusive
# running count) are INTEGERS, Pearson is scale-invariant, and the
# whole statistic reduces to the integer-moment closed form — exact
# DECIMAL(38,0) sums, one shared IEEE expression, no rounding fudge.
#
# Scale (100 TB): per-(flag, value) counts are map-side combinable;
# the rank prefix needs a per-flag value order — flag is 3-valued, the
# textbook low-cardinality window trap — so the cumulative count rides
# the 32-way sharded prefix sum. Ranks join back on (flag, value)
# (row-scale shuffle joins, the inherent cost of rank transforms), and
# the moments collapse onto 3 keys.

# degenerate guard (all-tied column -> zero rank variance): NULL, not a
# DIVIDE_BY_ZERO under ANSI — found by the hypothesis monotone-
# invariance property, same CASE text in both engines
_RHO = (
    "CASE WHEN (n * sqq - sq * sq) <= CAST(0 AS DOUBLE)"
    " OR (n * spp - sp * sp) <= CAST(0 AS DOUBLE) THEN NULL"
    " ELSE (n * srr - sq * sp) / "
    "(sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)) END"
)


def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("q"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("p"),
    )
    # BOTH per-(flag, value) count frames from ONE lineitem pass (r9
    # verdict item 6: lineitem scans 3 → 2): GROUPING SETS ((flag, q),
    # (flag, p)) computes the two marginals in a single scan + a single
    # exchange of map-side-combined partials. grouping_id() — not value
    # nullness — discriminates the sets. Each marginal's counts are
    # identical to a standalone groupBy, so ranks (and the oracle hash)
    # are unchanged. The checkpointed frame is |distinct values|-sized,
    # the already-reduced side, cheap at any input size; the sharded
    # prefix sum consumes its p-slice three times (boundary probe,
    # local window, offsets) as cache reads.
    marg = (
        li.groupingSets(
            [["l_returnflag", "q"], ["l_returnflag", "p"]],
            "l_returnflag",
            "q",
            "p",
        )
        .agg(F.count(F.lit(1)).alias("cnt"), F.grouping_id().alias("gid"))
        # lazy: the sharded prefix sum's approxQuantile boundary probe
        # is the first action over this frame and is a full pass, so it
        # materializes the lineage cut in the same job (r9 convention)
        .localCheckpoint(eager=False)
    )
    # gid bit order follows (l_returnflag, q, p): aggregated-away p →
    # gid 1 (the q marginal), aggregated-away q → gid 2 (the p marginal)
    marg_cnts = {
        "q": marg.filter(F.col("gid") == 1).select("l_returnflag", "q", "cnt"),
        "p": marg.filter(F.col("gid") == 2).select("l_returnflag", "p", "cnt"),
    }

    def ranks2(col: str) -> DataFrame:
        run = sharded_running_sum(
            marg_cnts[col], ["l_returnflag"], col, "cnt", "cum",
            tiebreak_cols=[],
        )
        return run.select(
            "l_returnflag",
            col,
            (2 * F.col("cum") - F.col("cnt") + 1).alias(f"r_{col}"),
        )

    def ranks_bounded(col: str) -> DataFrame:
        # quantity's domain is bounded (integral 1..50 per flag), so the
        # rank table is ~150 rows: a plain cumulative window over it is
        # safe at ANY corpus size (partition = |domain|, not |rows|) and
        # skips the prefix-sum's approxQuantile pre-job. Price keeps the
        # sharded path — its distinct count grows with the data.
        from pyspark.sql import Window

        w = (
            Window.partitionBy("l_returnflag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return marg_cnts[col].select(
            "l_returnflag",
            col,
            (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).alias(f"r_{col}"),
        )

    ranked = li.join(ranks2("p"), ["l_returnflag", "p"]).join(
        F.broadcast(ranks_bounded("q")), ["l_returnflag", "q"]
    )

    def dsum(expr: str, alias: str):
        return (
            F.sum(F.expr(expr).cast("decimal(38,0)"))
            .cast("double")
            .alias(alias)
        )

    moments = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("r_q", "sq"),
        dsum("r_p", "sp"),
        dsum("r_q * r_q", "sqq"),
        dsum("r_p * r_p", "spp"),
        dsum("r_q * r_p", "srr"),
    )
    return moments.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.expr(_RHO).alias("spearman_rho"),
    )


def _spearman_sql() -> str:
    from big_data_pipeline_spark.oracle import _dec_to_double_sql

    def dsum_sql(expr: str, alias: str) -> str:
        return (
            _dec_to_double_sql(f"SUM(CAST({expr} AS DECIMAL(38,0)))")
            + f" AS {alias}"
        )

    def rank_cte(col: str) -> str:
        return f"""
r_{col} AS (
  SELECT l_returnflag, {col},
         2 * CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY {col}
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           - cnt + 1 AS r_{col}
  FROM (SELECT l_returnflag, {col}, COUNT(*) AS cnt
        FROM scaled GROUP BY 1, 2)
)"""

    return f"""
WITH scaled AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem
),
{rank_cte('q')},
{rank_cte('p')},
moments AS (
  SELECT s.l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_sql('r_q', 'sq')},
         {dsum_sql('r_p', 'sp')},
         {dsum_sql('r_q * r_q', 'sqq')},
         {dsum_sql('r_p * r_p', 'spp')},
         {dsum_sql('r_q * r_p', 'srr')}
  FROM scaled s
  JOIN r_q USING (l_returnflag, q)
  JOIN r_p USING (l_returnflag, p)
  GROUP BY 1
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows, {_RHO} AS spearman_rho
FROM moments
"""


# --- mad_robust_outliers: median/MAD outlier gate ---------------------------
# The robust twin of zscore_outlier_orders: the z-score gate breaks
# when outliers inflate the mean/stddev themselves, so production DQ
# uses median + MAD (median absolute deviation). Flag = |x - med| >
# 3 * MAD, per priority class. Exact medians: both engines define
# median as the lower/upper-middle average; inputs are cents-exact
# doubles, and (a+b)/2 of exact cents is the identical IEEE value, so
# the medians — and every derived comparison — hash-match without any
# rounding. Output is per-class counts + the two robust statistics.
#
# Scale (100 TB): exact per-group medians need a per-group sort — two
# ordered passes (median, then MAD of deviations), each shuffling on
# the 5-value priority key. That key is low-cardinality, so at real
# scale the documented swap is approx_percentile(0.5) (one
# map-combinable sketch, no sort); the exact form is kept here because
# it is the oracle-checkable semantics, and the group count (not row
# count) bounds the final join — both sides of each enrich join are
# 5-row broadcasts.

_MAD_K = 3


def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").alias("x")
    )
    med = orders.groupBy("o_orderpriority").agg(F.median("x").alias("med"))
    dev = orders.join(F.broadcast(med), "o_orderpriority").withColumn(
        "adev", F.abs(F.col("x") - F.col("med"))
    )
    mad = dev.groupBy("o_orderpriority").agg(F.median("adev").alias("mad"))
    flagged = dev.join(F.broadcast(mad), "o_orderpriority").withColumn(
        "is_out", (F.col("adev") > _MAD_K * F.col("mad")).cast("long")
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum("is_out").alias("n_outliers"),
        )
        .select("o_orderpriority", "n_rows", "med", "mad", "n_outliers")
    )


_MAD_SQL = f"""
WITH med AS (
  SELECT o_orderpriority, MEDIAN(o_totalprice) AS med
  FROM orders GROUP BY o_orderpriority
),
dev AS (
  SELECT o.o_orderpriority, ABS(o.o_totalprice - m.med) AS adev, m.med
  FROM orders o JOIN med m USING (o_orderpriority)
),
mad AS (
  SELECT o_orderpriority, MEDIAN(adev) AS mad
  FROM dev GROUP BY o_orderpriority
)
SELECT d.o_orderpriority,
       COUNT(*) AS n_rows,
       ANY_VALUE(d.med) AS med,
       ANY_VALUE(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (o_orderpriority)
GROUP BY d.o_orderpriority
"""


# --- ks_drift_stat: exact two-sample Kolmogorov-Smirnov ---------------------
# The distribution-drift detector: exact two-sample KS statistic
# D = max_x |F_click(x) - F_purchase(x)| between the value
# distributions of two event families, evaluated at every observed
# value (the exact sup for step CDFs). All inputs to the sup are
# rationals of integer counts (cum_i / n_i), so every candidate |ΔCDF|
# is the identical IEEE double in both engines; the argmax value
# reported alongside tie-breaks to the smallest x attaining D.
#
# Scale (100 TB): per-value counts are one map-side-combinable groupBy;
# the cumulative counts need a GLOBAL value order — the single-task
# window trap again — so both running sums ride the 32-way sharded
# prefix sum over the (distinct-value)-sized frame. The final sup is a
# 1-row aggregate joined back for the argmax.

_KS_A, _KS_B = "click", "purchase"


def ks_drift_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.operators.prefix import sharded_running_sums

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_KS_A, _KS_B))
        # NULL measurements carry no CDF position, and the engines
        # disagree on NULL placement in ORDER BY (Spark FIRST, DuckDB
        # LAST) — drop them explicitly in both formulations
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    # materialize the per-value count frame once: the sharded prefix sum
    # consumes it three times (boundary probe, local window, offsets) and
    # the totals aggregate a fourth — each replay re-ran the events scan
    # + groupBy. |distinct values|-sized: the reduced side.
    per_val = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == _KS_A).cast("long")).alias("c_a"),
        F.sum((F.col("event_type") == _KS_B).cast("long")).alias("c_b"),
    ).localCheckpoint(eager=True)
    # both empirical CDFs ride ONE prefix-sum pass (same total order)
    run = sharded_running_sums(
        per_val, [], "value", [("c_a", "cum_a"), ("c_b", "cum_b")],
        tiebreak_cols=[],
    )
    totals = per_val.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    diffs = run.crossJoin(F.broadcast(totals)).withColumn(
        "d",
        F.abs(
            F.col("cum_a") / F.col("n_a") - F.col("cum_b") / F.col("n_b")
        ),
    )
    sup = diffs.agg(F.max("d").alias("ks_stat"))
    return (
        diffs.crossJoin(F.broadcast(sup))
        .filter(F.col("d") == F.col("ks_stat"))
        .groupBy("n_a", "n_b", "ks_stat")
        .agg(F.min("value").alias("at_value"))
        .select("n_a", "n_b", "ks_stat", "at_value")
    )


_KS_SQL = f"""
WITH per_val AS (
  SELECT value,
         CAST(SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_a,
         CAST(SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_b
  FROM events
  WHERE event_type IN ('{_KS_A}', '{_KS_B}') AND value IS NOT NULL
  GROUP BY value
),
run AS (
  SELECT value,
         CAST(SUM(c_a) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_a,
         CAST(SUM(c_b) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_b
  FROM per_val
),
totals AS (
  SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b
  FROM per_val
),
diffs AS (
  SELECT value, ABS(CAST(cum_a AS DOUBLE) / n_a
                    - CAST(cum_b AS DOUBLE) / n_b) AS d, n_a, n_b
  FROM run, totals
),
sup AS (SELECT MAX(d) AS ks_stat FROM diffs)
SELECT n_a, n_b, ks_stat, MIN(value) AS at_value
FROM diffs, sup WHERE d = ks_stat
GROUP BY n_a, n_b, ks_stat
"""


# --- equidepth_histogram: ANALYZE-style equi-depth statistics ---------------
# The optimizer-statistics primitive (equi-depth histogram of
# o_totalprice, 10 buckets): what ANALYZE builds for selectivity
# estimation and what drift monitors diff week over week. Duplicates
# are atomic — a value belongs to the bucket of its LAST row's global
# rank, floor((cum-1)*B/n) — so the histogram is a pure function of the
# value multiset (no arbitrary row split across buckets). Everything is
# integer counts plus min/max of cents-exact doubles: hash-exact.
#
# Scale (100 TB): per-value counts combine map-side; the global rank is
# the sharded prefix sum over the distinct-value frame (never a
# single-task ORDER BY n rows — the trap in the naive
# ntile-over-everything formulation); the bucket reduce is 10 keys.

_HIST_BUCKETS = 10


def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    # materialize the per-value count frame once: the sharded prefix sum
    # consumes it three times and the n_rows total a fourth — each replay
    # re-ran the orders scan + groupBy. |distinct values|-sized.
    per_val = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    run = sharded_running_sum(
        per_val, [], "v", "cnt", "cum", tiebreak_cols=[]
    )
    n_rows = per_val.agg(F.sum("cnt").alias("n"))
    bucket = F.floor(
        (F.col("cum") - 1) * _HIST_BUCKETS / F.col("n")
    ).cast("long")
    return (
        run.crossJoin(F.broadcast(n_rows))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum("cnt").alias("n_in_bucket"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
    )


_HIST_SQL = f"""
WITH per_val AS (
  SELECT o_totalprice AS v, COUNT(*) AS cnt FROM orders GROUP BY 1
),
run AS (
  SELECT v, cnt,
         CAST(SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM per_val
),
n_rows AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM per_val)
SELECT CAST(FLOOR((cum - 1) * {_HIST_BUCKETS} / n) AS BIGINT) AS bucket,
       COUNT(*) AS n_values,
       CAST(SUM(cnt) AS BIGINT) AS n_in_bucket,
       MIN(v) AS lo,
       MAX(v) AS hi
FROM run, n_rows
GROUP BY 1
"""


# --- mannwhitney_shift_test: rank-sum location-shift detector ---------------
# The Mann-Whitney U / Wilcoxon rank-sum statistic between the same two
# event families as ks_drift_stat — the complementary drift probe (KS
# sees any shape change; U targets location shift) and the
# nonparametric effect size AUC = U/(n_a*n_b) = P(a > b) + P(a = b)/2.
# Doubled mid-ranks over the combined sample are integers (the
# spearman_rank_corr trick), so R2_a = Σ c_a·r2 is an exact integer
# sum, U2_a = R2_a - n_a(n_a+1) stays integral, and AUC is one rational
# of integers — hash-exact with no float aggregation anywhere.
#
# Scale (100 TB): identical shape to ks_drift_stat — one combinable
# per-value count, one sharded prefix over the distinct-value frame,
# then a 1-row aggregate. The invariant U2_a + U2_b = 2·n_a·n_b is
# emitted as a checked column (both engines must agree it holds).


def mannwhitney_shift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_KS_A, _KS_B))
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    # materialize once — same reasoning as ks_drift_stat's per_val (the
    # prefix sum's three consumers each replayed the events scan+groupBy)
    per_val = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == _KS_A).cast("long")).alias("c_a"),
        F.sum((F.col("event_type") == _KS_B).cast("long")).alias("c_b"),
    ).localCheckpoint(eager=True)
    run = sharded_running_sum(
        per_val.withColumn("cnt", F.col("c_a") + F.col("c_b")),
        [],
        "value",
        "cnt",
        "cum",
        tiebreak_cols=[],
    ).withColumn("r2", 2 * F.col("cum") - F.col("cnt") + 1)
    sums = run.agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_b").alias("n_b"),
        F.sum(F.expr("c_a * r2").cast("decimal(38,0)"))
        .cast("long")
        .alias("r2_a"),
    )
    u2_a = F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)
    return sums.select(
        "n_a",
        "n_b",
        u2_a.alias("u2_a"),
        (
            u2_a.cast("double") / (2 * F.col("n_a") * F.col("n_b"))
        ).alias("auc_a_over_b"),
    )


_MWU_SQL = f"""
WITH per_val AS (
  SELECT value,
         CAST(SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_a,
         CAST(SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_b
  FROM events
  WHERE event_type IN ('{_KS_A}', '{_KS_B}') AND value IS NOT NULL
  GROUP BY value
),
run AS (
  SELECT c_a, c_b,
         2 * CAST(SUM(c_a + c_b) OVER (ORDER BY value
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
           - (c_a + c_b) + 1 AS r2
  FROM per_val
),
sums AS (
  SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
         CAST(SUM(c_b) AS BIGINT) AS n_b,
         CAST(SUM(CAST(c_a * r2 AS DECIMAL(38,0))) AS BIGINT) AS r2_a
  FROM run
)
SELECT n_a, n_b,
       r2_a - n_a * (n_a + 1) AS u2_a,
       CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) / (2 * n_a * n_b)
         AS auc_a_over_b
FROM sums
"""


# --- fd_violation_audit: approximate-functional-dependency discovery --------
# The profiling step behind constraint mining / schema documentation
# (FD discovery a la TANE, reduced to a fixed candidate set): for each
# candidate X -> Y, count determinant groups, groups where Y is not
# unique, and the worst fan-out. The candidate list mixes held and
# violated dependencies so the output exercises both branches.
#
# Scale (100 TB): each FD is groupBy(X) + count_distinct(Y) — partial
# aggregation map-side, one shuffle on X per FD, then a single-row
# reduce; the per-FD rows union into a kilobyte report. No windows, no
# joins, no Python. violation_rate is one int/int double division —
# bit-identical across engines.

_FD_CANDIDATES = (
    ("part", "p_brand", "p_type"),
    ("part", "p_name", "p_brand"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderstatus"),
    ("lineitem", "l_orderkey", "l_returnflag"),
)


def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for table, det, dep in _FD_CANDIDATES:
        grouped = (
            read_table(spark, sf_dir, table)
            .groupBy(det)
            .agg(F.count_distinct(dep).alias("nd"))
        )
        parts.append(
            grouped.agg(
                F.lit(f"{table}: {det} -> {dep}").alias("fd"),
                F.count(F.lit(1)).alias("n_groups"),
                F.coalesce(
                    F.sum((F.col("nd") > 1).cast("long")), F.lit(0)
                ).alias("n_violating"),
                F.coalesce(F.max("nd"), F.lit(0)).alias("max_distinct_dep"),
            ).select(
                "*",
                (
                    F.col("n_violating").cast("double") / F.col("n_groups")
                ).alias("violation_rate"),
            )
        )
    return reduce(lambda a, b: a.unionAll(b), parts)


def _fd_audit_sql() -> str:
    selects = []
    for table, det, dep in _FD_CANDIDATES:
        selects.append(f"""
SELECT '{table}: {det} -> {dep}' AS fd,
       COUNT(*) AS n_groups,
       CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_violating,
       CAST(COALESCE(MAX(nd), 0) AS BIGINT) AS max_distinct_dep,
       CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS DOUBLE)
         / COUNT(*) AS violation_rate
FROM (
  SELECT {det}, COUNT(DISTINCT {dep}) AS nd FROM {table} GROUP BY {det}
) g
""")
    return " UNION ALL ".join(selects)


# --- table_checksum_audit: order-insensitive migration checksums ------------
# The cross-system validation step of a lake migration (and of this
# repo's own oracle discipline, turned into a first-class operator):
# per table, an order-insensitive content checksum = SUM over rows of
# the first 48 bits of md5(canonical row string), accumulated as
# DECIMAL(38,0) so the sum is exact at any row count. Two systems that
# hold the same rows produce the same (n_rows, checksum) regardless of
# row order, partitioning, or file layout. Only stably-castable column
# types participate (ints / strings / dates) — float formatting is not
# portable across engines, which is exactly why a checksum over casts
# must exclude it.
#
# Scale (100 TB): one narrow scan per table, all work in the map phase
# (md5 + 12-digit hex fold inside codegen), a single global SUM — the
# cheapest full-corpus integrity proof there is. The 48-bit truncation
# keeps per-row values < 2^48 so even 10^12 rows stay far inside
# DECIMAL(38,0); collisions cancel only if multisets already match on
# 48-bit marginals (adversarial, not operational, risk).

_CHECKSUM_COLS = (
    ("region", ("r_regionkey", "r_name")),
    ("nation", ("n_nationkey", "n_name", "n_regionkey")),
    ("customer", ("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
    ("supplier", ("s_suppkey", "s_name", "s_nationkey")),
    ("part", ("p_partkey", "p_name", "p_brand", "p_type", "p_size")),
    (
        "orders",
        ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
         "o_orderpriority"),
    ),
    (
        "lineitem",
        ("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
         "l_shipdate"),
    ),
    ("events", ("event_id", "user_id", "event_type")),
    ("documents", ("doc_id", "lang", "source", "n_chars")),
    ("embeddings", ("vec_id", "label")),
)

_HEX_DIGITS = "0123456789abcdef"


def _row_hash48_expr(
    cols: tuple[str, ...], cast_type: str, spark_fold: bool = False
) -> str:
    """48-bit integer from md5 of the '|'-joined casted row.

    ``spark_fold=True`` parses the 12 hex digits with ONE
    ``conv(.., 16, 10)`` call instead of 12 instr/substr digit terms —
    the same integer (conv is exact radix parsing, 48 bits < 2^63), at
    a fraction of the per-row expression cost (r10: the fold dominated
    the checksum scan CPU). DuckDB has no conv(), so the oracle keeps
    the digit-fold text; the value equality is what the driver's
    cell-exact hash check verifies."""
    joined = ", ".join(f"CAST({c} AS {cast_type})" for c in cols)
    h = f"md5(concat_ws('|', {joined}))"
    if spark_fold:
        return f"CAST(conv(substr({h}, 1, 12), 16, 10) AS BIGINT)"
    parts = []
    for i in range(12):
        # digit widened to BIGINT before the multiply: INT * INT would
        # overflow 32 bits at the high place values (ANSI mode throws)
        parts.append(
            f"CAST(instr('{_HEX_DIGITS}', substr({h}, {i + 1}, 1)) - 1"
            f" AS BIGINT) * {16 ** (11 - i)}"
        )
    return "(" + " + ".join(parts) + ")"


def table_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for table, cols in _CHECKSUM_COLS:
        v = _row_hash48_expr(cols, "STRING", spark_fold=True)
        df = read_table(spark, sf_dir, table).select(
            F.expr(v).cast("decimal(38,0)").alias("v")
        )
        parts.append(
            df.agg(
                F.lit(table).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(
                    F.sum("v"), F.lit(0).cast("decimal(38,0)")
                ).cast("string").alias("checksum"),
            )
        )
    return reduce(lambda a, b: a.unionAll(b), parts)


def _checksum_sql() -> str:
    selects = []
    for table, cols in _CHECKSUM_COLS:
        v = _row_hash48_expr(cols, "VARCHAR")
        selects.append(f"""
SELECT '{table}' AS table_name,
       COUNT(*) AS n_rows,
       CAST(COALESCE(SUM(CAST({v} AS DECIMAL(38,0))),
                     CAST(0 AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM {table}
""")
    return " UNION ALL ".join(selects)


# --- poisson_bootstrap_means: resampled uncertainty at scan cost ------------
# The Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google 2012): classic bootstrap resampling is
# impossible at 100 TB (you cannot draw N rows with replacement B
# times), but Poisson(1) per-row replica weights are exchangeable with
# multinomial resampling as N grows — and they stream: each row
# contributes w_b ~ Poisson(1) to replica b independently, so ALL B
# resampled means come out of ONE scan as 2·B aggregates (Σ w·x, Σ w),
# map-side combinable, a single global reduce row, then a B-row
# reshape. Weights here are DETERMINISTIC — inverse-CDF lookup on a
# uniform carved from md5(o_orderkey || ':' || b) — so reruns (and the
# DuckDB oracle) reproduce the replica set bit-for-bit: the md5-digit
# fold is exact integer arithmetic, the CDF thresholds are shared
# round-trip double literals, and each replica mean is exact-decimal
# Σw·cents divided once into double.

_BOOT_B = 16


def _pois_cdf() -> tuple[float, ...]:
    # cumulative Poisson(1) CDF at k = 0..4: e^-1 · Σ_{i<=k} 1/i!.
    # Emitted into both engines' SQL via repr() (shortest round-trip
    # literals), so the weight branch compares identical doubles.
    import math

    acc, fact, out = 0.0, 1.0, []
    for k in range(5):
        if k > 0:
            fact *= k
        acc += math.exp(-1.0) / fact
        out.append(acc)
    return tuple(out)


_POIS_CDF = _pois_cdf()


def _boot_h_expr(j: int, cast_type: str) -> str:
    return f"md5(CAST(o_orderkey AS {cast_type}) || ':{j}')"


def _boot_u_expr(b: int, spark_fold: bool = False) -> str:
    # one md5 yields 8 independent 16-bit uniforms (4 hex digits each);
    # two md5 columns cover all 16 replicas — 8x less hashing than one
    # md5 per replica, and 2^-16 quantization is far below any CDF gap.
    # spark_fold: one conv(.., 16, 10) instead of 4 digit terms — the
    # identical 16-bit integer, hence the identical double (see
    # _row_hash48_expr); DuckDB keeps the digit-fold text.
    j, i = divmod(b, 8)
    if spark_fold:
        return (
            f"(CAST(CAST(conv(substr(h{j}, {4 * i + 1}, 4), 16, 10)"
            f" AS BIGINT) AS DOUBLE) / 65536e0)"
        )
    parts = [
        f"CAST(instr('{_HEX_DIGITS}', substr(h{j}, {4 * i + k + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (3 - k)}"
        for k in range(4)
    ]
    return f"(CAST({' + '.join(parts)} AS DOUBLE) / 65536e0)"


def _boot_w_expr(u_col: str) -> str:
    branches = "".join(
        f" WHEN {u_col} < {t!r} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"(CASE{branches} ELSE 5 END)"


def poisson_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    base = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("xc"),
    )
    # spread the hash work over every core: the 2·B md5+fold towers are
    # CPU-bound and the narrow (key, cents) projection is 16 bytes/row,
    # so a round-robin fan-out costs ~nothing while the single
    # consolidated aggregate below would otherwise run at the scan's
    # split count (3 tasks at sf0.1 — measured 6.1s vs 1.1s spread).
    # On a many-split production table this is a no-op-sized insurance.
    if base.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        base = base.repartition(spark.sparkContext.defaultParallelism)
    # four narrow codegen stages keep each generated method small:
    # md5s -> uniforms -> weights -> 2B aggregates
    hs = base.select(
        "xc",
        *[
            F.expr(_boot_h_expr(j, "STRING")).alias(f"h{j}")
            for j in range(_BOOT_B // 8)
        ],
    )
    us = hs.select(
        "xc",
        *[
            F.expr(_boot_u_expr(b, spark_fold=True)).alias(f"u{b}")
            for b in range(_BOOT_B)
        ],
    )
    ws = us.select(
        "xc",
        *[
            F.expr(_boot_w_expr(f"u{b}")).alias(f"w{b}")
            for b in range(_BOOT_B)
        ],
    )
    agg = ws.agg(
        *[
            F.sum((F.col(f"w{b}") * F.col("xc")).cast("decimal(38,0)"))
            .alias(f"s{b}")
            for b in range(_BOOT_B)
        ],
        *[
            F.sum(F.col(f"w{b}").cast("long")).alias(f"n{b}")
            for b in range(_BOOT_B)
        ],
    )
    # materialize the single 2B-column aggregate row once: the B-branch
    # union below otherwise replicates the whole scan+aggregate subtree
    # per replica in the plan (32 scans before; runtime exchange reuse
    # collapsed the execution but the optimizer still planned all 32),
    # and a 1-row checkpoint makes the reuse structural.
    agg = agg.localCheckpoint(eager=True)
    # reshape the single agg row into B rows with a unionAll of B
    # one-column selects (measured faster than the explode(array(
    # struct…)) reshape, which rebuilds the wide projection inside one
    # giant stage).
    from functools import reduce

    rows = [
        agg.select(
            F.lit(b).alias("replica_id"),
            F.col(f"n{b}").alias("n_eff"),
            (
                F.col(f"s{b}").cast("double")
                / F.col(f"n{b}").cast("double")
                / F.lit(100.0)
            ).alias("boot_mean"),
        )
        for b in range(_BOOT_B)
    ]
    return reduce(lambda a, c: a.unionAll(c), rows)


def _bootstrap_sql() -> str:
    h_cols = ", ".join(
        f"{_boot_h_expr(j, 'VARCHAR')} AS h{j}" for j in range(_BOOT_B // 8)
    )
    u_cols = ", ".join(
        f"{_boot_u_expr(b)} AS u{b}" for b in range(_BOOT_B)
    )
    w_cols = ", ".join(
        f"{_boot_w_expr(f'u{b}')} AS w{b}" for b in range(_BOOT_B)
    )
    s_cols = ", ".join(
        f"SUM(CAST(w{b} * xc AS DECIMAL(38,0))) AS s{b},"
        f" CAST(SUM(w{b}) AS BIGINT) AS n{b}"
        for b in range(_BOOT_B)
    )
    replicas = " UNION ALL ".join(
        f"SELECT {b} AS replica_id, n{b} AS n_eff,"
        f" CAST(s{b} AS DOUBLE) / CAST(n{b} AS DOUBLE) / 100.0 AS boot_mean"
        " FROM agg"
        for b in range(_BOOT_B)
    )
    return f"""
WITH cents AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS xc
  FROM orders
),
hs AS (SELECT xc, {h_cols} FROM cents),
us AS (SELECT xc, {u_cols} FROM hs),
ws AS (SELECT xc, {w_cols} FROM us),
agg AS (SELECT {s_cols} FROM ws)
{replicas}
"""


# --- PSI drift (population stability index) ---------------------------------
#
# The industry-standard score monitoring metric: bin a measure, compare
# the old-period vs new-period bin mix, PSI = Σ (p−q)·ln(p/q). Periods
# are the deterministic first/second half of the event-time range
# (integer epoch midpoint), bins are fixed-width on value — both pure
# narrow maps, so the whole metric is ONE groupBy(bin) with map-side
# combine plus a |bins|-row projection. Laplace-smoothed proportions
# keep empty bins finite; per-bin terms are reported (the consumer sums
# them) with the term itself rounded through DECIMAL(38,12) so the
# doubles hash cross-engine.

_PSI_BIN_WIDTH = 25.0


def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.col("ts").cast("long")).alias("lo"),
        F.max(F.col("ts").cast("long")).alias("hi"),
    )
    binned = (
        ev.crossJoin(F.broadcast(rng))
        .select(
            (F.col("ts").cast("long") * 2 <= F.col("lo") + F.col("hi"))
            .alias("is_old"),
            F.floor(F.col("value") / _PSI_BIN_WIDTH).cast("int").alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("is_old"), 1).otherwise(0)).alias("n_old"),
            F.sum(F.when(F.col("is_old"), 0).otherwise(1)).alias("n_new"),
        )
    )
    totals = binned.agg(
        F.sum("n_old").alias("tot_old"),
        F.sum("n_new").alias("tot_new"),
        F.count(F.lit(1)).alias("k"),
    )
    # one shared arithmetic text -> identical IEEE stream in both engines
    p = "(CAST(n_old AS DOUBLE) + 0.5) / (CAST(tot_old AS DOUBLE) + 0.5 * k)"
    q = "(CAST(n_new AS DOUBLE) + 0.5) / (CAST(tot_new AS DOUBLE) + 0.5 * k)"
    term = (
        f"CAST(CAST((({p}) - ({q})) * ln(({p}) / ({q})) AS DECIMAL(38,12))"
        " AS DOUBLE)"
    )
    return (
        binned.crossJoin(F.broadcast(totals))
        .select("bin", "n_old", "n_new", F.expr(term).alias("psi_term"))
    )


_PSI_SQL = f"""
WITH rng AS (
  SELECT MIN(epoch(ts)) AS lo, MAX(epoch(ts)) AS hi FROM events
),
binned AS (
  SELECT CAST(FLOOR(value / {_PSI_BIN_WIDTH}) AS INT) AS bin,
         CAST(SUM(CASE WHEN epoch(ts) * 2 <= lo + hi THEN 1 ELSE 0 END)
              AS BIGINT) AS n_old,
         CAST(SUM(CASE WHEN epoch(ts) * 2 <= lo + hi THEN 0 ELSE 1 END)
              AS BIGINT) AS n_new
  FROM events CROSS JOIN rng
  GROUP BY 1
),
totals AS (
  SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
         CAST(SUM(n_new) AS BIGINT) AS tot_new,
         COUNT(*) AS k
  FROM binned
)
SELECT bin, n_old, n_new,
       CAST(CAST(
         (((CAST(n_old AS DOUBLE) + 0.5) / (CAST(tot_old AS DOUBLE) + 0.5 * k))
          - ((CAST(n_new AS DOUBLE) + 0.5) / (CAST(tot_new AS DOUBLE) + 0.5 * k)))
         * ln(((CAST(n_old AS DOUBLE) + 0.5) / (CAST(tot_old AS DOUBLE) + 0.5 * k))
              / ((CAST(n_new AS DOUBLE) + 0.5) / (CAST(tot_new AS DOUBLE) + 0.5 * k)))
         AS DECIMAL(38,12)) AS DOUBLE) AS psi_term
FROM binned CROSS JOIN totals
"""


# --- partition backfill planner (gaps-and-islands) --------------------------
#
# The operational audit every scheduled loader needs: which calendar
# day-partitions are missing between the first and last observed day?
# Present days are one distinct-agg; the expected calendar is a
# SEQUENCE scaffold from the (broadcast) min/max scalars — no data-
# sized join anywhere; missing days collapse into contiguous ranges
# with the classic gaps-and-islands rn-difference, windowed over the
# (tiny) missing-day set only.


def partition_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    days = (
        read_table(spark, sf_dir, "orders")
        .select(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .distinct()
    )
    bounds = days.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    expected = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    missing = expected.join(days, "day", "left_anti")
    w = Window.orderBy("day")
    grouped = missing.select(
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("grp"),
    )
    return (
        grouped.groupBy("grp")
        .agg(
            F.min("day").alias("gap_start"),
            F.max("day").alias("gap_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("gap_start", "gap_end", "n_days")
    )


_BACKFILL_SQL = """
WITH days AS (
  SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE) AS day
  FROM orders
),
bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM days),
expected AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
missing AS (
  SELECT e.day FROM expected e LEFT JOIN days d ON d.day = e.day
  WHERE d.day IS NULL
),
grouped AS (
  SELECT day, day - CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS grp
  FROM missing
)
SELECT MIN(day) AS gap_start, MAX(day) AS gap_end, COUNT(*) AS n_days
FROM grouped GROUP BY grp
"""


# --- hill_tail_index: heavy-tail exponent of the order-value distribution ---
# Distribution profiling for capacity planning and outlier policy: the
# Hill (1975) estimator over the top-k order statistics of
# o_totalprice, 1/alpha = (1/(k-1)) * sum_{i<k} ln(x_(i) / x_(k)).
# alpha ~ 1-2 means infinite-variance revenue concentration (budget by
# quantiles, not means); alpha > 3 means means are safe. Each log
# ratio lands on the micro-log grid and the sum is an exact integer
# (the zipf/KL discipline), so both engines agree cell-exact.
#
# Scale: ONE TakeOrdered top-k (k = 100, a model-sized frame) — the
# corpus is never sorted globally; x_(k) attaches as a broadcast
# 1-row scalar.

_HILL_K = 100


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders")
    top = (
        orders.select("o_totalprice", "o_orderkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(_HILL_K)
    )
    xk = top.agg(F.min("o_totalprice").alias("x_k"))
    lr_micro = F.round(
        F.log(
            F.col("o_totalprice").cast("double")
            / F.col("x_k").cast("double")
        )
        * 1_000_000
    ).cast("bigint")
    agg = (
        top.crossJoin(F.broadcast(xk))
        .select("x_k", lr_micro.alias("lr"))
        .groupBy("x_k")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("lr").alias("sum_lr_micro"),
        )
    )
    inv_alpha = F.col("sum_lr_micro").cast("double") / (
        (F.col("k") - 1).cast("double") * 1_000_000.0
    )
    return agg.select(
        "k",
        F.col("x_k").cast("double").alias("x_k"),
        inv_alpha.alias("inv_alpha"),
        (F.lit(1.0) / inv_alpha).alias("alpha"),
    )


_HILL_SQL = f"""
WITH top AS (
  SELECT o_totalprice FROM orders
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {_HILL_K}
),
xk AS (SELECT MIN(o_totalprice) AS x_k FROM top),
agg AS (
  SELECT x_k, COUNT(*) AS k,
         CAST(SUM(CAST(round(ln(CAST(o_totalprice AS DOUBLE)
                                / CAST(x_k AS DOUBLE)) * 1000000)
                       AS BIGINT)) AS BIGINT) AS sum_lr_micro
  FROM top, xk GROUP BY x_k
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(x_k AS DOUBLE) AS x_k,
       CAST(sum_lr_micro AS DOUBLE) / (CAST(k - 1 AS DOUBLE) * 1000000.0)
         AS inv_alpha,
       1.0 / (CAST(sum_lr_micro AS DOUBLE)
              / (CAST(k - 1 AS DOUBLE) * 1000000.0)) AS alpha
FROM agg
"""


QUERIES = {
    "hill_tail_index": hill_tail_index,
    "psi_value_drift": psi_value_drift,
    "partition_backfill_plan": partition_backfill_plan,
    "dq_orders_report": dq_orders_report,
    "fd_violation_audit": fd_violation_audit,
    "table_checksum_audit": table_checksum_audit,
    "poisson_bootstrap_means": poisson_bootstrap_means,
    "zscore_outlier_orders": zscore_outlier_orders,
    "join_fanout_audit": join_fanout_audit,
    "fk_integrity_audit": fk_integrity_audit,
    "measure_corr_matrix": measure_corr_matrix,
    "benford_deviation_audit": benford_deviation_audit,
    "table_profile_summary": table_profile_summary,
    "mad_robust_outliers": mad_robust_outliers,
    "ks_drift_stat": ks_drift_stat,
    "spearman_rank_corr": spearman_rank_corr,
    "mannwhitney_shift_test": mannwhitney_shift_test,
    "equidepth_histogram": equidepth_histogram,
}
ORACLE = {
    "hill_tail_index": _HILL_SQL,
    "psi_value_drift": _PSI_SQL,
    "partition_backfill_plan": _BACKFILL_SQL,
    "dq_orders_report": _DQ_SQL,
    "fd_violation_audit": _fd_audit_sql(),
    "table_checksum_audit": _checksum_sql(),
    "poisson_bootstrap_means": _bootstrap_sql(),
    "zscore_outlier_orders": _ZSCORE_SQL,
    "join_fanout_audit": _FANOUT_SQL,
    "fk_integrity_audit": _fk_audit_sql(),
    "measure_corr_matrix": _corr_matrix_sql(),
    "benford_deviation_audit": _benford_sql(),
    "table_profile_summary": _profile_sql(),
    "mad_robust_outliers": _MAD_SQL,
    "ks_drift_stat": _KS_SQL,
    "spearman_rank_corr": _spearman_sql(),
    "mannwhitney_shift_test": _MWU_SQL,
    "equidepth_histogram": _HIST_SQL,
}
