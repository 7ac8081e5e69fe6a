"""ML data-prep operators: learned classification, feature selection,
and density-based outlier scoring — the model-adjacent curation steps a
training-data pipeline runs AFTER the rule-based gates (text.py,
training_data.py) and BEFORE export.

Reference parity: the reference's only "model" step is a per-group
sklearn fit (``scripts/prediction.py:12-35``); these operators extend
that A3 group-and-apply idea to the classify/select/score shapes an LLM
corpus pipeline needs, expressed as pure DataFrame plans (no Python in
any hot path except the Arrow-batched distance kernel).

Cross-engine exactness notes (the house oracle discipline, oracle.py):

- Naive Bayes scores are **integer micro-logs**: each smoothed token
  log-probability is ``round(ln(p)*1e6)`` cast to BIGINT, so per-doc
  scores are exact integer sums — order-insensitive and identical on
  both engines (a raw double log-sum would hash-mismatch on partial-agg
  order). ``ln`` input doubles are identical on both sides (one
  int/int division), and a 1-ulp libm divergence would have to land
  within 1e-10 of a rounding boundary to flip a single micro-unit —
  not observed across the corpus; the driver check would catch it
  deterministically, not flakily, since the data is fixed.
- chi² is computed from integer contingency counts converted exactly to
  doubles, with one fixed-association expression shared by both
  engines.
- LOF distances come from the unrolled left-associated L2 chain
  (functions/vectors.py — bit-identical doubles); every neighbor sum
  routes through DECIMAL(38,6) so reachability/lrd/LOF hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_pipeline_spark.functions.text import tokenize
from big_data_pipeline_spark.functions.vectors import (
    EMB_DIMS_DEFAULT,
    seq_l2_sq,
)
from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import DEC, _dec_to_double_sql

_TOKS_SQL = r"regexp_split_to_array(trim(text), '\s+')"
_MICRO = 1_000_000


# --- Naive Bayes language classifier (train + predict, one plan) ------------


def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes over whitespace tokens: train per-language
    token likelihoods with Laplace smoothing on the full corpus, score
    every document against every language, and emit the confusion
    matrix (actual x predicted) with the exact integer score sum per
    cell.

    100 TB shape: the model (vocab x |langs| micro-log table plus
    priors) is derived by one token-level aggregation — map-side
    partial aggs shrink it to model size, and it is then re-joined to
    the token stream on the token key (sort-merge or broadcast when the
    vocab fits). Scoring is one shuffle on (doc, candidate-lang);
    argmax is a 5-row-per-doc window. No driver-side data loops; the
    plan is linear in corpus tokens x |langs|.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokenize("text")).alias("token")
    )
    # r10: the corpus tokenize+explode fed FIVE plan branches (lang
    # counts, lang totals, vocab, the grid's distinct tokens, and the
    # scoring join) — five full corpus passes. Pre-aggregate the token
    # stream to (doc, lang, token, cnt) ONCE, checkpoint it lazily, and
    # derive every model frame from it; per-doc scores become
    # sum(lp * cnt), an exact integer identity with the occurrence-level
    # sum (guide §2.3/§2.4).
    # Scale caveat: unlike the model-sized frames checkpointed elsewhere,
    # dtok is corpus-sized (documents x distinct tokens per doc), and
    # localCheckpoint blocks cannot be recomputed — a lost executor
    # fails the query, and the blocks compete with join execution
    # memory (the r10 basket-family checkpoint reproduced
    # UNABLE_TO_ACQUIRE_MEMORY at sf10 and was reverted). This one was
    # validated isolated at sf10 (133.4 s → 70.3 s) and kept; re-check
    # it before a larger tier, or persist DISK_ONLY there.
    dtok = (
        tok.groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    counts = dtok.groupBy("lang", "token").agg(F.sum("cnt").alias("c"))
    totals = dtok.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = dtok.agg(
        F.count_distinct("token").alias("v")
    )  # 1-row model scalar
    langs = docs.select(F.col("lang").alias("cand_lang")).distinct()

    grid = (
        dtok.select("token")
        .distinct()
        .crossJoin(F.broadcast(langs))
        .join(F.broadcast(totals.withColumnRenamed("lang", "cand_lang")),
              "cand_lang")
        .crossJoin(F.broadcast(vocab))
        .join(
            counts.withColumnRenamed("lang", "cand_lang"),
            ["cand_lang", "token"],
            "left",
        )
        .select(
            "token",
            "cand_lang",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("tot") + F.col("v")).cast("double")
                )
                * _MICRO
            )
            .cast("long")
            .alias("lp"),
        )
    )

    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    priors = (
        docs.groupBy(F.col("lang").alias("cand_lang"))
        .agg(F.count(F.lit(1)).alias("nl"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "cand_lang",
            F.round(
                F.log(F.col("nl").cast("double") / F.col("n").cast("double"))
                * _MICRO
            )
            .cast("long")
            .alias("prior"),
        )
    )

    scored = (
        dtok.join(grid, "token")
        .groupBy("doc_id", F.col("lang").alias("actual_lang"), "cand_lang")
        .agg(F.sum(F.col("lp") * F.col("cnt")).alias("lsum"))
        .join(F.broadcast(priors), "cand_lang")
        .withColumn("score", F.col("lsum") + F.col("prior"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("cand_lang")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("actual_lang", F.col("cand_lang").alias("pred_lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score").alias("sum_score"),
        )
    )


_NB_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_TOKS_SQL}) AS token FROM documents
),
counts AS (SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
totals AS (SELECT lang, COUNT(*) AS tot FROM tok GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT token) AS v FROM tok),
langs AS (SELECT DISTINCT lang AS cand_lang FROM documents),
grid AS (
  SELECT t.token, l.cand_lang,
         CAST(ROUND(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                       / CAST(tt.tot + vocab.v AS DOUBLE)) * {_MICRO})
              AS BIGINT) AS lp
  FROM (SELECT DISTINCT token FROM tok) t
  CROSS JOIN langs l
  CROSS JOIN vocab
  JOIN totals tt ON tt.lang = l.cand_lang
  LEFT JOIN counts c ON c.lang = l.cand_lang AND c.token = t.token
),
priors AS (
  SELECT lang AS cand_lang,
         CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)
                       / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE))
                    * {_MICRO}) AS BIGINT) AS prior
  FROM documents GROUP BY 1
),
scored AS (
  SELECT tk.doc_id, tk.lang AS actual_lang, g.cand_lang,
         CAST(SUM(g.lp) AS BIGINT) AS lsum
  FROM tok tk JOIN grid g ON g.token = tk.token
  GROUP BY 1, 2, 3
),
tot AS (
  SELECT s.doc_id, s.actual_lang, s.cand_lang, s.lsum + p.prior AS score
  FROM scored s JOIN priors p USING (cand_lang)
),
pred AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, cand_lang ASC) AS rn
  FROM tot
)
SELECT actual_lang, cand_lang AS pred_lang, COUNT(*) AS n_docs,
       CAST(SUM(score) AS BIGINT) AS sum_score
FROM pred WHERE rn = 1 GROUP BY 1, 2
"""


# --- chi-squared token-vs-language feature selection ------------------------

_CHI2_MIN_DF = 5  # ignore tokens rarer than this corpus-wide (noise floor)
_CHI2_TOP = 8


def chi2_token_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_CHI2_TOP`` tokens per language by chi-squared association
    (presence-based 2x2 contingency per (token, lang)) — the classic
    feature-selection pass before training a lightweight classifier.

    All four cells derive from two integer aggregations (per-token doc
    frequency, per-(token,lang) doc frequency) joined to per-lang doc
    totals — model-sized frames after map-side combine. chi² is one
    fixed-association double expression over exactly-converted integer
    counts, so both engines produce bit-identical scores.
    """
    docs = read_table(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id", "lang", F.explode_outer(tokenize("text")).alias("token")
    ).distinct()
    per_lang = pres.groupBy("token", "lang").agg(
        F.count(F.lit(1)).alias("a")
    )
    df_tok = pres.groupBy("token").agg(F.count(F.lit(1)).alias("df_tok"))
    lang_docs = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))

    cells = (
        per_lang.join(df_tok.filter(F.col("df_tok") >= _CHI2_MIN_DF), "token")
        .join(F.broadcast(lang_docs), "lang")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("b", F.col("nl") - F.col("a"))
        .withColumn("cc", F.col("df_tok") - F.col("a"))
        .withColumn("d", F.col("n") - F.col("nl") - F.col("cc"))
    )
    # fixed association: N * t^2 / (((ab)*(cd))*(ac))*(bd) — mirrored
    # verbatim in the oracle fragment below
    chi2 = F.expr(
        "CAST(n AS DOUBLE) * ((CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        " - CAST(b AS DOUBLE) * CAST(cc AS DOUBLE))"
        " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        " - CAST(b AS DOUBLE) * CAST(cc AS DOUBLE)))"
        " / (((CAST(a + b AS DOUBLE) * CAST(cc + d AS DOUBLE))"
        " * CAST(a + cc AS DOUBLE)) * CAST(b + d AS DOUBLE))"
    )
    w = Window.partitionBy("lang").orderBy(F.desc("chi2"), F.asc("token"))
    return (
        cells.withColumn("chi2", chi2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CHI2_TOP)
        .select("lang", "rank", "token", "chi2", F.col("a").alias("df_in_lang"))
    )


_CHI2_SQL = f"""
WITH pres AS (
  SELECT DISTINCT doc_id, lang, token
  FROM (SELECT doc_id, lang, unnest({_TOKS_SQL}) AS token FROM documents)
),
per_lang AS (SELECT token, lang, COUNT(*) AS a FROM pres GROUP BY 1, 2),
df_tok AS (
  SELECT token, COUNT(*) AS df_tok FROM pres GROUP BY 1
  HAVING COUNT(*) >= {_CHI2_MIN_DF}
),
lang_docs AS (SELECT lang, COUNT(*) AS nl FROM documents GROUP BY 1),
cells AS (
  SELECT p.lang, p.token, p.a, ld.nl - p.a AS b, dt.df_tok - p.a AS cc,
         n.n - ld.nl - (dt.df_tok - p.a) AS d, n.n AS n
  FROM per_lang p
  JOIN df_tok dt USING (token)
  JOIN lang_docs ld USING (lang)
  CROSS JOIN (SELECT COUNT(*) AS n FROM documents) n
),
scored AS (
  SELECT lang, token, a AS df_in_lang,
         CAST(n AS DOUBLE) * ((CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           - CAST(b AS DOUBLE) * CAST(cc AS DOUBLE))
           * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           - CAST(b AS DOUBLE) * CAST(cc AS DOUBLE)))
           / (((CAST(a + b AS DOUBLE) * CAST(cc + d AS DOUBLE))
           * CAST(a + cc AS DOUBLE)) * CAST(b + d AS DOUBLE)) AS chi2
  FROM cells
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY chi2 DESC, token ASC) AS "rank"
  FROM scored
)
SELECT lang, "rank", token, chi2, df_in_lang
FROM ranked WHERE "rank" <= {_CHI2_TOP}
"""


# --- LOF (local outlier factor) over embeddings -----------------------------

_LOF_CAP = 600  # reference-slice bound; see docstring
_LOF_K = 5
_LOF_TOP = 50


def lof_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (k=5) over the embedding corpus — the
    density-based "weird sample" detector curation pipelines run on
    embedding spaces (mislabeled / out-of-distribution points score
    LOF >> 1).

    Exact all-pairs kNN on a bounded reference slice (``vec_id <
    _LOF_CAP``): LOF is transitively self-referential (a point's score
    needs its neighbors' lrd, which needs THEIR kNN), so the exact form
    is quadratic by nature. The 100 TB path swaps the all-pairs stage
    for LSH-bucketed candidate kNN (similarity/knn.py) feeding the SAME
    reach/lrd/LOF plan — bounded candidates per point, linear overall;
    the slice-capped exact form is the oracle-checkable baseline, same
    policy as ``embedding_near_dups`` (workloads/multimodal.py).

    Distances use the left-associated L2 kernel (bit-identical on both
    engines); every neighbor aggregation routes through DECIMAL(38,6).
    """
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _LOF_CAP)
        .select("vec_id", "embedding")
    )
    a = emb.select(
        F.col("vec_id").alias("p"), F.col("embedding").alias("va")
    ).repartition(spark.sparkContext.defaultParallelism)
    b = emb.select(F.col("vec_id").alias("o"), F.col("embedding").alias("vb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("p") != F.col("o"))
        .withColumn("d", F.sqrt(seq_l2_sq(F.col("va"), F.col("vb"))))
        .select("p", "o", "d")
    )
    w = Window.partitionBy("p").orderBy(F.asc("d"), F.asc("o"))
    knn = pairs.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _LOF_K
    )
    kdist = knn.groupBy("p").agg(F.max("d").alias("kdist"))

    reach = (
        knn.join(
            kdist.select(F.col("p").alias("o"), F.col("kdist").alias("kdist_o")),
            "o",
        )
        .withColumn("reach", F.greatest(F.col("kdist_o"), F.col("d")))
    )
    lrd = reach.groupBy("p").agg(
        (
            F.lit(float(_LOF_K))
            / F.sum(F.col("reach").cast(DEC)).cast("double")
        ).alias("lrd")
    )
    lof = (
        knn.join(lrd.select(F.col("p").alias("o"), F.col("lrd").alias("lrd_o")), "o")
        .groupBy("p")
        .agg(F.sum(F.col("lrd_o").cast(DEC)).cast("double").alias("sum_lrd_o"))
        .join(lrd, "p")
        .select(
            F.col("p").alias("vec_id"),
            (F.col("sum_lrd_o") / (float(_LOF_K) * F.col("lrd"))).alias("lof"),
            "lrd",
        )
        .join(kdist.select(F.col("p").alias("vec_id"), "kdist"), "vec_id")
    )
    w2 = Window.orderBy(F.desc("lof"), F.asc("vec_id"))
    return (
        lof.withColumn("out_rank", F.row_number().over(w2))
        .filter(F.col("out_rank") <= _LOF_TOP)
        .select("out_rank", "vec_id", "lof", "lrd", "kdist")
    )


def _lof_sql() -> str:
    from big_data_pipeline_spark.functions.vectors import l2_sq_sql

    d2 = l2_sq_sql("a.embedding", "b.embedding", EMB_DIMS_DEFAULT, offset=1)
    sum_reach = _dec_to_double_sql("SUM(CAST(reach AS DECIMAL(38,6)))")
    sum_lrd = _dec_to_double_sql("SUM(CAST(l2.lrd AS DECIMAL(38,6)))")
    return f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_LOF_CAP}
),
pairs AS (
  SELECT a.vec_id AS p, b.vec_id AS o, sqrt({d2}) AS d
  FROM e a, e b WHERE a.vec_id <> b.vec_id
),
knn AS (
  SELECT * FROM (
    SELECT p, o, d,
           ROW_NUMBER() OVER (PARTITION BY p ORDER BY d ASC, o ASC) AS rnk
    FROM pairs
  ) WHERE rnk <= {_LOF_K}
),
kdist AS (SELECT p, MAX(d) AS kdist FROM knn GROUP BY p),
reach AS (
  SELECT k.p, k.o, GREATEST(kd.kdist, k.d) AS reach
  FROM knn k JOIN kdist kd ON kd.p = k.o
),
lrd AS (
  SELECT p, CAST({_LOF_K} AS DOUBLE) / {sum_reach} AS lrd
  FROM reach GROUP BY p
),
lof AS (
  SELECT k.p AS vec_id, {sum_lrd} AS sum_lrd_o
  FROM knn k JOIN lrd l2 ON l2.p = k.o
  GROUP BY k.p
),
scored AS (
  SELECT f.vec_id, f.sum_lrd_o / (CAST({_LOF_K} AS DOUBLE) * l.lrd) AS lof,
         l.lrd, kd.kdist
  FROM lof f JOIN lrd l ON l.p = f.vec_id JOIN kdist kd ON kd.p = f.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lof DESC, vec_id ASC) AS out_rank
  FROM scored
)
SELECT out_rank, vec_id, lof, lrd, kdist
FROM ranked WHERE out_rank <= {_LOF_TOP}
"""


# --- target_encoding_loo: leave-one-out mean target encoding ----------------
# The standard high-cardinality categorical encoder for tabular models
# (Micci-Barreca 2001): replace a category with the mean of the target
# over OTHER rows of the same category — leave-one-out so a row never
# leaks its own label into its feature. Encoded here: o_orderpriority
# by mean o_totalprice.
#
# Scale shape: one map-side-combinable groupBy builds (decimal_sum, n)
# per category — a MODEL of |categories| rows that joins back via
# broadcast, so the table is touched twice linearly with no window and
# no second shuffle. LOO = (S - x) / (n - 1) with S exact decimal: the
# subtraction is exact, one double divide per row, bit-identical on
# both engines (the oracle routes its decimal→double cast through
# VARCHAR per oracle.py).


def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    g = orders.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("s_dec"),
        F.count(F.lit(1)).alias("n"),
    )
    loo = (F.col("s_dec") - F.col("o_totalprice").cast(DEC)).cast(
        "double"
    ) / (F.col("n") - F.lit(1)).cast("double")
    return orders.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        loo.alias("loo_enc"),
    )


_TARGET_ENC_SQL = f"""
WITH g AS (
  SELECT o_orderpriority,
         SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS s_dec,
         COUNT(*) AS n
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderkey, o.o_orderpriority,
       {_dec_to_double_sql("s_dec - CAST(o_totalprice AS DECIMAL(38,6))")}
         / CAST(n - 1 AS DOUBLE) AS loo_enc
FROM orders o JOIN g USING (o_orderpriority)
"""


# --- feature_hashing_vectorize: the hashing trick -----------------------------
# Weinberger et al. (ICML 2009): token -> (bucket, sign) via a fixed
# hash; the doc vector is the signed count sum per bucket. No
# vocabulary pass, no driver state — the classic streaming-friendly
# featurizer. Hash = the repo's md5-prefix→int scheme (identical in
# both engines, same as cms_token_counts); sign from the next md5
# nibble. Output is the sparse COO form (doc_id, bucket, weight):
# array-typed cells would break the driver's pandas canonicalizer
# (round-3 embedding_quantize_int8 lesson) and the sparse form is what
# a 100 TB featurizer emits anyway.
#
# Scale shape: explode(tokens) -> groupBy(doc_id, bucket) with map-side
# combine; output is bounded by n_docs * n_buckets regardless of
# corpus token count. Entirely JVM-side expressions.

_FH_BUCKETS = 64


def feature_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(tokenize("text")).alias("token")
    )
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    sign_bit = (
        F.conv(F.substring(F.md5(F.col("token")), 9, 1), 16, 10).cast("long")
        % 2
    )
    return (
        tok.select(
            "doc_id",
            (h % _FH_BUCKETS).alias("bucket"),
            (sign_bit * 2 - 1).alias("sign"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("bigint").alias("weight"))
    )


_FEATURE_HASH_SQL = rf"""
WITH tok AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents), UNNEST(t) AS u(tok)
)
SELECT doc_id,
       CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
         % {_FH_BUCKETS} AS bucket,
       CAST(SUM((CAST(concat('0x', substr(md5(tok), 9, 1)) AS BIGINT) % 2)
                * 2 - 1) AS BIGINT) AS weight
FROM tok
GROUP BY doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                   % {_FH_BUCKETS}
"""


# --- conformal_interval_report: split-conformal prediction intervals --------
# Distribution-free uncertainty (Vovk et al.; Lei et al. 2018), the
# modern calibration layer over ANY point predictor. Predictor here:
# each purchase is predicted by the user's trailing mean of prior
# purchases (decimal-exact cumulative sums). Split: calibration =
# first half of the event window, test = second half. q = the
# ceil((n_cal+1)(1−α))-th smallest calibration |residual| (the exact
# finite-sample conformal rank rule, NOT an interpolated quantile);
# the report checks empirical coverage of prediction ± q on the test
# half — guaranteed ≥ 1−α in expectation under exchangeability.
#
# Scale shape: trailing means are per-user windows (keyed shuffle);
# the ONLY global step is the k-th order statistic, computed with the
# house sharded prefix-sum rank (operators/prefix.py — never a
# single-task global window); q is a 1-row frame broadcast to the
# test side. The oracle replays everything with window SQL.

_CONF_ALPHA_PCT = 10  # α = 0.10 → 90% intervals
_CONF_SPLIT = "2024-01-16 00:00:00"


def conformal_interval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pred = (
        ev.withColumn("cum_dec", F.sum(F.col("value").cast(DEC)).over(w))
        .withColumn("n_prior", F.row_number().over(w) - 1)
        .filter(F.col("n_prior") >= 1)
        .withColumn(
            "prediction",
            (F.col("cum_dec") - F.col("value").cast(DEC)).cast("double")
            / F.col("n_prior"),
        )
        .withColumn("abs_resid", F.abs(F.col("value") - F.col("prediction")))
    )
    split = F.lit(_CONF_SPLIT).cast("timestamp")
    # project the calibration side to the two columns the rank needs and
    # materialize it once: the n_cal count below is a full action (it
    # completes the lazy checkpoint in-job), and the sharded prefix sum
    # then consumes the cached narrow frame three times (approxQuantile
    # probe, local window, offsets) instead of replaying the per-user
    # prediction window per consumer (the before-plan ran the events
    # scan + window 4×). |cal| narrow rows: the reduced side.
    cal = (
        pred.filter(F.col("ts") < split)
        .select("event_id", "abs_resid")
        .localCheckpoint(eager=False)
    )
    test = pred.filter(F.col("ts") >= split)
    n_cal = cal.count()
    k = -((n_cal + 1) * (100 - _CONF_ALPHA_PCT) // -100)  # ceil
    k = min(k, n_cal)
    ranked = sharded_running_sum(
        cal.withColumn("o", F.col("abs_resid")),
        part_cols=[],
        order_col="o",
        value_col=F.lit(1).cast("long"),
        out_col="rank",
        tiebreak_cols=["event_id"],
    )
    q = ranked.filter(F.col("rank") == k).select(
        F.col("abs_resid").alias("q_alpha")
    )
    covered = test.crossJoin(F.broadcast(q)).select(
        (F.abs(F.col("value") - F.col("prediction")) <= F.col("q_alpha"))
        .cast("int")
        .alias("c"),
        "q_alpha",
    )
    return covered.agg(
        F.lit(n_cal).cast("bigint").alias("n_cal"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.first("q_alpha").alias("q_alpha"),
        F.sum("c").cast("bigint").alias("n_covered"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("coverage"),
    )


def _conformal_sql() -> str:
    return f"""
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
),
pred AS (
  SELECT event_id, ts, value,
         {_dec_to_double_sql(
             "SUM(CAST(value AS DECIMAL(38,6))) OVER "
             "(PARTITION BY user_id ORDER BY ts, event_id) "
             "- CAST(value AS DECIMAL(38,6))"
         )}
           / (ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) - 1) AS prediction
  FROM p
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) >= 2
),
cal AS (
  SELECT abs(value - prediction) AS abs_resid, event_id
  FROM pred WHERE ts < TIMESTAMP '{_CONF_SPLIT}'
),
test AS (
  SELECT value, prediction FROM pred
  WHERE ts >= TIMESTAMP '{_CONF_SPLIT}'
),
kq AS (
  SELECT LEAST(CAST(CEIL((COUNT(*) + 1) * {100 - _CONF_ALPHA_PCT} / 100.0)
                    AS BIGINT), COUNT(*)) AS k,
         CAST(COUNT(*) AS BIGINT) AS n_cal
  FROM cal
),
q AS (
  SELECT abs_resid AS q_alpha, n_cal FROM (
    SELECT c.abs_resid, kq.n_cal, kq.k,
           ROW_NUMBER() OVER (ORDER BY c.abs_resid, c.event_id) AS r
    FROM cal c, kq
  ) WHERE r = k
)
SELECT q.n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ANY_VALUE(q.q_alpha) AS q_alpha,
       CAST(SUM(CASE WHEN abs(value - prediction) <= q.q_alpha
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(SUM(CASE WHEN abs(value - prediction) <= q.q_alpha
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS coverage
FROM test, q
GROUP BY q.n_cal
"""


# --- woe_risk_encoding: weight-of-evidence category encoding ----------------
# The credit-scoring-era categorical encoder (Siddiqi 2006), still the
# standard monotone-risk encoding for GBM/scorecard features: per
# category i, WoE_i = ln( P(cat=i | bad) / P(cat=i | good) ), with
# +0.5 count smoothing so empty cells stay finite, plus each
# category's Information Value term IV_i = (P_bad_i - P_good_i)*WoE_i
# (sum = the feature's IV, the classic selection statistic). Label:
# order fell through (o_orderstatus = 'F'); category: o_orderpriority.
#
# Exactness: counts are exact integers; the smoothed ratios and the
# shared ln(...) expression are evaluated identically on both engines,
# and the log lands in the house micro-log grid (round(ln*1e6) BIGINT,
# the NB-classifier discipline) so the encoded column is an exact
# integer; IV terms multiply the micro-log back by exact-ratio
# differences — same doubles both sides.
#
# Scale: ONE map-side-combinable groupBy over the category (model-
# sized output); totals attach as a broadcast 1-row frame. Nothing
# else.


def woe_risk_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("is_bad"),
    )
    g = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_bad").alias("n_bad"),
        F.sum(1 - F.col("is_bad")).alias("n_good"),
    )
    tot = orders.agg(
        F.sum("is_bad").alias("bad_tot"),
        F.sum(1 - F.col("is_bad")).alias("good_tot"),
    )
    j = g.crossJoin(F.broadcast(tot))
    p_bad = (F.col("n_bad") + 0.5) / (F.col("bad_tot") + 1.0)
    p_good = (F.col("n_good") + 0.5) / (F.col("good_tot") + 1.0)
    woe_micro = F.round(F.log(p_bad / p_good) * 1_000_000).cast("bigint")
    return j.select(
        "o_orderpriority",
        "n",
        "n_bad",
        "n_good",
        woe_micro.alias("woe_micro"),
        ((p_bad - p_good) * (woe_micro / F.lit(1_000_000.0))).alias(
            "iv_term"
        ),
    )


_WOE_SQL = """
WITH lab AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_bad
  FROM orders
),
g AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         SUM(is_bad) AS n_bad, SUM(1 - is_bad) AS n_good
  FROM lab GROUP BY o_orderpriority
),
tot AS (
  SELECT SUM(is_bad) AS bad_tot, SUM(1 - is_bad) AS good_tot FROM lab
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n,
       CAST(n_bad AS BIGINT) AS n_bad,
       CAST(n_good AS BIGINT) AS n_good,
       CAST(round(ln( ((n_bad + 0.5) / (bad_tot + 1.0))
                    / ((n_good + 0.5) / (good_tot + 1.0)) ) * 1000000)
            AS BIGINT) AS woe_micro,
       ( (n_bad + 0.5) / (bad_tot + 1.0)
         - (n_good + 0.5) / (good_tot + 1.0) )
       * (CAST(round(ln( ((n_bad + 0.5) / (bad_tot + 1.0))
                       / ((n_good + 0.5) / (good_tot + 1.0)) ) * 1000000)
               AS BIGINT) / 1000000.0) AS iv_term
FROM g, tot
"""


QUERIES = {
    "woe_risk_encoding": woe_risk_encoding,
    "nb_lang_confusion": nb_lang_confusion,
    "chi2_token_lang": chi2_token_lang,
    "lof_knn_outliers": lof_knn_outliers,
    "target_encoding_loo": target_encoding_loo,
    "feature_hashing_vectorize": feature_hashing_vectorize,
    "conformal_interval_report": conformal_interval_report,
}

ORACLE: dict[str, str] = {
    "woe_risk_encoding": _WOE_SQL,
    "nb_lang_confusion": _NB_SQL,
    "chi2_token_lang": _CHI2_SQL,
    "lof_knn_outliers": _lof_sql(),
    "target_encoding_loo": _TARGET_ENC_SQL,
    "feature_hashing_vectorize": _FEATURE_HASH_SQL,
    "conformal_interval_report": _conformal_sql(),
}
