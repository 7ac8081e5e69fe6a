"""Composite LLM training-data pipeline + sampling/approx aggregates.

``llm_clean_corpus_stats`` chains the cleaning stages a training-data
pipeline runs end-to-end — exact dedup → quality gate → language gate →
join to the embedding store — in ONE declarative plan, fully
oracle-checked. This is the flagship demonstration that the individual
operators compose without materialization barriers: Catalyst sees the
whole lineage and prunes/pushes across stage boundaries.

Sampling and approximate aggregates are the remaining first-class
training-data ops: at 100 TB nobody counts distincts exactly or
samples with ORDER BY rand() LIMIT n. ENGINE-INTERNAL sketches
(Spark HLL / DataSketches / percentile_approx) can't be replayed by
DuckDB and get rows-only driver checks plus pytest accuracy bounds;
everything built from replayable hashes carries a full oracle twin —
the hash-ranked bottom-k sample, the greedy packer, and (since r6)
the md5-prefix KMV theta sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_pipeline_spark.functions.text import tokenize
from big_data_pipeline_spark.io import read_table

# --- flagship composite: dedup -> quality -> lang -> join embeddings --------

_MIN_TOKENS = 30


def llm_clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")

    # 1. exact near-dup removal: keep the lowest doc_id per text hash
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # 2. quality gate: minimum token count
    gated = deduped.withColumn("n_tokens", F.size(tokenize("text"))).filter(
        F.col("n_tokens") >= _MIN_TOKENS
    )
    # 3. language gate: drop unlabeled/empty languages
    gated = gated.filter(F.col("lang").isin("en", "de", "es", "fr", "zh"))
    # 4. join the embedding store (doc_id = vec_id) and report per-lang
    joined = gated.join(emb, gated.doc_id == emb.vec_id)
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


# --- length_bucket_batches: padding-efficient dataloader batching -----------
# The batching step every training loader runs after packing/curation:
# bucket documents by power-of-two token length so same-bucket batches
# pad to the bucket size, not the global max, and report the padding
# waste per batch. The power-of-two bucket is integer-exact on both
# engines (bit-length via binary-string length, never float log2);
# within-bucket batch ids come from the sharded prefix sum — buckets
# are LOW-cardinality (~log2(max_len) groups), exactly the
# single-task-window trap the operator exists for (SCALE.md §4c).
# One bounded shuffle (the prefix-sum exchange) + the final grouped agg.

_BATCH_DOCS = 16


def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(tokenize("text")).alias("n_tokens")
    )
    nbits = F.length(F.conv(F.col("n_tokens").cast("string"), 10, 2))
    pow_prev = F.pow(F.lit(2.0), (nbits - 1).cast("double")).cast("long")
    toks = toks.withColumn(
        "bucket",
        F.when(F.col("n_tokens") == pow_prev, F.col("n_tokens")).otherwise(
            pow_prev * 2
        ),
    # materialize once: the sharded prefix sum consumes the frame three
    # times (boundary probe, local window, offsets) and each replay
    # re-tokenized the corpus. One narrow row per doc.
    ).localCheckpoint(eager=True)
    rn = sharded_running_sum(toks, ["bucket"], "doc_id", F.lit(1), "rn")
    batched = rn.withColumn(
        "batch_id", F.floor((F.col("rn") - 1) / _BATCH_DOCS)
    )
    agg = batched.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    return agg.select(
        "bucket",
        "batch_id",
        "n_docs",
        "sum_tokens",
        (F.col("bucket") * F.col("n_docs")).alias("padded_tokens"),
        (
            F.lit(1.0)
            - F.col("sum_tokens").cast("double")
            / (F.col("bucket") * F.col("n_docs"))
        ).alias("waste_frac"),
    )


_LENGTH_BUCKET_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens =
                   CAST(POWER(2, length(format('{{:b}}', n_tokens)) - 1)
                        AS BIGINT)
              THEN n_tokens
              ELSE CAST(POWER(2, length(format('{{:b}}', n_tokens)))
                        AS BIGINT)
         END AS bucket
  FROM toks
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM b
),
bat AS (
  SELECT bucket, (rn - 1) // {_BATCH_DOCS} AS batch_id, n_tokens FROM rn
)
SELECT bucket, batch_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       bucket * COUNT(*) AS padded_tokens,
       1 - CAST(SUM(n_tokens) AS DOUBLE) / (bucket * COUNT(*)) AS waste_frac
FROM bat GROUP BY bucket, batch_id
"""


# --- dataset_card_stats: the release-artifact summary row -------------------
# Every corpus release ships a dataset card; this is its numbers block
# computed in ONE aggregation pass over the corpus (plus the joined
# embedding count): volume, vocabulary-bearing token mass, language and
# source diversity, exact-duplicate rate, and coverage of the embedding
# store. COUNT(DISTINCT md5) and COUNT(DISTINCT lang/source) are
# map-side-combinable two-phase aggs; nothing is driver-side.

def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    enriched = docs.select(
        "doc_id",
        "lang",
        "source",
        F.md5("text").alias("fp"),
        F.size(tokenize("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    ).join(
        emb.select(F.col("vec_id").alias("doc_id"), F.lit(1).alias("has_emb")),
        "doc_id",
        "left",
    )
    return enriched.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        (
            F.lit(1.0)
            - F.countDistinct("fp").cast("double") / F.count(F.lit(1))
        ).alias("exact_dup_rate"),
        (
            F.sum(F.coalesce("has_emb", F.lit(0))).cast("double")
            / F.count(F.lit(1))
        ).alias("embedding_coverage"),
    )


_DATASET_CARD_SQL = r"""
WITH enriched AS (
  SELECT d.doc_id, d.lang, d.source, md5(d.text) AS fp,
         len(regexp_split_to_array(trim(d.text), '\s+')) AS n_tokens,
         length(d.text) AS n_chars,
         CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS has_emb
  FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       1 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*) AS exact_dup_rate,
       CAST(SUM(has_emb) AS DOUBLE) / COUNT(*) AS embedding_coverage
FROM enriched
"""


# --- source_mix_drift: data-drift check between corpus halves ---------------
# The data-side companion to quality/expectations.schema_drift_report:
# has the SOURCE MIX shifted between two corpus slices (here: the
# doc_id median splits the corpus into an "old" and "new" half — in
# production the two slices are two snapshot versions)? Per-source
# token share in each slice plus the absolute share delta; the release
# gate thresholds on max drift. Shares are exact-decimal sums divided
# once, so the doubles are engine-identical. Two aggregation passes
# (per-slice-and-source, then the 1-row totals broadcast back) — no
# window, no driver data.

def source_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    half = docs.select(F.floor(F.max("doc_id") / 2).alias("mid"))
    toks = (
        docs.crossJoin(F.broadcast(half))
        .select(
            "source",
            (F.col("doc_id") <= F.col("mid")).alias("is_old"),
            F.size(tokenize("text")).alias("n_tokens"),
        )
    )
    per = toks.groupBy("source").agg(
        F.sum(
            F.when(F.col("is_old"), F.col("n_tokens")).otherwise(0)
        ).alias("tok_old"),
        F.sum(
            F.when(~F.col("is_old"), F.col("n_tokens")).otherwise(0)
        ).alias("tok_new"),
    )
    tot = per.agg(
        F.sum("tok_old").alias("tot_old"), F.sum("tok_new").alias("tot_new")
    )
    so = F.col("tok_old").cast("double") / F.col("tot_old")
    sn = F.col("tok_new").cast("double") / F.col("tot_new")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        so.alias("share_old"),
        sn.alias("share_new"),
        F.abs(so - sn).alias("share_drift"),
    )


_SOURCE_DRIFT_SQL = r"""
WITH half AS (
  SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS mid FROM documents
),
toks AS (
  SELECT source, doc_id <= mid AS is_old,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents, half
),
per AS (
  SELECT source,
         CAST(SUM(CASE WHEN is_old THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tok_old,
         CAST(SUM(CASE WHEN NOT is_old THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tok_new
  FROM toks GROUP BY source
),
tot AS (
  SELECT CAST(SUM(tok_old) AS BIGINT) AS tot_old,
         CAST(SUM(tok_new) AS BIGINT) AS tot_new
  FROM per
)
SELECT source,
       CAST(tok_old AS DOUBLE) / tot_old AS share_old,
       CAST(tok_new AS DOUBLE) / tot_new AS share_new,
       ABS(CAST(tok_old AS DOUBLE) / tot_old
           - CAST(tok_new AS DOUBLE) / tot_new) AS share_drift
FROM per, tot
"""


# --- curation_pipeline_v2: the round-3 stages chained in one plan -----------
# Second flagship composite, built from the round-3 curation operators:
# corpus boilerplate stripping → cleaned-token quality gate → SemDeDup
# semantic pruning → per-source acceptance report. As with
# llm_clean_corpus_stats, the point is that each stage is the SAME
# operator exposed standalone (boilerplate_span_strip, semdedup_prune)
# and they compose into ONE declarative plan — Catalyst sees the whole
# lineage, and no stage forces a materialization barrier. Docs without
# an embedding row pass the semantic stage by definition (LEFT join +
# coalesce(kept, true)), which keeps the pipeline total-preserving.
#
# Scale: inherits each stage's shuffle budget (two for the strip, one
# pair join for SemDeDup, one final groupBy(source)); nothing new.

_CUR_MAX_BOILER = 0.2
_CUR_MIN_TOKENS = 20


def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.oracle import exact_avg
    from big_data_pipeline_spark.workloads.similarity import semdedup_prune
    from big_data_pipeline_spark.workloads.text import boilerplate_span_strip

    docs = read_table(spark, sf_dir, "documents")
    bp = boilerplate_span_strip(spark, sf_dir)
    sem = semdedup_prune(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("kept").alias("sem_kept")
    )
    enriched = (
        docs.select("doc_id", "source")
        .join(bp, "doc_id")
        .withColumn("n_clean_tokens", F.size(tokenize("clean_text")))
        .join(sem, "doc_id", "left")
        .withColumn("sem_kept", F.coalesce("sem_kept", F.lit(True)))
        .withColumn(
            "accepted",
            (F.col("boiler_frac") <= _CUR_MAX_BOILER)
            & (F.col("n_clean_tokens") >= _CUR_MIN_TOKENS)
            & F.col("sem_kept"),
        )
    )
    return enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("accepted").cast("int")).alias("n_accepted"),
        F.sum(
            F.when(F.col("accepted"), F.col("n_clean_tokens")).otherwise(0)
        ).alias("accepted_tokens"),
        exact_avg("boiler_frac", "avg_boiler_frac"),
    )


def _curation_v2_sql() -> str:
    from big_data_pipeline_spark.oracle import exact_avg_sql
    from big_data_pipeline_spark.workloads.similarity import _semdedup_sql
    from big_data_pipeline_spark.workloads.text import _BOILER_SQL

    return rf"""
WITH bp AS ({_BOILER_SQL}),
sem AS ({_semdedup_sql()}),
enriched AS (
  SELECT d.source, b.boiler_frac,
         len(regexp_split_to_array(trim(b.clean_text), '\s+'))
           AS n_clean_tokens,
         COALESCE(s.kept, TRUE) AS sem_kept
  FROM documents d JOIN bp b USING (doc_id)
  LEFT JOIN sem s ON d.doc_id = s.vec_id
),
flagged AS (
  SELECT *, (boiler_frac <= {_CUR_MAX_BOILER}
             AND n_clean_tokens >= {_CUR_MIN_TOKENS}
             AND sem_kept) AS accepted
  FROM enriched
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_accepted,
       CAST(SUM(CASE WHEN accepted THEN n_clean_tokens ELSE 0 END) AS BIGINT)
         AS accepted_tokens,
       {exact_avg_sql("boiler_frac", "avg_boiler_frac")}
FROM flagged GROUP BY source
"""


_LLM_CLEAN_SQL = rf"""
WITH deduped AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
),
gated AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM deduped
  WHERE rn = 1
    AND len(regexp_split_to_array(trim(text), '\s+')) >= {_MIN_TOKENS}
    AND lang IN ('en','de','es','fr','zh')
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc_id
FROM gated JOIN embeddings ON doc_id = vec_id
GROUP BY lang
"""


# --- sequence packing: docs -> fixed token-budget training sequences --------
# The pretraining-loader step the cleaned corpus feeds: concatenate
# documents in a deterministic order and cut the token stream into
# fixed-budget sequences. Two formulations:
#
# * doc_pack_assign — the CONCAT-AND-SPLIT model (GPT-style packing):
#   pack boundary every `budget` tokens of the per-language running
#   stream; a document can straddle a boundary (it's assigned to the
#   pack its first token lands in). Pure window arithmetic — cumulative
#   sum then integer division — identical in Spark and DuckDB, so it is
#   fully oracle-checked.
# * pack_greedy_binpack — the NO-SPLIT model (first-fit by order): a doc
#   that would overflow the open pack starts a new one; an oversize doc
#   gets a pack alone. The capacity reset is inherently stateful (no
#   closed window form), so it runs as a per-language applyInPandas
#   sweep — grouped state bounded by docs-per-language partition, the
#   same shape as the reference's grouped OLS trainer. The sequential
#   first-fit IS still oracle-checkable: a DuckDB recursive CTE walks
#   each language's doc_id order one row per iteration, applying the
#   identical integer capacity-reset rule (integer arithmetic → exact
#   equality); greedy invariants are also pinned in
#   tests/test_llm_pipeline.py.
#
# Scale: one shuffle on lang each; the greedy sweep's per-group pass is
# O(docs-in-group) with nothing driver-side. At 100 TB the lang
# partition would be (lang, shard) with shard = hash(doc_id) % k to
# bound group size — packing quality is unaffected since packs never
# cross shards.

_PACK_BUDGET = 2048


def doc_pack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    docs = read_table(spark, sf_dir, "documents")
    # materialize once: the sharded prefix sum consumes the frame three
    # times and each replay re-tokenized the corpus. Narrow per-doc rows.
    toks = docs.select(
        "doc_id", "lang", F.size(tokenize("text")).alias("n_tokens")
    ).localCheckpoint(eager=True)
    # A plain per-lang cumulative window caps parallelism at the number
    # of languages (single-task streams at 100 TB); the two-phase
    # sharded prefix sum computes the identical integer cumsum with
    # shards-way parallelism per language (operators/prefix.py).
    cum = sharded_running_sum(
        toks, ["lang"], "doc_id", "n_tokens", "cum_tokens"
    )
    assigned = cum.withColumn(
        "pack_id",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(_PACK_BUDGET)),
    )
    return (
        assigned.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


_PACK_ASSIGN_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
assigned AS (
  SELECT doc_id, lang, n_tokens,
         CAST(FLOOR(
           (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tokens)
           / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id
  FROM toks
)
SELECT lang, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM assigned
GROUP BY lang, pack_id
"""


def pack_greedy_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(tokenize("text")).alias("n_tokens")
    )

    def pack_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids, pack_id, used = [], 0, 0
        for n in pdf["n_tokens"]:
            if used > 0 and used + n > _PACK_BUDGET:
                pack_id += 1
                used = 0
            pack_ids.append(pack_id)
            used += n
        pdf["pack_id"] = pack_ids
        return pdf

    packed = toks.groupBy("lang").applyInPandas(
        pack_group,
        schema="doc_id long, lang string, n_tokens int, pack_id long",
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# Sequential first-fit as a recursive CTE: the working table holds one
# in-flight row PER LANGUAGE; each iteration advances every language by
# one doc and applies the same used>budget reset the pandas sweep does.
# toks is MATERIALIZED so the tokenizing scan runs once, not once per
# iteration (measured 7.5s -> 0.35s at sf0.01).
_PACK_GREEDY_SQL = rf"""
WITH RECURSIVE toks AS MATERIALIZED (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
), walk AS (
  SELECT lang, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS pack_id,
         CAST(n_tokens AS BIGINT) AS used
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.lang, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN w.used > 0 AND w.used + t.n_tokens > {_PACK_BUDGET}
              THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.used > 0 AND w.used + t.n_tokens > {_PACK_BUDGET}
              THEN CAST(t.n_tokens AS BIGINT) ELSE w.used + t.n_tokens END
  FROM walk w JOIN toks t ON t.lang = w.lang AND t.rn = w.rn + 1
)
SELECT lang, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc
FROM walk GROUP BY lang, pack_id
"""


# --- stratified sampling -----------------------------------------------------

_STRATA_FRACTIONS = {"en": 0.5, "de": 0.5, "es": 0.2, "fr": 0.2, "zh": 0.2}
# LCG mix salted differently from sample_bottomk_docs so the two
# samplers select uncorrelated sets; ((id+salt)*a + c) stays < 2^63
# for ids < 2^32, so any ANSI engine evaluates it identically.
_STRATA_SALT = 9973


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified Bernoulli sample via a deterministic
    hash threshold: doc kept iff ``mix(doc_id) / 2^31 < fraction[lang]``.

    The scalable replacement for seeded ``sampleBy``: no RNG state, a
    pure narrow map (no shuffle before the counting agg), reproducible
    across runs, cluster layouts, AND engines — which upgrades this
    from a rows-only check to a full cross-engine hash check (round-2
    ``sampleBy(seed=42)`` was deterministic only within Spark). The
    same double-round LCG scrambler as sample_bottomk_docs, salted so
    the two samplers stay uncorrelated. Expected per-stratum rate is
    exactly the configured fraction; tests assert the realized rates.
    """
    docs = read_table(spark, sf_dir, "documents")
    h1 = ((F.col("doc_id") + _STRATA_SALT) * 1103515245 + 12345) % 2147483648
    hv = (h1 * 1103515245 + 12345) % 2147483648
    frac = F.create_map(
        *[F.lit(x) for kv in _STRATA_FRACTIONS.items() for x in kv]
    )
    keep = hv < frac[F.col("lang")] * 2147483648
    return (
        docs.filter(keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


def _stratified_sql() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {frac}"
        for lang, frac in _STRATA_FRACTIONS.items()
    )
    return f"""
SELECT lang, COUNT(*) AS n_sampled
FROM documents
WHERE ((((doc_id + {_STRATA_SALT}) * 1103515245 + 12345) % 2147483648)
       * 1103515245 + 12345) % 2147483648
      < (CASE lang {cases} END) * 2147483648
GROUP BY lang
"""


def sample_bottomk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-sample: the k smallest hash(doc_id)
    values. The scalable replacement for ORDER BY rand() LIMIT k — a
    TakeOrderedAndProject (per-partition top-k, tiny driver merge), no
    full sort, no RNG state, reproducible across runs and cluster
    layouts, and consistent across tables (the same keys win
    everywhere, which is what makes joins between sampled tables line
    up).

    The scrambling key is a double-round LCG mix in plain integer
    arithmetic — chosen over ``F.xxhash64`` (round 2) because any ANSI
    engine evaluates it identically, which upgrades this from a
    rows-only check to a full cross-engine hash check. A deployment
    that never needs cross-engine replay can swap xxhash64 back in;
    the sampling semantics (rank by deterministic pseudo-random key)
    are unchanged. Intermediate products stay < 2^63 for ids < 2^32;
    determinism/uniformity also asserted in tests/test_llm_pipeline.py."""
    docs = read_table(spark, sf_dir, "documents")
    h1 = (F.col("doc_id") * 1103515245 + 12345) % 2147483648
    return (
        docs.withColumn("__h", (h1 * 1103515245 + 12345) % 2147483648)
        .orderBy("__h", "doc_id")
        .limit(100)
        .select("doc_id", "lang", "source", "n_chars")
    )


_BOTTOMK_SQL = """
WITH keyed AS (
  SELECT doc_id, lang, source, n_chars,
         (((doc_id * 1103515245 + 12345) % 2147483648)
          * 1103515245 + 12345) % 2147483648 AS hv
  FROM documents
)
SELECT doc_id, lang, source, n_chars
FROM keyed ORDER BY hv, doc_id LIMIT 100
"""


# --- approximate aggregates ------------------------------------------------
# approx_corpus_stats / approx_sketch_rollup use ENGINE-INTERNAL
# sketches (Spark HLL / DataSketches / percentile_approx) that DuckDB
# cannot replay → rows-only checks with pytest accuracy bounds.
# approx_theta_overlap's KMV sketch, by contrast, is built from a
# replayable md5-prefix hash and is a cell-exact check since r6.


def approx_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct + quantile sketches — the 100 TB formulations of
    COUNT(DISTINCT) and percentile_cont. No SQL oracle BY DESIGN:
    Spark's HLL++/KLL estimator internals (hash, register layout,
    interpolation) differ from DuckDB's sketches, so the estimates are
    engine-specific; accuracy bounds are asserted against exact values
    in tests/test_llm_pipeline.py."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("approx_median"),
        F.percentile_approx("l_extendedprice", 0.99, 10_000).alias("approx_p99"),
    )


def approx_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, Spark 3.5+): build
    per-day user sketches, then union-merge them into per-type distinct
    estimates WITHOUT touching raw data again. This is the incremental
    pattern approx_count_distinct can't do — its estimate isn't
    re-aggregatable, but a persisted daily sketch table lets a 100 TB
    pipeline answer "distinct users any period" by merging kilobyte
    sketches. Estimates are engine-specific (rows-only check); accuracy
    vs exact distinct is asserted in tests/test_llm_pipeline.py."""
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.hll_sketch_agg("user_id").alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias(
                "approx_users"
            ),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("event_type")
    )


# --- approx_theta_overlap: KMV/theta set-operation estimates ---------------
# What HLL can't do: estimate the INTERSECTION of two distinct-sets
# without re-scanning raw data. KMV sketches of click/purchase user
# sets → union AND intersection estimates from k doubles per side,
# reported next to the exact counts (computed here only to expose the
# error; a 100 TB deployment would persist the k-double sketches and
# skip the exact pass). CELL-EXACT since r6 (was rows-only): the KMV
# hash is now a 60-bit md5-prefix (functions/sketches.normalized_hash)
# that DuckDB replays nibble-for-nibble, so the twin rebuilds the
# sketches relationally (distinct → hash → per-group bottom-k) and
# re-derives all four estimates with the same float ops — every
# threshold, estimate, and exact count hash-matches. Accuracy bounds
# stay pinned in tests/test_sketches.py.

_THETA_K = 64


def approx_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.functions.sketches import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_sketch,
        kmv_union_estimate,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "user_id")
    )
    sk = kmv_sketch(ev, "event_type", "user_id", _THETA_K)
    a = sk.filter(F.col("event_type") == "click").select(
        F.col("sketch").alias("a_sk"), F.col("n_distinct").alias("a_n")
    )
    b = sk.filter(F.col("event_type") == "purchase").select(
        F.col("sketch").alias("b_sk"), F.col("n_distinct").alias("b_n")
    )
    exact = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "click").alias("has_a"),
            F.max(F.col("event_type") == "purchase").alias("has_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("x_union"),
            F.sum((F.col("has_a") & F.col("has_b")).cast("long")).alias(
                "x_inter"
            ),
        )
    )
    k = _THETA_K
    measures = F.array(
        F.struct(
            F.lit("click_users").alias("measure"),
            kmv_estimate(F.col("a_sk"), F.col("a_n"), k).alias("estimate"),
            F.col("a_n").cast("double").alias("exact"),
        ),
        F.struct(
            F.lit("purchase_users").alias("measure"),
            kmv_estimate(F.col("b_sk"), F.col("b_n"), k).alias("estimate"),
            F.col("b_n").cast("double").alias("exact"),
        ),
        F.struct(
            F.lit("union_users").alias("measure"),
            kmv_union_estimate(F.col("a_sk"), F.col("b_sk"), k).alias(
                "estimate"
            ),
            F.col("x_union").cast("double").alias("exact"),
        ),
        F.struct(
            F.lit("intersect_users").alias("measure"),
            kmv_intersect_estimate(F.col("a_sk"), F.col("b_sk"), k).alias(
                "estimate"
            ),
            F.col("x_inter").cast("double").alias("exact"),
        ),
    )
    return (
        a.crossJoin(b)
        .crossJoin(F.broadcast(exact))
        .select(F.explode(measures).alias("m"))
        .select("m.measure", "m.estimate", "m.exact")
    )


def _theta_sql() -> str:
    """Full-replay DuckDB twin of approx_theta_overlap: rebuild both
    KMV sketches from the replayable md5-prefix hash, then evaluate
    the four estimators with the same scalar float arithmetic Spark's
    array expressions perform (63/kth-min, theta-scaled shared count).
    The `scalars` cross join propagates emptiness: if either event
    family is absent the Spark side emits zero rows, and so does this."""
    from big_data_pipeline_spark.functions.sketches import (
        normalized_hash_sql,
    )

    k = _THETA_K
    u = normalized_hash_sql("user_id")
    return f"""
WITH ev AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE event_type IN ('click', 'purchase')
),
uv AS (SELECT event_type, user_id, {u} AS u FROM ev),
ranked AS (
  SELECT event_type, u,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM uv
),
cnt AS (SELECT event_type, COUNT(*) AS n FROM uv GROUP BY 1),
uni AS (SELECT DISTINCT u FROM uv),
uni_ranked AS (SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn FROM uni),
inter_exact AS (
  SELECT COUNT(*) AS x_inter FROM (
    SELECT user_id FROM ev GROUP BY user_id
    HAVING COUNT(DISTINCT event_type) = 2
  )
),
scalars AS (
  SELECT a.n AS a_n, b.n AS b_n,
         (SELECT COUNT(*) FROM uni) AS u_n,
         (SELECT x_inter FROM inter_exact) AS x_inter,
         (SELECT u FROM ranked
          WHERE event_type = 'click' AND rn = {k}) AS kth_a,
         (SELECT u FROM ranked
          WHERE event_type = 'purchase' AND rn = {k}) AS kth_b,
         (SELECT u FROM uni_ranked WHERE rn = {k}) AS kth_u,
         CASE WHEN a.n < {k} THEN 1.0
              ELSE (SELECT u FROM ranked
                    WHERE event_type = 'click' AND rn = {k}) END AS theta_a,
         CASE WHEN b.n < {k} THEN 1.0
              ELSE (SELECT u FROM ranked
                    WHERE event_type = 'purchase' AND rn = {k}) END
           AS theta_b
  FROM (SELECT n FROM cnt WHERE event_type = 'click') a,
       (SELECT n FROM cnt WHERE event_type = 'purchase') b
),
shared AS (
  SELECT COUNT(*) AS n_shared
  FROM ranked ra JOIN ranked rb ON ra.u = rb.u, scalars s
  WHERE ra.event_type = 'click' AND rb.event_type = 'purchase'
    AND ra.rn <= {k} AND rb.rn <= {k}
    AND ra.u < LEAST(s.theta_a, s.theta_b)
)
SELECT 'click_users' AS measure,
       CASE WHEN a_n < {k} THEN CAST(a_n AS DOUBLE)
            ELSE {k - 1} / kth_a END AS estimate,
       CAST(a_n AS DOUBLE) AS exact
FROM scalars
UNION ALL
SELECT 'purchase_users',
       CASE WHEN b_n < {k} THEN CAST(b_n AS DOUBLE)
            ELSE {k - 1} / kth_b END,
       CAST(b_n AS DOUBLE)
FROM scalars
UNION ALL
SELECT 'union_users',
       CASE WHEN u_n < {k} THEN CAST(u_n AS DOUBLE)
            ELSE {k - 1} / kth_u END,
       CAST((SELECT COUNT(DISTINCT user_id) FROM ev) AS DOUBLE)
FROM scalars
UNION ALL
SELECT 'intersect_users',
       (SELECT n_shared FROM shared) / LEAST(theta_a, theta_b),
       CAST(x_inter AS DOUBLE)
FROM scalars
"""


# --- approx_heavy_tokens: fixed-memory heavy hitters (Misra-Gries) ---------
# groupBy-count is exact but keeps one state entry per distinct key;
# over raw n-grams at 100 TB that state is the problem. Misra-Gries
# caps memory at k counters per partition and still guarantees every
# token with frequency > N/(k+1) surfaces. Estimates are lower bounds
# (engine-specific traversal order → rows-only check); the exact count
# is joined on for the error column, and the guarantee itself is
# asserted in tests/test_sketches.py.


def approx_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters joined to exact counts. No SQL oracle
    BY DESIGN: the MG summary's estimates depend on partition merge
    order (any single-pass replay in DuckDB would pin one traversal,
    not the operator's contract); the frequency guarantee
    (est <= exact <= est + n/k) is asserted in tests instead."""
    from big_data_pipeline_spark.functions.sketches import misra_gries_topk

    tokens = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    mg = misra_gries_topk(tokens, "token", k=200, top=10)
    exact = tokens.groupBy(F.col("token").alias("value")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return mg.join(exact, "value").orderBy(
        F.desc("est_count"), F.asc("value")
    )


# --- Gini concentration audit (source size inequality) ----------------------
#
# Corpus curation wants to know how unequally content is distributed —
# a source whose token mass is concentrated in a handful of giant
# documents behaves very differently under per-doc sampling than one
# with uniform sizes. The Gini coefficient over doc sizes per source is
# the standard inequality measure; the rank formula
#   G = (2 * sum(i * x_i)) / (n * sum(x_i)) - (n + 1) / n
# (x ascending, i = 1..n) needs one per-source rank window + integer
# aggregations — all sums are exact BIGINTs (n_chars is integral), the
# final expression is one fixed-association double. Per-source windows
# partition by source (bounded docs per source per shard at scale —
# the same per-key argument as the sessionizers).


def gini_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.col("i") * F.col("n_chars")).alias("rank_mass"),
    )
    gini = F.expr(
        "(2.0 * CAST(rank_mass AS DOUBLE))"
        " / (CAST(n_docs AS DOUBLE) * CAST(total_chars AS DOUBLE))"
        " - CAST(n_docs + 1 AS DOUBLE) / CAST(n_docs AS DOUBLE)"
    )
    return agg.select(
        "source", "n_docs", "total_chars", gini.alias("gini")
    )


_GINI_SQL = """
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS i
  FROM documents
),
agg AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(i * n_chars) AS BIGINT) AS rank_mass
  FROM ranked GROUP BY source
)
SELECT source, n_docs, total_chars,
       (2.0 * CAST(rank_mass AS DOUBLE))
         / (CAST(n_docs AS DOUBLE) * CAST(total_chars AS DOUBLE))
         - CAST(n_docs + 1 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS gini
FROM agg
"""


# --- count-min sketch (deterministic, oracle-checked) -----------------------
#
# Cormode & Muthukrishnan (2005): d hash rows x w counters, point query
# = min over rows. Unlike the theta/HLL/MG sketches (rows-only checks —
# their estimates depend on sample/traversal order), CMS is a PURE
# function of the multiset: with fixed hash functions the counter
# matrix is exactly reproducible, so this is the one sketch family
# member the DuckDB oracle can replay cell-exactly. The shared hash is
# md5-prefix -> uint32 (identical in both engines, validated in
# tests/test_sketches.py), bucketed mod w.
#
# Scale: the sketch build is one explode(d) + groupBy((row, bucket)) —
# at most d*w groups regardless of corpus size (the textbook mergeable-
# summary property: per-partition partial sketches combine by cell
# addition, which is exactly Spark's partial aggregation). Point
# queries probe d cells per queried token via a broadcast equi-join.

_CMS_W = 512
_CMS_D = 4
_CMS_TOP = 20


def _cms_bucket(col, k: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"s{k}:"), col)), 1, 8), 16, 10
        ).cast("long")
        % _CMS_W
    )


def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokenize("text")).alias("token"))
    rows = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        _cms_bucket(F.col("token"), k).alias("bucket"),
                    )
                    for k in range(_CMS_D)
                ]
            )
        ).alias("cell")
    )
    sketch = rows.groupBy("cell.k", "cell.bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    true_counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("true_count")
    )
    top = true_counts.orderBy(
        F.desc("true_count"), F.asc("token")
    ).limit(_CMS_TOP)
    probes = top.select(
        "token",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        _cms_bucket(F.col("token"), k).alias("bucket"),
                    )
                    for k in range(_CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("token", "true_count", "cell.k", "cell.bucket")
    return (
        F.broadcast(probes)
        .join(sketch, ["k", "bucket"])
        .groupBy("token", "true_count")
        .agg(F.min("c").alias("cms_estimate"))
        .withColumn(
            "overestimate", F.col("cms_estimate") - F.col("true_count")
        )
    )


def _cms_sql() -> str:
    hash_expr = (
        "CAST(concat('0x', substr(md5(concat('s', CAST(k AS VARCHAR), ':', "
        "token)), 1, 8)) AS BIGINT) % {w}"
    ).format(w=_CMS_W)
    return f"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
),
cells AS (
  SELECT token, CAST(r.k AS INT) AS k, {hash_expr} AS bucket
  FROM tok CROSS JOIN range({_CMS_D}) r(k)
),
sketch AS (SELECT k, bucket, COUNT(*) AS c FROM cells GROUP BY 1, 2),
truec AS (SELECT token, COUNT(*) AS true_count FROM tok GROUP BY 1),
top AS (
  SELECT token, true_count FROM truec
  ORDER BY true_count DESC, token ASC LIMIT {_CMS_TOP}
),
probes AS (
  SELECT t.token, t.true_count, CAST(r.k AS INT) AS k, {hash_expr} AS bucket
  FROM top t CROSS JOIN range({_CMS_D}) r(k)
),
est AS (
  SELECT p.token, p.true_count, MIN(s.c) AS cms_estimate
  FROM probes p JOIN sketch s ON s.k = p.k AND s.bucket = p.bucket
  GROUP BY 1, 2
)
SELECT token, true_count, cms_estimate,
       cms_estimate - true_count AS overestimate
FROM est
"""


# --- deterministic HyperLogLog (oracle-checked) -----------------------------
#
# Flajolet et al. (2007) HLL with every source of engine divergence
# removed, so — like the CMS above — the sketch itself is cross-engine
# hash-checked, not just rows-only:
#
# - the item hash is the md5-prefix -> 60-bit integer (identical in
#   both engines);
# - rho (leading-zero rank) comes from a generated integer binary-
#   search CASE cascade — no log2(), whose last-ulp behavior near
#   exact powers of two is not portable;
# - the register sum Σ 2^-M_j is a sum of dyadic doubles spanning at
#   most ~44 mantissa bits, so it is EXACT in IEEE double regardless
#   of summation order — order-insensitive with no DECIMAL routing;
# - the final estimate (one division, or linear counting's ln) is
#   rounded through DECIMAL(38,6) once.
#
# Scale: registers are the textbook mergeable summary — groupBy
# (group, register) MAX is Spark's partial aggregation doing the merge
# map-side; the per-group state is m=2^b registers regardless of
# cardinality. approx_sketch_rollup keeps the Spark-native
# approx_count_distinct for comparison; this one trades its tuned
# internals for full oracle checkability.

_HLL_B = 9          # 2^9 = 512 registers
_HLL_M = 1 << _HLL_B
_HLL_WBITS = 60 - _HLL_B  # md5-prefix yields 60 hash bits
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


def _highest_bit_case(expr: str, bits: int) -> str:
    """SQL CASE cascade: floor(log2(expr)) for expr >= 1 via integer
    comparisons only (portable, exact). Linear cascade, highest first."""
    cases = " ".join(
        f"WHEN {expr} >= {1 << k} THEN {k}" for k in range(bits - 1, 0, -1)
    )
    return f"(CASE {cases} ELSE 0 END)"


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    h = (
        "CAST(conv(substring(md5(concat('hll:', CAST(user_id AS STRING))),"
        " 1, 15), 16, 10) AS BIGINT)"
    )
    reg = f"CAST({h} % {_HLL_M} AS INT)"
    # `div` = integer division (Spark's `/` on BIGINT yields DOUBLE)
    w = f"CAST({h} div {_HLL_M} AS BIGINT)"
    hb = _highest_bit_case("w", _HLL_WBITS)
    regs = (
        ev.selectExpr(
            "event_type", f"{reg} AS reg", f"{w} AS w"
        )
        .selectExpr(
            "event_type",
            "reg",
            f"CASE WHEN w = 0 THEN {_HLL_WBITS + 1}"
            f" ELSE {_HLL_WBITS} - {hb} END AS rho",
        )
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("m_rho"))
    )
    per_group = regs.groupBy("event_type").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_rho"))).alias("sum_obs"),
        F.count(F.lit(1)).alias("v_obs"),
    )
    # explicit DOUBLE casts on every literal: both engines type bare
    # decimal literals as DECIMAL, which would evaluate a different
    # (and in DuckDB overflowing) arithmetic stream
    alpha = f"CAST({_HLL_ALPHA!r} AS DOUBLE)"
    m_d = f"CAST({_HLL_M} AS DOUBLE)"
    est = (
        f"{alpha} * {m_d} * {m_d}"
        f" / (sum_obs + CAST({_HLL_M} - v_obs AS DOUBLE))"
    )
    # small-range (linear counting) correction when empty registers
    # remain and the raw estimate is below 2.5m
    corrected = (
        f"CASE WHEN ({est}) <= CAST({2.5 * _HLL_M!r} AS DOUBLE)"
        f" AND v_obs < {_HLL_M}"
        f" THEN {m_d} * ln({m_d}"
        f" / CAST({_HLL_M} - v_obs AS DOUBLE))"
        f" ELSE ({est}) END"
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return (
        per_group.selectExpr(
            "event_type",
            f"CAST(CAST({corrected} AS DECIMAL(38,6)) AS DOUBLE)"
            " AS hll_estimate",
        )
        .join(exact, "event_type")
        .selectExpr(
            "event_type",
            "exact_distinct",
            "hll_estimate",
            "CAST(CAST(abs(hll_estimate - CAST(exact_distinct AS DOUBLE))"
            " / CAST(exact_distinct AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)"
            " AS rel_error",
        )
    )


def _hll_sql() -> str:
    h = (
        "CAST(concat('0x', substr(md5(concat('hll:', CAST(user_id AS"
        " VARCHAR))), 1, 15)) AS BIGINT)"
    )
    hb = _highest_bit_case("w", _HLL_WBITS)
    # every float literal is an explicit DOUBLE cast: DuckDB types bare
    # decimal literals as DECIMAL, whose multiply overflows / rounds
    # differently than the IEEE stream Spark evaluates
    alpha = f"CAST({_HLL_ALPHA!r} AS DOUBLE)"
    m_d = f"CAST({_HLL_M} AS DOUBLE)"
    est = (
        f"{alpha} * {m_d} * {m_d}"
        f" / (sum_obs + CAST({_HLL_M} - v_obs AS DOUBLE))"
    )
    corrected = (
        f"CASE WHEN ({est}) <= CAST({2.5 * _HLL_M!r} AS DOUBLE)"
        f" AND v_obs < {_HLL_M}"
        f" THEN {m_d} * ln({m_d}"
        f" / CAST({_HLL_M} - v_obs AS DOUBLE))"
        f" ELSE ({est}) END"
    )
    return f"""
WITH hashed AS (
  SELECT event_type,
         CAST({h} % {_HLL_M} AS INT) AS reg,
         CAST({h} // {_HLL_M} AS BIGINT) AS w
  FROM events
),
rhos AS (
  SELECT event_type, reg,
         CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS} - {hb} END AS rho
  FROM hashed
),
regs AS (
  SELECT event_type, reg, MAX(rho) AS m_rho
  FROM rhos GROUP BY 1, 2
),
per_group AS (
  SELECT event_type, SUM(POWER(2.0, -m_rho)) AS sum_obs,
         COUNT(*) AS v_obs
  FROM regs GROUP BY 1
),
est AS (
  SELECT event_type,
         CAST(CAST({corrected} AS DECIMAL(38,6)) AS DOUBLE) AS hll_estimate
  FROM per_group
),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT e.event_type, x.exact_distinct, e.hll_estimate,
       CAST(CAST(abs(e.hll_estimate - CAST(x.exact_distinct AS DOUBLE))
            / CAST(x.exact_distinct AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)
         AS rel_error
FROM est e JOIN exact x ON x.event_type = e.event_type
"""


# --- BPE merge-rule learning (tokenizer training) ---------------------------
#
# Sennrich et al. (ACL 2016) byte-pair-encoding trainer: K rounds of
# "count adjacent symbol pairs, merge the most frequent". The corpus-
# scale stage is ONE distributed aggregation — word frequencies with
# map-side combine — after which BPE provably needs only the weighted
# vocabulary (pair counts are sums over distinct words x their corpus
# counts), which is model-sized at any corpus scale: 100 TB of text
# still yields a vocab that fits one executor. Rounds therefore iterate
# on the compact table: pair counting is a tiny explode+agg per round,
# the argmax is a 1-row collect (a model parameter, not row data), and
# the merge applies via an Arrow-batched UDF. This two-phase shape
# (distributed count -> compact iterate) is exactly how production BPE
# trainers scale.
#
# Rows-only driver check: the output IS the learned merge table (K
# rows), produced by an iterative argmax that SQL window functions
# cannot replay; tests/test_llm_pipeline.py replays the identical
# algorithm in pure Python and pins the rules exactly.

_BPE_ROUNDS = 8
_BPE_EOW = "</w>"
# Below this distinct-word count the weighted vocab is collected and
# the rounds run in-process — the same gated driver-solve as
# dedup/clusters.py's connected components (DRIVER_MAX_EDGES): the
# vocab is a MODEL (bounded by the language, not the corpus — production
# BPE trainers hold exactly this word-count table in RAM), so iterating K
# rounds on it locally beats K Spark jobs of pure scheduling overhead
# (measured 15.8s -> <1s at sf0.001). Above the gate the distributed
# round loop below computes identical rules.
_BPE_DRIVER_MAX_VOCAB = 200_000


def _bpe_learn_local(word_counts, rounds):
    """Reference BPE rounds over a {word: count} table (greedy
    left-to-right pair scan, ties broken (count desc, left, right))."""
    seqs = {w: [*w, _BPE_EOW] for w in word_counts}
    rules = []
    for rnd in range(1, rounds + 1):
        counts: dict[tuple, int] = {}
        for w, syms in seqs.items():
            wc = word_counts[w]
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                counts[pair] = counts.get(pair, 0) + wc
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        rules.append((rnd, left, right, merged, cnt))
        for w, syms in seqs.items():
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return rules


def _bpe_merge_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled DuckDB replay of the BPE rounds (rows-only -> cell-exact,
    VERDICT r6 item 3).

    Per round, two relational steps twin the trainer exactly:
    - pair counting: split each word's symbol string back into its
      symbol array and unnest adjacent (l, r) pairs weighted by word
      count; the top pair is ORDER BY cnt DESC, l, r LIMIT 1 — the
      byte-order tie-break _bpe_learn_local uses (Python code-point
      tuple compare == DuckDB binary VARCHAR collation for UTF-8).
    - merge apply: each symbol is wrapped as chr(1)|sym|chr(1), so
      SQL replace() of chr(1)|l|chr(1)chr(1)|r|chr(1) with
      chr(1)|lr|chr(1) IS the greedy left-to-right non-overlapping
      BPE merge — consecutive matches share no characters, and chr(1)
      never occurs inside a token (whitespace-split text). Counts are
      integer-exact, so the replay is deterministic at any SF.
    """
    sep = "chr(1)"
    parts = [f"""
WITH words AS (
  SELECT word, count(*) AS wc
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
        FROM documents)
  WHERE word <> ''
  GROUP BY word
),
seqs0 AS (
  SELECT wc,
         regexp_replace(word, '(.)', {sep} || '\\1' || {sep}, 'g')
           || {sep} || '{_BPE_EOW}' || {sep} AS s
  FROM words
)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
pairs{r} AS (
  SELECT p['l'] AS lft, p['r'] AS rgt, CAST(SUM(wc) AS BIGINT) AS cnt
  FROM (SELECT wc,
               unnest([{{'l': syms[i], 'r': syms[i + 1]}}
                       for i in generate_series(1, len(syms) - 1)]) AS p
        FROM (SELECT wc, string_split(trim(s, {sep}), {sep} || {sep}) AS syms
              FROM seqs{r - 1}))
  GROUP BY 1, 2
),
top{r} AS (SELECT lft, rgt, cnt FROM pairs{r}
           ORDER BY cnt DESC, lft, rgt LIMIT 1),
seqs{r} AS (
  SELECT wc, replace(s, {sep} || lft || {sep} || {sep} || rgt || {sep},
                     {sep} || lft || rgt || {sep}) AS s
  FROM seqs{r - 1}, top{r}
)""")
    union = "\nUNION ALL\n".join(
        f'SELECT {r} AS round, lft AS "left", rgt AS "right", '
        f"lft || rgt AS merged, cnt AS pair_count FROM top{r}"
        for r in range(1, rounds + 1)
    )
    parts.append("\n" + union)
    return "".join(parts)


def bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    docs = read_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )

    if words.count() <= _BPE_DRIVER_MAX_VOCAB:
        wc_map = {r.word: r.wc for r in words.collect()}  # model-sized
        rules = _bpe_learn_local(wc_map, _BPE_ROUNDS)
        return spark.createDataFrame(
            [(r, l, rt, m, int(c)) for r, l, rt, m, c in rules],
            "round int, left string, right string, merged string,"
            " pair_count bigint",
        )

    # lazy: each round's top-pair collect is a full action, so it
    # materializes the pending checkpoint in the same job (and the final
    # round's checkpoint — whose frame nothing consumes — never runs)
    seqs = words.select(
        "wc",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(_BPE_EOW))
        ).alias("syms"),
    ).localCheckpoint(eager=False)

    rules = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        pair_counts = (
            seqs.select(
                "wc",
                F.explode(
                    F.transform(
                        F.sequence(
                            F.lit(1), F.size("syms") - 1
                        ),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("l"),
                            F.element_at("syms", i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("cnt"))
        )
        top = pair_counts.orderBy(
            F.desc("cnt"), F.asc("l"), F.asc("r")
        ).limit(1).collect()
        if not top:
            break
        left, right, cnt = top[0].l, top[0].r, top[0].cnt
        merged = left + right
        rules.append((rnd, left, right, merged, int(cnt)))

        @pandas_udf(T.ArrayType(T.StringType()))
        def apply_merge(col):  # noqa: B023 - rebuilt each round on purpose
            import pandas as pd

            def merge_one(syms):
                out, i, n = [], 0, len(syms)
                while i < n:
                    if (
                        i + 1 < n
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(merged)
                        i += 2  # greedy left-to-right, non-overlapping
                    else:
                        out.append(syms[i])
                        i += 1
                return out

            return pd.Series([merge_one(list(s)) for s in col])

        seqs = seqs.select("wc", apply_merge("syms").alias("syms"))
        # cut lineage each round — K stacked UDF stages otherwise
        # re-execute cumulatively (same discipline as the star loop in
        # dedup/clusters.py); lazy, see the note above
        seqs = seqs.localCheckpoint(eager=False)

    return spark.createDataFrame(
        rules, "round int, left string, right string, merged string, pair_count bigint"
    )


# --- span_corruption_plan: T5-style span-masking statistics ------------------
# Pretraining data prep (Raffel et al., 2020): corrupt ~15% of tokens
# as length-L spans. The plan stage is deterministic here — span
# starts are chosen by the house md5-prefix hash on (doc_id, pos)
# against a probability threshold, spans cover [start, start+L), and
# overlapping spans merge (a position is masked if ANY start covers
# it). Emitted per doc: token count, span-start count, distinct
# masked positions, realized mask ratio — the stats a data pipeline
# reports to confirm the corruption schedule before writing examples.
#
# Scale shape: one posexplode (linear in tokens), the start set
# explodes ×L (L=3, constant), one distinct + one groupBy keyed on
# doc_id — map-side combinable, no window, no Python. The oracle
# replays the identical hash arithmetic, so even the "random" masking
# is cell-exact across engines.

_SPAN_LEN = 3
_SPAN_START_PCT = 6  # P(start) = 6% of positions → ~15-18% masked

def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    pos = docs.select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos", "tok")
    ).select("doc_id", "pos")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    n_tok = pos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    starts = pos.filter(h % 100 < _SPAN_START_PCT)
    n_starts = starts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    covered = (
        starts.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("pos"), F.col("pos") + F.lit(_SPAN_LEN - 1)
                )
            ).alias("mpos"),
        )
        .join(
            n_tok.select("doc_id", "n_tokens"), "doc_id"
        )
        .filter(F.col("mpos") < F.col("n_tokens"))
        .select("doc_id", "mpos")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_masked"))
    )
    return (
        n_tok.join(n_starts, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_masked", F.lit(0)).cast("bigint").alias("n_masked"),
            (
                F.coalesce("n_masked", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("mask_ratio"),
        )
    )


_SPAN_SQL = rf"""
WITH pos AS (
  SELECT doc_id, u.i - 1 AS pos
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents), UNNEST(range(1, len(t) + 1)) AS u(i)
),
n_tok AS (SELECT doc_id, COUNT(*) AS n_tokens FROM pos GROUP BY doc_id),
starts AS (
  SELECT doc_id, pos FROM pos
  WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':',
        CAST(pos AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < {_SPAN_START_PCT}
),
n_starts AS (SELECT doc_id, COUNT(*) AS n_spans FROM starts GROUP BY doc_id),
covered AS (
  SELECT doc_id, COUNT(*) AS n_masked FROM (
    SELECT DISTINCT s.doc_id, s.pos + d.d AS mpos
    FROM starts s
    CROSS JOIN (SELECT UNNEST(range(0, {_SPAN_LEN})) AS d) d
    JOIN n_tok n ON n.doc_id = s.doc_id
    WHERE s.pos + d.d < n.n_tokens
  ) GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(c.n_masked, 0) AS BIGINT) AS n_masked,
       CAST(COALESCE(c.n_masked, 0) AS DOUBLE) / t.n_tokens AS mask_ratio
FROM n_tok t
LEFT JOIN n_starts s USING (doc_id)
LEFT JOIN covered c USING (doc_id)
"""


# --- top_p_nucleus_filter: nucleus (top-p) vocabulary truncation ------------
# The decoding-side data op (Holtzman et al. 2020) applied to the
# corpus bigram model: for each context token w1, keep the SMALLEST
# prefix of next-tokens (ordered by count desc, token asc) whose
# cumulative count reaches p% of the context total — the per-context
# nucleus a sampler would draw from, and the truncation statistic
# pipelines report when pruning long-tail continuation tables. The
# keep rule is INTEGER-exact: keep while 100*(cum - cnt) < p * total
# (strict prefix mass below the threshold), so no float probability
# ever enters the cut decision and both engines agree cell-exact.
#
# Scale: bigram counting is one map-side-combinable groupBy; ranking
# and running sums are windows PARTITIONED BY the context token
# (vocab-bounded groups, never the corpus); contexts below _NUC_MIN
# total are dropped (their nuclei are noise).

_NUC_P_PCT = 90  # nucleus mass threshold, percent
_NUC_MIN = 40  # minimum context total count


def top_p_nucleus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    # size >= 2 gate BEFORE the explode: Spark's sequence(1, 0) yields
    # the descending [1, 0] and element_at(t, 0) raises at runtime on a
    # single-token doc; the gate degrades to zero bigrams instead,
    # matching the oracle's range() semantics.
    big = toks.where(F.size("t") >= 2).select(
        F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
        F.col("t"),
    ).select(
        F.element_at("t", F.col("i")).alias("w1"),
        F.element_at("t", F.col("i") + 1).alias("w2"),
    )
    cnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    wtot = Window.partitionBy("w1")
    wrank = Window.partitionBy("w1").orderBy(F.desc("cnt"), F.asc("w2"))
    ranked = cnt.select(
        "w1",
        "w2",
        "cnt",
        F.sum("cnt").over(wtot).alias("total"),
        F.row_number().over(wrank).alias("rnk"),
        F.sum("cnt").over(
            Window.partitionBy("w1")
            .orderBy(F.desc("cnt"), F.asc("w2"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    return ranked.filter(
        (F.col("total") >= _NUC_MIN)
        & (100 * (F.col("cum") - F.col("cnt")) < _NUC_P_PCT * F.col("total"))
    ).select(
        "w1",
        "w2",
        "rnk",
        "cnt",
        "cum",
        "total",
        (F.col("cnt").cast("double") / F.col("total")).alias("p_next"),
    )


_NUCLEUS_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
big AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, UNNEST(range(1, GREATEST(len(t), 1))) AS u(i)
),
cnt AS (SELECT w1, w2, COUNT(*) AS cnt FROM big GROUP BY w1, w2),
ranked AS (
  SELECT w1, w2, cnt,
         SUM(cnt) OVER (PARTITION BY w1) AS total,
         ROW_NUMBER() OVER (PARTITION BY w1
                            ORDER BY cnt DESC, w2 ASC) AS rnk,
         SUM(cnt) OVER (PARTITION BY w1 ORDER BY cnt DESC, w2 ASC
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM cnt
)
SELECT w1, w2, rnk, cnt, CAST(cum AS BIGINT) AS cum,
       CAST(total AS BIGINT) AS total,
       CAST(cnt AS DOUBLE) / total AS p_next
FROM ranked
WHERE total >= {_NUC_MIN}
  AND 100 * (cum - cnt) < {_NUC_P_PCT} * total
"""


QUERIES = {
    "top_p_nucleus_filter": top_p_nucleus_filter,
    "span_corruption_plan": span_corruption_plan,
    "gini_source_concentration": gini_source_concentration,
    "hll_distinct_users": hll_distinct_users,
    "cms_token_counts": cms_token_counts,
    "bpe_merge_learn": bpe_merge_learn,
    "llm_clean_corpus_stats": llm_clean_corpus_stats,
    "curation_pipeline_v2": curation_pipeline_v2,
    "length_bucket_batches": length_bucket_batches,
    "dataset_card_stats": dataset_card_stats,
    "source_mix_drift": source_mix_drift,
    "doc_pack_assign": doc_pack_assign,
    "pack_greedy_binpack": pack_greedy_binpack,
    "approx_theta_overlap": approx_theta_overlap,
    "approx_heavy_tokens": approx_heavy_tokens,
    "approx_sketch_rollup": approx_sketch_rollup,
    "stratified_sample_docs": stratified_sample_docs,
    "sample_bottomk_docs": sample_bottomk_docs,
    "approx_corpus_stats": approx_corpus_stats,
}

ORACLE = {
    "approx_theta_overlap": _theta_sql(),
    "bpe_merge_learn": _bpe_merge_sql(),
    "top_p_nucleus_filter": _NUCLEUS_SQL,
    "span_corruption_plan": _SPAN_SQL,
    "gini_source_concentration": _GINI_SQL,
    "hll_distinct_users": _hll_sql(),
    "cms_token_counts": _cms_sql(),
    "llm_clean_corpus_stats": _LLM_CLEAN_SQL,
    "curation_pipeline_v2": _curation_v2_sql(),
    "length_bucket_batches": _LENGTH_BUCKET_SQL,
    "dataset_card_stats": _DATASET_CARD_SQL,
    "source_mix_drift": _SOURCE_DRIFT_SQL,
    "doc_pack_assign": _PACK_ASSIGN_SQL,
    "pack_greedy_binpack": _PACK_GREEDY_SQL,
    "sample_bottomk_docs": _BOTTOMK_SQL,
    "stratified_sample_docs": _stratified_sql(),
}
