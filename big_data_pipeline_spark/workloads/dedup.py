"""Approximate-dedup workload: MinHash-LSH and SimHash near-dup pairs.

Both are approximate-by-construction but fully DETERMINISTIC, and both
are cell-exact oracle checks today (minhash since r4, simhash since
r5): the DuckDB twins replay the md5-derived signatures and recompute
the pair sets brute-force, so the driver hash-checks the banding /
pigeonhole tricks' completeness, not just the plumbing. Quality is
additionally pinned in tests:
- tests/test_dedup.py asserts MinHash recall == 1.0 on the corpus's
  planted near-dups vs the exact ``shingle_jaccard_pairs`` oracle query,
  and SimHash determinism across runs.
- ``minhash_dedup_pairs`` verifies every candidate with EXACT Jaccard,
  so its output is a subset of the exact query's — precision 1.0 by
  construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from big_data_pipeline_spark.dedup.minhash import minhash_dedup_pairs
from big_data_pipeline_spark.dedup.simhash import simhash_pairs
from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.workloads.text import (
    _JACCARD_SQL as _EXACT_PAIRS_SQL,
)


def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, threshold=0.5)


def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3, chunks=4)


def _simhash_sql() -> str:
    """DuckDB twin of simhash_near_dups, cell-exact by construction:
    the fingerprint is fully deterministic (md5-prefix feature hash,
    64 sign-of-bit-sum bits), so DuckDB REPLAYS it — same shingles,
    same hash halves parsed from the md5 hex, same 64 aggregate signs,
    same signed-BIGINT assembly — then recomputes the Hamming <= 3
    pair set by brute force (fine at oracle scale; the Spark side's
    pigeonhole chunk join is LOSSLESS for chunks=4 > d=3, so the two
    formulations must agree exactly — the driver hash-checks the
    pigeonhole trick's completeness, not just the plumbing)."""
    hexd = "0123456789abcdef"

    def half(off: int) -> str:
        # parse 8 lowercase hex chars starting at 1-based offset `off`
        # into a BIGINT, nibble by nibble
        return " + ".join(
            f"(strpos('{hexd}', substring(hx, {off + k}, 1)) - 1) "
            f"* {16 ** (7 - k)}"
            for k in range(8)
        )

    def bit(b: int) -> str:
        src, shift = ("lo", b) if b < 32 else ("hi", b - 32)
        return f"(({src} >> {shift}) & 1)"

    fp_terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN {bit(b)} = 1 THEN 1 ELSE -1 END) >= 0 "
        f"THEN CAST({(1 << b) if b < 63 else -(1 << 63)} AS BIGINT) "
        f"ELSE 0 END)"
        for b in range(64)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
sh AS (
  -- GREATEST(.., 2) mirrors Spark's exploded_shingles clamp: docs with
  -- <3 tokens emit ONE clipped partial shingle (t[i:i+2] clips at the
  -- array end, matching concat_ws's null-skip), so short/empty docs get
  -- a fingerprint in BOTH engines instead of silently vanishing here.
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, GREATEST(len(t)-1, 2))) AS u(i)
),
feat AS (
  SELECT doc_id, md5(shingle) AS hx FROM sh
),
halves AS (
  SELECT doc_id, {half(1)} AS hi, {half(9)} AS lo FROM feat
),
fp AS (
  SELECT doc_id, {fp_terms} AS simhash FROM halves GROUP BY doc_id
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       a.simhash AS simhash1, b.simhash AS simhash2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# --- entity_blocking_pairs: deletion-neighborhood blocking + verify ---------
# Entity-resolution at scale: finding "names within edit distance 1"
# with a cross join is O(n^2) — 10^16 comparisons at 100 TB. The
# wildcard-position (deletion-neighborhood) trick makes it linear: emit
# one blocking key per character position (the name with that position
# wildcarded); two equal-length names at Hamming distance <= 1 share at
# least one key, so an equi-join on the key yields every candidate and
# levenshtein() verifies exactly. Per record that is |name| keys — the
# candidate join is sparse, no quadratic block ever forms. The oracle
# is the brute-force quadratic form (fine at sf0.01), restricted to
# equal lengths to state the same same-length-Hamming semantics.


def entity_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    keys = cust.select(
        "c_custkey",
        "c_name",
        F.explode(F.sequence(F.lit(1), F.length("c_name"))).alias("i"),
    ).select(
        "c_custkey",
        "c_name",
        F.concat(
            F.expr("substring(c_name, 1, i - 1)"),
            F.lit("_"),
            F.expr("substring(c_name, i + 1)"),
        ).alias("bkey"),
    )
    a = keys.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        "bkey",
    )
    b = keys.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
        "bkey",
    )
    # The exploded key side is O(n x |name|) rows — Catalyst's size
    # estimate comes from the compact pre-explode parquet, so the
    # auto-broadcast threshold can misfire and try to broadcast
    # hundreds of MB (observed at the sf1 stress run: a 416 MiB / 2.7M
    # row single-threaded broadcast build). Pin a SORT-MERGE join:
    # it blocks the broadcast misfire like the old shuffle_hash hint,
    # but spills gracefully — shuffle_hash's per-partition hash build
    # of the exploded side threw SparkOutOfMemoryError at the sf10
    # stress corpus on the default 8 g heap (r9 re-measure; the prior
    # artifact's number was only obtained in a 48 g batch context).
    # Same failure mode and same fix as dup_span_fraction's pinned
    # merge join. Verify BEFORE distinct so non-matches never enter
    # the dedup shuffle.
    return (
        a.join(b.hint("merge"), "bkey")
        .filter(F.col("custkey_a") < F.col("custkey_b"))
        # Threshold-banded levenshtein (r10): levenshtein(a, b, 1)
        # walks only the ±1 diagonal band (O(n) per pair, early-exit)
        # and returns -1 when the distance exceeds 1 — so ">= 0" is
        # exactly "levenshtein <= 1", the same predicate the full
        # O(n^2) DP evaluated, at a fraction of the per-pair cost
        # (record_linkage_score already verifies with the banded form).
        .filter(F.expr("levenshtein(name_a, name_b, 1)") >= 0)
        .select("custkey_a", "custkey_b", "name_a", "name_b")
        .distinct()
    )


_ENTITY_SQL = """
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       a.c_name AS name_a, b.c_name AS name_b
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND length(a.c_name) = length(b.c_name)
 AND levenshtein(a.c_name, b.c_name) <= 1
"""


def entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive entity resolution: the blocking-pair candidates
    chained into clusters (A~B and B~C put A, B, C in one entity even
    when A and C differ in two positions). Reuses the SAME
    connected-components operator as the document-dedup clustering —
    entity resolution and near-dedup are one graph problem at scale —
    and the same recursive-CTE oracle shape proves the result
    cell-exact."""
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.dedup.clusters import connected_components

    pairs = entity_blocking_pairs(spark, sf_dir).select(
        "custkey_a", "custkey_b"
    )
    # customer names chain through one-digit edits into components
    # whose diameter grows with the key space; above the driver gate
    # (~2.6 M pairs at sf1) the operator's star loop still converges
    # in O(log d) rounds
    return connected_components(pairs, "custkey_a", "custkey_b").select(
        F.col("id").alias("custkey"), "cluster_id"
    )


_ENTITY_CLUSTERS_SQL = """
WITH RECURSIVE pairs AS (
  SELECT a.c_custkey AS ka, b.c_custkey AS kb
  FROM customer a JOIN customer b
    ON a.c_custkey < b.c_custkey
   AND length(a.c_name) = length(b.c_name)
   AND levenshtein(a.c_name, b.c_name) <= 1
),
edges AS (
  SELECT ka AS a, kb AS b FROM pairs
  UNION
  SELECT kb AS a, ka AS b FROM pairs
),
reach(id, label) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id AS custkey, MIN(label) AS cluster_id
FROM reach GROUP BY id
"""


# --- sorted_neighborhood_neardup: SNM candidate generation + verify ---------

_SNM_WINDOW = 3
_SNM_DUP_THRESHOLD = 0.5


def sorted_neighborhood_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood method (Hernández & Stolfo 1995): sort the
    corpus on a blocking key and compare each record only to its w
    nearest neighbors in sort order — LINEAR candidate volume (w·n),
    the classic alternative to LSH banding for near-dup candidate
    generation. Here the key is document length (near-duplicate texts
    have near-identical length), w = 3; candidates are verified with
    exact token-set Jaccard.

    Scale shape: the global sort rank comes from
    ``operators/prefix.sharded_running_sum`` (range-sharded, never one
    task); the neighbor join is an EQUI-join on rank (each record
    emits its w successor ranks — no inequality/cross join); the
    verify is one token-keyed shuffle join over candidate docs only.
    """
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.functions.text import exploded_shingles
    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    # rank on a NARROW projection (guide: project before the exchange —
    # the prefix sum's window exchange otherwise carries the full text
    # column), materialized once because the helper consumes its input
    # three times (boundary probe, local window, offsets)
    key = docs.select(
        "doc_id", F.col("n_chars").cast("double").alias("o")
    ).localCheckpoint(eager=True)
    ranked = sharded_running_sum(
        key,
        part_cols=[],
        order_col="o",
        value_col=F.lit(1).cast("long"),
        out_col="rank",
        tiebreak_cols=["doc_id"],
    ).select("doc_id", "rank")
    a = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + _SNM_WINDOW)
        ).alias("nbr_rank"),
    )
    pairs = a.join(
        ranked.select(F.col("doc_id").alias("id_b"), F.col("rank").alias("nbr_rank")),
        "nbr_rank",
    ).select("id_a", "id_b")
    tok = exploded_shingles(docs, "doc_id", "text", k=1, distinct=True)
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(
            tok.select(F.col("doc_id").alias("id_a"), "shingle").hint(
                "shuffle_hash"
            ),
            "id_a",
        )
        .join(
            tok.select(F.col("doc_id").alias("id_b"), "shingle").hint(
                "shuffle_hash"
            ),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)))
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            jac.alias("jaccard"),
            (jac >= _SNM_DUP_THRESHOLD).alias("is_dup"),
        )
    )


_SNM_SQL = rf"""
WITH ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ranked a JOIN ranked b ON b.r - a.r BETWEEN 1 AND {_SNM_WINDOW}
),
tok AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents), UNNEST(t) AS u(tok)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT id_a, id_b, COUNT(*) AS n_common
  FROM pairs
  JOIN tok ta ON ta.doc_id = id_a
  JOIN tok tb ON tb.doc_id = id_b AND tb.tok = ta.tok
  GROUP BY id_a, id_b
)
SELECT p.id_a, p.id_b,
       COALESCE(n_common, 0) AS n_common,
       CAST(COALESCE(n_common, 0) AS DOUBLE)
         / (sa.n + sb.n - COALESCE(n_common, 0)) AS jaccard,
       CAST(COALESCE(n_common, 0) AS DOUBLE)
         / (sa.n + sb.n - COALESCE(n_common, 0)) >= {_SNM_DUP_THRESHOLD}
         AS is_dup
FROM pairs p
LEFT JOIN inter USING (id_a, id_b)
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
"""


# --- record_linkage_score: Fellegi-Sunter-style weighted scoring ------------

_FS_LEV_MAX = 2  # name agreement gate
_FS_MATCH_MIN = 4  # classify as match at/above this total weight


def record_linkage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage, Fellegi-Sunter shape: canonicalize,
    block, then score candidate pairs by weighted per-field agreement
    and keep pairs above the match threshold. Catalog-dedup scenario on
    part: two listings match when their names are near-identical AND a
    corroborating field (size, price bucket) agrees.

    Field weights are integer log-odds stand-ins (name +3, size +1,
    price +1; threshold 4 = name plus at least one corroborator), so
    the score is exact on both engines; ``levenshtein`` is the classic
    DP edit distance with identical integer results in Spark and
    DuckDB.

    Scale shape (the three standard ER moves, in order):

    1. **Canonicalize (exact-group collapse).** Identical profiles
       (name, type, brand, size, price bucket) collapse to one
       representative + member count via a map-side-combinable groupBy
       — LINEAR, and it absorbs the catalog's duplication: comparisons
       and output are per distinct profile, so a catalog with deep
       exact duplication (this corpus: ~300 copies per name at sf0.1)
       no longer yields quadratic member-pair output. Implied
       member-level matches are reported as ``n_members_a *
       n_members_b`` per profile pair — the group-level formulation
       every production linker uses (member enumeration is a join away
       if needed, and within-profile exact duplicates are the
       exact-dedup family's job).
    2. **Block multi-pass (Winkler).** Candidates are profile pairs
       agreeing on (type, brand) AND a size band (|Δsize| <= 1 as a
       bin-explosion equi-join: side A explodes to {s-1, s, s+1}, side
       B keeps s — every qualifying pair meets on exactly one key, a
       keyed shuffle, never a cross join).
    3. **Verify cheap-first.** The name gate uses threshold-banded
       ``levenshtein(a, b, max)`` (O(max*n) per pair); its -1
       "exceeded" sentinel never reaches the output because a
       below-gate name zeroes the score past the match threshold.
    """
    from pyspark.sql import functions as F

    profiles = (
        read_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
            F.floor(F.col("p_retailprice") / F.lit(100.0)).alias(
                "price_bucket"
            ),
        )
        .groupBy("p_name", "p_type", "p_brand", "p_size", "price_bucket")
        .agg(
            F.min("p_partkey").alias("rep_key"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    a = profiles.select(
        *[F.col(c).alias(f"a_{c}") for c in profiles.columns],
        F.explode(
            F.array(
                F.col("p_size") - 1, F.col("p_size"), F.col("p_size") + 1
            )
        ).alias("k_size"),
    )
    b = profiles.select(
        *[F.col(c).alias(f"b_{c}") for c in profiles.columns]
    )
    pairs = a.join(
        b,
        (F.col("a_p_type") == F.col("b_p_type"))
        & (F.col("a_p_brand") == F.col("b_p_brand"))
        & (F.col("k_size") == F.col("b_p_size"))
        & (F.col("a_rep_key") < F.col("b_rep_key"))
        # Cheap length gate BEFORE the per-pair levenshtein DP (r10):
        # edit distance >= |len(a) - len(b)|, so any pair the gate
        # drops would have name_lev > _FS_LEV_MAX, hence name_ok = 0,
        # hence score <= 2 < _FS_MATCH_MIN — it could never reach the
        # output. Provably result-preserving, and as a join-condition
        # residual it prunes candidates in the join stage itself, so
        # the O(max*n) DP only runs on length-compatible names.
        & (
            F.abs(F.length("a_p_name") - F.length("b_p_name"))
            <= F.lit(_FS_LEV_MAX)
        ),
    )
    name_lev = F.expr(f"levenshtein(a_p_name, b_p_name, {_FS_LEV_MAX})")
    name_ok = ((name_lev >= 0) & (name_lev <= _FS_LEV_MAX)).cast("int")
    size_ok = (
        F.abs(F.col("a_p_size") - F.col("b_p_size")) <= F.lit(1)
    ).cast("int")
    price_ok = (F.col("a_price_bucket") == F.col("b_price_bucket")).cast("int")
    score = (F.lit(3) * name_ok + size_ok + price_ok).alias("score")
    return (
        pairs.select(
            F.col("a_rep_key").alias("rep_a"),
            F.col("b_rep_key").alias("rep_b"),
            name_lev.alias("name_lev"),
            size_ok.alias("size_agree"),
            price_ok.alias("price_agree"),
            score,
            F.col("a_n_members").alias("n_members_a"),
            F.col("b_n_members").alias("n_members_b"),
            (F.col("a_n_members") * F.col("b_n_members")).alias(
                "implied_pairs"
            ),
        )
        .filter(F.col("score") >= _FS_MATCH_MIN)
    )


_LINKAGE_SQL = f"""
WITH profiles AS (
  SELECT p_name, p_type, p_brand, p_size,
         CAST(FLOOR(p_retailprice / 100.0) AS BIGINT) AS price_bucket,
         MIN(p_partkey) AS rep_key, COUNT(*) AS n_members
  FROM part
  GROUP BY 1, 2, 3, 4, 5
),
scored AS (
  SELECT a.rep_key AS rep_a, b.rep_key AS rep_b,
         levenshtein(a.p_name, b.p_name) AS name_lev,
         CASE WHEN abs(a.p_size - b.p_size) <= 1 THEN 1 ELSE 0 END AS size_agree,
         CASE WHEN a.price_bucket = b.price_bucket THEN 1 ELSE 0 END AS price_agree,
         CAST(a.n_members AS BIGINT) AS n_members_a,
         CAST(b.n_members AS BIGINT) AS n_members_b
  FROM profiles a JOIN profiles b
    ON a.p_type = b.p_type AND a.p_brand = b.p_brand
   AND abs(a.p_size - b.p_size) <= 1
   AND a.rep_key < b.rep_key
)
SELECT rep_a, rep_b, name_lev, size_agree, price_agree,
       3 * (CASE WHEN name_lev <= {_FS_LEV_MAX} THEN 1 ELSE 0 END)
         + size_agree + price_agree AS score,
       n_members_a, n_members_b,
       n_members_a * n_members_b AS implied_pairs
FROM scored
WHERE 3 * (CASE WHEN name_lev <= {_FS_LEV_MAX} THEN 1 ELSE 0 END)
        + size_agree + price_agree >= {_FS_MATCH_MIN}
"""


# --- golden_record_merge: survivorship after entity resolution --------------
# The step master-data-management runs AFTER record linkage: collapse
# each linked entity cluster to ONE golden record with per-attribute
# survivorship rules — most-frequent size (smallest on ties),
# max price bucket, first-record (minimum key) name — plus the
# total source-record count the golden record absorbs. Runs on the
# part-catalog linkage graph (record_linkage_score pairs), whose many
# small clusters exercise real merge behavior (the customer name graph
# chains into one giant component — no merge semantics to check).
#
# Scale shape: pairs come from the blocked linkage pipeline (linear,
# never a cross join); clustering reuses the distributed
# connected-components operator; survivorship is two
# map-side-combinable groupBys keyed by cluster_id plus one window on
# the (cluster, size) frequency frame — no driver logic. The oracle
# recomputes the clusters with a recursive CTE and the mode with a
# window, so two different cluster algorithms + two different mode
# formulations must agree cell-exact.


def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.dedup.clusters import connected_components

    scored = record_linkage_score(spark, sf_dir)
    clusters = connected_components(
        scored.select("rep_a", "rep_b"), "rep_a", "rep_b"
    ).select(F.col("id").alias("rep_key"), "cluster_id")
    profiles = (
        read_table(spark, sf_dir, "part")
        .groupBy("p_name", "p_type", "p_brand", "p_size",
                 F.floor(F.col("p_retailprice") / F.lit(100.0)).alias(
                     "price_bucket"))
        .agg(
            F.min("p_partkey").alias("rep_key"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    members = clusters.join(profiles, "rep_key")
    size_w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_sz"), F.asc("p_size")
    )
    size_pick = (
        members.groupBy("cluster_id", "p_size")
        .agg(F.count(F.lit(1)).alias("n_sz"))
        .withColumn("_rn", F.row_number().over(size_w))
        .filter(F.col("_rn") == 1)
        .select("cluster_id", F.col("p_size").alias("size_mode"))
    )
    agg = members.groupBy("cluster_id").agg(
        F.min("rep_key").alias("golden_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_profiles"),
        F.sum("n_members").cast("bigint").alias("n_records"),
        F.max("price_bucket").alias("price_bucket_max"),
    )
    name = profiles.select(
        F.col("rep_key").alias("golden_id"), F.col("p_name").alias("name")
    )
    return (
        agg.join(size_pick, "cluster_id")
        .join(name, "golden_id")
        .select(
            "cluster_id", "golden_id", "name", "size_mode",
            "price_bucket_max", "n_profiles", "n_records",
        )
    )


_GOLDEN_SQL = f"""
WITH RECURSIVE profiles AS (
  SELECT p_name, p_type, p_brand, p_size,
         CAST(FLOOR(p_retailprice / 100.0) AS BIGINT) AS price_bucket,
         MIN(p_partkey) AS rep_key, COUNT(*) AS n_members
  FROM part GROUP BY 1, 2, 3, 4, 5
),
pairs AS (
  SELECT a.rep_key AS ka, b.rep_key AS kb
  FROM profiles a JOIN profiles b
    ON a.p_type = b.p_type AND a.p_brand = b.p_brand
   AND abs(a.p_size - b.p_size) <= 1
   AND a.rep_key < b.rep_key
  WHERE 3 * (CASE WHEN levenshtein(a.p_name, b.p_name) <= {_FS_LEV_MAX}
                  THEN 1 ELSE 0 END)
        + (CASE WHEN abs(a.p_size - b.p_size) <= 1 THEN 1 ELSE 0 END)
        + (CASE WHEN a.price_bucket = b.price_bucket THEN 1 ELSE 0 END)
        >= {_FS_MATCH_MIN}
),
edges AS (
  SELECT ka AS a, kb AS b FROM pairs
  UNION
  SELECT kb AS a, ka AS b FROM pairs
),
reach(id, label) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.id
),
clusters AS (
  SELECT id AS rep_key, MIN(label) AS cluster_id
  FROM reach GROUP BY id
),
members AS (
  SELECT cl.cluster_id, p.rep_key, p.p_name, p.p_size, p.price_bucket,
         p.n_members
  FROM clusters cl JOIN profiles p USING (rep_key)
),
size_pick AS (
  SELECT cluster_id, p_size AS size_mode
  FROM (
    SELECT cluster_id, p_size,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY COUNT(*) DESC, p_size ASC) AS rn
    FROM members GROUP BY cluster_id, p_size
  ) WHERE rn = 1
),
agg AS (
  SELECT cluster_id, MIN(rep_key) AS golden_id,
         CAST(COUNT(*) AS BIGINT) AS n_profiles,
         CAST(SUM(n_members) AS BIGINT) AS n_records,
         MAX(price_bucket) AS price_bucket_max
  FROM members GROUP BY cluster_id
)
SELECT a.cluster_id, a.golden_id, p.p_name AS name, s.size_mode,
       a.price_bucket_max, a.n_profiles, a.n_records
FROM agg a
JOIN size_pick s USING (cluster_id)
JOIN profiles p ON p.rep_key = a.golden_id
"""


QUERIES = {
    "entity_blocking_pairs": entity_blocking_pairs,
    "entity_clusters": entity_clusters,
    "golden_record_merge": golden_record_merge,
    "record_linkage_score": record_linkage_score,
    "sorted_neighborhood_neardup": sorted_neighborhood_neardup,
    "minhash_lsh_dedup": minhash_lsh_dedup,
    "simhash_near_dups": simhash_near_dups,
}

# minhash_lsh_dedup gets the EXACT-pairs oracle (same SQL as
# shingle_jaccard_pairs): precision 1.0 holds by construction (every
# banding candidate is exact-verified), and on this corpus the recall
# test pins banding recall at 1.0, so LSH output == the exact pair set
# and the driver can hash-check the whole approximate pipeline
# cell-exact. On a corpus where banding missed a pair this would fail
# loudly — that's the point: it upgrades the recall assertion from
# "builder's pytest" to driver-grade evidence. simhash_near_dups is
# cell-exact since round 5: the feature hash moved from xxhash64 to an
# md5-prefix DuckDB can replay, so the twin recomputes the FULL
# fingerprints and the Hamming <= 3 pair set by brute force — the
# pigeonhole chunk join is lossless (chunks > d), so agreement is
# exact (see _simhash_sql).
ORACLE: dict[str, str] = {
    "entity_blocking_pairs": _ENTITY_SQL,
    "entity_clusters": _ENTITY_CLUSTERS_SQL,
    "golden_record_merge": _GOLDEN_SQL,
    "minhash_lsh_dedup": _EXACT_PAIRS_SQL,
    "record_linkage_score": _LINKAGE_SQL,
    "simhash_near_dups": _simhash_sql(),
    "sorted_neighborhood_neardup": _SNM_SQL,
}
