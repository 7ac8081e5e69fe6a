"""Plan-shape regression tests: the properties that keep queries fast
at 100 TB must survive refactors — filters reach the parquet scan,
projections prune columns, dimensions broadcast, top-k never does a
global sort.
"""

from __future__ import annotations

import contextlib
import io as _io

import pytest

import __spark_entry__ as entrymod


def _plan(spark, sf_dir, name: str) -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate at the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]  # pruned
    assert "HashAggregate" in plan  # partial+final agg, no sort-agg


def test_q3_filters_pushed_and_customer_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k without global sort


def test_q5_all_dimensions_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert "In(r_name, [ASIA,EUROPE])" in plan
    # nation+region+customer+supplier must all broadcast (no SMJ on dims)
    assert plan.count("BroadcastHashJoin") >= 4


def test_q7_broadcasts_all_dims_single_fact_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q7_nation_trade_volume")
    # supplier/customer/nation×2 broadcast; lineitem⋈orders is the one SMJ-able pair
    assert plan.count("BroadcastHashJoin") >= 4


def test_q10_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_returned_item_customers")
    assert "TakeOrderedAndProject" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # window pushed to scan


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_filter_project_reads_only_needed_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_project")
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_returnflag" not in schema and "l_shipdate" not in schema
    assert "GreaterThanOrEqual(l_quantity,45.0)" in plan


@pytest.mark.parametrize(
    "name", ["asof_last_purchase", "moving_sum_per_user", "latest_event_per_user"]
)
def test_window_queries_shuffle_on_key_only(spark, sf_dir, name):
    """Window queries must partition by key — a missing partitionBy
    shows up as a single-partition Exchange (global window), the classic
    scale killer."""
    plan = _plan(spark, sf_dir, name)
    assert "SinglePartition" not in plan


def test_q9_all_dims_broadcast_single_fact_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q9_nation_profit")
    # part+supplier+nation all broadcast: lineitem is scanned once and
    # never shuffled before the grouped rollup's exchange
    assert plan.count("BroadcastHashJoin") >= 3
    assert "widget" in plan  # p_name filter pushed into the part scan


def test_q6_filters_reach_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue_change")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan


def test_q21_single_grouped_pass_no_self_join(spark, sf_dir):
    """The EXISTS/NOT-EXISTS pair must stay folded into one aggregation
    over each order's lines — a lineitem self-join would double the
    fact-table scans."""
    plan = _plan(spark, sf_dir, "q21_sole_late_supplier")
    # formatted plans print every node twice (tree + detail), so three
    # scans (lineitem + orders + supplier) appear six times
    assert plan.count("Scan parquet") <= 6
    assert "TakeOrderedAndProject" in plan


def test_pack_assign_single_exchange_no_global_window(spark, sf_dir):
    """Sharded prefix sum: one data shuffle (lang+shard local windows);
    the only other exchanges feed the tiny offsets table / its
    broadcast. No percent_rank/global-order window anywhere."""
    plan = _plan(spark, sf_dir, "doc_pack_assign")
    assert "percent_rank" not in plan
    # every Window operator must be partitioned (no empty PARTITION BY
    # over the full data): the offsets window partitions by lang only,
    # which is offsets-table-sized (shards rows per lang), not corpus
    assert "Window" in plan


def test_chunking_is_mapside_no_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_chunk_overlap")
    assert "Exchange" not in plan  # sequence+explode+slice: scan→project
    assert "Generate" in plan and "explode" in plan


def test_kmv_query_keeps_window_group_limit(spark, sf_dir):
    """The theta-sketch query's per-group top-k must keep the
    WindowGroupLimit rewrite (partial top-k before the shuffle)."""
    plan = _plan(spark, sf_dir, "approx_theta_overlap")
    assert "WindowGroupLimit" in plan


def test_quota_sample_keeps_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "source_quota_sample")
    assert "WindowGroupLimit" in plan


# --- top-of-bench plan shapes (BENCH_DETAIL.json heavy hitters) -------------
# Formatted plans print every node twice (tree + detail), so each
# bound below is 2x the true operator count.


def test_label_centroid_margin_serves_one_scan_no_shuffle(spark, sf_dir):
    """Round-3 shape: centroids are a collected model, so the SERVING
    plan is scan -> mapInPandas — no join of any kind and no exchange
    on the corpus side (the round-2 broadcast-crossjoin materialized
    corpus x |labels| rows and re-folded them through a corpus-sized
    groupBy shuffle)."""
    plan = _plan(spark, sf_dir, "label_centroid_margin")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_minhash_lsh_dedup_joins_on_bands_no_cartesian(spark, sf_dir):
    """LSH candidate generation is equi-joins on band hashes — an
    all-pairs cartesian would be the quadratic scale-killer."""
    plan = _plan(spark, sf_dir, "minhash_lsh_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_simhash_near_dups_equi_join_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "simhash_near_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_cluster_star_serving_plan_is_flat(spark, sf_dir):
    """Iterative large-star/small-star rounds are cut by localCheckpoint;
    the RETURNED plan must be the final join only — an Exchange pile-up
    here means lineage from N rounds leaked into the serving plan."""
    plan = _plan(spark, sf_dir, "dedup_cluster_star")
    assert plan.count("Exchange") <= 8
    assert "CartesianProduct" not in plan


def test_dedup_cluster_assignments_serves_from_checkpoint(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_cluster_assignments")
    assert plan.count("Exchange") == 0  # fully materialized result


def test_triangle_count_plan_bounded_exchanges(spark, sf_dir):
    """Round-1's weak item: edge lists materialize once; the counting
    plan keeps a constant Exchange budget (no per-join re-shuffle of a
    recomputed edge lineage)."""
    plan = _plan(spark, sf_dir, "triangle_count_trade")
    assert plan.count("Exchange") <= 8
    assert "CartesianProduct" not in plan


def test_grouped_ml_single_shuffle_to_pandas(spark, sf_dir):
    """The flagship grouped-map pipeline: exactly ONE exchange moves
    rows to their group's Arrow batch — more means a redundant
    pre-shuffle; Python must receive Arrow batches, not rows."""
    plan = _plan(spark, sf_dir, "stock_pipeline_predict")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") <= 2


def test_pagerank_serving_plan_tiny(spark, sf_dir):
    """Key-bounded graph goes through the driver solver (gated by
    operators.graph.DRIVER_MAX_EDGES); the served result must not carry
    an iterative exchange chain."""
    plan = _plan(spark, sf_dir, "pagerank_nation_trade")
    assert plan.count("Exchange") <= 2


@pytest.mark.parametrize("name", ["knn_cosine_topk", "knn_lsh_topk", "knn_ivf_topk"])
def test_knn_topk_uses_window_group_limit_and_arrow(spark, sf_dir, name):
    """All ANN variants: per-query top-k via WindowGroupLimit (partial
    top-k before the shuffle), scoring in Arrow-batched Python, and no
    unbounded cartesian (the exact baseline broadcasts its capped query
    side; LSH/IVF equi-join on bucket/probe)."""
    plan = _plan(spark, sf_dir, name)
    assert "WindowGroupLimit" in plan
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assign_broadcasts_centroids_one_window_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "kmeans_assign_embeddings")
    # 8 centroids must broadcast (never shuffle the corpus against them)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # argmin = one partial top-1 per vec_id, not a full sort
    assert "WindowGroupLimit" in plan
    # scoring is the Arrow kernel, not an interpreted 385-term chain
    assert "ArrowEvalPython" in plan


def test_multimodal_decode_paths_are_mapside_no_shuffle(spark, sf_dir):
    for name in ("multimodal_audio_features", "multimodal_resize_pixels"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, name  # pure per-row decode passes
        assert "MapInPandas" in plan, name


def test_entity_blocking_never_broadcasts_exploded_side(spark, sf_dir):
    # regression for the sf1 stress finding: Catalyst sizes the exploded
    # key frame from the compact pre-explode parquet and tried to
    # broadcast a 416 MiB build side. r9: the pin moved from
    # shuffle_hash to SORT-MERGE — shuffle_hash's non-spillable
    # per-partition build of the exploded side OOM'd the default 8 g
    # heap at the sf10 stress corpus (same failure + fix as
    # dup_span_fraction); merge spills gracefully and still blocks the
    # broadcast misfire
    plan = _plan(spark, sf_dir, "entity_blocking_pairs")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_dedup_band_and_chunk_joins_shuffle_not_broadcast(spark, sf_dir):
    for name in ("minhash_lsh_dedup", "simhash_near_dups", "shingle_jaccard_pairs"):
        plan = _plan(spark, sf_dir, name)
        assert "ShuffledHashJoin" in plan, name


def test_mixture_resample_broadcasts_rates_single_doc_join(spark, sf_dir):
    """The per-source rates frame (#sources rows) must broadcast back
    onto the corpus — a shuffled join would move the 100 TB side for a
    kilobyte of rates — and the corpus-sized side joins exactly once."""
    plan = _plan(spark, sf_dir, "mixture_temperature_resample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_train_split_assign_is_one_pass_partial_agg(spark, sf_dir):
    """Split assignment is a pure projection; the rollup must be a
    partial+final hash aggregate (one exchange on the tiny split x lang
    key), with no window or sort anywhere."""
    plan = _plan(spark, sf_dir, "train_split_assign")
    assert plan.count("Exchange") <= 2  # partial->final agg (+AQE read)
    assert "Window" not in plan
    assert "Sort" not in plan.replace("SortAggregate", "")
    assert "HashAggregate" in plan


def test_incremental_neardup_shuffle_hash_no_broadcast_explode(spark, sf_dir):
    """The batch x corpus shingle verify must be a shuffled equi-join —
    never a broadcast of an exploded-corpus-sized side or a cartesian —
    and the corpus stream passes the Arrow bloom-probe filter before
    the exchange."""
    plan = _plan(spark, sf_dir, "incremental_neardup_batch")
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "pythonUDF" in plan or "ArrowEvalPython" in plan  # bloom probe


def test_split_leakage_repartitions_streamed_side_and_caps_eval(spark, sf_dir):
    """VERDICT r8 item 2: the 126s -> 8s split_leakage_audit win rests
    on (a) a round-robin Exchange spreading the train side across all
    cores BEFORE the broadcast NLJ (a small-file corpus otherwise
    arrives as ONE split and the whole |train| x |eval| scoring runs on
    a single thread), and (b) the 600-row eval-benchmark cap selected
    via TakeOrderedAndProject (never a global sort, never an unbounded
    f(1-f)·N² pair fan-out). Also pins the r9 single-pass scoring: the
    Arrow kernel must appear in exactly ONE ArrowEvalPython node (the
    deterministic form was evaluated twice — once for the filter, once
    for the output column)."""
    import re

    from big_data_pipeline_spark.workloads.training_data import _LEAK_BENCH_K

    plan = _plan(spark, sf_dir, "split_leakage_audit")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # (a) round-robin repartition of the streamed (train) side
    assert "RoundRobinPartitioning" in plan
    assert "REPARTITION_BY_NUM" in plan
    # (b) fixed-size eval benchmark via top-k, not Sort+GlobalLimit
    assert "TakeOrderedAndProject" in plan
    assert f"Arguments: {_LEAK_BENCH_K}," in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]
    # single scoring pass
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def _arrow_node_args(plan: str) -> list[str]:
    import re

    return re.findall(
        r"ArrowEvalPython\n(?:Input.*\n)?Arguments: \[(.*?)\],", plan
    )


@pytest.mark.parametrize(
    "name", ["split_leakage_audit", "embedding_near_dups", "knn_ivf_topk"]
)
def test_no_duplicated_arrow_kernel_evaluation(spark, sf_dir, name):
    """A full-registry plan audit (r9) found three queries evaluating
    the SAME pandas-UDF expression in two ArrowEvalPython nodes —
    Catalyst pushes a filter on the score column (or an inferred
    isnotnull join key) below the projection and duplicates the kernel,
    doubling the dominant pair-scoring / assignment cost. The fenced
    UDF variants pin it to one evaluation per expression."""
    args = _arrow_node_args(_plan(spark, sf_dir, name))
    assert len(args) == len(set(args)), f"duplicated Arrow kernel: {args}"


def test_fenced_kernel_does_not_mutate_shared_seq_cosine(spark, sf_dir):
    """pyspark's asNondeterministic() mutates the UDF IN PLACE and
    returns self — fencing the shared seq_cosine at a call site would
    silently flip every later query's plan in the same process
    (query-order-dependent sweeps). The fence must live on a separate
    instance: building the fenced queries leaves the shared kernel
    deterministic."""
    from big_data_pipeline_spark.functions import vectors

    for name in ("split_leakage_audit", "embedding_near_dups", "knn_ivf_topk"):
        entrymod.queries()[name](spark, sf_dir)
    assert vectors.seq_cosine.deterministic is True
    assert vectors.seq_cosine_fenced.deterministic is False


def test_boilerplate_strip_broadcasts_span_set(spark, sf_dir):
    """The qualifying boilerplate span set is threshold-bounded and must
    broadcast onto the span stream; the only wide movement is the span
    count agg and the per-doc reassembly (no SMJ, no cartesian)."""
    plan = _plan(spark, sf_dir, "boilerplate_span_strip")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_assignment_is_mapinpandas_no_pair_fanout(spark, sf_dir):
    """The r7 rewrite (VERDICT r7 item 6): centroid assignment is a
    model-sized matrix riding the mapInPandas closure — one (batch x k)
    numpy block per Arrow batch. A regression to the quadratic r6 form
    (crossJoin(broadcast(cent)) + pairwise UDF + per-vec Window) shipped
    n x k vector PAIRS through Arrow (~1.3 TB at sf10, 20x superlinear);
    that shape must never come back.

    r9: the assignment frame is localCheckpoint'ed (the numpy kernel
    used to re-score the corpus once per consumer — three MapInPandas
    nodes in one plan), so the SERVING plan reads the cached result;
    the mapInPandas closure-broadcast shape is asserted at source level
    (same device as the entity_clusters star-CC guard)."""
    import inspect

    from big_data_pipeline_spark.workloads import similarity as _sim

    src = inspect.getsource(_sim.semdedup_prune)
    assert ".mapInPandas(_assign_batches" in src
    assert "crossJoin(F.broadcast(cent" not in src  # r6 pair fan-out
    plan = _plan(spark, sf_dir, "semdedup_prune")
    # exactly one kernel execution: the serving plan reads the cached
    # assignment, so NO MapInPandas node may appear (one would mean a
    # consumer re-runs the corpus scoring)
    assert "MapInPandas" not in plan
    assert "Window" not in plan           # no per-vec argmin window
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # keep-best + pair-verify joins are bounded; a pile-up here means
    # per-vec lineage leaked back into the serving plan
    assert plan.count("Exchange") <= 20


def test_entity_clusters_routes_through_star_cc_flat_serving_plan(spark, sf_dir):
    """entity_clusters must resolve components via large-star/small-star
    (O(log d) rounds), not the plain LPA loop that went 17.4x on 10x
    data at sf10 (VERDICT r7 item 6). Two guards: dedup.clusters has no
    propagation entry point left (its one public operator hands every
    above-gate graph to the star loop), and the served plan is flat
    (star's localCheckpoint cut the per-round lineage)."""
    import inspect

    from big_data_pipeline_spark.dedup import clusters as _clusters

    public = {
        name
        for name, fn in inspect.getmembers(_clusters, inspect.isfunction)
        if fn.__module__ == _clusters.__name__ and not name.startswith("_")
    }
    assert public == {"connected_components"}
    assert "_cc_star(" in inspect.getsource(_clusters.connected_components)
    plan = _plan(spark, sf_dir, "entity_clusters")
    assert plan.count("Exchange") <= 8
    assert "CartesianProduct" not in plan


def test_pq_codes_broadcast_codebook_single_window_shuffle(spark, sf_dir):
    """The PQ codebook is model-sized and must ride a broadcast join;
    the per-(vector, subspace) argmin is the single wide stage."""
    plan = _plan(spark, sf_dir, "embedding_pq_codes")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_curation_v2_single_plan_no_cartesian(spark, sf_dir):
    """The composite must stay ONE declarative plan: broadcast joins for
    the model-sized sides, no cartesian, and the SemDeDup pair search
    confined to an equi-join."""
    plan = _plan(spark, sf_dir, "curation_pipeline_v2")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_length_bucket_batches_no_global_window(spark, sf_dir):
    """Batch ids must come from the sharded prefix sum — a plain
    cumulative window over ~10 buckets would serialize each bucket
    into one task."""
    plan = _plan(spark, sf_dir, "length_bucket_batches")
    assert "partial_row_number" not in plan.lower()
    # the sharded path shows the offsets broadcast, not a bucket-window
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_cooccurrence_topk_takeordered_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "token_cooccurrence_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_dup_span_fraction_merge_join_no_cartesian(spark, sf_dir):
    """The exploded-positions x per-shingle-count join must be the
    pinned SORT-MERGE equi-join on shingle: the hint exists to prevent
    the broadcast misfire (Catalyst costs the exploded side from the
    compact pre-explode parquet), and merge — unlike shuffle_hash,
    whose per-partition build of |unique shingles|/partitions string
    keys threw SparkOutOfMemoryError at the sf10 stress corpus — spills
    gracefully when both sides are corpus-sized."""
    plan = _plan(spark, sf_dir, "dup_span_fraction")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_dsir_single_shingle_exchange_no_join_back(spark, sf_dir):
    """DSIR scoring must shuffle the exploded bigram frame on shingle
    exactly ONCE — a whole-partition window attaches raw/target counts
    to every occurrence in place. The groupBy-then-join-back
    formulation exchanged the exploded frame on shingle twice and the
    r9 sf10 stress measured it at 12.8x on 10x data isolated (the
    window plan re-measured at 1.9x). The totals must come off the
    pre-shuffle frame (map-side partial agg + 1-row broadcast), never
    the per-shingle table, and no equi-join may appear at all."""
    plan = _plan(spark, sf_dir, "dsir_importance_score")
    assert plan.count("hashpartitioning(shingle") == 1
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    # totals ride the broadcast cross join; nothing corpus-sized builds
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan


def test_matryoshka_shortlist_window_is_narrow(spark, sf_dir):
    """The stage-1 shortlist window must rank NARROW rows — ids +
    prefix cosine only. Full/prefix vectors riding through the window
    made the exchange-then-sort of |corpus|x|queries| array-carrying
    rows across only _N_QUERIES partition keys a per-partition spill
    cliff (r9 sf10 stress: 32.2x batch / 19.4x isolated on 10x data;
    narrow rework: 2.8x). The shortlist then fetches vectors back via
    broadcast equi-joins against the corpus scan (map-side, no corpus
    shuffle), and every ranking window carries a WindowGroupLimit
    (map-side partial top-k before the exchange)."""
    plan = _plan(spark, sf_dir, "knn_matryoshka_rerank")
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # every query_id-keyed exchange (the shortlist windows) is narrow:
    # no embedding/prefix arrays in its input schema
    for block in plan.split("\n\n"):
        if "Exchange hashpartitioning(query_id" in block:
            assert "embedding" not in block
            assert "_vec" not in block
            assert "_pre" not in block or "pre_cos" in block


def test_kmeans_topic_terms_single_lineage(spark, sf_dir):
    """Cluster labeling must join documents to assignments BEFORE the
    token explode (compact join, map-side fan-out), compute the
    cluster-df as a window over the aggregated rows (NOT a
    groupBy+join-back, which forks the lineage and recomputes the
    whole kmeans+explode pipeline twice), and cap terms per cluster
    with a window rank, not a global sort."""
    plan = _plan(spark, sf_dir, "kmeans_topic_terms")
    assert "CartesianProduct" not in plan
    # exactly one kmeans scoring kernel and one token explode in the
    # operator tree (the formatted details section repeats each node
    # once, so a single occurrence counts 2; the df-count fork would
    # make it 4)
    assert plan.count("ArrowEvalPython") == 2
    assert plan.count("Generate") == 2
    assert "WindowGroupLimit" in plan


def test_unpivot_single_scan_expand(spark, sf_dir):
    """Native unpivot must be ONE scan + Expand (map-side 4x fan-out),
    never four scans unioned, and the per-(flag, measure) agg stays a
    hash aggregate."""
    plan = _plan(spark, sf_dir, "lineitem_measures_unpivot")
    # formatted output lists each node in tree + details => 1 scan == 2
    assert plan.count("Scan parquet") == 2
    assert "Expand" in plan
    assert "HashAggregate" in plan
    assert "Union" not in plan


def test_prefix_filter_join_no_cartesian_shuffle_hash(spark, sf_dir):
    """Candidate generation must meet on PREFIX shingles via a pinned
    shuffle-hash equi-join — never a cartesian, and never a broadcast of
    the exploded corpus (the Catalyst misestimation trap)."""
    plan = _plan(spark, sf_dir, "jaccard_prefix_filter_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_ppjoin_positional_size_filters_prune_candidates(spark, sf_dir):
    """ppjoin §4.2 filters (size + positional) must prune the prefix
    meet hard — the round-4 sf1 superlinearity was the verify join over
    an unpruned candidate set — while staying COMPLETE: every true
    Jaccard >= t pair remains a candidate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.functions.text import exploded_shingles
    from big_data_pipeline_spark.io import read_table
    from big_data_pipeline_spark.workloads import text as text_wl

    t = text_wl._JACCARD_THRESHOLD
    docs = read_table(spark, sf_dir, "documents")
    sh = exploded_shingles(docs, "doc_id", "text", 3).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    cand = {
        (r.doc_id1, r.doc_id2)
        for r in text_wl._prefix_candidates(sh, sizes, t).collect()
    }
    # the bare prefix meet (no size/positional filter) — what candidate
    # generation looked like before the filters landed
    gfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("gf"))
    w = Window.partitionBy("doc_id").orderBy("gf", "shingle")
    ranked = (
        sh.join(gfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(sizes), "doc_id")
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.col("n") * F.lit(t)) + 1
    ).select("doc_id", "shingle")
    a, b = prefix.alias("a"), prefix.alias("b")
    bare = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    true_pairs = {
        (r.doc_id1, r.doc_id2)
        for r in text_wl.jaccard_prefix_filter_pairs(
            spark, sf_dir
        ).collect()
    }
    # completeness: no true pair was pruned
    assert true_pairs <= cand
    # effectiveness: the filters must collapse the candidate set to
    # near the true pair count (measured: 1126 -> 32 with 28 true
    # pairs at sf0.001; 4x true pairs leaves generous slack)
    assert len(cand) <= max(4 * len(true_pairs), 50) < bare


def test_bigram_lm_counts_join_not_broadcast(spark, sf_dir):
    """Bigram/context count joins are corpus-sized x corpus-derived:
    pinned shuffle-hash; only the 1-row vocab scalar broadcasts."""
    plan = _plan(spark, sf_dir, "bigram_lm_quality")
    assert "CartesianProduct" not in plan
    assert "ShuffledHashJoin" in plan


def test_corr_matrix_single_scan_single_agg(spark, sf_dir):
    """The correlation profile is one scan + one 3-key aggregation; the
    reshape is free. No window, no join, no second pass."""
    plan = _plan(spark, sf_dir, "measure_corr_matrix")
    # formatted output lists each node in tree + details => 1 scan == 2
    assert plan.count("Scan parquet") == 2
    assert "Window" not in plan
    assert "Join" not in plan


def test_benford_broadcasts_class_chi2(spark, sf_dir):
    """The per-class chi-square (|priorities| rows) broadcasts back onto
    the 45-cell grid; nothing corpus-sized moves after the first count."""
    plan = _plan(spark, sf_dir, "benford_deviation_audit")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_part_affinity_topk_no_global_sort(spark, sf_dir):
    """Top-k by lift must be TakeOrderedAndProject (never a global sort)
    and the basket self-join an equi-join, never cartesian."""
    plan = _plan(spark, sf_dir, "part_affinity_lift")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_cusum_windows_shuffle_on_user_only(spark, sf_dir):
    """All three window passes ride one hash(user_id) exchange; no join,
    no global window (the partition key is high-cardinality)."""
    plan = _plan(spark, sf_dir, "cusum_changepoint_per_user")
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan
    assert plan.count("Arguments: hashpartitioning") == 1  # one shuffle total
    assert "SinglePartition" not in plan


def test_flesch_is_mapside_projection(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flesch_readability")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_table_profile_single_scan_expand(spark, sf_dir):
    """r9 split: distinct counts ride the Expand in a pure HashAggregate
    pass; min/max/null counts run as a keyless global aggregate in a
    SECOND scan — mixing them forced the whole aggregate onto the
    SortAggregate fallback (string agg buffers are not hash-mutable),
    i.e. a full sort of the 7×-expanded table. Two scans, zero sorts,
    never one sub-query per column (no Union of scans)."""
    plan = _plan(spark, sf_dir, "table_profile_summary")
    assert plan.count("Scan parquet") == 4  # tree + details => 2 scans
    assert "Expand" in plan
    assert "Union" not in plan
    assert "Sort (" not in plan  # the SortAggregate sort must stay gone


def test_bm25_topk_no_global_sort(spark, sf_dir):
    """Top-20 must be TakeOrderedAndProject; the scalar stats (1-row
    n_docs/avgdl and the 1-row df pivot) broadcast — never a cartesian
    of data-sized sides."""
    plan = _plan(spark, sf_dir, "bm25_topk_docs")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_acf_single_exchange_no_join(spark, sf_dir):
    """Lag window + moment agg ride ONE hash(event_type, day) exchange;
    the moments reshape is join-free."""
    plan = _plan(spark, sf_dir, "acf_lag_autocorr")
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_concurrency_sweep_no_global_data_window(spark, sf_dir):
    """The global running sum must go through the sharded prefix sum:
    the only SinglePartition exchange feeds the tiny offsets table (a
    groupBy output, shards rows), never the sweep rows themselves."""
    plan = _plan(spark, sf_dir, "session_concurrency_peak")
    # offsets window is the single global window; it sits above a
    # HashAggregate (per-shard totals), so the full-data window (which
    # would sit directly on the union) never appears
    assert "percent_rank" not in plan
    assert "BroadcastHashJoin" in plan  # offsets join back is broadcast


def test_key_skew_profile_topk_broadcast_totals(spark, sf_dir):
    plan = _plan(spark, sf_dir, "key_skew_profile")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_mad_group_stats_broadcast(spark, sf_dir):
    """Both enrich joins (median, MAD) are 5-row broadcasts; the data
    never shuffles for the joins themselves."""
    plan = _plan(spark, sf_dir, "mad_robust_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ks_drift_sharded_no_global_data_window(spark, sf_dir):
    """Cumulative CDFs ride the sharded prefix sum over the
    distinct-value frame; the scalar totals/sup broadcast."""
    plan = _plan(spark, sf_dir, "ks_drift_stat")
    assert "percent_rank" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan

def test_skyline_sharded_not_single_task(spark, sf_dir):
    """The skyline's frontier window must run per-shard, never as one
    global single-task window; the shard offsets broadcast back."""
    plan = _plan(spark, sf_dir, "skyline_price_size")
    assert "__shard" in plan  # sharded running-max path in use
    assert "BroadcastHashJoin" in plan  # offsets joined by broadcast
    # global exchange feeds only the tiny per-shard offsets frame; the
    # data-sized window partitions by __shard
    assert "windowspecdefinition(__shard" in plan


def test_record_linkage_is_blocked_equi_join(spark, sf_dir):
    """Blocking must plan as an equi-join on (type, brand) — a
    cross-join here would be the quadratic ER trap."""
    plan = _plan(spark, sf_dir, "record_linkage_score")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan


def test_maxsim_broadcasts_queries_with_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "maxsim_multivector_topk")
    assert "BroadcastExchange" in plan  # tiny query side broadcast
    assert "ArrowEvalPython" in plan  # vectorized kernel, not row UDF
    assert "WindowGroupLimit" in plan  # k=5 cut below the rank sort


def test_blocklist_broadcasts_dimension_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "blocklist_term_filter")
    assert "BroadcastHashJoin" in plan          # blocklist is the dim
    assert "SortMergeJoin" not in plan          # never shuffles the tokens
    # the exploded token stream is only ever hashed on doc_id(+term for
    # the distinct agg) — no exchange keyed on raw tokens
    assert "hashpartitioning(tok" not in plan


def test_checksum_audit_is_mapside_fold_per_table(spark, sf_dir):
    plan = _plan(spark, sf_dir, "table_checksum_audit")
    assert "Join" not in plan                   # pure scan+agg per table
    assert "Window" not in plan
    # one partial+final agg pair per table, no wider exchanges
    assert plan.count("HashAggregate") >= 10


def test_epoch_shuffle_single_exchange_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "epoch_shuffle_shards")
    assert "Join" not in plan
    # exactly one exchange and it is keyed on shard
    assert "hashpartitioning(shard" in plan
    assert plan.count("ENSURE_REQUIREMENTS") == 1


def test_char_diversity_no_shuffle_projection(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_char_diversity")
    assert "Exchange" not in plan               # pure map-side projection
    assert "Join" not in plan and "Window" not in plan


def test_fd_audit_partial_aggregation_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "fd_violation_audit")
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_nb_classifier_model_joins_broadcast(spark, sf_dir):
    """The NB model frames (priors, totals, vocab scalar, lang list) are
    model-sized and must broadcast; the only data-sized shuffles key on
    token / (doc, lang) — never a cartesian on the token stream."""
    plan = _plan(spark, sf_dir, "nb_lang_confusion")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan  # argmax via rank-1 group limit


def test_chi2_contingency_broadcasts_lang_totals(spark, sf_dir):
    plan = _plan(spark, sf_dir, "chi2_token_lang")
    assert "BroadcastHashJoin" in plan  # lang_docs + n_docs broadcast
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # top-8 cut before full sort


def test_lof_broadcasts_corpus_side_arrow_kernel(spark, sf_dir):
    plan = _plan(spark, sf_dir, "lof_knn_outliers")
    assert "BroadcastNestedLoopJoin" in plan  # bounded slice x slice
    assert "ArrowEvalPython" in plan  # vectorized L2, not row UDF
    assert "WindowGroupLimit" in plan  # kNN rank cut


def test_cf_cosine_caps_via_group_limit_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "item_item_cosine_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # per-customer cap AND final top-k both via WindowGroupLimit
    assert plan.count("WindowGroupLimit") >= 4  # partial+final x 2 windows


def test_rr_dp_is_single_pass_no_join_on_data(spark, sf_dir):
    plan = _plan(spark, sf_dir, "rr_dp_status_counts")
    assert "CartesianProduct" not in plan
    # the privatized stream collapses map-side BEFORE any exchange: the
    # only joins align |statuses|-row aggregates (the full-outer there
    # may legally plan as a tiny SMJ), and the total is a broadcast
    # scalar — so every Exchange moves at most |statuses| rows per task
    assert "partial_count" in plan
    assert "BroadcastExchange" in plan


def test_ses_forecast_single_user_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ses_forecast_user_value")
    assert "Join" not in plan
    # window + agg both key on user_id: one logical repartitioning
    assert "hashpartitioning(user_id" in plan


def test_containment_pairs_equi_join_on_shingle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "shingle_containment_pairs")
    assert "ShuffledHashJoin" in plan  # pinned against broadcast misfire
    assert "CartesianProduct" not in plan


def test_theilsen_pairs_equi_join_on_user(spark, sf_dir):
    plan = _plan(spark, sf_dir, "theilsen_trend_per_user")
    assert "CartesianProduct" not in plan
    # pair generation is a user_id equi-join; no data-sized broadcast
    assert "hashpartitioning(user_id" in plan


def test_drawdown_two_windows_share_one_order(spark, sf_dir):
    plan = _plan(spark, sf_dir, "max_drawdown_per_user")
    assert "Join" not in plan
    # cum + peak + argmax all key on user_id — no other exchange keys
    assert "hashpartitioning(user_id" in plan


def test_gini_single_source_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "gini_source_concentration")
    assert "Join" not in plan
    assert "hashpartitioning(source" in plan


def test_psi_scalars_broadcast_single_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "psi_value_drift")
    # the epoch-range and totals frames are 1-row broadcast scalars;
    # the only data-sized agg keys on bin with map-side combine
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_backfill_plan_anti_join_tiny_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "partition_backfill_plan")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_link_prediction_caps_and_anti_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "copurchase_link_prediction")
    assert "CartesianProduct" not in plan
    # adjacency cap via row_number group-limit before the wedge join
    assert "WindowGroupLimit" in plan
    # existing edges leave via anti join; top-k never global-sorts
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan


def test_t_closeness_dense_grid_not_data_cross_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "t_closeness_audit")
    # bucket grid comes from a literal sequence explode off the
    # group-sized frame; the k-row global CDF and the 1-row total are
    # the only nested-loop sides
    assert "Generate explode" in plan or "Generate" in plan
    assert "BroadcastExchange" in plan
    assert "hashpartitioning(c_nationkey" in plan


def test_weighted_median_broadcasts_part_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "weighted_median_brand_price")
    assert "BroadcastHashJoin" in plan  # part is the dim side
    assert "CartesianProduct" not in plan
    # cumulative window + totals both key on brand
    assert "hashpartitioning(p_brand" in plan


def test_holt_one_user_shuffle_arrow_batch(spark, sf_dir):
    plan = _plan(spark, sf_dir, "holt_linear_forecast")
    # one Arrow-batched kernel over collect_list series — NOT a
    # per-group FlatMapGroupsInPandas (measured 4x slower: one Python
    # invocation per user vs one per batch)
    assert "ArrowEvalPython" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan


def test_rrf_lists_are_top_k_bounded(spark, sf_dir):
    plan = _plan(spark, sf_dir, "rrf_hybrid_retrieval")
    # both source lists collapse through TakeOrderedAndProject before
    # any unpartitioned rank window touches them
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_triple_support_equi_joins_on_basket_key(spark, sf_dir):
    plan = _plan(spark, sf_dir, "part_triple_support")
    assert "CartesianProduct" not in plan
    # both triple-building joins meet on l_orderkey (plus the < chain)
    assert "TakeOrderedAndProject" in plan


def test_time_decay_anchor_broadcast_single_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "time_decay_customer_value")
    # the max-date anchor is a 1-row broadcast; the only data exchange
    # keys on o_custkey with map-side partial aggregation
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_sum" in plan
    assert "hashpartitioning(o_custkey" in plan
    assert "SortMergeJoin" not in plan


def test_target_encoding_category_model_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "target_encoding_loo")
    # the 5-row category model must broadcast back — never a sort-merge
    # join of the fact table against itself
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan  # map-side combine on the model build


def test_feature_hashing_stays_jvm_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "feature_hashing_vectorize")
    # pure expression pipeline: no Python eval anywhere, one keyed agg
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_interval_overlap_is_equi_join_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "promo_interval_overlap")
    # the bin trick must turn interval overlap into a hash-equi join;
    # a BroadcastNestedLoopJoin/Cartesian means the rewrite regressed
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the constant promo calendar is the hinted broadcast build side
    assert "BroadcastHashJoin" in plan


def test_ztest_single_pass_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ab_conversion_ztest")
    assert "partial_" in plan  # user collapse is map-side combined
    assert "Join" not in plan  # one linear pipeline, no self-join


def test_cuped_theta_frame_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cuped_adjusted_lift")
    # the 1-row moment frame re-joins via broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sql_text_interface_pushes_filter_through_view(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_text_interface")
    # the temp-view indirection must be transparent to Catalyst:
    # the date predicate reaches the parquet scan and unused columns
    # are pruned from ReadSchema
    assert "GreaterThanOrEqual(o_orderdate" in plan
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "o_custkey" not in schema


def test_sgns_positives_avoid_exploded_self_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sgns_training_pairs")
    # positives come from the shift-zip of the token array (Generate),
    # not a corpus-sized exploded self-join; the vocab join broadcasts
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_preference_pairs_keep_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "preference_pair_assembly")
    # both rank windows are per-source and must push the top-M limit
    # below the shuffle
    assert "WindowGroupLimit" in plan
    assert "SinglePartition" not in plan


def test_hitrate_topk_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cf_hitrate_eval")
    assert "WindowGroupLimit" in plan  # per-segment top-K
    assert "BroadcastHashJoin" in plan  # topk + dims broadcast
    assert "CartesianProduct" not in plan


def test_conformal_q_is_broadcast_scalar(spark, sf_dir):
    plan = _plan(spark, sf_dir, "conformal_interval_report")
    # the k-th order statistic joins back as a 1-row broadcast, and the
    # rank machinery must never collapse the corpus to one partition
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_quarantine_single_arrow_pass_no_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_corrupt_quarantine")
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan  # scan -> build -> validate, no shuffle


# --- registry-wide plan audit: intentionality of known warning shapes -------
# The local sweep logs two familiar warnings: "WindowExec: No Partition
# Defined" (global windows) and Python-UDF/broadcast-NLJ notes. Both are
# INTENTIONAL in a bounded set of plans — global windows only ever run
# over model-sized frames (aggregated vocab/rank/quantile tables, never
# the raw corpus), and BroadcastNestedLoopJoin only appears as the house
# crossJoin(broadcast(<1-row-or-model-sized frame>)) scalar attach. Pin
# the sets so a NEW accidental global window or nested-loop join fails
# this test loudly instead of hiding among familiar warnings
# (VERDICT r4 item 7).

_GLOBAL_WINDOW_OK = {
    "ngram_coverage_curve",  # rank/cumsum over the aggregated vocab
    # window input is an aggregated, model-sized frame (vocab ranks,
    # quantile grids, skyline/pareto frontiers, per-key model tables)
    "customer_revenue_pareto",
    "equidepth_histogram",
    "weighted_sample_docs",
    "partition_backfill_plan",
    "session_concurrency_peak",
    "zipf_fit_report",
    "skyline_price_size",
    "surrogate_global_seq",
    "conversion_hazard_table",
    "token_rarity_score",
    "rrf_hybrid_retrieval",
    "sorted_neighborhood_neardup",
    "lof_knn_outliers",
    "conformal_interval_report",
    "ks_drift_stat",
    "mannwhitney_shift_test",
    "sgns_training_pairs",
    "t_closeness_audit",
}

_BNLJ_OK = {
    # crossJoin(broadcast(model-sized)) scalar/model attaches
    "table_profile_summary",  # two 1-row aggregate sides (r9 agg split)
    "woe_risk_encoding",
    "reciprocal_best_match",
    "bigram_pmi_collocations",
    "source_token_kl_divergence",
    "hill_tail_index",
    "ngram_coverage_curve",
    "ndcg_matryoshka_prefix",
    "theil_inequality_decomposition",
    "degree_assortativity_trade",
    "nation_revenue_share",
    "customer_revenue_pareto",
    "equidepth_histogram",
    "key_skew_profile",
    "part_affinity_lift",
    "part_triple_support",
    "q22_idle_rich_customers",
    "q11_important_part_values",
    "rfm_user_segments",
    "cuped_adjusted_lift",
    "gap_fill_forward",
    "time_decay_customer_value",
    "boilerplate_span_strip",
    "tfidf_top_terms",
    "bigram_lm_quality",
    "bm25_topk_docs",
    "rrf_hybrid_retrieval",
    "knn_cosine_topk",
    "maxsim_multivector_topk",
    "semdedup_prune",
    "knn_matryoshka_rerank",
    "hard_negative_mining",
    "contrastive_negative_pairs",
    "kmeans_assign_embeddings",
    "kmeans_topic_terms",
    "ann_recall_report",
    "knn_label_vote",
    "nb_lang_confusion",
    "chi2_token_lang",
    "lof_knn_outliers",
    "conformal_interval_report",
    "embedding_near_dups",
    "curation_pipeline_v2",
    "source_mix_drift",
    "approx_theta_overlap",
    "psi_value_drift",
    "ks_drift_stat",
    "t_closeness_audit",
    "rr_dp_status_counts",
    "mixture_temperature_resample",
    "dsir_importance_score",
    # the one non-trivial BNLJ: the split-leakage audit's bounded
    # eval-benchmark x train scoring join (eval side is a fixed-size
    # deterministic sample, broadcast; train side streams once)
    "split_leakage_audit",
}


def test_registry_plan_audit_no_new_cartesians_bnlj_or_global_windows(
    spark, sf_dir
):
    """Walk EVERY registered query's plan: no CartesianProduct anywhere,
    BroadcastNestedLoopJoin and unpartitioned Window only where pinned
    intentional. ~2-3 min: builds 270+ plans (analysis only, nothing
    executes)."""
    qs = entrymod.queries()
    bad_cart, new_bnlj, new_gwin, errs = [], [], [], []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            stack = [df._jdf.queryExecution().optimizedPlan()]
            has_gw = False
            while stack:
                n = stack.pop()
                if (
                    n.getClass().getSimpleName() == "Window"
                    and n.partitionSpec().size() == 0
                ):
                    has_gw = True
                ch = n.children()
                for i in range(ch.size()):
                    stack.append(ch.apply(i))
            buf = _io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain()
            p = buf.getvalue()
        except Exception as ex:  # noqa: BLE001
            errs.append((name, str(ex)[:120]))
            continue
        if "CartesianProduct" in p:
            bad_cart.append(name)
        if "BroadcastNestedLoopJoin" in p and name not in _BNLJ_OK:
            new_bnlj.append(name)
        if has_gw and name not in _GLOBAL_WINDOW_OK:
            new_gwin.append(name)
    assert not errs, errs
    assert not bad_cart, f"cartesian products: {bad_cart}"
    assert not new_bnlj, (
        f"new nested-loop joins (add to _BNLJ_OK only if the broadcast "
        f"side is provably model-sized): {new_bnlj}"
    )
    assert not new_gwin, (
        f"new UNPARTITIONED windows (single-task at scale; add to "
        f"_GLOBAL_WINDOW_OK only if the window input is model-sized): "
        f"{new_gwin}"
    )


# --- r10 optimization-shape pins ---------------------------------------------


def test_minhash_serving_plan_has_no_band_join(spark, sf_dir):
    """r10: the LSH candidate pair list is materialized once at build
    time, so the served plan must not replay the band self-join (and
    the exact-verify shingle explode runs on candidate docs only)."""
    plan = _plan(spark, sf_dir, "minhash_lsh_dedup")
    assert "band" not in plan


def test_spearman_single_lineitem_scan(spark, sf_dir):
    """r10: both ranked columns' per-(flag,value) marginals come from
    ONE grouping-sets pass (materialized at build); the served plan
    scans lineitem exactly once (the totals/moments pass)."""
    plan = _plan(spark, sf_dir, "spearman_rank_corr")
    # each physical scan appears twice in formatted output (tree node +
    # detail block)
    assert plan.count("Scan parquet") == 2


def test_record_linkage_length_gate_reaches_join(spark, sf_dir):
    """r10: the provably-safe |len(a)-len(b)| <= lev_max gate must sit
    in the blocking join condition so the levenshtein DP only runs on
    length-compatible names."""
    plan = _plan(spark, sf_dir, "record_linkage_score")
    assert "length(a_p_name" in plan


def test_entity_blocking_uses_banded_levenshtein(spark, sf_dir):
    """r10: the <=1 verify must be the threshold-banded levenshtein
    (O(n) diagonal band), not the full O(n^2) DP."""
    plan = _plan(spark, sf_dir, "entity_blocking_pairs")
    assert "levenshtein(name_a" in plan and "Some(1)" in plan


def test_item_item_single_customer_exchange(spark, sf_dir):
    """r10: one REPARTITION_BY_COL hash(o_custkey) exchange serves the
    rating aggregate, the per-customer cap window AND the self-join on
    u — the planner must not add a (o_custkey, l_partkey) pair exchange
    back for the groupBy."""
    import re

    plan = _plan(spark, sf_dir, "item_item_cosine_topk")
    assert "REPARTITION_BY_COL" in plan
    assert not re.search(r"hashpartitioning\(o_custkey#\d+L?, l_partkey", plan)


def test_fk_audit_multi_edge_child_scanned_once(spark, sf_dir):
    """r10: a child table with several FK edges (lineitem: 3) is scanned
    once with every parent attached to the same pass — the plan must
    carry the fused projection (fk_0..fk_2) instead of one scan per
    edge."""
    plan = _plan(spark, sf_dir, "fk_integrity_audit")
    assert "fk_2" in plan
    # 5 child scans (lineitem, orders, customer, supplier, nation) +
    # 5 parent scans (orders, part, supplier, customer, nation ×ReusedX,
    # region) — formatted output doubles each (tree + detail); the old
    # per-edge shape carried 14 physical scans
    assert plan.count("Scan parquet") <= 28


def test_nb_confusion_single_token_pass(spark, sf_dir):
    """r10: the corpus tokenize+explode fed five plan branches; the
    served plan must read the checkpointed (doc, lang, token, cnt)
    frame instead — zero Generate (explode) nodes replayed."""
    plan = _plan(spark, sf_dir, "nb_lang_confusion")
    assert "Generate" not in plan
