"""Iterative graph algorithms as driver loops over DataFrames.

Complements dedup/clusters.py (connected components) with weighted
PageRank — the canonical "iterate a join + aggregate to fixpoint" shape
that a reference user would reach for when ranking entities in a
relationship graph (suppliers by trade flow, documents by citation,
users by interaction).

Scale notes (edges can be billions of rows; ranks is node-sized):
- Each iteration is exactly one shuffle pair: edges ⋈ ranks on src
  (ranks is the small side — broadcast when it fits, else both sides
  hash-partitioned on src, and the edges side's partitioning is reused
  across iterations because the loop re-joins the SAME cached frame on
  the SAME key), then groupBy dst with partial aggregation.
- ``localCheckpoint`` every few rounds truncates lineage — without it
  the plan doubles per round and the driver dies on plan compilation
  long before the cluster runs out of capacity (the classic
  iterative-Spark trap; same device as dedup/clusters.py).
- Dangling mass (nodes with no out-edges) is collected as ONE scalar
  per iteration via a 1-row aggregate — not a per-node broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Driver-solve budget for graph operators: edge sets at or below it are
# collected once and iterated in numpy (here and in
# dedup/clusters.connected_components). Aggregated entity graphs are
# key-cardinality-bounded, and iterating a driver-small graph through
# cluster rounds spends everything on scheduling (measured: 8 star
# rounds ≈ 3-5 s at sf0.1 vs <1 s collected). Read at call time, so
# tests force the distributed loops by patching it to 0.
DRIVER_MAX_EDGES = 2_000_000


def _pagerank_driver(
    trans: DataFrame, nodes: DataFrame, n: int, damping: float, max_iter: int
) -> DataFrame:
    """Driver-side power iteration for DRIVER-SMALL aggregated graphs.

    Iterating a 25-node graph through cluster jobs spends everything on
    scheduling (measured ~0.45 s/round at sf0.1); once the NORMALIZED
    graph fits comfortably on the driver — and aggregated entity graphs
    are key-cardinality-bounded, not data-bounded — the right engineering
    is one bounded collect and a numpy loop. The distributed edge BUILD
    (the data-sized work) is unchanged; only the node-sized iteration
    moves. Accumulation order is pinned by sorting edges, so results are
    run-to-run identical.
    """
    import numpy as np

    ids = sorted(r.id for r in nodes.collect())
    idx = {v: i for i, v in enumerate(ids)}
    rows = sorted(
        ((r.e_src, r.e_dst, r.p) for r in trans.collect()),
        key=lambda t: (str(t[1]), str(t[0])),
    )
    src_i = np.array([idx[s] for s, _, _ in rows], dtype=np.int64)
    dst_i = np.array([idx[d] for _, d, _ in rows], dtype=np.int64)
    p = np.array([pv for _, _, pv in rows], dtype=np.float64)
    has_out = np.zeros(n, dtype=bool)
    has_out[src_i] = True
    rank = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        dangling = float(rank[~has_out].sum())
        contrib = np.zeros(n)
        np.add.at(contrib, dst_i, p * rank[src_i])
        rank = (1.0 - damping) / n + damping * dangling / n + damping * contrib
    from pyspark.sql import types as T

    spark = trans.sparkSession
    schema = T.StructType(
        [
            T.StructField("id", nodes.schema["id"].dataType),
            T.StructField("rank", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(
        [(v, float(rank[idx[v]])) for v in ids], schema
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 15,
    checkpoint_interval: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """(id, rank) for every node; ranks sum to 1.

    ``weight`` names an edge-weight column (contributions proportional
    to weight / total out-weight); None means uniform 1/out_degree.
    Teleport and dangling mass are distributed uniformly, matching the
    standard power-iteration formulation.

    ``checkpoint_interval`` trades plan depth for materialization jobs:
    lineage is cut every k rounds (plans stay depth-k — fine for the
    optimizer) instead of paying a checkpoint job per round. Graphs with
    dangling nodes force k=1 effectively, since the per-round scalar is
    an action anyway.

    Graphs whose NORMALIZED edge list fits on the driver
    (``DRIVER_MAX_EDGES``; ~100 MB) solve there in one bounded
    collect — see ``_pagerank_driver``.
    """
    w = F.col(weight) if weight else F.lit(1.0)
    # materialize the edge projection once: it feeds BOTH the out-weight
    # aggregate and the probe side of the normalization join, and
    # without this the upstream edge-build pipeline executes twice
    e = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), w.alias("w")
    ).localCheckpoint()
    out_w = e.groupBy("e_src").agg(F.sum("w").alias("out_w"))
    # normalized transition edges, cached: reused every iteration
    trans = (
        e.join(out_w, "e_src")
        .select("e_src", "e_dst", (F.col("w") / F.col("out_w")).alias("p"))
        # lazy: the node count below is a full action over both trans
        # projections, so it materializes the checkpoint in its own job
        .localCheckpoint(eager=False)
    )
    # nodes derive from the CHECKPOINTED trans (it holds every edge), so
    # the upstream edge-build plan runs exactly once, not once per
    # derived frame
    nodes_raw = (
        trans.select(F.col("e_src").alias("id"))
        .unionByName(trans.select(F.col("e_dst").alias("id")))
        .distinct()
    )
    n = nodes_raw.count()
    if n == 0:
        # empty edge frame -> empty ranks, not a ZeroDivisionError
        return nodes_raw.withColumn("rank", F.lit(0.0))
    if n <= DRIVER_MAX_EDGES:
        m = trans.count()  # checkpointed: a metadata-cheap count
        if m <= DRIVER_MAX_EDGES:
            # collect straight from the checkpointed trans (nodes_raw
            # derives from it) — the distributed loop's repartition+
            # checkpoint pair below would be two wasted jobs (and
            # shuffles) for data that is about to leave the cluster
            return _pagerank_driver(trans, nodes_raw, n, damping, max_iter)
    # Size the iteration's shuffle width to the NODE frame, not the
    # session default: ranks is node-sized, and iterating a 25-node
    # graph through 32-partition exchanges spends everything on empty
    # tasks. ~1M nodes per partition; huge graphs still fan out.
    parts = max(1, min(int(e.sparkSession.conf.get("spark.sql.shuffle.partitions")), n // 1_000_000 + 1))
    nodes = nodes_raw.repartition(parts, "id").localCheckpoint()
    trans = trans.repartition(parts, "e_src").localCheckpoint()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
    has_out = trans.select(F.col("e_src").alias("id")).distinct()
    dangling_nodes = nodes.join(has_out, "id", "left_anti").localCheckpoint()
    any_dangling = dangling_nodes.limit(1).count() > 0  # hoisted: one job, not one per round
    for i in range(max_iter):
        # dangling nodes contribute their whole rank to the uniform pool
        dangling = (
            ranks.join(dangling_nodes, "id", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d"))
            .collect()[0]["d"]
            if any_dangling
            else 0.0
        )
        # node-small graphs: broadcast the rank vector both ways so each
        # iteration is map-side only (no exchange); huge graphs fall back
        # to the co-partitioned shuffle join set up above
        small = n <= 1_000_000
        contribs = (
            trans.join(F.broadcast(ranks) if small else ranks, trans.e_src == ranks.id)
            .groupBy(F.col("e_dst").alias("id"))
            .agg(F.sum(F.col("p") * F.col("rank")).alias("contrib"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = (
            nodes.join(F.broadcast(contribs) if small else contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        last = i == max_iter - 1
        if any_dangling or last or (i + 1) % checkpoint_interval == 0:
            ranks = ranks.localCheckpoint()
    return ranks
