"""PageRank workload: rank nations by weighted trade flow.

Builds the nation→nation trade graph (supplier nation → customer
nation, weighted by lineitem revenue — the q7 join shape aggregated to
graph edges) and runs weighted PageRank over it.

The power iteration IS oracle-checkable despite the per-round global
dangling-mass scalar: augment the normalized edge list with (a) an
explicit 1/n edge from every dangling node to every node — turning the
dangling redistribution into ordinary edge contributions — and (b) a
p=0 self-loop per node so every node has an in-edge. One recursive-CTE
step per iteration then references the rank table exactly once
(window-SUM + DISTINCT, same device as the k-core oracle below), and
the unrolled 10-iteration CTE reproduces the exact formula of
``_pagerank_driver``. Both engines accumulate float64 in different
orders, but the ≤|nations| term sums drift ~1e-15 while the output
is rounded to 8 decimals — the hash check compares the rounded grain.
A numpy power-iteration golden (tests/test_graph.py) independently
pins the math.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import exact_avg, exact_sum


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier-nation → customer-nation edges weighted by revenue."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supplier = read_table(spark, sf_dir, "supplier")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("src")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("dst")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .groupBy("src", "dst")
        .agg(exact_sum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


# --- driver-solved trade-graph queries --------------------------------------
# pagerank, triangle count, bfs, sssp, closeness, k-core and LPA solve
# over the trade graph, which has one edge per (supplier nation,
# customer nation) pair: pagerank over `trade_edges` itself, the other
# six over its `_strong_edges` threshold. `nation` is a fixed 25-row
# dimension (`tools/gen_sf.py` copies its FIXED tables unchanged at
# every scale), so the graph has at most 25² = 625 edges at any corpus
# size. Each query therefore runs one Spark pass that builds the edge
# list, collects it, and solves in numpy. The iterative solvers run
# synchronous rounds under their recursive-CTE oracle's round cap and
# stop early only at a fixpoint, so the rows agree even when the cap
# stops short of convergence.


def _strong_edges(spark: SparkSession, sf_dir: str, factor: float):
    """Collect the strong-trade edges as a pandas frame (a, b, w): each
    nation pair with a direction whose revenue exceeds ``factor`` x the
    exact mean edge revenue, in both orientations. ``w`` is the integer
    edge cost ``floor(revenue / 1e5) + 1``, the minimum over the pair's
    directions."""
    # the aggregated edge frame feeds both the exact-avg threshold scalar
    # and the probe side of the threshold filter; the lazy cut runs the
    # 5-way corpus join + groupBy once (without it the executed plan
    # scans lineitem 4 times, with no exchange reused)
    edges = trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    avg_rev = edges.agg(exact_avg("revenue", "avg_rev"))
    strong = (
        edges.crossJoin(F.broadcast(avg_rev))
        .filter(F.col("revenue") > factor * F.col("avg_rev"))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            (F.floor(F.col("revenue") / F.lit(100000.0)) + 1)
            .cast("long")
            .alias("w"),
        )
    )
    return (
        strong.unionByName(
            strong.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .toPandas()
    )


def _node_index(pdf):
    """Dense node positions for an edge frame's first two columns:
    returns (ids, u, v) with ids sorted and u, v indexing into it."""
    import numpy as np

    a = pdf.iloc[:, 0].to_numpy()
    b = pdf.iloc[:, 1].to_numpy()
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    return ids, inv[: len(a)], inv[len(a):]


def _bfs_hops_driver(pdf, source, max_hops: int) -> list[tuple]:
    """Frontier BFS over a symmetric (a, b) edge array — one numpy
    scatter per hop level; returns (node, hop) rows, hop = first-reach
    level <= max_hops."""
    import numpy as np

    ids, u, v = _node_index(pdf)
    n = len(ids)
    src_pos = int(np.searchsorted(ids, source))
    if src_pos >= n or ids[src_pos] != source:
        return [(source, 0)]  # source absent: visited = {source}
    hop = np.full(n, -1, dtype=np.int64)
    hop[src_pos] = 0
    frontier = np.zeros(n, dtype=bool)
    frontier[src_pos] = True
    for h in range(1, max_hops + 1):
        nxt = np.zeros(n, dtype=bool)
        nxt[v[frontier[u]]] = True
        nxt &= hop == -1
        if not nxt.any():
            break
        hop[nxt] = h
        frontier = nxt
    reached = np.flatnonzero(hop >= 0)
    return list(zip(ids[reached].tolist(), hop[reached].tolist()))


def _sssp_driver(pdf, source, max_rounds: int) -> list[tuple]:
    """Synchronous Bellman-Ford rounds over (a, b, w) edges, at most
    max_rounds, stopping early when no distance improves (integer
    costs, so ties and partial convergence are exact)."""
    import numpy as np

    ids, u, v = _node_index(pdf)
    w = pdf.iloc[:, 2].to_numpy().astype(np.int64)
    n = len(ids)
    src_pos = int(np.searchsorted(ids, source))
    if src_pos >= n or ids[src_pos] != source:
        return [(source, 0)]
    inf = np.iinfo(np.int64).max // 2
    dist = np.full(n, inf, dtype=np.int64)
    dist[src_pos] = 0
    for _ in range(max_rounds):
        reached = dist[u] < inf
        new = dist.copy()
        np.minimum.at(new, v[reached], dist[u[reached]] + w[reached])
        if np.array_equal(new, dist):
            break
        dist = new
    got = np.flatnonzero(dist < inf)
    return list(zip(ids[got].tolist(), dist[got].tolist()))


def _kcore_driver(pdf, k: int, rounds: int) -> list[tuple]:
    """Degree-peel rounds over the symmetric directed (u, v) edge
    array: an edge survives a round iff both endpoint degrees are >= k;
    at most ``rounds`` rounds, stopping at the fixpoint. Returns the
    surviving (u, v) rows."""
    import numpy as np

    ids, u, v = _node_index(pdf)
    n = len(ids)
    alive = np.ones(len(u), dtype=bool)
    n_edges = len(u)
    for _ in range(rounds):
        if n_edges == 0:
            break
        deg = np.bincount(u[alive], minlength=n)
        keep = alive & (deg[u] >= k) & (deg[v] >= k)
        n_next = int(keep.sum())
        alive = keep
        if n_next == n_edges:
            break
        n_edges = n_next
    return list(zip(ids[u[alive]].tolist(), ids[v[alive]].tolist()))


def _lpa_driver(pdf, iters: int, enc: int) -> list[tuple]:
    """Deterministic min-encoded label propagation over the symmetric
    directed (src, dst) edge array — the EXACT integer update of the
    oracle: per round every node takes, over its incoming labels,
    min((enc - count) * enc + label) % enc (most-frequent label,
    smallest on ties). Labels are always < enc, so (dst, label) pairs
    pack injectively into one int64 key for the count pass."""
    import numpy as np

    ids, u, v = _node_index(pdf)
    n = len(ids)
    lab = ids.astype(np.int64).copy()  # initial label = node id
    sentinel = np.iinfo(np.int64).max
    for _ in range(iters):
        key = v * enc + lab[u]
        uk, cnt = np.unique(key, return_counts=True)
        encoded = (enc - cnt) * enc + (uk % enc)
        best = np.full(n, sentinel, dtype=np.int64)
        np.minimum.at(best, uk // enc, encoded)
        lab = best % enc
    return list(zip(ids.tolist(), [int(x) for x in lab.tolist()]))


def _closeness_driver(pdf, max_hops: int) -> list[tuple]:
    """All-sources frontier BFS: every source advances one hop per
    round (one dense n x n matmul) — returns the (source, node, hop)
    first-reach rows, hop <= max_hops."""
    import numpy as np

    ids, u, v = _node_index(pdf)
    n = len(ids)
    adj = np.zeros((n, n), dtype=np.float32)
    adj[u, v] = 1.0
    hop = np.full((n, n), -1, dtype=np.int64)  # [source, node]
    np.fill_diagonal(hop, 0)
    frontier = np.eye(n, dtype=np.float32)
    for h in range(1, max_hops + 1):
        nxt = (frontier @ adj) > 0
        nxt &= hop == -1
        if not nxt.any():
            break
        hop[nxt] = h
        frontier = nxt.astype(np.float32)
    si, ni = np.nonzero(hop >= 0)
    return list(
        zip(ids[si].tolist(), ids[ni].tolist(), hop[si, ni].tolist())
    )


def _pagerank_driver(pdf, damping: float, iters: int) -> list[tuple]:
    """Weighted power iteration over (src, dst, weight) edges: each
    weight is divided by its source's total out-weight, dangling mass
    spreads uniformly, and edges accumulate in (dst, src) order so runs
    repeat exactly. Returns (node, rank) rows; ranks sum to 1."""
    import numpy as np

    if pdf.empty:
        return []
    ids, src, dst = _node_index(pdf)
    n = len(ids)
    w = pdf.iloc[:, 2].to_numpy().astype(np.float64)
    p = w / np.bincount(src, weights=w, minlength=n)[src]
    order = np.lexsort((src, dst))
    src, dst, p = src[order], dst[order], p[order]
    has_out = np.zeros(n, dtype=bool)
    has_out[src] = True
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = float(rank[~has_out].sum())
        contrib = np.zeros(n)
        np.add.at(contrib, dst, p * rank[src])
        rank = (1.0 - damping) / n + damping * dangling / n + damping * contrib
    return list(zip(ids.tolist(), rank.tolist()))


def _value_desc(rows: list[tuple], key=lambda v: v) -> list[tuple]:
    """(nation, value) rows by ``key(value)`` descending, then nation.

    Driver-solved queries serve their rows in this order, sorted here
    because a Spark ``orderBy`` over at most 25 driver-built rows pays
    range-partition sampling jobs on every execution."""
    return sorted(rows, key=lambda r: (-key(r[1]), r[0]))


def _round_half_up(x: float, places: int) -> Decimal:
    """``F.round(x, places)`` on a double: HALF_UP on its shortest decimal."""
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)


def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    pdf = trade_edges(spark, sf_dir).toPandas()
    ranks = _value_desc(_pagerank_driver(pdf, 0.85, 10), lambda r: _round_half_up(r, 8))
    return spark.createDataFrame(ranks, "nation string, rank double").select(
        "nation", F.round("rank", 8).alias("rank"))


# --- triangle_count_trade: graph motif count ---------------------------------
# Triangle counting over the strong-trade graph (edge threshold RELATIVE,
# 1.8× the mean edge revenue, so the query is scale-free across sf).
# With the symmetric 0/1 adjacency A, diag(A³)_i counts the closed
# 3-step walks i→j→k→i, each triangle at i twice (once per direction), so
# diag(A³) / 2 is the number of triangles at each node.


def _triangle_driver(pdf) -> list[tuple]:
    """Per-node triangle counts over a symmetric (a, b) edge frame;
    nodes on no triangle are omitted."""
    import numpy as np

    ids, u, v = _node_index(pdf)
    adj = np.zeros((len(ids), len(ids)), dtype=np.int64)
    adj[u, v] = 1
    tri = ((adj @ adj) * adj).sum(axis=1) // 2
    on = np.flatnonzero(tri)
    return list(zip(ids[on].tolist(), tri[on].tolist()))


def triangle_count_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    pdf = _strong_edges(spark, sf_dir, 1.8)
    return spark.createDataFrame(
        _value_desc(_triangle_driver(pdf)), "nation string, n_triangles long")


_TRIANGLE_SQL = """
WITH e AS (
  SELECT s.n_name AS src, c2.n_name AS dst,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation s ON supplier.s_nationkey = s.n_nationkey
  JOIN nation c2 ON customer.c_nationkey = c2.n_nationkey
  GROUP BY 1, 2
),
strong AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e, (SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
                    / COUNT(*) AS avg_rev FROM e) t
  WHERE revenue > 1.8 * avg_rev AND src <> dst
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM strong e1
  JOIN strong e2 ON e1.b = e2.a
  JOIN strong e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS nation FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT nation, COUNT(*) AS n_triangles
FROM corners GROUP BY nation
ORDER BY n_triangles DESC, nation
"""


# --- kcore_trade_graph: iterative k-core peel --------------------------------
# The k-core (Seidman 1983): repeatedly delete nodes with degree < k
# until none remain; what survives is the graph's cohesive backbone —
# the standard prefilter before community detection and the "dense
# cluster of near-dup sources" probe on a dedup similarity graph.
#
# Driver solve (`_kcore_driver`): the state is the SYMMETRIC directed
# edge list (each undirected edge as (u,v) and (v,u)), so one per-node
# count gives every degree and an edge survives a round iff both
# endpoint degrees are >= k; rounds stop at the fixpoint.
#
# Oracle: genuinely SQL-expressible — a recursive CTE over the directed
# edge state where window COUNTs over (u) and (v) are both endpoint
# degrees (the symmetric trick avoids the single-recursive-reference
# restriction), unrolled a fixed _KCORE_ROUNDS >= |nations| rounds so
# the final iteration IS the fixpoint. `tools/check_oracle.py` checks
# the numpy peel against DuckDB's recursion — an independent-implementation
# check of the whole iteration, not just one round.

_KCORE_K = 3
_KCORE_ROUNDS = 30  # >= max peel depth for a <=25-node nation graph


def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    pdf = _strong_edges(spark, sf_dir, 1.0)
    surviving = _kcore_driver(pdf, _KCORE_K, _KCORE_ROUNDS)
    nations, degree = np.unique([u for u, _ in surviving], return_counts=True)
    return spark.createDataFrame(
        _value_desc(list(zip(nations.tolist(), degree.tolist()))),
        "nation string, kcore_degree long")


_KCORE_SQL = f"""
WITH RECURSIVE und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM (
    SELECT s.n_name AS src, c2.n_name AS dst,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation s ON supplier.s_nationkey = s.n_nationkey
    JOIN nation c2 ON customer.c_nationkey = c2.n_nationkey
    GROUP BY 1, 2
  ) e,
  (SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
            / COUNT(*) AS avg_rev
   FROM (
     SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
     FROM lineitem
     JOIN orders ON l_orderkey = o_orderkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN customer ON o_custkey = c_custkey
     JOIN nation s ON supplier.s_nationkey = s.n_nationkey
     JOIN nation c2 ON customer.c_nationkey = c2.n_nationkey
     GROUP BY s.n_name, c2.n_name
   )) t
  WHERE revenue > avg_rev AND src <> dst
),
peel(iter, u, v) AS (
  SELECT 0, a, b FROM und
  UNION ALL SELECT 0, b, a FROM und
  UNION ALL
  SELECT iter + 1, u, v
  FROM (
    SELECT iter, u, v,
           COUNT(*) OVER (PARTITION BY u) AS du,
           COUNT(*) OVER (PARTITION BY v) AS dv
    FROM peel
  )
  WHERE iter < {_KCORE_ROUNDS}
    AND du >= {_KCORE_K} AND dv >= {_KCORE_K}
)
SELECT u AS nation, COUNT(*) AS kcore_degree
FROM peel WHERE iter = {_KCORE_ROUNDS}
GROUP BY u
ORDER BY kcore_degree DESC, nation
"""


# PageRank oracle: see module docstring. Iteration count / damping are
# pinned to pagerank_nation_trade's call (iters=10, damping=0.85);
# `aug` is the augmented transition list (real normalized edges +
# dangling→all 1/n edges + p=0 self-loops).
_PAGERANK_SQL = """
WITH RECURSIVE e AS (
  SELECT s.n_name AS src, c2.n_name AS dst,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation s ON supplier.s_nationkey = s.n_nationkey
  JOIN nation c2 ON customer.c_nationkey = c2.n_nationkey
  GROUP BY 1, 2
),
-- under WITH RECURSIVE, a CTE whose body is a TOP-LEVEL set operation
-- is parsed as base/recursive parts (DuckDB applies this even when the
-- right arm never references the CTE, silently dropping UNION dedup) —
-- so every non-recursive union here hides inside a subquery
nodes AS (SELECT DISTINCT id FROM (
  SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outw AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
aug AS (SELECT * FROM (
  SELECT src, dst, w / out_w AS p FROM e JOIN outw USING (src)
  UNION ALL
  SELECT d.id AS src, nd.id AS dst, 1.0 / (SELECT n FROM nn) AS p
  FROM (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM e)) d,
       nodes nd
  UNION ALL
  SELECT id AS src, id AS dst, CAST(0 AS DOUBLE) AS p FROM nodes)),
pr(iter, id, rank) AS (
  SELECT 0, id, 1.0 / (SELECT n FROM nn) FROM nodes
  UNION ALL
  SELECT DISTINCT r.iter + 1, a.dst,
         (1.0 - 0.85) / (SELECT n FROM nn)
         + 0.85 * SUM(a.p * r.rank) OVER (PARTITION BY a.dst)
  FROM pr r JOIN aug a ON a.src = r.id
  WHERE r.iter < 10
)
SELECT id AS nation, ROUND(rank, 8) AS rank
FROM pr WHERE iter = 10
ORDER BY rank DESC, nation
"""


# --- lpa_trade_communities: synchronous label propagation -------------------
#
# Community detection by label propagation (Raghavan et al. 2007),
# SYNCHRONOUS variant with a total tie-break so the result is exactly
# reproducible on any engine: at each step every node adopts the most
# frequent label among its neighbors, ties broken by MIN label. All
# state is integer (labels are nation keys, counts are degrees), so
# there is no floating-point anywhere in the iteration — the oracle is
# a recursive CTE computing the identical fixed 4 rounds.
#
# The per-round argmax is encoded as a pure MIN aggregate:
# (64 - cnt) * 64 + label is strictly decreasing in cnt and increasing
# in label, so MIN picks (max count, then min label); % 64 decodes the
# label. That keeps the recursive arm window-free (two stacked GROUP
# BYs); `_lpa_driver` replays the same integer update in numpy.

_LPA_ITERS = 4
_LPA_THRESHOLD = 2.2  # x mean edge revenue (sparser than triangle's 1.8)
_LPA_ENC = 64  # > max(label) and > max(count): safe min-encoding radix


def lpa_trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    pdf = _strong_edges(spark, sf_dir, _LPA_THRESHOLD)
    # labels (and the oracle's `community`) are nation keys. The oracle
    # groups edges by key and the helper by name; they agree because
    # n_name is 1:1 with n_nationkey and every s_/c_nationkey has a
    # parent (fk_integrity_audit's nation edges)
    nation = read_table(spark, sf_dir, "nation").toPandas()
    key = dict(zip(nation["n_name"], nation["n_nationkey"]))
    name = {k: n for n, k in key.items()}
    labels = _lpa_driver(
        pdf[["a", "b"]].apply(lambda col: col.map(key)), _LPA_ITERS, _LPA_ENC
    )
    size = Counter(lab for _, lab in labels)
    return spark.createDataFrame(
        [(name[i], lab, size[lab]) for i, lab in labels],
        "nation string, community int, community_size bigint",
    )


_LPA_SQL = f"""
WITH RECURSIVE e AS (
  SELECT supplier.s_nationkey AS src, customer.c_nationkey AS dst,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
a AS (
  SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS avg_rev
  FROM e
),
und AS (
  SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
  FROM e, a
  WHERE revenue > {_LPA_THRESHOLD} * avg_rev AND src <> dst
),
sym AS (SELECT * FROM (
  SELECT x AS src, y AS dst FROM und UNION ALL SELECT y, x FROM und)),
nodes AS (SELECT DISTINCT src AS id FROM sym),
lab(iter, id, label) AS (
  SELECT 0, id, id FROM nodes
  UNION ALL
  SELECT iter + 1, nid,
         CAST(MIN(({_LPA_ENC} - cnt) * {_LPA_ENC} + label) % {_LPA_ENC} AS INT)
  FROM (
    SELECT l.iter AS iter, s.dst AS nid, l.label AS label, COUNT(*) AS cnt
    FROM lab l JOIN sym s ON s.src = l.id
    WHERE l.iter < {_LPA_ITERS}
    GROUP BY 1, 2, 3
  )
  GROUP BY 1, 2
),
final AS (SELECT id, label FROM lab WHERE iter = {_LPA_ITERS}),
sizes AS (SELECT label, COUNT(*) AS community_size FROM final GROUP BY label)
SELECT n.n_name AS nation, f.label AS community, s.community_size
FROM final f JOIN sizes s USING (label) JOIN nation n ON n.n_nationkey = f.id
"""


# --- bfs_trade_hops: shortest hop distance (frontier BFS) --------------------
# The remaining classic graph primitive: single-source shortest paths
# in hops over the thresholded strong-trade graph (same exact-decimal
# threshold discipline as the triangle query). `_bfs_hops_driver`
# advances one frontier per hop level, hop = first-reach level. The
# DuckDB oracle walks the same graph with a recursive CTE and takes
# MIN(hop) per node — a different traversal that must agree cell-exact.
# Unreachable nodes are simply absent — semantics every BFS consumer
# expects.

_BFS_SOURCE = "NATION_0"
_BFS_FACTOR = 2.3
_BFS_MAX_HOPS = 6


def bfs_trade_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    pdf = _strong_edges(spark, sf_dir, _BFS_FACTOR)
    return spark.createDataFrame(
        _bfs_hops_driver(pdf, _BFS_SOURCE, _BFS_MAX_HOPS),
        "nation string, hop int",
    )


_BFS_SQL = f"""
WITH RECURSIVE e AS (
  SELECT s.n_name AS src, c2.n_name AS dst,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation s ON supplier.s_nationkey = s.n_nationkey
  JOIN nation c2 ON customer.c_nationkey = c2.n_nationkey
  GROUP BY 1, 2
),
strong AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e, (SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS VARCHAR)
                       AS DOUBLE) / COUNT(*) AS avg_rev FROM e) t
  WHERE revenue > {_BFS_FACTOR} * avg_rev AND src <> dst
),
und AS (SELECT a, b FROM strong UNION SELECT b AS a, a AS b FROM strong),
walk(n, hop) AS (
  SELECT '{_BFS_SOURCE}', 0
  UNION
  SELECT u.b, w.hop + 1
  FROM walk w JOIN und u ON u.a = w.n
  WHERE w.hop < {_BFS_MAX_HOPS}
)
SELECT n AS nation, CAST(MIN(hop) AS INTEGER) AS hop
FROM walk GROUP BY n
"""


# --- sssp_trade_cost: weighted shortest paths (Bellman-Ford rounds) ----------
# The weighted sibling of bfs_trade_hops: minimum total edge cost from
# the source over the SAME strong-trade graph, with integer edge costs
# (floor(revenue/1e5)+1 — heavier trade = cheaper hop is deliberately
# NOT used; cost grows with bucketed revenue so paths differ from hop
# counts). `_sssp_driver` runs synchronous Bellman-Ford rounds — |V|-1
# rounds bound exact convergence; the fixed round budget matches the
# BFS diameter bound. Integer arithmetic end to end, so the DuckDB
# oracle (bounded-depth recursive walk + MIN) is cell-exact.

_SSSP_MAX_ROUNDS = 6


def sssp_trade_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    pdf = _strong_edges(spark, sf_dir, _BFS_FACTOR)
    return spark.createDataFrame(
        _sssp_driver(pdf, _BFS_SOURCE, _SSSP_MAX_ROUNDS),
        "nation string, cost long",
    )


_SSSP_SQL = f"""
WITH RECURSIVE e AS (
  SELECT s.n_name AS src, c2.n_name AS dst,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation s ON supplier.s_nationkey = s.n_nationkey
  JOIN nation c2 ON customer.c_nationkey = c2.n_nationkey
  GROUP BY 1, 2
),
strong AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         MIN(CAST(FLOOR(revenue / 100000.0) + 1 AS BIGINT)) AS w
  FROM e, (SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS VARCHAR)
                       AS DOUBLE) / COUNT(*) AS avg_rev FROM e) t
  WHERE revenue > {_BFS_FACTOR} * avg_rev AND src <> dst
  GROUP BY 1, 2
),
und AS (
  SELECT a, b, MIN(w) AS w FROM (
    SELECT a, b, w FROM strong
    UNION ALL
    SELECT b AS a, a AS b, w FROM strong
  ) GROUP BY a, b
),
walk(n, cost, hop) AS (
  SELECT '{_BFS_SOURCE}', CAST(0 AS BIGINT), 0
  UNION
  SELECT u.b, w.cost + u.w, w.hop + 1
  FROM walk w JOIN und u ON u.a = w.n
  WHERE w.hop < {_SSSP_MAX_ROUNDS}
)
SELECT n AS nation, MIN(cost) AS cost
FROM walk GROUP BY n
"""


# --- closeness_trade_centrality: multi-source BFS centrality -----------------
# The centrality family member PageRank can't substitute for:
# closeness = (reachable-1) / Σ hop-distance, computed for EVERY node
# at once. `_closeness_driver` advances ALL single-source frontiers in
# the same round (one dense matmul per hop), so all-pairs distances
# cost diameter rounds, not |V| sequential runs. Distance sums are
# exact integers; one double division per node.


def closeness_trade_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    pdf = _strong_edges(spark, sf_dir, _BFS_FACTOR)
    visited = spark.createDataFrame(
        _closeness_driver(pdf, _BFS_MAX_HOPS),
        "source string, nation string, hop int",
    )
    return visited.groupBy(F.col("source").alias("nation")).agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reachable"),
        F.sum("hop").cast("bigint").alias("total_dist"),
        (
            (F.count(F.lit(1)) - 1).cast("double") / F.sum("hop")
        ).alias("closeness"),
    ).filter(F.col("total_dist") > 0)


_CLOSENESS_SQL = f"""
WITH RECURSIVE e AS (
  SELECT s.n_name AS src, c2.n_name AS dst,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation s ON supplier.s_nationkey = s.n_nationkey
  JOIN nation c2 ON customer.c_nationkey = c2.n_nationkey
  GROUP BY 1, 2
),
strong AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e, (SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS VARCHAR)
                       AS DOUBLE) / COUNT(*) AS avg_rev FROM e) t
  WHERE revenue > {_BFS_FACTOR} * avg_rev AND src <> dst
),
und AS (SELECT a, b FROM strong UNION SELECT b AS a, a AS b FROM strong),
walk(source, n, hop) AS (
  SELECT a, a, 0 FROM (SELECT DISTINCT a FROM und)
  UNION
  SELECT w.source, u.b, w.hop + 1
  FROM walk w JOIN und u ON u.a = w.n
  WHERE w.hop < {_BFS_MAX_HOPS}
),
dists AS (
  SELECT source, n, MIN(hop) AS hop FROM walk GROUP BY source, n
)
SELECT source AS nation,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_reachable,
       CAST(SUM(hop) AS BIGINT) AS total_dist,
       CAST(COUNT(*) - 1 AS DOUBLE) / SUM(hop) AS closeness
FROM dists
GROUP BY source
HAVING SUM(hop) > 0
"""


# --- degree_assortativity_trade: do hubs trade with hubs? --------------------
# Newman's degree assortativity (2002): the Pearson correlation of
# endpoint degrees over the SYMMETRIZED undirected edge list (each
# edge contributes both orientations, so Σx = Σy by construction).
# r > 0 means high-degree nations preferentially trade with each
# other (assortative core); r < 0 means a hub-and-spoke topology.
# All five moments are exact integer sums over the edge meetings; the
# only IEEE ops are the final products, one sqrt, one division —
# identical expressions on both engines.
#
# Scale: the nation graph is key-bounded (|edges| <= |nations|^2);
# degrees are one groupBy of the symmetric edge list, the moment pass
# one aggregate. On a vertex-scale graph the same plan holds: degree
# table broadcast only if model-sized, else a keyed join.


def degree_assortativity_trade(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges = (
        trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        # key-bounded frame consumed by the avg scalar AND the threshold
        # probe below — one corpus pass instead of a replay per consumer
        .localCheckpoint(eager=False)
    )
    # the STRONG-trade graph (relative threshold, same rule as the
    # triangle/k-core ops): the raw nation graph saturates to a
    # complete graph as data grows, where every degree is equal and
    # assortativity is undefined (zero variance)
    avg_rev = edges.agg(exact_avg("revenue", "avg_rev"))
    edges = edges.crossJoin(F.broadcast(avg_rev)).filter(
        F.col("revenue") > 1.8 * F.col("avg_rev")
    )
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        # materialize the thresholded edge list once: it fans out into
        # sym (twice), deg and the moment join — without the cut the
        # 5-way join + aggregate pipeline replays per consumer (the
        # before-plan held 144 parquet scans). Key-cardinality-bounded
        # (≤ |nations|²), so a tiny cached table at any input size.
        .localCheckpoint(eager=True)
    )
    sym = und.union(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    met = (
        sym.join(deg, "a")
        .withColumnRenamed("deg", "dx")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("dy")),
            "b",
        )
    )
    m = met.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        (F.col("m") / 2).cast("bigint").alias("n_edges"),
        # NULL (not an error) on a degree-regular graph: zero variance
        # makes the coefficient undefined; both engines agree via the
        # same guarded division
        F.try_divide(num, F.sqrt(denx * deny)).alias("assortativity"),
    )


_ASSORT_SQL = """
WITH e AS (
  SELECT s.n_name AS src, c2.n_name AS dst,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation s ON supplier.s_nationkey = s.n_nationkey
  JOIN nation c2 ON customer.c_nationkey = c2.n_nationkey
  WHERE s.n_name <> c2.n_name
  GROUP BY 1, 2
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e, (SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS VARCHAR)
                       AS DOUBLE) / COUNT(*) AS avg_rev FROM e) t
  WHERE revenue > 1.8 * avg_rev
),
sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
met AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM sym JOIN deg da ON sym.a = da.a
  JOIN deg db ON sym.b = db.a
),
mo AS (
  SELECT COUNT(*) AS m,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM met
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       CAST(m * sxy - sx * sy AS DOUBLE)
         / NULLIF(sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                       * CAST(m * syy - sy * sy AS DOUBLE)), 0.0)
         AS assortativity
FROM mo
"""


QUERIES = {
    "degree_assortativity_trade": degree_assortativity_trade,
    "pagerank_nation_trade": pagerank_nation_trade,
    "triangle_count_trade": triangle_count_trade,
    "kcore_trade_graph": kcore_trade_graph,
    "lpa_trade_communities": lpa_trade_communities,
    "bfs_trade_hops": bfs_trade_hops,
    "sssp_trade_cost": sssp_trade_cost,
    "closeness_trade_centrality": closeness_trade_centrality,
}

ORACLE: dict[str, str] = {
    "degree_assortativity_trade": _ASSORT_SQL,
    "bfs_trade_hops": _BFS_SQL,
    "sssp_trade_cost": _SSSP_SQL,
    "closeness_trade_centrality": _CLOSENESS_SQL,
    "pagerank_nation_trade": _PAGERANK_SQL,
    "triangle_count_trade": _TRIANGLE_SQL,
    "kcore_trade_graph": _KCORE_SQL,
    "lpa_trade_communities": _LPA_SQL,
}
