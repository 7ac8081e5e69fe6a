"""PageRank golden: the driver power iteration must match a dense
numpy recomputation on the same (small) graph."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from big_data_pipeline_spark.workloads.graph_rank import (
    _pagerank_driver,
    trade_edges,
)


@pytest.fixture(scope="module")
def trade_sf_dir(sf_dir) -> str:
    """The traversal tests read the sf0.01 corpus next to ``sf_dir``: at
    sf0.001 (and sf0.1) the strong-edge trade graph leaves the BFS source
    isolated, so BFS reaches only the source and the assertions below
    would hold trivially; at sf0.01 it reaches 20 nations over 3 levels."""
    return str(Path(sf_dir).parent / "sf0.01")


def _numpy_pagerank(edges, damping=0.85, iters=15):
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    m = np.zeros((n, n))
    for s, d, w in edges:
        m[idx[d], idx[s]] += w
    out = m.sum(axis=0)
    has_out = out > 0
    m[:, has_out] /= out[has_out]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[~has_out].sum()
        r = (1 - damping) / n + damping * (m @ r + dangling / n)
    return dict(zip(nodes, r))


def _edges(rows):
    return pd.DataFrame(rows, columns=["src", "dst", "revenue"])


def test_pagerank_matches_numpy_golden(spark, sf_dir):
    pdf = trade_edges(spark, sf_dir).toPandas()
    want = _numpy_pagerank(list(pdf.itertuples(index=False)), iters=10)
    got = dict(_pagerank_driver(pdf, 0.85, 10))
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_dangling_and_uniform_weight():
    # chain a->b->c: c is dangling; uniform weights
    chain = [("a", "b", 1.0), ("b", "c", 1.0)]
    got = dict(_pagerank_driver(_edges(chain), 0.85, 30))
    want = _numpy_pagerank(chain, iters=30)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k
    assert got["c"] > got["b"] > got["a"]


def test_pagerank_empty_edges_returns_empty():
    assert _pagerank_driver(_edges([]), 0.85, 10) == []


def _sym(edges):
    import pandas as pd

    return pd.DataFrame(edges + [(b, a) for a, b in edges], columns=["u", "v"])


def test_kcore_peel_clique_survives_tail_removed():
    """4-clique + pendant path: the 3-core is exactly the clique (each
    clique node keeps degree 3); the path peels away over multiple
    rounds (the iterative part actually iterates)."""
    from big_data_pipeline_spark.workloads.graph_rank import (
        _KCORE_ROUNDS,
        _kcore_driver,
    )

    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    tail = [("d", "e"), ("e", "f"), ("f", "g")]
    core = _kcore_driver(_sym(clique + tail), 3, _KCORE_ROUNDS)
    nodes = {u for u, _ in core}
    assert nodes == {"a", "b", "c", "d"}
    deg = {}
    for u, _ in core:
        deg[u] = deg.get(u, 0) + 1
    assert all(d == 3 for d in deg.values())


def test_kcore_peel_empty_when_k_too_high():
    from big_data_pipeline_spark.workloads.graph_rank import (
        _KCORE_ROUNDS,
        _kcore_driver,
    )

    tri = _sym([("a", "b"), ("b", "c"), ("c", "a")])
    assert len(_kcore_driver(tri, 3, _KCORE_ROUNDS)) == 0  # max degree 2
    assert len(_kcore_driver(tri, 2, _KCORE_ROUNDS)) == 6  # symmetric triangle


def test_bfs_hops_are_consistent(spark, trade_sf_dir):
    from big_data_pipeline_spark.workloads.graph_rank import (
        _BFS_SOURCE,
        bfs_trade_hops,
    )

    rows = {r.nation: r.hop for r in bfs_trade_hops(spark, trade_sf_dir).collect()}
    assert rows[_BFS_SOURCE] == 0
    assert all(h >= 0 for h in rows.values())
    # hop levels are contiguous: if any node sits at hop h > 0, some
    # node sits at h - 1 (frontier BFS can't skip a level)
    levels = set(rows.values())
    assert levels == set(range(max(levels) + 1))
    assert max(levels) >= 2  # the frontier really advanced twice


def test_sssp_dominated_by_bfs_structure(spark, trade_sf_dir):
    from big_data_pipeline_spark.workloads.graph_rank import (
        _BFS_SOURCE,
        bfs_trade_hops,
        sssp_trade_cost,
    )

    hops = {r.nation: r.hop for r in bfs_trade_hops(spark, trade_sf_dir).collect()}
    costs = {r.nation: r.cost for r in sssp_trade_cost(spark, trade_sf_dir).collect()}
    # same reachable set, zero at the source
    assert set(hops) == set(costs)
    assert costs[_BFS_SOURCE] == 0
    # every edge costs >= 1, so cost dominates hop count
    for n, h in hops.items():
        assert costs[n] >= h


def test_closeness_agrees_with_single_source_bfs(spark, trade_sf_dir):
    from big_data_pipeline_spark.workloads.graph_rank import (
        _BFS_SOURCE,
        bfs_trade_hops,
        closeness_trade_centrality,
    )

    hops = {r.nation: r.hop for r in bfs_trade_hops(spark, trade_sf_dir).collect()}
    cc = {
        r.nation: r for r in closeness_trade_centrality(spark, trade_sf_dir).collect()
    }
    # the multi-source run must reproduce the single-source BFS exactly
    src = cc[_BFS_SOURCE]
    assert src.n_reachable == len(hops) - 1
    assert src.total_dist == sum(hops.values())
    for r in cc.values():
        assert 0 < r.closeness <= 1
