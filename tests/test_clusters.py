"""Connected-components clustering on literal graphs.

``connected_components`` is one operator with one driver gate
(``clusters.DRIVER_MAX_EDGES``): the numpy driver solve at or
below it, the large-star/small-star loop above it. The tests call both
private paths directly on the same graphs and pin them to an expected
map, so each path is exercised whatever the gate's value.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import types as T

from big_data_pipeline_spark.dedup.clusters import (
    _cc_driver,
    _cc_star,
    connected_components,
)


def _expected(edges):
    """Reference components: plain union-find, root = component min."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _both_paths(spark, edges):
    raw = spark.createDataFrame(edges, "a long, b long")
    star = dict(_cc_star(raw).collect())
    drv = dict(_cc_driver(raw, T.LongType()).collect())
    return star, drv


def test_connected_components_chain_and_islands(spark):
    # 1-2-3 chain, 4-5 pair, 6-7-8 triangle: 3 components
    pairs = [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (6, 8)]
    expect = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6}
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    assert dict(connected_components(edges).collect()) == expect
    star, drv = _both_paths(spark, pairs)
    assert star == drv == expect


def test_connected_components_long_path_converges(spark, monkeypatch):
    # path 0-1-...-9 through the public operator with the gate forced
    # to 0: the edge count routes it to the star loop
    from big_data_pipeline_spark.dedup import clusters

    monkeypatch.setattr(clusters, "DRIVER_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    got = dict(connected_components(edges).collect())
    assert got == {i: 0 for i in range(10)}


def test_star_cc_equals_driver_on_chain(spark):
    """64-node chain: the longest diameter per edge; the star loop
    converges in O(log d) rounds to the same map as the driver."""
    star, drv = _both_paths(spark, [(i, i + 1) for i in range(64)])
    assert star == drv == {i: 0 for i in range(65)}


def test_star_cc_random_graph_and_degenerates(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    edges += [(7, 7), (58, 59), (59, 58)]  # self-loop + reciprocal pair
    star, drv = _both_paths(spark, edges)
    assert star == drv == _expected(edges)


def test_driver_union_find_equals_distributed(spark):
    """Messy graph: self-loops, duplicates, islands, a 20-long chain."""
    rng = random.Random(23)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(45)]
    edges += [(i + 100, i + 101) for i in range(20)]  # long chain island
    edges += [(5, 5), (200, 201), (201, 200)]
    star, drv = _both_paths(spark, edges)
    expect = _expected(edges)
    assert {expect[i + 100] for i in range(21)} == {100}
    assert expect[200] == expect[201] == 200
    assert star == drv == expect


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    out = connected_components(edges)
    assert out.columns == ["id", "cluster_id"]
    assert out.count() == 0
    assert _both_paths(spark, []) == ({}, {})


def test_connected_components_rejects_non_integral_ids(spark):
    """Strings would pass the driver path but fail the star loop's
    fingerprint sum, so the operator rejects them at any size."""
    for schema in ("src string, dst string", "src long, dst string"):
        edges = spark.createDataFrame([], schema)
        with pytest.raises(TypeError, match="integral ids"):
            connected_components(edges)


def test_star_cc_raises_on_nonconvergence(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_star(chain, max_iter=1)
