"""The trade-graph queries solve on the driver in numpy.

Each solver is pinned against hand-derived outputs on crafted graphs
(including a source absent from the graph, round caps that stop before
convergence, and the LPA min-label tie-break), and each query against
its DuckDB oracle on the small corpus.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
import big_data_pipeline_spark.workloads.graph_rank as gr
from big_data_pipeline_spark.io import TABLES


def _sym(edges):
    """Symmetric directed edge frame from undirected (a, b[, w]) tuples."""
    both = [*edges, *((b, a, *rest) for a, b, *rest in edges)]
    return pd.DataFrame(both, columns=["a", "b", "w"][: len(edges[0])])


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return sorted(tuple(r[i] for i in order) for r in rows)


@pytest.mark.parametrize(
    "name",
    [
        "bfs_trade_hops",
        "sssp_trade_cost",
        "closeness_trade_centrality",
        "lpa_trade_communities",
        "kcore_trade_graph",
        "pagerank_nation_trade",
        "triangle_count_trade",
    ],
)
def test_graph_query_matches_oracle(spark, sf_dir, name):
    df = getattr(gr, name)(spark, sf_dir)
    assert _canon(df.columns, df.collect()) == _canon(*_oracle(sf_dir, name))


def _oracle(sf_dir, name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rel = con.sql(entrymod.oracle_sql()[name])
    return rel.columns, rel.fetchall()


@pytest.mark.parametrize(
    "name", ["kcore_trade_graph", "pagerank_nation_trade", "triangle_count_trade"])
def test_ordered_graph_query_serves_oracle_order_without_a_sort(spark, sf_dir, name):
    # Rows are ordered on the driver: the served plan sorts nothing.
    df = getattr(gr, name)(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan and "Exchange" not in plan
    assert (df.columns, [tuple(r) for r in df.collect()]) == _oracle(sf_dir, name)


def test_value_desc_breaks_rounded_ties_by_nation(spark):
    # Both round HALF_UP to 0.12345679, as F.round does, so A precedes B.
    rows = [("B", 0.12345679), ("A", 0.123456785), ("C", 0.5)]
    ordered = gr._value_desc(rows, lambda r: gr._round_half_up(r, 8))
    assert [n for n, _ in ordered] == ["C", "A", "B"]
    assert spark.createDataFrame(rows[1:2], "nation string, rank double").select(
        F.round("rank", 8)).first()[0] == 0.12345679


_TRIANGLE = {(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)}
_CLIQUE = {(u, v) for u in range(1, 5) for v in range(1, 5) if u != v}


@pytest.mark.parametrize(
    "edges,k,core",
    [
        # triangle + tail: the tail peels off, the triangle is the 2-core
        ([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], 2, _TRIANGLE),
        # 4-clique with a pendant: 3-core = the clique
        ([(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)], 3, _CLIQUE),
        # pure chain: 2-core is empty (multi-round cascade peel)
        ([(i, i + 1) for i in range(1, 12)], 2, set()),
        # two components, one surviving
        ([(1, 2), (2, 3), (1, 3), (10, 11)], 2, _TRIANGLE),
    ],
    ids=["triangle_tail", "clique_pendant", "chain", "two_components"],
)
def test_kcore_driver_crafted(edges, k, core):
    rows = gr._kcore_driver(_sym(edges), k, gr._KCORE_ROUNDS)
    assert len(rows) == len(core)
    assert set(rows) == core


def test_kcore_driver_round_cap_stops_before_fixpoint():
    # chain 1..12: each round peels only the two current end edges
    chain = [(i, i + 1) for i in range(1, 12)]
    one = gr._kcore_driver(_sym(chain), 2, 1)
    assert set(one) == {
        (u, v) for i in range(2, 11) for u, v in ((i, i + 1), (i + 1, i))
    }
    two = gr._kcore_driver(_sym(chain), 2, 2)
    assert set(two) == {
        (u, v) for i in range(3, 10) for u, v in ((i, i + 1), (i + 1, i))
    }


@pytest.mark.parametrize(
    "edges,want",
    [
        # K4: every node closes a triangle with each pair of the others
        (
            [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)],
            [(1, 3), (2, 3), (3, 3), (4, 3)],
        ),
        # triangle + tail: the tail nodes 4 and 5 are on no triangle
        ([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], [(1, 1), (2, 1), (3, 1)]),
        # chain: no triangles, no rows
        ([(i, i + 1) for i in range(1, 6)], []),
    ],
    ids=["k4", "triangle_tail", "chain"],
)
def test_triangle_driver_crafted(edges, want):
    assert sorted(gr._triangle_driver(_sym(edges))) == want


# A-B-C-D path with a B-E branch, plus a separate F-G component
_TREE = [("A", "B"), ("B", "C"), ("C", "D"), ("B", "E"), ("F", "G")]


def test_bfs_driver_levels_and_cap():
    pdf = _sym(_TREE)
    assert sorted(gr._bfs_hops_driver(pdf, "A", 6)) == [
        ("A", 0), ("B", 1), ("C", 2), ("D", 3), ("E", 2),
    ]
    assert sorted(gr._bfs_hops_driver(pdf, "A", 2)) == [
        ("A", 0), ("B", 1), ("C", 2), ("E", 2),
    ]


def test_bfs_and_sssp_absent_source_is_alone():
    assert gr._bfs_hops_driver(_sym(_TREE), "Z", 6) == [("Z", 0)]
    pdf = _sym([("A", "B", 1)])
    assert gr._sssp_driver(pdf, "Z", 6) == [("Z", 0)]


# the cheap A-C edge beats A-B-C; E is cheaper via C-D-E than via B-E
_WEIGHTED = [
    ("A", "B", 1), ("B", "C", 5), ("A", "C", 2),
    ("C", "D", 1), ("D", "E", 1), ("B", "E", 10),
]


def test_sssp_driver_converges():
    assert sorted(gr._sssp_driver(_sym(_WEIGHTED), "A", 6)) == [
        ("A", 0), ("B", 1), ("C", 2), ("D", 3), ("E", 4),
    ]


def test_sssp_driver_round_cap_stops_before_convergence():
    # after two synchronous rounds E is only reached through B-E (1+10)
    assert sorted(gr._sssp_driver(_sym(_WEIGHTED), "A", 2)) == [
        ("A", 0), ("B", 1), ("C", 2), ("D", 3), ("E", 11),
    ]


def test_closeness_driver_all_pairs_and_cap():
    pdf = _sym([("A", "B"), ("B", "C"), ("D", "E")])
    full = {
        ("A", "A", 0), ("A", "B", 1), ("A", "C", 2),
        ("B", "A", 1), ("B", "B", 0), ("B", "C", 1),
        ("C", "A", 2), ("C", "B", 1), ("C", "C", 0),
        ("D", "D", 0), ("D", "E", 1),
        ("E", "D", 1), ("E", "E", 0),
    }
    assert set(gr._closeness_driver(pdf, 6)) == full
    capped = gr._closeness_driver(pdf, 1)
    assert set(capped) == full - {("A", "C", 2), ("C", "A", 2)}


def test_closeness_driver_empty_graph():
    assert gr._closeness_driver(pd.DataFrame({"a": [], "b": []}), 6) == []


def test_lpa_driver_tie_takes_min_label():
    # star 1-3, 2-3: node 3 hears labels 1 and 2 once each -> takes 1
    pdf = _sym([(1, 3), (2, 3)])
    assert sorted(gr._lpa_driver(pdf, 1, gr._LPA_ENC)) == [
        (1, 3), (2, 3), (3, 1),
    ]


def test_lpa_driver_converges_to_one_community():
    # triangle 1-2-3 with pendant 4 on 3: round 1 -> {1:2, 2:1, 3:1, 4:3}
    # (ties to the min label), round 2 -> everyone hears 1 most often
    pdf = _sym([(1, 2), (2, 3), (1, 3), (3, 4)])
    assert sorted(gr._lpa_driver(pdf, 1, gr._LPA_ENC)) == [
        (1, 2), (2, 1), (3, 1), (4, 3),
    ]
    assert sorted(gr._lpa_driver(pdf, gr._LPA_ITERS, gr._LPA_ENC)) == [
        (1, 1), (2, 1), (3, 1), (4, 1),
    ]
