"""Expectation-suite semantics + single-job plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_pipeline_spark.quality import (
    expect_accepted_values,
    expect_between,
    expect_not_null,
    expect_unique,
    run_expectations,
)


def _report(spark):
    df = spark.createDataFrame(
        [(1, "O", 10.0), (2, "F", -5.0), (2, "X", 20.0), (None, "O", 1e9)],
        "k long, status string, price double",
    )
    return run_expectations(
        df,
        [
            expect_not_null("k"),
            expect_unique("k"),
            expect_between("price", 0.0, 100.0),
            expect_accepted_values("status", ["O", "F"]),
        ],
    )


def test_expectations_count_violations(spark):
    got = {r.check: (r.violations, r.passed) for r in _report(spark).collect()}
    assert got["not_null_k"] == (1, False)
    assert got["unique_k"] == (1, False)  # one duplicate beyond the first
    assert got["between_price"] == (2, False)  # -5 and 1e9
    assert got["accepted_status"] == (1, False)  # X
    assert all(r.n_rows == 4 for r in _report(spark).collect())


def test_suite_runs_as_single_aggregation(spark):
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _report(spark).explain("formatted")
    plan = buf.getvalue()
    # one scan feeding one aggregate chain — not one job per check
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") <= 2


def test_all_pass_on_clean_table(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 6.0)], "k long, v double")
    rep = run_expectations(df, [expect_not_null("k"), expect_unique("k"),
                                expect_between("v", 0.0, 10.0)])
    assert all(r.passed for r in rep.collect())


def test_schema_drift_report(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.io import read_table, write_versioned
    from big_data_pipeline_spark.quality.expectations import (
        schema_drift_report,
    )

    nation = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "t")
    write_versioned(nation, path)
    evolved = (
        nation.drop("n_name")
        .withColumn("n_regionkey", F.col("n_regionkey").cast("bigint"))
        .withColumn("ingested_at", F.lit("2026-01-01"))
        .limit(10)
    )
    write_versioned(evolved, path)
    rep = {
        r.column: r
        for r in schema_drift_report(
            spark, f"{path}/v=1", f"{path}/v=2"
        ).collect()
    }
    assert rep["ingested_at"].kind == "added"
    assert rep["n_name"].kind == "removed"
    assert rep["n_regionkey"].kind == "type_changed"
    assert rep["__rows__"].old_type == str(nation.count())
    assert rep["__rows__"].new_type == "10"


def test_fk_integrity_audit_counts_planted_orphans(spark, tmp_path):
    """Plant an orphan FK and a NULL FK in a miniature corpus and
    assert the audit attributes them to the right relation."""
    from big_data_pipeline_spark.workloads.data_quality import (
        fk_integrity_audit,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [(0, "AFRICA")], "r_regionkey long, r_name string"
    ).write.parquet(f"{sf}/region.parquet")
    # nation 2 -> region 9 is an orphan; nation 3 has a NULL region
    spark.createDataFrame(
        [(1, "A", 0), (2, "B", 9), (3, "C", None)],
        "n_nationkey long, n_name string, n_regionkey long",
    ).write.parquet(f"{sf}/nation.parquet")
    for t, schema in [
        ("orders", "o_orderkey long, o_custkey long"),
        ("customer", "c_custkey long, c_nationkey long"),
        ("lineitem", "l_orderkey long, l_partkey long, l_suppkey long"),
        ("part", "p_partkey long"),
        ("supplier", "s_suppkey long, s_nationkey long"),
    ]:
        spark.createDataFrame([], schema).write.parquet(f"{sf}/{t}.parquet")

    rows = {r.relation: r for r in fk_integrity_audit(spark, sf).collect()}
    nat = rows["nation.n_regionkey->region.r_regionkey"]
    assert nat.n_child_rows == 3
    assert nat.n_null_fk == 1
    assert nat.n_orphan_rows == 1 and nat.n_orphan_keys == 1
    for rel, r in rows.items():
        if rel != "nation.n_regionkey->region.r_regionkey":
            assert r.n_orphan_rows == 0


def test_fk_integrity_audit_edges_sharing_child_fk(spark, sf_dir, monkeypatch):
    """Two edges on the same child FK column with different parents
    each get their own row, in relation order."""
    from big_data_pipeline_spark.workloads import data_quality as dq

    monkeypatch.setattr(
        dq,
        "_FK_RELATIONS",
        (
            ("nation", "n_regionkey", "region", "r_regionkey"),
            ("nation", "n_regionkey", "nation", "n_nationkey"),
        ),
    )
    rows = dq.fk_integrity_audit(spark, sf_dir).collect()
    assert [r.relation for r in rows] == [
        "nation.n_regionkey->region.r_regionkey",
        "nation.n_regionkey->nation.n_nationkey",
    ]
    # every region key is also a nation key (0..4 < 25)
    assert [r.n_orphan_rows for r in rows] == [0, 0]
    assert rows[0].n_child_rows == rows[1].n_child_rows == 25


def test_measure_corr_matrix_matches_numpy(spark, sf_dir):
    import numpy as np

    from big_data_pipeline_spark.workloads import data_quality as dq

    got = {
        (r.l_returnflag, r.pair): r.corr
        for r in dq.measure_corr_matrix(spark, sf_dir).collect()
    }
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
        .toPandas()
    )
    cols = {
        "quantity": "l_quantity",
        "extendedprice": "l_extendedprice",
        "discount": "l_discount",
    }
    for (flag, pair), corr in got.items():
        a, b = pair.split("~")
        g = li[li.l_returnflag == flag]
        want = np.corrcoef(g[cols[a]], g[cols[b]])[0, 1]
        assert abs(corr - want) < 1e-9, (flag, pair)
    assert len(got) == 3 * li.l_returnflag.nunique()


def test_benford_audit_semantics(spark, sf_dir):
    import math

    from big_data_pipeline_spark.workloads import data_quality as dq

    rows = dq.benford_deviation_audit(spark, sf_dir).collect()
    by_prio = {}
    for r in rows:
        by_prio.setdefault(r.o_orderpriority, []).append(r)
    for prio, cells in by_prio.items():
        assert sorted(c.digit for c in cells) == list(range(1, 10))
        # expected shares are the Benford law, observed shares sum to 1
        for c in cells:
            assert abs(c.exp_share - math.log10(1 + 1 / c.digit)) < 1e-15
        assert abs(sum(c.obs_share for c in cells) - 1.0) < 1e-9
        # chi2 is one value per class, equal to the sum of contributions
        n_total = sum(c.n_obs for c in cells)
        chi2 = sum(
            n_total
            * (c.obs_share - c.exp_share) ** 2
            / c.exp_share
            for c in cells
        )
        assert abs(cells[0].chi2 - chi2) < 1e-4
        assert len({c.chi2 for c in cells}) == 1
        # uniform synthetic prices are NOT Benford-conformant: the audit
        # must fire decisively (chi2 > the 15.5 critical value at 8 dof)
        assert cells[0].chi2 > 15.5


def test_fd_violation_audit_held_vs_violated(spark, tmp_path):
    """Planted corpus with one held and one violated FD per table pair."""
    from big_data_pipeline_spark.workloads.data_quality import (
        fd_violation_audit,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "n1", "A", "t1"), (2, "n1", "A", "t1"),
         (3, "n2", "B", "t2"), (4, "n3", "B", "t3")],
        "p_partkey long, p_name string, p_brand string, p_type string",
    ).write.parquet(f"{sf}/part.parquet")
    spark.createDataFrame(
        [(1, 0, "S1"), (2, 0, "S2")],
        "c_custkey long, c_nationkey long, c_mktsegment string",
    ).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [(1, 10, "O"), (2, 10, "O")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    ).write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        [(1, "R"), (1, "A"), (2, "N")],
        "l_orderkey long, l_returnflag string",
    ).write.parquet(f"{sf}/lineitem.parquet")

    rows = {r.fd: r for r in fd_violation_audit(spark, sf).collect()}
    brand_type = rows["part: p_brand -> p_type"]
    assert (brand_type.n_groups, brand_type.n_violating) == (2, 1)
    assert brand_type.max_distinct_dep == 2
    assert brand_type.violation_rate == 0.5
    name_brand = rows["part: p_name -> p_brand"]
    assert (name_brand.n_groups, name_brand.n_violating) == (3, 0)
    assert rows["customer: c_nationkey -> c_mktsegment"].n_violating == 1
    assert rows["orders: o_custkey -> o_orderstatus"].n_violating == 0
    li = rows["lineitem: l_orderkey -> l_returnflag"]
    assert (li.n_groups, li.n_violating, li.violation_rate) == (2, 1, 0.5)


def test_table_checksum_order_invariant_content_sensitive(spark, tmp_path):
    """Same multiset of rows (different order/partitioning) -> identical
    checksum; one changed cell -> different checksum."""
    from big_data_pipeline_spark.workloads.data_quality import (
        _CHECKSUM_COLS,
        table_checksum_audit,
    )

    types = {"r_name": "string", "n_name": "string", "c_name": "string",
             "c_mktsegment": "string", "s_name": "string", "p_name": "string",
             "p_brand": "string", "p_type": "string",
             "o_orderstatus": "string", "o_orderpriority": "string",
             "l_returnflag": "string", "l_linestatus": "string",
             "event_type": "string", "lang": "string", "source": "string",
             "o_orderdate": "date", "l_shipdate": "date",
             "label": "int"}

    def write_all(base: str, order, mutate: bool) -> None:
        import datetime

        for table, cols in _CHECKSUM_COLS:
            rows = []
            for i in order:
                vals = []
                for c in cols:
                    t = types.get(c, "long")
                    if t == "string":
                        s = f"{c}-{i}"
                        if mutate and table == "documents" and i == 0:
                            s += "-x"
                        vals.append(s)
                    elif t == "date":
                        vals.append(datetime.date(2020, 1, 1 + i))
                    else:
                        vals.append(i)
                rows.append(tuple(vals))
            schema = ", ".join(f"{c} {types.get(c, 'long')}" for c in cols)
            spark.createDataFrame(rows, schema).repartition(
                1 if order[0] == 0 else 3
            ).write.parquet(f"{base}/{table}.parquet")

    a, b, c = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "c")
    write_all(a, [0, 1, 2], mutate=False)
    write_all(b, [2, 0, 1], mutate=False)  # permuted + repartitioned
    write_all(c, [0, 1, 2], mutate=True)

    def sums(base):
        return {r.table_name: (r.n_rows, r.checksum)
                for r in table_checksum_audit(spark, base).collect()}

    sa, sb, sc = sums(a), sums(b), sums(c)
    assert sa == sb
    assert sa["documents"] != sc["documents"]
    assert {k: v for k, v in sa.items() if k != "documents"} == \
           {k: v for k, v in sc.items() if k != "documents"}


def test_poisson_bootstrap_replicas_center_on_mean(spark, sf_dir):
    """Each replica resamples ~n rows; the replica means cluster around
    the exact mean; assignment is deterministic across runs."""
    from big_data_pipeline_spark.workloads.data_quality import (
        _BOOT_B,
        poisson_bootstrap_means,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = orders.count()
    true_mean = orders.agg({"o_totalprice": "avg"}).collect()[0][0]

    rows = poisson_bootstrap_means(spark, sf_dir).collect()
    assert len(rows) == _BOOT_B
    assert {r.replica_id for r in rows} == set(range(_BOOT_B))
    for r in rows:
        assert 0.8 * n < r.n_eff < 1.2 * n      # Poisson(1) mass ~ n
        assert abs(r.boot_mean - true_mean) / true_mean < 0.05
    again = {(r.replica_id, r.n_eff, r.boot_mean)
             for r in poisson_bootstrap_means(spark, sf_dir).collect()}
    assert again == {(r.replica_id, r.n_eff, r.boot_mean) for r in rows}
