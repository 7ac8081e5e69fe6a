"""IO layer: parquet roundtrip, partitioned layout, latest-snapshot reader."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from big_data_pipeline_spark.io import (
    TABLES,
    latest_snapshot,
    parquet_footer_schema,
    read_symbol_partitioned,
    read_table,
    write_parquet,
)
from big_data_pipeline_spark.pipeline import PipelineConfig, combine, ingest, transform


def test_read_all_tables(spark, sf_dir):
    for t in TABLES:
        df = read_table(spark, sf_dir, t)
        assert df.count() > 0, t


def test_events_ts_is_timestamp_not_long(spark, sf_dir):
    # nanosAsLong surfaces int64; read_table must convert to µs timestamp.
    df = read_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 3.0)], ["symbol", "close"]
    )
    path = str(tmp_path / "out")
    write_parquet(df, path, partition_by="symbol")
    assert os.path.isdir(os.path.join(path, "symbol=A"))
    back = spark.read.parquet(path)
    assert back.count() == 3
    # overwrite = truncate-then-load semantics (S12)
    write_parquet(df.filter("symbol = 'B'"), path, partition_by="symbol")
    assert spark.read.parquet(path).count() == 1


def test_latest_snapshot_keeps_newest_file_per_key(spark, tmp_path):
    p1 = str(tmp_path / "f1")
    p2 = str(tmp_path / "f2")
    spark.createDataFrame([("A", 1), ("B", 10)], ["symbol", "v"]).coalesce(
        1
    ).write.parquet(p1)
    time.sleep(1.1)  # mtime granularity
    spark.createDataFrame([("A", 2)], ["symbol", "v"]).coalesce(1).write.parquet(p2)
    df = spark.read.parquet(p1, p2)
    out = latest_snapshot(df, ["symbol"]).toPandas().set_index("symbol")["v"]
    assert out["A"] == 2  # newest file wins for A
    assert out["B"] == 10  # B only ever in the old file — kept


def test_overwrite_partitions_touches_only_delta(spark, tmp_path):
    from big_data_pipeline_spark.io import overwrite_partitions

    path = str(tmp_path / "incr")
    full = spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 10), ("C", 100)], ["symbol", "v"]
    )
    overwrite_partitions(full, path, "symbol")
    delta = spark.createDataFrame([("B", 99)], ["symbol", "v"])
    overwrite_partitions(delta, path, "symbol")
    out = spark.read.parquet(path).toPandas()
    got = out.groupby("symbol")["v"].apply(lambda s: sorted(s)).to_dict()
    # B replaced wholesale, A and C untouched
    assert got == {"A": [1, 2], "B": [99], "C": [100]}


def test_read_json_quarantines_corrupt_records(spark, tmp_path):
    from big_data_pipeline_spark.io import read_json_records

    p = tmp_path / "raw.jsonl"
    p.write_text('{"a": 1}\n{not json at all\n{"a": 3}\n')
    df = read_json_records(spark, str(p), multiline=False, keep_corrupt=True)
    # Spark disallows querying only _corrupt_record on an uncached scan
    df = df.cache()
    # corrupt rows survive with the raw line in _corrupt_record
    assert "_corrupt_record" in df.columns
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert bad.count() == 1
    assert "{not json" in bad.first()["_corrupt_record"]
    assert df.filter("a IS NOT NULL").count() == 2


def test_csv_orc_roundtrip(spark, tmp_path):
    from big_data_pipeline_spark.io import read_csv, write_csv, write_orc

    df = spark.createDataFrame([("A", 1.5), ("B", 2.5)], ["sym", "px"])
    write_csv(df, str(tmp_path / "csv"))
    back = read_csv(spark, str(tmp_path / "csv"))
    assert sorted(map(tuple, back.collect())) == [("A", 1.5), ("B", 2.5)]
    write_orc(df, str(tmp_path / "orc"))
    assert spark.read.orc(str(tmp_path / "orc")).count() == 2


def test_parquet_zstd_compression(spark, tmp_path):
    import glob

    from big_data_pipeline_spark.io import write_parquet

    df = spark.range(1000).withColumnRenamed("id", "v")
    write_parquet(df, str(tmp_path / "z"), compression="zstd")
    files = glob.glob(str(tmp_path / "z" / "*.zstd.parquet"))
    assert files  # codec encoded in the file name


def test_read_merged_schema_unions_columns(spark, tmp_path):
    from big_data_pipeline_spark.io import read_merged_schema

    spark.createDataFrame([(1, "x")], ["a", "b"]).write.parquet(
        str(tmp_path / "v1")
    )
    spark.createDataFrame([(2, 9.5)], ["a", "c"]).write.parquet(
        str(tmp_path / "v2")
    )
    df = read_merged_schema(spark, str(tmp_path / "v1"), str(tmp_path / "v2"))
    assert set(df.columns) == {"a", "b", "c"}
    assert df.count() == 2
    assert df.filter("b IS NULL").count() == 1  # evolved column back-filled


def test_compact_reduces_file_count(spark, tmp_path):
    import glob

    from big_data_pipeline_spark.io import compact

    path = str(tmp_path / "many")
    spark.range(100).repartition(16).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*")) == 16
    compact(spark, path, target_files=2)
    assert len(glob.glob(f"{path}/part-*")) == 2
    assert spark.read.parquet(path).count() == 100


def test_merge_upsert_partitioned(spark, tmp_path):
    """New keys insert, existing keys update, untouched partitions keep
    their files (dynamic overwrite rewrites only touched partitions)."""
    import os

    from big_data_pipeline_spark.io import merge_upsert

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, part string, v double",
    )
    base.write.partitionBy("part").parquet(path)
    before_b = set(os.listdir(os.path.join(path, "part=b")))

    updates = spark.createDataFrame(
        [(2, "a", 99.0), (4, "a", 40.0)], "id long, part string, v double"
    )
    merge_upsert(spark, path, updates, key_cols="id", partition_by="part")

    got = {
        (r.id, r.part): r.v for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a"): 10.0, (2, "a"): 99.0, (3, "b"): 30.0, (4, "a"): 40.0}
    # partition b untouched on disk
    assert set(os.listdir(os.path.join(path, "part=b"))) == before_b


def test_merge_upsert_unpartitioned_full_rewrite(spark, tmp_path):
    from big_data_pipeline_spark.io import merge_upsert

    path = str(tmp_path / "merge_flat")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double").write.parquet(path)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(2, 9.0), (3, 3.0)], "id long, v double"),
        key_cols="id",
    )
    got = {(r.id): r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 1.0, 2: 9.0, 3: 3.0}


def test_zorder_write_tightens_rowgroup_stats(spark, tmp_path, sf_dir):
    """Z-ordered files must cover tighter min/max ranges on BOTH
    clustering columns than the natural layout — the property parquet
    data skipping prunes on (verified from real row-group footers)."""
    import duckdb

    from big_data_pipeline_spark.io import read_table, zorder_write

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    plain, zord = str(tmp_path / "plain"), str(tmp_path / "zord")
    li.repartition(8).write.parquet(plain)
    zorder_write(li, zord, ["l_quantity", "l_extendedprice"], n_files=8)

    def avg_range(path, col):
        rows = duckdb.sql(
            f"""SELECT stats_min_value, stats_max_value
                FROM parquet_metadata('{path}/*.parquet')
                WHERE path_in_schema = '{col}'"""
        ).fetchall()
        spans = [float(hi) - float(lo) for lo, hi in rows]
        return sum(spans) / len(spans)

    for col in ("l_quantity", "l_extendedprice"):
        assert avg_range(zord, col) < 0.7 * avg_range(plain, col), col
    # same rows survive the layout change
    assert spark.read.parquet(zord).count() == li.count()


def test_merge_upsert_key_moving_partitions_leaves_no_stale_copy(spark, tmp_path):
    """Regression: an update that changes a key's partition value must
    rewrite the OLD partition too, or the stale copy survives."""
    from big_data_pipeline_spark.io import merge_upsert

    path = str(tmp_path / "merge_move")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, part string, v double",
    ).write.partitionBy("part").parquet(path)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(2, "b", 99.0)], "id long, part string, v double"),
        key_cols="id",
        partition_by="part",
    )
    got = {(r.id, r.part): r.v for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"): 1.0, (2, "b"): 99.0, (3, "b"): 30.0}


def test_zorder_rejects_key_overflow(spark):
    import pytest

    from big_data_pipeline_spark.io import with_zorder_key

    df = spark.range(4)
    with pytest.raises(ValueError, match="63"):
        with_zorder_key(df, ["a", "b", "c", "d"], bits=16)


def test_zorder_key_empty_input(spark):
    """Empty frame: no divide-by-zero (ANSI) — just a literal 0 key."""
    from big_data_pipeline_spark.io import with_zorder_key

    df = spark.range(5).filter("id < 0")
    out = with_zorder_key(df, ["id"], bits=6)
    assert out.columns == ["id", "_zkey"]
    assert out.count() == 0


def test_zorder_key_parallel_rank_clusters_both_dims(spark, tmp_path):
    """The sharded-rank z-key must interleave: sorting by it clusters
    BOTH columns, and its plan has no global-order window."""
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.io import with_zorder_key, zorder_write

    n = 4096
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
    )
    keyed = with_zorder_key(df, ["x", "y"], bits=6, tiebreak_cols=["rid"])
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    # every Window in the plan is shard-partitioned or offset-tiny —
    # no single global-order window over the data
    assert "percent_rank" not in plan
    # write clustered into files; each file must cover a tight x range
    # AND a tight y range (lexicographic sort would only bound one)
    path = str(tmp_path / "z")
    zorder_write(df, path, ["x", "y"], n_files=16, bits=6, tiebreak_cols=["rid"])
    import pyarrow.parquet as pq

    spans_x, spans_y = [], []
    import glob as _glob

    for f in _glob.glob(path + "/*.parquet"):
        t = pq.read_table(f)
        xs = t.column("x").to_pylist()
        ys = t.column("y").to_pylist()
        if xs:
            spans_x.append(max(xs) - min(xs))
            spans_y.append(max(ys) - min(ys))
    # 16 files over a 64x64 grid: a z-layout keeps BOTH average spans
    # well under the full 63 extent
    assert sum(spans_x) / len(spans_x) < 40
    assert sum(spans_y) / len(spans_y) < 40


def test_write_audit_publish_gates_bad_data(spark, tmp_path):
    """Failed audits must leave the previous published data untouched
    and visible; passed audits swap atomically; no staging leftovers."""
    from big_data_pipeline_spark.io import write_audit_publish
    from big_data_pipeline_spark.quality.expectations import (
        expect_between,
        expect_not_null,
    )

    target = str(tmp_path / "serving")
    good = spark.createDataFrame([(1, 5.0), (2, 7.0)], "id long, v double")
    report = write_audit_publish(
        good, target, [expect_not_null("v"), expect_between("v", 0, 10)]
    )
    assert all(r.passed for r in report.collect())
    assert {r.id for r in spark.read.parquet(target).collect()} == {1, 2}

    bad = spark.createDataFrame([(3, 99.0), (4, None)], "id long, v double")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="audit failed"):
        write_audit_publish(
            bad, target, [expect_not_null("v"), expect_between("v", 0, 10)]
        )
    # previous publish still fully visible, no staging/retired residue
    assert {r.id for r in spark.read.parquet(target).collect()} == {1, 2}
    residue = [p.name for p in tmp_path.iterdir() if "staging" in p.name
               or "retired" in p.name]
    assert residue == []


def test_file_stats_index_and_skipping_read(spark, tmp_path, sf_dir):
    """The stats index must (a) cover every file with true envelopes and
    (b) let a narrow range read open strictly fewer files on clustered
    data, returning exactly the rows a full filtered scan returns."""
    from big_data_pipeline_spark.io import (
        build_file_stats_index,
        read_table,
        read_with_skipping,
        zorder_write,
    )
    from pyspark.sql import functions as F

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    path = str(tmp_path / "li_zorder")
    zorder_write(li, path, ["l_quantity", "l_extendedprice"], n_files=8)

    idx = build_file_stats_index(spark, path, ["l_quantity"])
    rows = idx.collect()
    assert len(rows) == 8
    assert sum(r.n_rows for r in rows) == li.count()

    lo, hi = 1.0, 5.0
    pruned, n_read, n_total = read_with_skipping(
        spark, path, "l_quantity", lo, hi, index=idx
    )
    assert n_total == 8
    assert 0 < n_read < n_total  # clustering made skipping real
    expect = (
        spark.read.parquet(path)
        .filter((F.col("l_quantity") >= lo) & (F.col("l_quantity") <= hi))
    )
    assert pruned.count() == expect.count()
    assert (
        pruned.agg(F.sum("l_orderkey")).first()[0]
        == expect.agg(F.sum("l_orderkey")).first()[0]
    )

    # empty-intersection range: zero files opened, schema preserved
    empty, n_read0, _ = read_with_skipping(
        spark, path, "l_quantity", 1e9, 2e9, index=idx
    )
    assert n_read0 == 0 and empty.count() == 0
    assert empty.columns == expect.columns


def test_versioned_snapshots_time_travel(spark, tmp_path, sf_dir):
    from big_data_pipeline_spark.io import (
        latest_version,
        read_table,
        read_versioned,
        vacuum_versions,
        write_versioned,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "versioned")
    nation = read_table(spark, sf_dir, "nation")
    v1 = write_versioned(nation.filter(F.col("n_nationkey") < 10), path)
    v2 = write_versioned(nation, path)
    assert (v1, v2) == (1, 2)
    assert latest_version(path) == 2
    # pinned reads are immutable; latest follows the pointer
    assert read_versioned(spark, path, 1).count() == 10
    assert read_versioned(spark, path).count() == nation.count()

    # an orphaned uncommitted snapshot dir neither blocks the next
    # writer nor becomes visible
    import pathlib

    orphan = pathlib.Path(path) / "v=3"
    orphan.mkdir()
    v4 = write_versioned(nation.limit(1), path)
    assert v4 == 4 and latest_version(path) == 4
    assert read_versioned(spark, path).count() == 1

    removed = vacuum_versions(path, keep=2)
    assert 1 in removed
    assert read_versioned(spark, path, 4).count() == 1  # current survives


def test_versioned_read_requires_commit(spark, tmp_path):
    import pytest as _pytest

    from big_data_pipeline_spark.io import read_versioned

    with _pytest.raises(ValueError):
        read_versioned(spark, str(tmp_path / "nothing"))


def test_cascade_delete_propagates_across_layers(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    from big_data_pipeline_spark.io import cascade_delete, read_table

    events = read_table(spark, sf_dir, "events")
    layer_a = str(tmp_path / "raw")
    layer_b = str(tmp_path / "derived")
    layer_c = str(tmp_path / "no_key")
    events.write.parquet(layer_a)
    events.groupBy("user_id").count().write.parquet(layer_b)
    events.select("event_type").distinct().write.parquet(layer_c)

    doomed = events.select("user_id").distinct().limit(3)
    doomed_vals = {r.user_id for r in doomed.collect()}
    expect_a = events.filter(~F.col("user_id").isin(doomed_vals)).count()

    report = dict(
        cascade_delete(spark, [layer_a, layer_b, layer_c], "user_id", doomed)
    )
    assert report[layer_c] == -1  # layer without the key is skipped
    assert report[layer_b] == 3  # one row per deleted user
    a = spark.read.parquet(layer_a)
    assert a.count() == expect_a == events.count() - report[layer_a]
    assert a.filter(F.col("user_id").isin(doomed_vals)).count() == 0
    # idempotent: a second pass deletes nothing
    report2 = dict(cascade_delete(spark, [layer_a, layer_b], "user_id", doomed))
    assert report2[layer_a] == 0 and report2[layer_b] == 0


def test_cascade_delete_recovers_from_mid_swap_crash(spark, tmp_path, sf_dir):
    """A crash between the two swap renames leaves the layer missing and
    the pre-delete data in __retired_*; the next call must roll back and
    reapply the delete, and stale __gdpr_* staging must be cleaned."""
    import pathlib

    from pyspark.sql import functions as F

    from big_data_pipeline_spark.io import cascade_delete, read_table

    events = read_table(spark, sf_dir, "events")
    layer = str(tmp_path / "raw")
    events.write.parquet(layer)
    doomed = events.select("user_id").distinct().limit(3)
    doomed_vals = {r.user_id for r in doomed.collect()}

    # simulate the crash window: path renamed away, staging left behind
    pathlib.Path(layer).rename(layer + "__retired_deadbeef")
    (tmp_path / "raw__gdpr_deadbeef").mkdir()

    report = dict(cascade_delete(spark, [layer], "user_id", doomed))
    got = spark.read.parquet(layer)
    assert got.filter(F.col("user_id").isin(doomed_vals)).count() == 0
    assert got.count() == events.count() - report[layer]
    assert report[layer] > 0  # rollback restored pre-delete data first
    leftovers = list(tmp_path.glob("raw__*"))
    assert leftovers == []


def test_vacuum_drops_dead_orphans_and_rejects_keep_zero(
    spark, tmp_path, sf_dir
):
    import pathlib

    import pytest as _pytest

    from big_data_pipeline_spark.io import (
        read_versioned,
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "versioned")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    write_versioned(nation, path)  # v=1
    # dead writer: snapshot dir without a pointer move
    pathlib.Path(path, "v=2").mkdir()
    with _pytest.raises(ValueError, match="keep"):
        vacuum_versions(path, keep=0)
    # orphan above the pointer: possibly in-flight, never touched
    assert vacuum_versions(path, keep=1) == []
    assert pathlib.Path(path, "v=2").exists()
    # a later commit passes it -> provably dead, vacuumed even though
    # it is inside the newest-`keep` window by number
    write_versioned(nation.limit(1), path)  # v=3
    assert vacuum_versions(path, keep=2) == [2]
    assert read_versioned(spark, path, 1).count() == nation.count()
    assert read_versioned(spark, path).count() == 1


def test_footer_schema_equals_inferred_schema(spark, tmp_path):
    # Numeric-looking symbols: inference types the partition column int,
    # which is why read_symbol_partitioned declares it a string.
    cfg = PipelineConfig(base_dir=str(tmp_path), symbols=("0700", "0005"), periods=6)
    for stage in (ingest, transform, combine):
        stage(spark, cfg)
    processed, combined = cfg.layer("processed"), cfg.layer("combined")
    inferred = spark.read.parquet(processed).schema
    assert inferred["symbol"].dataType == T.IntegerType()
    data = T.StructType([f for f in inferred if f.name != "symbol"])
    assert parquet_footer_schema(spark, processed) == data
    assert parquet_footer_schema(spark, combined) == spark.read.parquet(combined).schema
    read = read_symbol_partitioned(spark, processed, "parquet")
    assert read.schema == data.add("symbol", "string")
    assert sorted({r.symbol for r in read.collect()}) == ["0005", "0700"]


def test_footer_schema_of_missing_or_empty_layer_raises(spark, tmp_path):
    with pytest.raises(AnalysisException) as missing:
        parquet_footer_schema(spark, str(tmp_path / "absent"))
    assert missing.value.getCondition() == "PATH_NOT_FOUND"
    empty = tmp_path / "empty"
    (empty / "symbol=A").mkdir(parents=True)
    (empty / "_SUCCESS").touch()
    with pytest.raises(AnalysisException) as unreadable:
        read_symbol_partitioned(spark, str(empty), "parquet")
    assert unreadable.value.getCondition() == "UNABLE_TO_INFER_SCHEMA"
