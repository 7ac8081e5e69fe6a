"""Continuous rollup: incremental maintenance equals batch recompute."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.streaming.rollup import (
    batch_rollup,
    read_rollup,
    rollup_drain,
)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "events": str(tmp_path / "events"),
        "rollup": str(tmp_path / "rollup"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["events"])
    return d


def _copy_split(spark, sf_dir, events_dir):
    """Split the corpus events into two parquet files (two arrivals)."""
    ev = read_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    a.coalesce(1).write.mode("overwrite").parquet(events_dir + "_stage_a")
    b.coalesce(1).write.mode("overwrite").parquet(events_dir + "_stage_b")
    return events_dir + "_stage_a", events_dir + "_stage_b"


def _arrive(stage_dir, events_dir, tag):
    for f in os.listdir(stage_dir):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(stage_dir, f),
                os.path.join(events_dir, f"{tag}_{f}"),
            )


def _canon(df):
    return sorted(
        (str(r.window_start), r.event_type, r.n_events, round(r.sum_value, 6))
        for r in df.collect()
    )


def test_rollup_incremental_equals_batch(spark, sf_dir, dirs):
    stage_a, stage_b = _copy_split(spark, sf_dir, dirs["events"])

    # first arrival
    _arrive(stage_a, dirs["events"], "a")
    n = rollup_drain(spark, dirs["events"], dirs["rollup"], dirs["ckpt"])
    assert n >= 1
    got_a = read_rollup(spark, dirs["rollup"])
    want_a = batch_rollup(spark.read.parquet(dirs["events"]))
    assert _canon(got_a) == _canon(want_a)

    # nothing new -> no rewrites needed (state/checkpoint is the gate)
    before = _canon(read_rollup(spark, dirs["rollup"]))
    rollup_drain(spark, dirs["events"], dirs["rollup"], dirs["ckpt"])
    assert _canon(read_rollup(spark, dirs["rollup"])) == before

    # second arrival updates existing windows in place (same windows get
    # contributions from both halves, so this exercises MERGE not append)
    _arrive(stage_b, dirs["events"], "b")
    n = rollup_drain(spark, dirs["events"], dirs["rollup"], dirs["ckpt"])
    assert n >= 1
    got = read_rollup(spark, dirs["rollup"])
    want = batch_rollup(spark.read.parquet(dirs["events"]))
    assert _canon(got) == _canon(want)
    # rollup equals the workload batch query over the ORIGINAL corpus too
    want_corpus = batch_rollup(read_table(spark, sf_dir, "events"))
    assert _canon(got) == _canon(want_corpus)
    # serving scan is pre-aggregated: one row per (window, type)
    keys = [(str(r.window_start), r.event_type) for r in got.collect()]
    assert len(keys) == len(set(keys))


def test_rollup_empty_events_dir_drains_nothing(spark, dirs):
    """No event file yet: nothing to drain, and no rollup is written."""
    assert rollup_drain(spark, dirs["events"], dirs["rollup"], dirs["ckpt"]) == 0
    assert not os.path.exists(dirs["rollup"])


def test_rollup_missing_events_path_raises(spark, dirs):
    missing = os.path.join(dirs["events"], "no_such_dir")
    with pytest.raises(AnalysisException) as err:
        rollup_drain(spark, missing, dirs["rollup"], dirs["ckpt"])
    assert err.value.getCondition() == "PATH_NOT_FOUND"


def test_rollup_checkpoint_keeps_first_partition_count(
    spark, sf_dir, dirs, monkeypatch, progress_listener
):
    """The state partition count is set by the first drain only: a later
    drain on the same checkpoint keeps it even when the drain rule would
    now pick another, and the rollup still equals the batch twin."""
    from big_data_pipeline_spark.streaming import windows

    # The rule itself would pick more than 1 partition on this session.
    assert min(spark.sparkContext.defaultParallelism, 8) > 1
    stage_a, stage_b = _copy_split(spark, sf_dir, dirs["events"])
    _arrive(stage_a, dirs["events"], "a")
    with monkeypatch.context() as m:
        m.setattr(windows, "_MAX_DRAIN_STATE_PARTITIONS", 1)
        rollup_drain(spark, dirs["events"], dirs["rollup"], dirs["ckpt"])
    first = progress_listener.take()

    _arrive(stage_b, dirs["events"], "b")
    rollup_drain(spark, dirs["events"], dirs["rollup"], dirs["ckpt"])
    second = progress_listener.take()
    for progress in (first, second):
        ops = [o for p in progress for o in p["stateOperators"]]
        assert ops
        assert {o["numShufflePartitions"] for o in ops} == {1}
    got = read_rollup(spark, dirs["rollup"])
    want = batch_rollup(spark.read.parquet(dirs["events"]))
    assert _canon(got) == _canon(want)
