"""End-to-end test of the 4-stage pipeline (G1-G3) on a temp lake."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from big_data_pipeline_spark import pipeline
from big_data_pipeline_spark.pipeline import (
    PipelineConfig,
    ingest,
    run_pipeline,
    synthetic_bars,
    transform,
)


def test_synthetic_bars_deterministic_and_dirty():
    a = synthetic_bars("AAPL", 10, seed=42)
    b = synthetic_bars("AAPL", 10, seed=42)
    assert a.equals(b)
    # ingested shape: suffixed columns, string timestamps with offset
    assert "Close_AAPL" in a.columns
    assert "symbol" not in a.columns
    assert a["Datetime"].iloc[0].endswith(":00")
    assert "-05:00" in a["Datetime"].iloc[0] or "-04:00" in a["Datetime"].iloc[0]


def test_run_pipeline_end_to_end(spark, tmp_path):
    cfg = PipelineConfig(base_dir=str(tmp_path), periods=48)
    preds = run_pipeline(spark, cfg).toPandas()

    # every layer materialized
    for layer in ("raw", "processed", "combined", "predictions"):
        assert os.path.isdir(tmp_path / layer), layer

    # processed/ is symbol-partitioned → partition pruning on read
    assert os.path.isdir(tmp_path / "processed" / "symbol=AAPL")

    # one prediction row per symbol, reference output schema
    assert sorted(preds["symbol"]) == ["AAPL", "GOOG", "MSFT"]
    assert set(preds.columns) == {"symbol", "predicted_close", "last_date", "mse"}
    assert (preds["mse"] >= 0).all()

    # canonical schema survived normalize: offset timestamps parsed, not nulled
    combined = spark.read.parquet(str(tmp_path / "combined"))
    assert combined.filter("Datetime IS NULL").count() == 0
    assert combined.count() == 48 * 3


def test_pipeline_rerun_is_idempotent(spark, tmp_path):
    cfg = PipelineConfig(base_dir=str(tmp_path), periods=30)
    first = run_pipeline(spark, cfg).toPandas()
    second = run_pipeline(spark, cfg).toPandas()  # overwrite semantics (S12)
    a = first.sort_values("symbol").reset_index(drop=True)
    b = second.sort_values("symbol").reset_index(drop=True)
    assert a.equals(b)


def _empty_fetch_for(monkeypatch, symbols):
    real = pipeline.synthetic_bars

    def fetch(symbol, periods, seed):
        pdf = real(symbol, periods, seed)
        return pdf.iloc[0:0] if symbol in symbols else pdf

    monkeypatch.setattr(pipeline, "synthetic_bars", fetch)


def test_rerun_drops_symbol_whose_fetch_is_empty(spark, tmp_path, monkeypatch):
    cfg = PipelineConfig(base_dir=str(tmp_path), periods=20)
    run_pipeline(spark, cfg)
    _empty_fetch_for(monkeypatch, {"MSFT"})
    preds = run_pipeline(spark, cfg).toPandas()
    # yesterday's raw/symbol=MSFT/ is truncated, not processed again
    assert sorted(preds["symbol"]) == ["AAPL", "GOOG"]
    for layer in ("raw", "processed"):
        parts = sorted(p for p in os.listdir(tmp_path / layer) if p.startswith("symbol="))
        assert parts == ["symbol=AAPL", "symbol=GOOG"], layer


def test_rerun_with_every_fetch_empty_raises(spark, tmp_path, monkeypatch):
    cfg = PipelineConfig(base_dir=str(tmp_path), periods=20)
    with pytest.raises(RuntimeError, match="no raw data found"):
        transform(spark, cfg)  # no raw/ yet
    run_pipeline(spark, cfg)
    _empty_fetch_for(monkeypatch, set(cfg.symbols))
    with pytest.raises(RuntimeError, match="no raw data found"):
        run_pipeline(spark, cfg)


def test_numeric_looking_symbols_keep_leading_zeros(spark, tmp_path):
    cfg = PipelineConfig(base_dir=str(tmp_path), symbols=("0700", "0005"), periods=20)
    preds = run_pipeline(spark, cfg).toPandas()
    assert sorted(preds["symbol"]) == ["0005", "0700"]
    combined = spark.read.parquet(str(tmp_path / "combined"))
    assert dict(combined.dtypes)["symbol"] == "string"


def _stage_jobs(spark, stage, cfg) -> int:
    """Jobs one stage runs, counted through its ``statusTracker`` job
    group. The status store is fed by the async listener bus in order,
    so once a later sentinel job shows up, every stage job has too."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    try:
        sc.setJobGroup(f"{tag}.stage", stage.__name__)
        stage(spark, cfg)
        sc.setJobGroup(f"{tag}.sentinel", "sentinel")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{tag}.sentinel") and time.monotonic() < deadline:
        time.sleep(0.01)
    return len(tracker.getJobIdsForGroup(f"{tag}.stage"))


def test_ingest_and_transform_jobs_do_not_grow_with_symbols(spark, tmp_path):
    counts = {}
    for n in (2, 6):
        cfg = PipelineConfig(base_dir=str(tmp_path / str(n)),
                             symbols=tuple(f"S{i}" for i in range(n)), periods=20)
        counts[n] = [_stage_jobs(spark, stage, cfg) for stage in (ingest, transform)]
    assert counts[2] == counts[6]
    assert min(counts[2]) >= 1


def test_combine_infers_no_schema(spark, tmp_path):
    # processed/'s schema comes from a file footer: the write is the one job.
    cfg = PipelineConfig(base_dir=str(tmp_path), symbols=("AAPL", "0700"), periods=20)
    ingest(spark, cfg)
    transform(spark, cfg)
    assert _stage_jobs(spark, pipeline.combine, cfg) == 1
