"""Incremental transform: checkpointed drains process only new files."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_symbol_partitioned
from big_data_pipeline_spark.pipeline import PipelineConfig, ingest, transform
from big_data_pipeline_spark.schema import METRICS
from big_data_pipeline_spark.streaming.incremental import incremental_transform


def _write_raw(spark, raw_dir: str, symbol: str, n: int, start: int = 0):
    """Append bars in the shape ``pipeline.ingest`` writes: suffixed
    columns (``Close_AAPL``) under ``raw/symbol=<s>/``."""
    rows = [
        (f"2024-01-02 {9 + i}:30:00-05:00", 1.0, 2.0, 0.5, 1.5, 100 + i)
        for i in range(start, start + n)
    ]
    df = spark.createDataFrame(rows, ["Datetime", *(f"{m}_{symbol}" for m in METRICS)])
    df.coalesce(1).write.mode("append").json(f"{raw_dir}/symbol={symbol}")


def _nulls(df) -> int:
    return df.filter(
        F.col("Datetime").isNull() | F.col("Close").isNull() | F.col("symbol").isNull()
    ).count()


def test_incremental_transform_is_exactly_once(spark, tmp_path):
    raw = str(tmp_path / "raw")
    processed = str(tmp_path / "processed")
    ckpt = str(tmp_path / "ckpt")

    _write_raw(spark, raw, "AAPL", 3)
    assert incremental_transform(spark, raw, processed, ckpt) >= 1
    first = spark.read.parquet(processed)
    assert first.count() == 3
    # offset-aware strings parsed by normalize_schema, suffixed metrics
    # resolved and symbol taken from the path: nothing nulled
    assert _nulls(first) == 0

    # second drain with no new data: no new rows
    incremental_transform(spark, raw, processed, ckpt)
    assert spark.read.parquet(processed).count() == 3

    # a new symbol arrives → only the delta is appended
    _write_raw(spark, raw, "MSFT", 2)
    incremental_transform(spark, raw, processed, ckpt)
    out = spark.read.parquet(processed)
    assert out.count() == 5
    assert out.filter("symbol = 'MSFT'").count() == 2
    assert _nulls(out) == 0


def test_incremental_matches_batch_transform_on_ingested_raw(spark, tmp_path):
    cfg = PipelineConfig(base_dir=str(tmp_path), symbols=("AAPL", "MSFT", "0700"), periods=12)
    ingest(spark, cfg)
    batch = transform(spark, cfg)
    processed = str(tmp_path / "incremental")
    assert incremental_transform(spark, cfg.layer("raw"), processed, str(tmp_path / "ckpt")) >= 1
    inc = read_symbol_partitioned(spark, processed, "parquet").drop("ingest_batch")
    assert inc.columns == batch.columns
    got = sorted(map(tuple, inc.collect()))
    assert got == sorted(map(tuple, batch.collect()))
    assert len(got) == 36 and all(None not in row for row in got)


def test_incremental_transform_empty_or_missing_raw_drains_nothing(spark, tmp_path):
    (tmp_path / "raw").mkdir()
    for raw in ("raw", "missing"):
        assert incremental_transform(
            spark, str(tmp_path / raw), str(tmp_path / "p"), str(tmp_path / f"c_{raw}")) == 0
