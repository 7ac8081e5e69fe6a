"""The 4-stage stock pipeline, re-expressed Spark-first.

Reference orchestration (SURVEY.md §2.11, §3 EP1; reference
``dags/stock_pipeline_dag.py:29-50``): a linear Airflow DAG
``ingest >> transform >> combine >> predict`` moving data through four
MinIO buckets. Here each stage is a function ``(spark, config) ->
DataFrame`` writing a layer of a parquet lake:

    raw/        JSONL bars, partitioned by symbol (reference bucket ``raw``)
    processed/  canonical schema, partitioned by symbol (``processed``)
    combined/   single table                  (``combined``)
    predictions/ one row per symbol           (``predictions``)

Stage boundaries stay materialized (G3 bucket-mediated handoff) so an
external scheduler can retry any stage idempotently — every write is
``mode=overwrite`` (S12 truncate-then-load semantics,
``minio_utils.py:29-40``). ``run_pipeline`` chains them in-process.

Scale notes (100 TB):
- ``processed/`` is partitioned by symbol → partition pruning on read;
  at real scale add a date partition (``partitionBy("symbol", "date")``).
- ``combine`` is a metadata-only union: reading the partitioned
  directory IS the union (SURVEY.md A1) — no shuffle, no driver loop.
- ``predict`` shuffles once on symbol for the grouped trainer.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from big_data_pipeline_spark.io import (
    parquet_footer_schema,
    read_symbol_partitioned,
    write_parquet,
)
from big_data_pipeline_spark.ml.linreg import predict_next_close
from big_data_pipeline_spark.schema import normalize_schema

DEFAULT_SYMBOLS = ("AAPL", "MSFT", "GOOG")  # stock_ingestor.py:11


@dataclass
class PipelineConfig:
    base_dir: str
    symbols: tuple[str, ...] = DEFAULT_SYMBOLS
    periods: int = 30 * 7  # ~30 days of hourly bars within trading hours
    seed: int = 42

    def layer(self, name: str) -> str:
        return os.path.join(self.base_dir, name)


def synthetic_bars(symbol: str, periods: int, seed: int) -> pd.DataFrame:
    """Deterministic stand-in for the yfinance fetch (S1) in the
    *ingested* shape: flattened suffixed columns, tz-offset string
    timestamps, no symbol column (``stock_ingestor.py:29-35``)."""
    # crc32, not hash(): str hashing is salted per-process (PYTHONHASHSEED).
    rng = np.random.default_rng(zlib.crc32(symbol.encode()) + seed)
    close = 100.0 + np.cumsum(rng.normal(0, 1.0, periods))
    # Independent up/down wicks: a shared spread would make
    # High + Low - 2*Close == 0 EXACTLY in float64, leaving the
    # 6-feature OLS design rank-deficient (real OHLC bars are never
    # collinear). Full rank makes the flagship prediction the unique
    # normal-equation solution, which the exact-rational oracle twin
    # (workloads/pipeline_flagship.py) recomputes independently.
    up = np.abs(rng.normal(0, 0.5, periods))
    down = np.abs(rng.normal(0, 0.5, periods))
    ts = pd.date_range("2024-01-02 09:30:00", periods=periods, freq="h", tz="US/Eastern")
    return pd.DataFrame(
        {
            "Datetime": [t.strftime("%Y-%m-%d %H:%M:%S%z")[:-2] + ":00" for t in ts],
            f"Open_{symbol}": close + rng.normal(0, 0.2, periods),
            f"High_{symbol}": close + up,
            f"Low_{symbol}": close - down,
            f"Close_{symbol}": close,
            f"Volume_{symbol}": rng.integers(1_000, 100_000, periods),
        }
    )


def ingest(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Stage 1 (S1-S4): fetch per symbol → one JSONL write into
    raw/symbol=<s>/ (replacing the reference's ``{symbol}_stock_raw_{ts}.json``
    keys). The fetch is pluggable (synthetic by default; a yfinance
    fetcher would slot in unchanged). The JSON writer drops null fields,
    so each symbol's records keep only its own suffixed columns
    (``Close_AAPL``). With every fetch empty, raw/ is still truncated.
    """
    frames = []
    for symbol in cfg.symbols:
        pdf = synthetic_bars(symbol, cfg.periods, cfg.seed)
        if pdf.empty:  # S3 empty-input guard (stock_ingestor.py:25-27)
            continue
        # One fetch is one driver-side frame: write it as one file, not
        # one per defaultParallelism slice that every later layer inherits.
        frames.append(spark.createDataFrame(pdf.assign(symbol=symbol)).coalesce(1))
    if frames:
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
    else:
        df = spark.createDataFrame([], "Datetime string, symbol string")
    df.write.mode("overwrite").partitionBy("symbol").json(cfg.layer("raw"))


def transform(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Stage 2: raw/ → canonical schema → processed/, by symbol.

    One scan of the whole raw layer, and one fuzzy resolver over the
    union of every symbol's suffixed columns. ``symbol`` comes from the
    partition path, as the reference takes it from the object key
    (``transform.py:59-60``).
    """
    try:
        raw = read_symbol_partitioned(spark, cfg.layer("raw"), "json")
    except AnalysisException as e:  # transform.py:33-34 guard
        if e.getCondition() in ("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND"):
            raise RuntimeError("no raw data found") from e
        raise
    processed = normalize_schema(raw)
    write_parquet(processed, cfg.layer("processed"), partition_by="symbol")
    return processed


def combine(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Stage 3 (A1): union all per-symbol partitions → combined/.

    Reading the partitioned directory IS the union — scan+union in one
    metadata operation (``combine_processed.py:13-20``'s intent without
    the driver-side concat).
    """
    df = read_symbol_partitioned(spark, cfg.layer("processed"), "parquet")
    write_parquet(df, cfg.layer("combined"))
    return df


def predict(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Stage 4 (A3): per-symbol next-close OLS → predictions/."""
    combined = cfg.layer("combined")
    bars = spark.read.schema(parquet_footer_schema(spark, combined)).parquet(combined)
    preds = predict_next_close(bars)
    write_parquet(preds, cfg.layer("predictions"))
    return preds


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """G1 linear DAG: ingest >> transform >> combine >> predict."""
    ingest(spark, cfg)
    transform(spark, cfg)
    combine(spark, cfg)
    return predict(spark, cfg)
