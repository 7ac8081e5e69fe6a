"""Unit tests for the fuzzy schema resolver (SURVEY.md §1.3)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_symbol_partitioned
from big_data_pipeline_spark.pipeline import PipelineConfig, ingest
from big_data_pipeline_spark.schema import (
    CANONICAL_COLUMNS,
    find_datetime_column,
    normalize_schema,
)


def test_find_datetime_column_prefers_datetime_over_date():
    assert find_datetime_column(["trade_date", "Datetime_x", "foo"]) == "Datetime_x"
    assert find_datetime_column(["last_date", "foo"]) == "last_date"
    assert find_datetime_column(["a", "b"]) is None


def test_normalize_strips_symbol_suffixes(spark):
    # MultiIndex-flattened yfinance columns: Close_AAPL etc.; symbol from
    # the partition path.
    df = spark.createDataFrame(
        [("2024-01-02 10:00:00-05:00", 1.0, 2.0, 0.5, 1.5, 100, "AAPL")],
        ["Datetime", "Open_AAPL", "High_AAPL", "Low_AAPL", "Close_AAPL", "Volume_AAPL",
         "symbol"],
    )
    out = normalize_schema(df)
    assert out.columns == list(CANONICAL_COLUMNS)
    row = out.first()
    assert row["Close"] == 1.5
    assert row["Volume"] == 100
    assert row["symbol"] == "AAPL"
    # Offset-aware string parsed, not nulled (divergence from reference
    # documented in SURVEY.md §0): 10:00-05:00 == 15:00 UTC.
    assert row["Datetime"] is not None
    assert row["Datetime"].hour == 15


def test_normalize_keeps_existing_symbol_column(spark):
    df = spark.createDataFrame(
        [("2024-01-02 10:00:00", 1.5, "MSFT")], ["Datetime", "Close", "symbol"]
    )
    out = normalize_schema(df)
    assert out.first()["symbol"] == "MSFT"


def test_normalize_projects_only_existing_columns(spark):
    df = spark.createDataFrame([("2024-01-02 10:00:00", 1.5)], ["Datetime", "Close"])
    out = normalize_schema(df)
    assert out.columns == ["Datetime", "Close"]


def test_normalize_last_match_wins(spark):
    # transform.py:53-55 dict overwrite: later column wins the rename.
    df = spark.createDataFrame(
        [("2024-01-02 10:00:00", 1.0, 2.0)], ["Datetime", "close_old", "Adj_Close"]
    )
    out = normalize_schema(df)
    assert out.first()["Close"] == 2.0


def test_normalize_union_equals_per_symbol(spark, tmp_path):
    # One resolver over the partitioned union of every symbol's suffixed
    # columns gives each row its own symbol's last match. LOW's and HIGH's
    # suffixes contain metric names: "low" is in every *_LOW column, so
    # LOW's Low resolves to Volume_LOW both ways (the reference's
    # substring quirk), and likewise HIGH's High to Volume_HIGH.
    cfg = PipelineConfig(base_dir=str(tmp_path), symbols=("AAPL", "LOW", "HIGH"), periods=6)
    ingest(spark, cfg)
    raw = cfg.layer("raw")
    union = normalize_schema(read_symbol_partitioned(spark, raw, "json"))
    per_symbol = reduce(DataFrame.unionByName, [
        normalize_schema(spark.read.json(f"{raw}/symbol={s}").withColumn("symbol", F.lit(s)))
        for s in cfg.symbols])
    assert union.columns == per_symbol.columns == list(CANONICAL_COLUMNS)
    got = [tuple(r) for r in union.collect()]
    assert len(got) == 18 and all(None not in row for row in got)
    assert sorted(got) == sorted(map(tuple, per_symbol.collect()))
    low = spark.read.json(f"{raw}/symbol=LOW").orderBy("Datetime").first()
    low_row = union.filter("symbol = 'LOW'").orderBy("Datetime").first()
    assert low_row["Low"] == float(low["Volume_LOW"])
