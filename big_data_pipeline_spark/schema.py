"""Canonical OHLCV schema + the fuzzy schema resolver.

Re-expresses the reference's most distinctive semantic (SURVEY.md §1.3):
schemas are never declared — every stage discovers columns at runtime by
case-insensitive substring matching. Driver-side Python over
``df.columns`` only; the data path stays declarative.

Reference behavior being reproduced (citations into /root/reference):
- find the datetime column by substring:   scripts/transform.py:44
- strip per-symbol suffixes (Close_AAPL):  scripts/transform.py:50-56
  (last match wins; over a union of symbols, the last NON-NULL match)
- ``symbol`` from the object key / path:   scripts/transform.py:59-60
- project to canonical columns that exist: scripts/transform.py:62-64
- lowercase + fuzzy feature discovery:     scripts/stock_predictor.py:42-64

Divergence (documented in SURVEY.md §0): the reference parses
timestamps with a tz-naive pattern and silently nulls tz-offset strings
(transform.py:47 vs stock_ingestor.py:33-35). We parse offset-aware
first and fall back, keeping real data instead of nulls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

METRICS = ("Open", "High", "Low", "Close", "Volume")
CANONICAL_COLUMNS = ("Datetime", *METRICS, "symbol")

PREDICTION_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("predicted_close", T.DoubleType()),
        T.StructField("last_date", T.StringType()),
        T.StructField("mse", T.DoubleType()),
    ]
)


def find_datetime_column(columns: list[str]) -> str | None:
    """First column containing 'datetime', else first containing 'date'
    (transform.py:44 uses only 'datetime'; predictor.py:44 uses 'date')."""
    for c in columns:
        if "datetime" in c.lower():
            return c
    for c in columns:
        if "date" in c.lower():
            return c
    return None


def _quote(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _parse_timestamp(col: str) -> str:
    """Offset-aware first (`2025-11-05 09:30:00-05:00`), then naive.
    ``try_to_timestamp`` nulls on failure (Spark 4 is ANSI by default, so
    plain ``to_timestamp`` would throw), matching Polars strict=False."""
    return (
        f"coalesce(try_to_timestamp({col}, 'yyyy-MM-dd HH:mm:ssXXX'), "
        f"try_to_timestamp({col}, 'yyyy-MM-dd HH:mm:ss'), try_cast({col} AS timestamp))"
    )


def normalize_schema(df: DataFrame) -> DataFrame:
    """Fuzzy-resolve a raw ingest frame to the canonical OHLCV schema.

    Pure column-metadata logic on the driver; emits a single projection
    — one narrow node in the plan, no shuffle. ``df`` may union many
    symbols' suffixed columns, each null outside its own symbol's rows.
    The projection is SQL text parsed once by ``selectExpr``: building
    the same ~60 expressions as Column objects costs a py4j call each.
    """
    cols = list(df.columns)
    dtypes = dict(df.dtypes)
    exprs: list[str] = []

    dt_col = find_datetime_column(cols)
    if dt_col is not None:
        c = _quote(dt_col)
        if dtypes[dt_col] == "string":
            c = _parse_timestamp(c)
        else:
            c = f"CAST({c} AS timestamp)"
        exprs.append(f"{c} AS Datetime")

    # Last match wins, as in transform.py:53-55's dict overwrite: the
    # coalesce over the matches in reverse column order is the last
    # non-null one on each row.
    for metric in METRICS:
        matches = [c for c in cols if metric.lower() in c.lower()]
        if matches:
            target = "bigint" if metric == "Volume" else "double"
            casts = ", ".join(f"CAST({_quote(c)} AS {target})" for c in reversed(matches))
            exprs.append(f"coalesce({casts}) AS {metric}")

    symbol_col = None
    for c in cols:
        if c.lower() == "symbol":
            symbol_col = c
    if symbol_col is not None:
        exprs.append(f"CAST({_quote(symbol_col)} AS string) AS symbol")

    return df.selectExpr(*exprs)
