"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY.md §2.9); the built-in
windowed aggregations in streaming/windows.py cover the declarative
surface. This module covers the *imperative* stateful surface — the
Spark-native escape hatch for operators the SQL engine can't express
(per-key state machines, custom eviction, exponential averages).

Implemented operator: per-user running statistics (event count, value
sum, exponentially weighted moving average of ``value``) maintained in
a GroupState, emitting one row per key per micro-batch.

Timeout note: both operators here run with ``NoTimeout``, so a key's
state lives as long as the checkpoint. That fits the ``availableNow``
drain, this engine's verification path, whose checkpoint is deleted
after one run (pending processing-time timeouts would also keep
scheduling empty micro-batches after the data is consumed, so the
drain would never terminate). A continuously running deployment would
have to add eviction itself: pass
``GroupStateTimeout.ProcessingTimeTimeout``, call
``state.setTimeoutDuration`` in the update function, and handle
``state.hasTimedOut`` there by emitting the key's final row and calling
``state.remove()``.

The EWMA recurrence is order-sensitive; events are sorted by (ts,
event_id) inside each batch, and correctness is asserted against a
batch pandas recomputation in tests (availableNow = single batch, so
the recurrence sees every event exactly once, in order).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

_ALPHA = 0.2


def _advance_stats(
    stats: tuple, batches: Iterator[pd.DataFrame]
) -> tuple:
    """The per-user recurrence: fold the batches into (count, sum, EWMA),
    in (ts, event_id) order."""
    n, total, ewma = stats
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        for v in pdf["value"]:
            n += 1
            total += float(v)
            ewma = (
                float(v)
                if ewma is None
                else _ALPHA * float(v) + (1 - _ALPHA) * ewma
            )
    return n, total, ewma


def _stats_row(key: tuple[Any, ...], stats: tuple) -> pd.DataFrame:
    n, total, ewma = stats
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_sum": [total],
            "ewma": [ewma],
        }
    )


def _update_user_stats(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    stats = _advance_stats(
        state.get if state.exists else (0, 0.0, None), batches
    )
    state.update(stats)
    yield _stats_row(key, stats)


def running_user_stats(events: DataFrame) -> DataFrame:
    """Stateful per-user running stats over a streaming events frame
    (see the module docstring's timeout note)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming Misra-Gries heavy hitters ------------------------------------
# The streaming face of functions/sketches.misra_gries_topk: per group
# key, at most ``MG_K`` weighted counters live in the state store
# regardless of how many distinct values flow through — the
# fixed-memory answer to "top users per event type, continuously".
# Same decrement rule as the batch kernel (drain the minimum when more
# than k counters survive), same guarantee: any value with frequency
# > N_group/(k+1) is present, est ≤ true ≤ est + N_group/(k+1).
# Events are processed in (ts, event_id) order so drains are
# deterministic and replayable.

MG_K = 8

MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("values", T.ArrayType(T.StringType())),
        T.StructField("weights", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)

MG_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _mg_insert(counters: dict, val: str, k: int) -> None:
    counters[val] = counters.get(val, 0) + 1
    if len(counters) > k:
        d = min(counters.values())
        for v in [v for v, c in counters.items() if c - d <= 0]:
            del counters[v]
        for v in counters:
            counters[v] -= d


def _update_heavy_hitters(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        values, weights, n_seen = state.get
        counters = dict(zip(values, weights))
    else:
        counters, n_seen = {}, 0
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        for uid in pdf["user_id"]:
            _mg_insert(counters, str(uid), MG_K)
            n_seen += 1
    state.update(
        (list(counters), [int(c) for c in counters.values()], n_seen)
    )
    out = pd.DataFrame(
        {
            "event_type": key[0],
            "value": list(counters),
            "est_count": [int(c) for c in counters.values()],
            "n_seen": n_seen,
        }
    )
    yield out.sort_values(
        ["est_count", "value"], ascending=[False, True], kind="mergesort"
    )


def streaming_heavy_hitters(events: DataFrame) -> DataFrame:
    """Bounded-state heavy-hitter tracking per event_type (see above):
    ``MG_K`` (value, weight) pairs of state per key."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_heavy_hitters,
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
