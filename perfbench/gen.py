"""Seeded generator for the benchmark's input corpus.

Writes ``events.parquet``, the one table the stream queries read, with the
schema and value distributions of the project's reference corpus
(FIXTURES.md): 1,000,000 × sf events with distinct, increasing timestamps
over 30 days, from 15,000 × sf users. The same ``(sf, seed)`` always gives
the same file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _events(sf: float, rng: np.random.Generator) -> pa.Table:
    n_evt, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 15)
    ts = _EPOCH_2024 + np.sort(rng.choice(30 * _DAY_US, n_evt, replace=False))
    kinds = np.asarray(_EVENT_TYPES, dtype=object)[rng.choice(len(_EVENT_TYPES), n_evt)]
    return pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": pa.array(kinds),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the corpus for ``(sf, seed)`` under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    events = _events(sf, np.random.default_rng(seed))
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    return {"events": events.num_rows}
