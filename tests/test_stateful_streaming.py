"""applyInPandasWithState running stats vs batch pandas recomputation."""

from __future__ import annotations

import pandas as pd

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.streaming import run_available_now, stream_events
from big_data_pipeline_spark.streaming.stateful import (
    _ALPHA,
    running_user_stats,
)


def _expected(events: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for uid, g in events.sort_values(["ts", "event_id"]).groupby("user_id"):
        ewma = None
        for v in g["value"]:
            ewma = float(v) if ewma is None else _ALPHA * float(v) + (1 - _ALPHA) * ewma
        rows.append(
            {
                "user_id": uid,
                "n_events": len(g),
                "value_sum": float(g["value"].sum()),
                "ewma": ewma,
            }
        )
    return pd.DataFrame(rows).set_index("user_id").sort_index()


def test_running_stats_match_batch_recurrence(spark, sf_dir):
    stream = running_user_stats(stream_events(spark, sf_dir))
    got = (
        run_available_now(stream, "t_stateful", output_mode="update")
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    want = _expected(read_table(spark, sf_dir, "events").toPandas())
    assert list(got.index) == list(want.index)
    assert (got["n_events"] == want["n_events"]).all()
    assert (got["value_sum"] - want["value_sum"]).abs().max() < 1e-9
    assert (got["ewma"] - want["ewma"]).abs().max() < 1e-9


def test_streaming_heavy_hitters_matches_replay_and_guarantee(spark, sf_dir):
    from big_data_pipeline_spark.io import read_table
    from big_data_pipeline_spark.streaming.stateful import (
        MG_K,
        _mg_insert,
    )
    from big_data_pipeline_spark.workloads.streaming_surface import (
        stream_heavy_hitter_users,
    )

    got = stream_heavy_hitter_users(spark, sf_dir).collect()

    events = sorted(
        read_table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "user_id")
        .collect(),
        key=lambda r: (r.ts, r.event_id),
    )
    replay, truth, totals = {}, {}, {}
    for r in events:
        c = replay.setdefault(r.event_type, {})
        _mg_insert(c, str(r.user_id), MG_K)
        truth.setdefault(r.event_type, {}).setdefault(str(r.user_id), 0)
        truth[r.event_type][str(r.user_id)] += 1
        totals[r.event_type] = totals.get(r.event_type, 0) + 1

    got_by_type = {}
    for row in got:
        got_by_type.setdefault(row.event_type, {})[row.value] = row.est_count
        assert row.n_seen == totals[row.event_type]
    # exact replay equivalence (single availableNow batch, pinned order)
    assert got_by_type == replay
    # Misra-Gries guarantee: freq > N/(k+1) must be present, and
    # est <= true <= est + N/(k+1)
    for et, n in totals.items():
        thresh = n / (MG_K + 1)
        for uid, true_cnt in truth[et].items():
            if true_cnt > thresh:
                assert uid in got_by_type[et], (et, uid)
        for uid, est in got_by_type[et].items():
            assert est <= truth[et][uid] <= est + thresh
