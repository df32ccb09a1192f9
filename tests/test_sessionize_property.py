"""Property-based sessionization: random event sets through the built-in
window/agg form must match a trivially-correct Python oracle (walk sorted
events, split on gap)."""

from __future__ import annotations

import pytest

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arcane_stream_microsoft_synapse_link_spark.streaming.stateful import sessionize_sql

T0 = datetime(2024, 1, 1)
GAP_S = 60

# (user 0-3, offset seconds 0-1000, value) — offsets collide across users,
# duplicate timestamps within a user are allowed (gap 0 → same session)
event = st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 9))
events_strategy = st.lists(event, min_size=1, max_size=40)


def oracle(events):
    sessions = []
    by_user: dict[int, list[tuple[int, int]]] = {}
    for u, s, v in events:
        by_user.setdefault(u, []).append((s, v))
    for u, evs in by_user.items():
        evs.sort()
        start, last, n, tot = evs[0][0], evs[0][0], 1, float(evs[0][1])
        for s, v in evs[1:]:
            if s - last > GAP_S:
                sessions.append((u, start, last, n, tot))
                start, last, n, tot = s, s, 1, float(v)
            else:
                last, n, tot = s, n + 1, tot + v
        sessions.append((u, start, last, n, tot))
    return sorted(sessions)


def canon(df):
    e0 = T0
    return sorted(
        (
            r.user_id,
            int((r.session_start - e0).total_seconds()),
            int((r.session_end - e0).total_seconds()),
            r.n_events,
            round(r.total_value, 6),
        )
        for r in df.collect()
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=events_strategy)
@pytest.mark.slow
def test_sessionize_matches_oracle(spark, events):
    df = spark.createDataFrame(
        [(u, T0 + timedelta(seconds=s), float(v)) for (u, s, v) in events],
        "user_id long, ts timestamp, value double",
    )
    expected = oracle(events)
    assert canon(sessionize_sql(df, gap_s=GAP_S)) == expected
