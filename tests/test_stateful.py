"""Stateful streaming sessionization (applyInPandasWithState).

Feeds a file stream one file per micro-batch so state carries across
batches: gap-closure emits within a later batch, and event-time timeout
evicts idle keys once the watermark passes last_event + gap.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pytest

from arcane_stream_microsoft_synapse_link_spark.streaming.stateful import sessionize_stream

T0 = datetime(2024, 1, 1, 0, 0, 0)
GAP_S = 60
# (user, seconds after T0, value) per micro-batch
BATCHES = (
    # user 1 two events 10s apart → one open session in state
    [(1, 0, 1.0), (1, 10, 2.0)],
    # user 1 far-future event (closes [0,10] by gap), user 2 appears
    [(1, 1000, 5.0), (2, 1100, 7.0)],
    # watermark jumps to 5000-60 → user1 [1000] and user2 [1100] sessions
    # time out and flush; user 3 stays open (never emitted)
    [(3, 5000, 9.0)],
)


def _write_batch(spark, path: str, rows, mtime: float) -> None:
    df = spark.createDataFrame(
        [(u, T0 + timedelta(seconds=s), v) for (u, s, v) in rows],
        "user_id long, ts timestamp, value double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    for f in os.listdir(path):
        os.utime(os.path.join(path, f), (mtime, mtime))
    os.utime(path, (mtime, mtime))


@pytest.fixture(scope="module")
def sessions(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sessional")
    src = root / "src"
    src.mkdir()
    now = time.time()
    for i, batch in enumerate(BATCHES):
        _write_batch(spark, str(src / f"b{i}"), batch, now - 30 + 10 * i)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = sessionize_stream(stream, gap_s=GAP_S)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }


def test_gap_closes_session_across_batches(sessions):
    key = (1, T0, T0 + timedelta(seconds=10))
    assert sessions.get(key) == (2, 3.0)


def test_idle_timeout_flushes_open_sessions(sessions):
    t1 = T0 + timedelta(seconds=1000)
    t2 = T0 + timedelta(seconds=1100)
    assert sessions.get((1, t1, t1)) == (1, 5.0)
    assert sessions.get((2, t2, t2)) == (1, 7.0)


def test_open_session_not_emitted(sessions):
    assert not any(k[0] == 3 for k in sessions)
    assert len(sessions) == 3


def test_streamed_sessions_match_sql_form(spark, sessions):
    """The streaming form emits what the batch form (``sessionize_sql``,
    the declared ``ops_sessionize``) computes over the same rows, minus
    user 3's session, which is still open when the stream ends."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.stateful import sessionize_sql

    rows = [
        (u, T0 + timedelta(seconds=s), v) for batch in BATCHES for (u, s, v) in batch
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    closed = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in sessionize_sql(df, gap_s=GAP_S).collect()
        if r.user_id != 3
    }
    assert closed == sessions
