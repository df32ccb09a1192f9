"""Custom stateful streaming operators (applyInPandasWithState).

The reference keeps no per-key streaming state beyond the watermark
(SURVEY.md §2.E); this module is extension surface: arbitrary-gap
sessionization as an Arrow-batched stateful operator, the pattern any
custom per-key accumulator (rate trackers, dedup caches, CDC conflation)
follows at scale. State lives in Spark's checkpointed state store
partitioned by key — no driver-side state, so it scales with executors.

Scale notes: one shuffle on the session key per micro-batch (unavoidable —
stateful ops co-locate by key); state per key is O(1) (four scalars), so
100M live keys ≈ a few GB across the cluster; event-time timeout evicts
idle keys so state does not grow unboundedly.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

_US = 1_000_000


def sessionize_stream(
    events: DataFrame,
    gap_s: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Arbitrary-gap sessionization over a stream: rows for one key within
    ``gap_s`` of each other form a session; a session closes when a later
    event for the key exceeds the gap, or when the event-time watermark
    passes ``last_event + gap`` (idle timeout) — so every session is
    eventually emitted exactly once, in append mode.

    Equivalent batch semantics: ``F.session_window(ts, gap)`` (oracle-checked
    as a declared query); this operator is the streaming form with explicit
    state, demonstrating the applyInPandasWithState contract the built-in
    session window cannot cover (custom merge logic, custom evictions).
    """
    gap_us = gap_s * _US

    out_schema = StructType(
        [
            StructField(user_col, LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    # open-session accumulator: epoch-micros bounds + count + value sum
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
            StructField("tot", DoubleType()),
        ]
    )

    def _emit(user: int, start_us: int, last_us: int, n: int, tot: float) -> dict[str, Any]:
        return {
            user_col: user,
            "session_start": pd.Timestamp(start_us, unit="us"),
            "session_end": pd.Timestamp(last_us, unit="us"),
            "n_events": n,
            "total_value": tot,
        }

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user = key[0]
        if state.hasTimedOut:
            start_us, last_us, n, tot = state.get
            state.remove()
            yield pd.DataFrame([_emit(user, start_us, last_us, n, tot)])
            return

        parts = [p for p in pdfs if len(p)]
        closed: list[dict[str, Any]] = []
        open_state = state.get if state.exists else None
        if parts:
            batch = pd.concat(parts).sort_values(ts_col)
            ts_us = (batch[ts_col].astype("int64") // 1000).tolist()  # ns → us
            vals = batch[value_col].astype("float64").tolist()
            for t_us, v in zip(ts_us, vals):
                if open_state is None:
                    open_state = (t_us, t_us, 1, v)
                elif t_us - open_state[1] > gap_us:
                    closed.append(_emit(user, *open_state))
                    open_state = (t_us, t_us, 1, v)
                else:
                    s, _, n, tot = open_state
                    open_state = (s, max(t_us, open_state[1]), n + 1, tot + v)
        if open_state is not None:
            state.update(open_state)
            # fire once the watermark passes last+gap; clamp above the
            # current watermark (Spark rejects timeouts in the past)
            timeout_ms = max(
                (open_state[1] + gap_us) // 1000, state.getCurrentWatermarkMs() + 1
            )
            state.setTimeoutTimestamp(timeout_ms)
        if closed:
            yield pd.DataFrame(closed)

    return (
        events.withWatermark(ts_col, f"{gap_s} seconds")
        .groupBy(user_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def sessionize_sql(
    events: DataFrame,
    gap_s: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap-sessionization with built-ins only (lag → break flag → running
    sum → group) — the Spark-first batch form: whole-stage codegen, one
    shuffle for the window + map-side partial agg, no Python in the path."""
    from pyspark.sql.window import Window

    gap_us = gap_s * _US
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # cast first: the column may arrive as TIMESTAMP_NTZ (parquet
    # isAdjustedToUTC=false); unix_micros only accepts TIMESTAMP, and the
    # session tz is UTC so the cast is value-preserving
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    brk = (us - F.lag(us).over(w) > gap_us).cast("int")
    sid = F.sum(F.coalesce(brk, F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.select(user_col, ts_col, value_col)
        .withColumn("_sid", sid)
        .groupBy(user_col, "_sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .drop("_sid")
    )
