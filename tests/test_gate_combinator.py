"""The streaming intake gates' shared skeleton (``structured._run_gate``)
driven by a toy two-store gate: fault-hook order, replay-safe reads,
in-step compaction and crash-restart idempotency, in the default tier."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
    _run_gate,
    read_batches,
)


class _Bomb(Exception):
    pass


def test_gate_combinator_replay_hooks_and_compaction(spark, tmp_path):
    src, work, ckpt = tmp_path / "src", str(tmp_path / "work"), str(tmp_path / "ckpt")
    # four one-file micro-batches: with keep_last=2 the first segment can
    # only appear once four batches exist (after batch 3)
    for b in range(4):
        spark.createDataFrame(
            [(10 * b + i,) for i in range(3)], "id long"
        ).coalesce(1).write.parquet(str(src / f"f{b}"))
    # a crashed write's leftovers: rows without _SUCCESS must stay invisible
    partial = os.path.join(work, "first", "batch_id=-1")
    spark.createDataFrame([(-1,)], "id long").withColumn("src", F.lit(-1)).write.parquet(
        partial
    )
    os.remove(os.path.join(partial, "_SUCCESS"))

    seen: dict[int, set[int]] = {}
    hooks: list[tuple[str, int]] = []

    def step(batch_df, g):
        prior = g.prior("first")
        seen[g.batch_id] = (
            set() if prior is None else {r["src"] for r in prior.select("src").collect()}
        )
        rows = batch_df.withColumn("src", F.lit(g.batch_id))
        g.write("first", rows)
        g.write("second", rows)

    def run(crash_at=None):
        def hook(stage, batch_id):
            hooks.append((stage, batch_id))
            if (stage, batch_id) == crash_at:
                raise _Bomb(f"injected crash at {stage} batch {batch_id}")

        stream = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        return _run_gate(spark, stream, work, ckpt, step, hook, compact_every=2)

    with pytest.raises(Exception, match="injected crash"):
        run(crash_at=("after_first", 1)).awaitTermination(120)
    assert hooks == [("after_first", 0), ("after_second", 0), ("after_first", 1)]

    hooks.clear()
    run().awaitTermination(120)
    # the replayed batch 1 and every later batch fire one hook per write,
    # in write order
    assert hooks == [(f"after_{s}", b) for b in (1, 2, 3) for s in ("first", "second")]
    # every batch saw exactly the complete batches before it — never its
    # own crashed attempt, never the _SUCCESS-less leftovers
    assert seen == {b: set(range(b)) for b in range(4)}

    # (3 + 1) % 2 == 0: batches 0-1 were folded into one segment, the
    # replay window (2, 3) stayed batch dirs
    for store in ("first", "second"):
        with open(os.path.join(work, store, "_compacted.json")) as f:
            manifest = json.load(f)
        assert [s["covered"] for s in manifest["segments"]] == [[0, 1]]
        rows = [(r["id"], r["src"]) for r in read_batches(spark, f"{work}/{store}").collect()]
        # the crash between the two writes left no duplicate
        assert sorted(rows) == [(10 * b + i, b) for b in range(4) for i in range(3)]
