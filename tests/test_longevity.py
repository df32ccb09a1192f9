"""Streaming-gate longevity probes (VERDICT r8 item 5).

A long-lived intake gate's failure modes are cumulative, not per-batch:
unbounded ``batch_id=`` directory counts (the small-files killer), per-batch
latency creeping up as the accumulated state grows, and state corruption
across restart + compaction.  These tests drive ≥100 real micro-batches
(``maxFilesPerTrigger=1`` under an availableNow trigger, so every source
file is its own foreachBatch invocation) through the near-dup and span-dedup
gates with in-step compaction (``compact_every=10``), a mid-run restart at
batch 60, and duplicates planted at a 50-batch lag so correctness is probed
ACROSS the compaction horizon — every original a late batch must match
against has long been folded into a segment by the time its copy arrives.

Asserted per gate:

- **bounded state dirs**: on-disk ``batch_id=`` dirs per store stay under
  ``keep_last + compact_every + grace-pending`` regardless of batch count
  (at 8.6k batches/day the un-compacted alternative is 8.6k dirs/day);
- **non-growing latency**: the median trigger duration of the LAST 20
  micro-batches is within 3× the steady median of batches 10-40 (generous
  to this box's GC noise; catches monotonic growth, the actual risk);
- **correctness across restart + compaction**: all 50 planted lag-50
  duplicates are caught — the last 40 arrive after the restart and match
  originals that live only in compacted segments.

Marked ``slow``: ~2-4 min each.  The measured latency curve is printed
(decile medians) and recorded in SCALE.md's gate-longevity block.
"""

from __future__ import annotations

import os
import random
import statistics

import pytest

from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
    compact_gate_state,
    read_batches,
    run_dedup_stream,
    run_span_dedup_stream,
)

N_BATCHES = 100
LAG = 50
RESTART_AT = 60
COMPACT_EVERY = 10


def _batch_dirs(store: str) -> list[str]:
    if not os.path.isdir(store):
        return []
    return [n for n in os.listdir(store) if n.startswith("batch_id=")]


def _durations(query) -> list[float]:
    """Per-micro-batch triggerExecution millis for batches that read rows."""
    out = []
    for p in query.recentProgress or []:
        if p.get("numInputRows", 0) > 0:
            out.append(float(p["durationMs"]["triggerExecution"]))
    return out


def _assert_latency_flat(durs: list[float], label: str) -> None:
    assert len(durs) >= N_BATCHES - 5, f"{label}: lost progress events: {len(durs)}"
    steady = statistics.median(durs[10:40])
    tail = statistics.median(durs[-20:])
    deciles = [
        round(statistics.median(durs[i : i + 10])) for i in range(0, len(durs) - 9, 10)
    ]
    print(f"{label} per-decile median trigger ms: {deciles}")
    assert tail <= 3.0 * steady, (
        f"{label}: per-batch latency grew: steady {steady:.0f} ms -> tail "
        f"{tail:.0f} ms (deciles {deciles})"
    )


def _assert_bounded_dirs(work: str, stores: tuple[str, ...], label: str) -> None:
    # worst case on disk: keep_last(2) + dirs since the last compaction
    # trigger (< COMPACT_EVERY) + one grace cycle of pending deletes
    # (<= COMPACT_EVERY + prior segment) — a constant, NOT O(batches)
    bound = 2 * COMPACT_EVERY + 4
    for store in stores:
        dirs = _batch_dirs(os.path.join(work, store))
        assert len(dirs) <= bound, (
            f"{label}/{store}: {len(dirs)} batch dirs on disk after "
            f"{N_BATCHES} micro-batches (bound {bound}) — compaction is not "
            f"keeping up"
        )


@pytest.mark.slow
def test_near_dup_gate_longevity_100_batches(spark, tmp_path):
    rng = random.Random(97)
    vocab = [f"w{i}" for i in range(4000)]

    def doc() -> str:
        return " ".join(rng.choice(vocab) for _ in range(30))

    texts: dict[tuple[int, int], str] = {}
    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")

    def write_folder(b: int) -> None:
        rows = []
        for j in range(4):
            t = texts[(b - LAG, 0)] if (j == 0 and b >= LAG) else doc()
            texts[(b, j)] = t
            rows.append((b * 10 + j, t))
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{b:03d}"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )

    for b in range(RESTART_AT):
        write_folder(b)
    q1 = run_dedup_stream(
        spark, stream(), work, ckpt, threshold=0.7, compact_every=COMPACT_EVERY
    )
    q1.awaitTermination(900)
    durs = _durations(q1)

    # mid-run maintenance between restarts — the cadence-job path
    compact_gate_state(spark, work, keep_last=2)

    for b in range(RESTART_AT, N_BATCHES):
        write_folder(b)
    q2 = run_dedup_stream(
        spark, stream(), work, ckpt, threshold=0.7, compact_every=COMPACT_EVERY
    )
    q2.awaitTermination(900)
    durs += _durations(q2)

    # correctness across restart + compaction: every lag-50 copy rejected,
    # every hit names its true original (which lives in a segment by now)
    copies = {b * 10 for b in range(LAG, N_BATCHES)}
    admitted = {r["doc_id"] for r in read_batches(spark, f"{work}/corpus").collect()}
    assert admitted == {b * 10 + j for b in range(N_BATCHES) for j in range(4)} - copies
    hits = {
        (r["id_a"], r["id_b"])
        for r in read_batches(spark, f"{work}/hits").collect()
    }
    assert {(b * 10, (b - LAG) * 10) for b in range(LAG, N_BATCHES)} <= hits

    _assert_bounded_dirs(work, ("corpus", "band_index", "hits"), "near_dup")
    _assert_latency_flat(durs, "near_dup")


@pytest.mark.slow
def test_span_dedup_gate_longevity_100_batches(spark, tmp_path):
    sw, ss = 8, 3  # sentence_words, span_sents

    def sent(b: int, j: int, s: int) -> str:
        return " ".join(f"b{b}d{j}s{s}w{w}" for w in range(sw))

    def block(b: int) -> str:
        return " ".join(f"blk{b}s{s}w{w}" for s in range(ss) for w in range(sw))

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")

    def write_folder(b: int) -> None:
        rows = []
        for j in range(3):
            if j == 0:
                # the doc opens with a 3-sentence block; for b >= LAG it is
                # the block batch b-LAG planted, whose keeper is compacted
                lead = block(b - LAG) if b >= LAG else block(b)
                t = lead + " " + " ".join(sent(b, j, s) for s in range(3))
            else:
                t = " ".join(sent(b, j, s) for s in range(6))
            rows.append((b * 10 + j, t))
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{b:03d}"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )

    for b in range(RESTART_AT):
        write_folder(b)
    q1 = run_span_dedup_stream(
        spark, stream(), work, ckpt, sentence_words=sw, span_sents=ss,
        compact_every=COMPACT_EVERY,
    )
    q1.awaitTermination(900)
    durs = _durations(q1)

    compact_gate_state(spark, work, keep_last=2)

    for b in range(RESTART_AT, N_BATCHES):
        write_folder(b)
    q2 = run_span_dedup_stream(
        spark, stream(), work, ckpt, sentence_words=sw, span_sents=ss,
        compact_every=COMPACT_EVERY,
    )
    q2.awaitTermination(900)
    durs += _durations(q2)

    got = {
        r["doc_id"]: r
        for r in read_batches(spark, f"{work}/corpus").collect()
    }
    assert len(got) == 3 * N_BATCHES  # every doc admitted (spans removed, not docs)
    for b in range(N_BATCHES):
        lead_doc = got[b * 10]
        if b >= LAG:
            # the lag-50 block was known (its keeper batch is compacted):
            # all 3 sentences removed from the late copy
            assert lead_doc["n_removed"] == ss, (b, lead_doc["n_removed"])
            assert f"blk{b - LAG}s0w0" not in lead_doc["cleaned"]
        else:
            assert lead_doc["n_removed"] == 0, (b, lead_doc["n_removed"])
        assert got[b * 10 + 1]["n_removed"] == 0

    _assert_bounded_dirs(work, ("corpus", "span_index"), "span_dedup")
    _assert_latency_flat(durs, "span_dedup")


@pytest.mark.slow
def test_exact_substring_gate_across_compaction_and_restart(spark, tmp_path):
    """20 micro-batches through run_exact_substring_stream with in-step
    compaction every 5 and a mid-run restart: a 20-token run admitted in
    batch b must still be CUT when it reappears at lag 8 — by then its
    gram-index rows live in a compacted segment — and unique text is
    never touched.  Extends the gate-longevity evidence to the
    exact-substring gate (round 10)."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        compact_gate_state,
        run_exact_substring_stream,
    )

    N, LAG, RESTART_AT, COMPACT_EVERY = 20, 8, 10, 5

    def uniq(b: int, j: int) -> str:
        return " ".join(f"u{b}x{j}w{i}" for i in range(25))

    runs: dict[int, str] = {}
    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")

    def write_folder(b: int) -> None:
        runs[b] = " ".join(f"r{b}tok{i}" for i in range(20))  # the L=20 run
        rows = [(b * 10, runs[b] + " " + uniq(b, 0))]
        if b >= LAG:
            # replay of batch b-LAG's run inside fresh context
            rows.append((b * 10 + 1, uniq(b, 1) + " " + runs[b - LAG]))
        rows.append((b * 10 + 2, uniq(b, 2)))
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{b:03d}"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )

    for b in range(RESTART_AT):
        write_folder(b)
    q1 = run_exact_substring_stream(
        spark, stream(), work, ckpt, compact_every=COMPACT_EVERY
    )
    q1.awaitTermination(900)

    # mid-run maintenance between restarts — the cadence-job path
    compact_gate_state(spark, work, keep_last=2)

    for b in range(RESTART_AT, N):
        write_folder(b)
    q2 = run_exact_substring_stream(
        spark, stream(), work, ckpt, compact_every=COMPACT_EVERY
    )
    q2.awaitTermination(900)

    # the corpus store is compacted (batch dirs + segments): read through
    # the manifest-aware reader, as any downstream consumer must
    got = {
        r["doc_id"]: r
        for r in read_batches(spark, os.path.join(work, "corpus")).collect()
    }
    assert sorted(got) == sorted(set(got))  # no double admissions
    for b in range(N):
        # the first copy of each run is kept whole
        assert got[b * 10]["n_removed"] == 0, (b, got[b * 10])
        # the lag-LAG replay is cut even across compaction + restart
        if b >= LAG:
            rep = got[b * 10 + 1]
            assert rep["n_removed"] == 20, (b, rep)
            assert runs[b - LAG] not in rep["cleaned"]
            assert rep["cleaned"] == uniq(b, 1)
        # unique filler documents are identity
        assert got[b * 10 + 2]["n_removed"] == 0


@pytest.mark.slow
def test_multi_entity_huge_blob_chunked_intake(spark, tmp_path):
    """VERDICT r10 item 7 — multi-entity × huge-blob intake probe: entity
    0's change window is ONE huge CSV blob (the 100× shape: ~45 MB, 150k
    rows in a single file) while 7 entities stream small folders, all
    eight as CONCURRENT structured streams in one app.  Asserts (a) the
    status store's stage data — jobs resolved via the streaming query's
    runId job group — shows the blob's scan ran in more than one task (the
    micro-batch's line-splittable read cuts the file into byte ranges, not
    one task per file), and (b) every entity's target lands complete and
    correct."""
    import os
    from datetime import datetime

    from arcane_stream_microsoft_synapse_link_spark.sources.stream import register
    from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamSpec
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_structured,
    )

    from .synapse_fixture import ENTITY, SynapseFixture, data_row, model_json

    n_small, n_blob = 2000, 150_000
    ts = datetime(2021, 8, 1, 12, 0)

    def build_entity(i: int) -> str:
        fx = SynapseFixture(str(tmp_path / f"e{i}" / "source"))
        name = fx.folder_name(ts)
        d = os.path.join(fx.root, name, ENTITY)
        os.makedirs(d)
        with open(os.path.join(fx.root, name, "model.json"), "w") as fh:
            fh.write(model_json())
        n = n_blob if i == 0 else n_small
        rows = [
            data_row(f"{i:02d}{j:06d}-aaaa-bbbb-cccc-ddddeeee0000", 6_000_000_000 + j, f"D{j}")
            for j in range(n)
        ]
        with open(os.path.join(d, "data.csv"), "w") as fh:
            fh.write("\n".join(rows) + "\n")
        fx.set_changelog(name)
        return fx.root

    roots = [build_entity(i) for i in range(8)]

    # (a)+(b): eight concurrent streams, full CDC merge
    register(spark)
    queries = []
    for i, root in enumerate(roots):
        spec = StreamSpec(
            entity_name=ENTITY,
            source_root=root,
            target_root=str(tmp_path / f"e{i}" / "target"),
        )
        q = run_structured(spark, spec, str(tmp_path / f"e{i}" / "ckpt"))
        queries.append((i, q, str(q.runId), spec))
    for _i, q, _rid, _s in queries:
        q.awaitTermination(600)

    # the first stage of the blob's micro-batch that reads input is the
    # change CSV's scan (the pin in StreamRunner._merge_folder_batch)
    st = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    blob_run_id = queries[0][2]
    reads = []  # (stage id, tasks) of the stages that read input
    for j in st.getJobIdsForGroup(blob_run_id):
        ji = st.getJobInfo(j)
        if ji is None:
            continue
        for sid in ji.stageIds:
            sd = store.lastStageAttempt(sid)
            if sd.inputBytes() > 0:
                reads.append((sid, sd.numTasks()))
    assert reads and min(reads)[1] > 1, reads

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    for i, _q, _rid, spec in queries:
        got = VersionedTable(spec.target_root).read(spark).count()
        assert got == (n_blob if i == 0 else n_small), (i, got)


@pytest.mark.slow
def test_url_dedup_gate_longevity_100_batches(spark, tmp_path):
    """run_url_dedup_stream over 100 micro-batches with in-step compaction
    and a restart at batch 60: each batch brings 3 fresh URLs plus one
    refetch of the URL admitted LAG batches earlier (different raw
    spelling — tracking params — same canonical form); the refetch must be
    rejected by the accumulated index every time, batch-dir counts stay
    bounded, and per-batch latency stays flat (state is canonical-key-only
    so cost must not grow with history)."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_url_dedup_stream,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    schema = "doc_id long, url string, text string"

    def url(b: int, j: int, refetch: bool = False) -> str:
        base = f"https://host{j}.example.com/p/{b}/{j}"
        return base + ("?utm_source=refetch" if refetch else "")

    def write_folder(b: int) -> None:
        rows = []
        for j in range(3):
            rows.append((b * 10 + j, url(b, j), f"text {b} {j}"))
        if b >= LAG:
            rows.append((b * 10 + 9, url(b - LAG, 0, refetch=True), "refetched"))
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"b{b:03d}")
        )

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )

    for b in range(RESTART_AT):
        write_folder(b)
    q1 = run_url_dedup_stream(spark, stream(), work, ckpt, compact_every=COMPACT_EVERY)
    q1.awaitTermination(900)
    durs = _durations(q1)

    compact_gate_state(spark, work, keep_last=2)

    for b in range(RESTART_AT, N_BATCHES):
        write_folder(b)
    q2 = run_url_dedup_stream(spark, stream(), work, ckpt, compact_every=COMPACT_EVERY)
    q2.awaitTermination(900)
    durs += _durations(q2)

    admitted = {r["doc_id"] for r in read_batches(spark, f"{work}/corpus").collect()}
    want = {b * 10 + j for b in range(N_BATCHES) for j in range(3)}
    assert admitted == want  # every refetch rejected, nothing else lost
    hits = read_batches(spark, f"{work}/hits").collect()
    index_rejects = {r["doc_id"] for r in hits if r["reason"] == "index"}
    assert index_rejects == {b * 10 + 9 for b in range(LAG, N_BATCHES)}

    _assert_bounded_dirs(work, ("corpus", "url_index", "hits"), "url_dedup")
    _assert_latency_flat(durs, "url_dedup")


@pytest.mark.slow
def test_pagerank_refresh_cost_curve_50_batches(spark, tmp_path):
    """Refresh-on-cadence cost curve (VERDICT r12 item 5): pagerank_refresh
    recomputes the global fixpoint over the WHOLE accumulated edge store —
    the documented concession — so its cost must grow (at most) linearly in
    |E| with a CONSTANT per-refresh job count, or the cadence
    recommendation is wishful.  50 edge micro-batches drain through the CC
    gate; a refresh runs every 10 batches; per refresh we record the
    accumulated edge count, the wall time, and the Spark job count
    (submission-time window over the status store).  Asserted:

    - per-EDGE refresh cost does not grow: t_last/|E_last| <= 2× t_first/
      |E_first| (generous to this box's steal noise — catches the
      superlinear failure, the actual risk);
    - job count per refresh is CONSTANT (same plan every time: fixed
      iterations, lineage truncated per round) — ±2 for AQE wiggle.

    The measured curve lands in SCALE_PR_REFRESH.json and SCALE.md's
    round-13 block."""
    import json
    import time

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        pagerank_refresh,
        run_cc_stream,
    )

    src = tmp_path / "edges"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    per_batch = 2_000

    def write_batch_folder(b: int) -> None:
        # deterministic edge grammar: chains + cross-batch backlinks so the
        # graph stays connected-ish and node count grows with the store
        rows = []
        for k in range(per_batch):
            s = b * per_batch + k
            d = (s * 37 + 11) % ((b + 1) * per_batch)
            if s != d:
                rows.append((s, d))
        spark.createDataFrame(rows, "src long, dst long").coalesce(1).write.parquet(
            str(src / f"b{b:03d}")
        )

    def stream():
        return (
            spark.readStream.schema("src long, dst long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )

    def jobs_between(t0_ms: float, t1_ms: float) -> int:
        store = spark.sparkContext._jsc.sc().statusStore()
        jl = store.jobsList(None)
        n = 0
        for i in range(jl.size()):
            sub = jl.apply(i).submissionTime()
            if sub.isDefined() and t0_ms <= sub.get().getTime() <= t1_ms:
                n += 1
        return n

    jvm_now = lambda: float(  # noqa: E731
        spark.sparkContext._jvm.java.lang.System.currentTimeMillis()
    )

    curve = []
    for leg in range(5):
        for b in range(leg * 10, (leg + 1) * 10):
            write_batch_folder(b)
        run_cc_stream(spark, stream(), work, ckpt).awaitTermination(900)
        edges = read_batches(spark, f"{work}/edges")
        n_edges = edges.select("src", "dst").distinct().count()
        j0, t0 = jvm_now(), time.perf_counter()
        v = pagerank_refresh(spark, work, iterations=3)
        dt, j1 = time.perf_counter() - t0, jvm_now()
        assert v == leg + 1
        curve.append(
            {
                "refresh": leg + 1,
                "n_edges": n_edges,
                "wall_s": round(dt, 2),
                "us_per_edge": round(1e6 * dt / n_edges, 1),
                "n_jobs": jobs_between(j0, j1),
            }
        )

    with open(tmp_path / "SCALE_PR_REFRESH.json", "w") as fh:
        json.dump({"per_batch_edges": per_batch, "iterations": 3, "curve": curve}, fh, indent=1)
    print("pagerank refresh curve:", curve)

    first, last = curve[0], curve[-1]
    assert last["n_edges"] > 4 * first["n_edges"]  # the store really grew
    per_edge_first = first["wall_s"] / first["n_edges"]
    per_edge_last = last["wall_s"] / last["n_edges"]
    assert per_edge_last <= 2.0 * per_edge_first, (
        f"superlinear refresh cost: {curve}"
    )
    jobs = [c["n_jobs"] for c in curve]
    assert max(jobs) - min(jobs) <= 2, f"per-refresh job count drifts: {jobs}"
