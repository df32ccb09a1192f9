"""Structured Streaming path: the synapse_link Python DataSource feeding
foreachBatch CDC merges. Replays the reference e2e oracle through the
readStream API (offsets in the checkpoint, availableNow drain), and checks
restart/resume semantics."""

from __future__ import annotations

import os
from dataclasses import replace

import pytest

from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamRunner, StreamSpec
from arcane_stream_microsoft_synapse_link_spark.streaming.structured import run_structured

from .synapse_fixture import BASE_VERSION, ENTITY, KEYS, SynapseFixture, minus


@pytest.fixture()
def scenario(tmp_path):
    fx = SynapseFixture(tmp_path / "source")
    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=str(tmp_path / "source"),
        target_root=str(tmp_path / "target"),
        metrics_path=str(tmp_path / "metrics.jsonl"),
    )
    return fx, spec, str(tmp_path / "ckpt")


def _state(spark, spec):
    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    df = VersionedTable(spec.target_root).read(spark)
    return {r["Id"]: r["versionnumber"] for r in df.select("Id", "versionnumber").collect()}


def test_structured_stream_e2e(spark, scenario):
    fx, spec, ckpt = scenario
    fx.upload_batch(minus(hours=2))
    fx.upload_batch(minus(hours=1), update_changelog=True)
    fx.upload_batch(minus(minutes=15), add_delete=True, add_upsert=True)
    fx.upload_batch(minus(minutes=5), update_changelog=True)

    q = run_structured(spark, spec, ckpt, available_now=True)
    q.awaitTermination(120)

    state = _state(spark, spec)
    assert len(state) == 5 - 1 + 2
    assert KEYS[0] not in state
    assert state[KEYS[1]] == BASE_VERSION + 100
    assert KEYS[5] in state and KEYS[6] in state

    # observability: progress listener captured micro-batch events
    # (listener bus is async — poll briefly)
    import json as _json
    import time as _time

    for _ in range(50):
        try:
            with open(spec.metrics_path) as fh:
                events = [_json.loads(x) for x in fh]
        except FileNotFoundError:
            events = []
        if any(e.get("event") == "progress" for e in events):
            break
        _time.sleep(0.2)
    assert any(e.get("event") == "progress" for e in events)


def test_structured_stream_refuses_a_schemed_root_on_the_driver(spark, scenario):
    """The source lists offsets in Spark's Python planner worker, which
    cannot reach the Hadoop FileSystem, so a ``file://`` root is refused
    before any query starts instead of failing at ``latestOffset``."""
    fx, spec, ckpt = scenario
    fx.upload_batch(minus(hours=1), update_changelog=True)
    spec = replace(spec, source_root=f"file://{spec.source_root}")
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="file://.*StreamRunner.run or run_once"):
        run_structured(spark, spec, ckpt, available_now=True)
    assert len(spark.streams.active) == active
    assert not os.path.exists(ckpt)


def test_structured_stream_resumes_from_checkpoint(spark, scenario):
    """New data after a drain: restart from the same checkpoint processes
    only the new folders (offset persistence), and the merge result is
    correct without re-reading history."""
    fx, spec, ckpt = scenario
    fx.upload_batch(minus(hours=1), update_changelog=True)
    q = run_structured(spark, spec, ckpt, available_now=True)
    q.awaitTermination(120)
    assert len(_state(spark, spec)) == 5

    fx.upload_batch(minus(minutes=10), add_upsert=True, update_changelog=True)
    q2 = run_structured(spark, spec, ckpt, available_now=True)
    q2.awaitTermination(120)

    state = _state(spark, spec)
    assert len(state) == 7
    assert state[KEYS[1]] == BASE_VERSION + 100


def test_schema_evolution_through_stream(spark, scenario):
    """A mid-stream batch whose model.json adds a column (SURVEY watch-list
    item 3): the new column appears in the target, the evolved row carries
    its value, pre-evolution rows read null — without disturbing the CDC
    row semantics."""
    fx, spec, ckpt = scenario
    fx.upload_batch(minus(hours=2), update_changelog=True)
    q = run_structured(spark, spec, ckpt, available_now=True)
    q.awaitTermination(120)

    fx.upload_evolved_batch(
        minus(minutes=30),
        key=KEYS[2],
        version=BASE_VERSION + 300,
        display="D-EVOLVED",
        extra_value="X1",
        update_changelog=True,
    )
    q2 = run_structured(spark, spec, ckpt, available_now=True)
    q2.awaitTermination(120)

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    df = VersionedTable(spec.target_root).read(spark)
    assert "extracol" in df.columns
    vals = {r["Id"]: r["extracol"] for r in df.select("Id", "extracol").collect()}
    assert vals[KEYS[2]] == "X1"
    assert all(v is None for k, v in vals.items() if k != KEYS[2])
    state = _state(spark, spec)
    assert len(state) == 5 and state[KEYS[2]] == BASE_VERSION + 300


def test_max_folders_per_trigger_caps_admission(spark, scenario):
    """B18 static shaper: a continuously-triggered stream with
    maxFoldersPerTrigger=1 admits one folder per micro-batch once it runs
    (its first trigger, which Spark plans before the source learns its
    start offset, is uncapped — and so is an availableNow drain).  Same
    final state, one folder per batch."""
    import time

    fx, spec, ckpt = scenario
    spec = replace(spec, max_folders_per_tick=1, change_capture_interval_s=1)
    q = run_structured(spark, spec, ckpt, available_now=False)
    try:
        deadline = time.time() + 90
        while not q.recentProgress:  # the first, empty trigger
            assert time.time() < deadline
            time.sleep(0.2)
        fx.upload_batch(minus(hours=3))
        fx.upload_batch(minus(hours=2))
        last = fx.upload_batch(minus(hours=1), add_upsert=True, update_changelog=True)
        _wait_watermark(spec.target_root, last)
    finally:
        q.stop()
    state = _state(spark, spec)
    assert len(state) == 7  # 5 base + 2 inserts
    # the source emits one row per admitted folder: three folders, three
    # micro-batches of one
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [1, 1, 1]


def _wait_watermark(root, folder, timeout_s=90):
    import time

    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    deadline = time.time() + timeout_s
    while VersionedTable(root).watermark() != folder:
        assert time.time() < deadline, f"watermark never reached {folder}"
        time.sleep(0.3)


def test_structured_and_batch_drivers_agree(spark, tmp_path):
    """run_structured and run_once over one history give the same target
    rows and watermark: a delete, a stale re-upload, an insert deleted in
    the same window, and a model.json ADD COLUMN that lands while a
    processingTime query runs (merged at once, no restart), then a folder
    on the old schema."""
    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    from .synapse_fixture import data_row, delete_row

    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=4))
    fx.upload_batch(minus(hours=3), add_delete=True, add_upsert=True)
    stale = fx.write_folder(
        minus(hours=2),
        [data_row(KEYS[1], BASE_VERSION + 1, "D-STALE"), delete_row(KEYS[5], BASE_VERSION + 200)],
    )
    fx.set_changelog(stale)

    def spec(name):
        return StreamSpec(
            entity_name=ENTITY,
            source_root=fx.root,
            target_root=str(tmp_path / name),
            change_capture_interval_s=1,
        )

    batch = StreamRunner(spark, spec("batch"))
    streamed = spec("stream")
    q = run_structured(spark, streamed, str(tmp_path / "ckpt"), available_now=False)
    try:
        steps = [
            lambda: stale,
            lambda: fx.upload_evolved_batch(
                minus(hours=1), key=KEYS[2], version=BASE_VERSION + 300,
                display="D-EVOLVED", extra_value="X1",
            ),
            lambda: fx.write_folder(
                minus(minutes=30), [data_row(KEYS[3], BASE_VERSION + 400, "D-LATE")]
            ),
        ]
        for step in steps:
            folder = step()
            fx.set_changelog(folder)
            assert batch.run_once() >= 1
            _wait_watermark(streamed.target_root, folder)
    finally:
        q.stop()

    def rows(root):
        table = VersionedTable(root)
        return table.watermark(), {r["Id"]: r.asDict() for r in table.read(spark).collect()}

    want, got = rows(batch.spec.target_root), rows(streamed.target_root)
    assert got == want
    assert set(want[1]) == set(KEYS) - {KEYS[0], KEYS[5]}
    assert want[1][KEYS[2]]["extracol"] == "X1"
    assert want[1][KEYS[1]]["displayvalue"] == "D-UPDATED"
    assert (want[1][KEYS[3]]["displayvalue"], want[1][KEYS[3]]["extracol"]) == ("D-LATE", None)


def test_progress_listener_writes_only_its_own_query(spark, tmp_path):
    """Two drains with metrics in one session: each JSONL holds exactly its
    own query's started, progress and terminated events, and each listener
    is gone once its query has terminated."""
    import json
    import time

    fx = SynapseFixture(tmp_path / "source")
    fx.upload_batch(minus(hours=1), update_changelog=True)
    listeners = spark.streams._jsqm.listListeners
    before = len(listeners())
    runs = []
    for i in range(2):
        spec = StreamSpec(
            entity_name=ENTITY,
            source_root=fx.root,
            target_root=str(tmp_path / f"target{i}"),
            metrics_path=str(tmp_path / f"m{i}.jsonl"),
        )
        q = run_structured(spark, spec, str(tmp_path / f"ckpt{i}"))
        q.awaitTermination(120)
        runs.append((spec.metrics_path, str(q.runId)))

    def events(path):
        """The listener's events; the runner's per-batch records share
        the file."""
        if not os.path.exists(path):
            return []
        with open(path) as fh:
            return [e for e in map(json.loads, fh) if "event" in e]

    # the listener bus is asynchronous: wait for both terminations and the
    # listeners' removal
    def settled():
        ends = [events(p)[-1:] for p, _ in runs]
        return len(listeners()) == before and all(e and e[0]["event"] == "terminated" for e in ends)

    deadline = time.time() + 60
    while time.time() < deadline and not settled():
        time.sleep(0.2)
    time.sleep(1.0)  # any stray late event would land by now
    for path, run_id in runs:
        got = events(path)
        kinds = [e["event"] for e in got]
        assert {e["runId"] for e in got} == {run_id}, (path, got)
        assert kinds[0] == "started" and kinds[-1] == "terminated", kinds
        assert kinds.count("started") == kinds.count("terminated") == 1, kinds
        assert "progress" in kinds
    assert len(listeners()) == before


def test_analyze_stats(spark, scenario):
    fx, spec, _ = scenario
    fx.upload_batch(minus(hours=1), update_changelog=True)
    runner = StreamRunner(spark, spec)
    runner.backfill()
    stats = runner.table.analyze(spark, columns=["Id", "versionnumber"])
    assert stats["rows"] == 5
    assert stats["columns"]["Id"]["nulls"] == 0
    assert stats["columns"]["versionnumber"]["ndv"] >= 4
    assert runner.table.stats()["rows"] == 5


@pytest.mark.slow
def test_streaming_dedup_pipeline(spark, tmp_path):
    """run_dedup_stream: batch 1 admits fresh docs and builds the index;
    batch 2's copies of batch-1 docs are caught against the STORED index
    (cross-batch dedup without re-signing the corpus) while fresh docs
    pass; restarting the query for batch 2 exercises the checkpoint."""
    import random as _r

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_dedup_stream,
    )

    rng = _r.Random(47)
    vocab = [f"tok{i}" for i in range(300)]

    def doc(n=50):
        return " ".join(rng.choice(vocab) for _ in range(n))

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    batch1 = [(i, doc()) for i in range(20)]
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b1")
    )

    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_dedup_stream(spark, stream(), work, ckpt, threshold=0.5)
    q.awaitTermination(120)

    corpus = spark.read.parquet(f"{work}/corpus")
    assert corpus.count() == 20

    # batch 2: two exact copies + one near-dup of admitted docs + 3 fresh
    near = batch1[4][1].split()
    near[7] = "mutant"
    batch2 = [
        (100, batch1[2][1]),
        (101, batch1[9][1]),
        (102, " ".join(near)),
        (103, doc()),
        (104, doc()),
        (105, doc()),
    ]
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = run_dedup_stream(spark, stream(), work, ckpt, threshold=0.5)
    q2.awaitTermination(120)

    admitted = {r["doc_id"] for r in spark.read.parquet(f"{work}/corpus").collect()}
    assert {103, 104, 105} <= admitted
    assert not ({100, 101, 102} & admitted)
    hits = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{work}/hits").collect()}
    assert (100, 2) in hits and (101, 9) in hits and (102, 4) in hits


@pytest.mark.slow
def test_streaming_decontaminate_pipeline(spark, tmp_path):
    """run_decontaminate_stream: docs sharing an 8-gram with the static
    benchmark are diverted to hits/ in every batch, clean docs admitted;
    the benchmark gram set is computed once and reused across a restart
    (zero cross-batch state growth)."""
    import random as _r

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_decontaminate_stream,
    )

    rng = _r.Random(53)
    vocab = [f"tok{i}" for i in range(300)]

    def doc(n=40):
        return " ".join(rng.choice(vocab) for _ in range(n))

    bench_texts = [doc() for _ in range(3)]
    benchmark = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench_texts)], "doc_id long, text string"
    )

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    # contaminated = 8 consecutive benchmark words embedded mid-document
    contaminated = doc(10) + " " + " ".join(bench_texts[1].split()[5:13]) + " " + doc(10)
    batch1 = [(0, doc()), (1, contaminated), (2, doc())]
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b1")
    )

    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_decontaminate_stream(spark, stream(), benchmark, work, ckpt)
    q.awaitTermination(120)

    clean = {r["doc_id"] for r in spark.read.parquet(f"{work}/clean").collect()}
    assert clean == {0, 2}
    hits = {r["doc_id"] for r in spark.read.parquet(f"{work}/hits").collect()}
    assert hits == {1}

    # restart with a second batch: one full benchmark copy + one clean doc
    batch2 = [(10, bench_texts[0]), (11, doc())]
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = run_decontaminate_stream(spark, stream(), benchmark, work, ckpt)
    q2.awaitTermination(120)

    clean = {r["doc_id"] for r in spark.read.parquet(f"{work}/clean").collect()}
    assert clean == {0, 2, 11}
    hits = {r["doc_id"] for r in spark.read.parquet(f"{work}/hits").collect()}
    assert hits == {1, 10}


@pytest.mark.slow
def test_streaming_decontaminate_bloom_pipeline(spark, tmp_path):
    """use_bloom=True: same verdicts as the exact path on the planted
    corpus (at 2^20 bits the FP odds are negligible), persisted state is
    the single 128 KiB bitmap (no gram parquet), and the bitmap survives
    a restart unchanged."""
    import random as _r

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_decontaminate_stream,
    )

    rng = _r.Random(53)
    vocab = [f"tok{i}" for i in range(300)]

    def doc(n=40):
        return " ".join(rng.choice(vocab) for _ in range(n))

    bench_texts = [doc() for _ in range(3)]
    benchmark = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench_texts)], "doc_id long, text string"
    )
    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    contaminated = doc(10) + " " + " ".join(bench_texts[1].split()[5:13]) + " " + doc(10)
    batch1 = [(0, doc()), (1, contaminated), (2, doc())]
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_decontaminate_stream(spark, stream(), benchmark, work, ckpt, use_bloom=True)
    q.awaitTermination(120)

    import os as _os

    assert _os.path.getsize(f"{work}/bench_bloom/bitmap.bin") == (1 << 20) // 8
    assert not _os.path.exists(f"{work}/bench_grams")
    assert {r["doc_id"] for r in spark.read.parquet(f"{work}/clean").collect()} == {0, 2}
    assert {r["doc_id"] for r in spark.read.parquet(f"{work}/hits").collect()} == {1}

    bmp_before = open(f"{work}/bench_bloom/bitmap.bin", "rb").read()
    batch2 = [(10, bench_texts[0]), (11, doc())]
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = run_decontaminate_stream(spark, stream(), benchmark, work, ckpt, use_bloom=True)
    q2.awaitTermination(120)

    assert open(f"{work}/bench_bloom/bitmap.bin", "rb").read() == bmp_before
    assert {r["doc_id"] for r in spark.read.parquet(f"{work}/clean").collect()} == {0, 2, 11}
    assert {r["doc_id"] for r in spark.read.parquet(f"{work}/hits").collect()} == {1, 10}


@pytest.mark.slow
def test_streaming_media_dedup_pipeline(spark, tmp_path):
    """run_media_dedup_stream: batch 1 admits fresh images and an audio
    clip and builds the multimodal perceptual-hash index; batch 2's
    pixel-perturbed variant of an admitted image AND a sample-jittered
    variant of the admitted audio clip are caught against the STORED
    index (cross-batch dedup without re-decoding the corpus) while a
    genuinely different image and audio clip pass.  Restarting the query
    for batch 2 exercises the checkpoint."""
    from arcane_stream_microsoft_synapse_link_spark.functions import multimodal as M
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_media_dedup_stream,
    )

    media = M.raw_media_with_variants(spark, n=9, n_variants=1, noise=2)
    rows = {r["media_id"]: r for r in media.collect()}
    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")

    batch1 = [rows[0], rows[3], rows[6], rows[1]]  # 3 images + 1 audio
    spark.createDataFrame(batch1, M.MEDIA_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = lambda: spark.readStream.schema(M.MEDIA_SCHEMA).parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_media_dedup_stream(spark, stream(), work, ckpt, max_hamming=6)
    q.awaitTermination(120)
    assert spark.read.parquet(f"{work}/corpus").count() == 4

    # batch 2: the planted near-variant of image 0 (id 1000), a genuinely
    # different image (inverted gradient), a jittered variant of audio 1
    # (id 2001 from the audio fixture), and a genuinely different audio
    # clip (distinct waveform -> different energy contour)
    audio_rows = {
        r["media_id"]: r
        for r in M.raw_audio_with_variants(spark, n=9, n_variants=1).collect()
    }
    w, h = rows[0]["width"], rows[0]["height"]
    inv = bytes(
        255 - ((x * 255) // (w - 1) + y) % 256 for y in range(h) for x in range(w)
    )
    fresh_audio = b"".join(
        int(((s * s) % 3777) - 1888).to_bytes(2, "little", signed=True)
        for s in range(320)
    )
    batch2 = [
        rows[1000],
        (777, inv, "image", w, h, 0),
        audio_rows[2001],
        (888, fresh_audio, "audio", 16, 12, 320),
    ]
    spark.createDataFrame(batch2, M.MEDIA_SCHEMA).coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = run_media_dedup_stream(spark, stream(), work, ckpt, max_hamming=6)
    q2.awaitTermination(120)

    admitted = {r["media_id"] for r in spark.read.parquet(f"{work}/corpus").collect()}
    assert {777, 888} <= admitted
    assert 1000 not in admitted and 2001 not in admitted
    hits = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{work}/hits").collect()}
    assert (1000, 0) in hits and (2001, 1) in hits


@pytest.mark.slow
def test_streaming_ann_index_maintenance(spark, tmp_path):
    """run_ann_index_stream: batch 1 trains and persists the IVF-PQ
    model; batch 2 (after a query restart) folds in ONLY its vectors
    against the frozen model — historical code files are untouched — and
    a probe of the loaded index finds a batch-2 planted near-copy of a
    batch-1 vector at the top, reranked exactly."""
    import os

    import numpy as np

    from arcane_stream_microsoft_synapse_link_spark.functions import similarity as S
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_ann_index_stream,
    )

    rng = np.random.RandomState(5)
    base = rng.randn(500, 32).astype(np.float32)
    src = tmp_path / "incoming"
    src.mkdir()
    idx_dir, ckpt = str(tmp_path / "ann_index"), str(tmp_path / "ckpt")

    b1 = [(int(i), base[i].tolist()) for i in range(400)]
    spark.createDataFrame(b1, "vec_id long, embedding array<float>").coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = lambda: spark.readStream.schema(  # noqa: E731
        "vec_id long, embedding array<float>"
    ).parquet(str(src / "*"))
    q = run_ann_index_stream(spark, stream(), idx_dir, ckpt, n_centroids=8, codes=16)
    q.awaitTermination(120)
    assert os.path.exists(os.path.join(idx_dir, "params.json"))
    n1 = spark.read.parquet(os.path.join(idx_dir, "codes")).count()
    assert n1 == 400
    files1 = set()
    for root, _, fs in os.walk(os.path.join(idx_dir, "codes")):
        files1.update(os.path.join(root, f) for f in fs if f.endswith(".parquet"))

    planted = (9000, (base[7] + rng.randn(32).astype(np.float32) * 0.01).tolist())
    b2 = [(int(400 + i), base[400 + i].tolist()) for i in range(100)] + [planted]
    spark.createDataFrame(b2, "vec_id long, embedding array<float>").coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = run_ann_index_stream(spark, stream(), idx_dir, ckpt, n_centroids=8, codes=16)
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(idx_dir, "codes")).count() == 501
    # fold-in appended new files; batch-1 code files are untouched
    for f in files1:
        assert os.path.exists(f)

    full = spark.createDataFrame(b1 + b2, "vec_id long, embedding array<float>")
    loaded = S.ivfpq_load(spark, idx_dir)
    queries = spark.createDataFrame(
        [(7, base[7].tolist())], "query_id long, embedding array<float>"
    )
    got = S.ivfpq_probe(loaded, queries, k=3, nprobe=8, rerank=50, corpus=full).collect()
    assert got[0]["vec_id"] == 7 and got[1]["vec_id"] == 9000


@pytest.mark.slow
def test_streaming_curation_pipeline(spark, tmp_path):
    """run_curation_stream: both curation models (IRLS quality classifier
    + DSIR lambda table) train once from the reference corpus, persist, and
    gate every micro-batch; a restart reuses the persisted model without
    retraining (beta.json untouched), and scores ride along on both
    routes."""
    import os

    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_curation_stream,
    )

    prose = "the quick brown fox jumps over the lazy dog and it is fine "
    junk = "x,y;z.!? q,w;e.!? "
    ref_rows = [(i, prose * (2 + i % 3), ) for i in range(0, 30, 2)]
    ref_rows += [(i, junk * (4 + i % 3), ) for i in range(1, 30, 2)]
    reference = spark.createDataFrame(
        [(i, t) for (i, t) in ref_rows], "doc_id long, text string"
    )
    target = F.col("doc_id") % 2 == 0  # the prose slice is the seed domain

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(100, prose * 3), (101, junk * 5)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))

    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_curation_stream(
        spark, stream(), reference, target, work, ckpt, min_score_ppm=500000
    )
    q.awaitTermination(120)

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        curation_model_dir,
    )

    beta_mtime = os.path.getmtime(os.path.join(curation_model_dir(work), "beta.json"))
    accepted = {r["doc_id"] for r in spark.read.parquet(f"{work}/accept").collect()}
    rejected = {r["doc_id"] for r in spark.read.parquet(f"{work}/reject").collect()}
    assert accepted == {100} and rejected == {101}

    # restart with a second batch: the persisted model must be reused
    spark.createDataFrame(
        [(200, prose * 2), (201, junk * 4)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b2"))
    q2 = run_curation_stream(
        spark, stream(), reference, target, work, ckpt, min_score_ppm=500000
    )
    q2.awaitTermination(120)

    assert (
        os.path.getmtime(os.path.join(curation_model_dir(work), "beta.json"))
        == beta_mtime
    )
    accepted = {r["doc_id"] for r in spark.read.parquet(f"{work}/accept").collect()}
    rejected = {r["doc_id"] for r in spark.read.parquet(f"{work}/reject").collect()}
    assert accepted == {100, 200} and rejected == {101, 201}
    # scores ride along on both routes
    row = spark.read.parquet(f"{work}/reject").where(F.col("doc_id") == 201).collect()[0]
    assert row["score_ppm"] < 500000 and row["dsir_ppm"] < 0


@pytest.mark.slow
def test_streaming_curation_hashed_variant(spark, tmp_path):
    """The hashed-DSIR gate variant: fixed bucket lambda persists and
    scores batches whose bigrams never appeared in the reference (the
    out-of-vocab case the vocab variant scores as 0)."""
    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_curation_stream,
    )

    prose = "the quick brown fox jumps over the lazy dog and it is fine "
    junk = "x,y;z.!? q,w;e.!? "
    ref_rows = [(i, prose * (2 + i % 3)) for i in range(0, 30, 2)]
    ref_rows += [(i, junk * (4 + i % 3)) for i in range(1, 30, 2)]
    reference = spark.createDataFrame(ref_rows, "doc_id long, text string")
    target = F.col("doc_id") % 2 == 0

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(100, prose * 3), (101, junk * 5)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))

    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_curation_stream(
        spark, stream(), reference, target, work, ckpt,
        min_score_ppm=500000, dsir_variant="hashed",
    )
    q.awaitTermination(120)

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        curation_model_dir,
    )

    accepted = {r["doc_id"] for r in spark.read.parquet(f"{work}/accept").collect()}
    rejected = {r["doc_id"] for r in spark.read.parquet(f"{work}/reject").collect()}
    assert accepted == {100} and rejected == {101}
    # the hashed lambda table is the full fixed bucket space
    assert (
        spark.read.parquet(os.path.join(curation_model_dir(work), "lam")).count()
        == 1024
    )
    # unseen-bigram doc still gets a real (non-zero-feature) score
    spark.createDataFrame(
        [(200, "totally novel words never in reference corpus here")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b2"))
    q2 = run_curation_stream(
        spark, stream(), reference, target, work, ckpt,
        min_score_ppm=500000, dsir_variant="hashed",
    )
    q2.awaitTermination(120)
    both = spark.read.parquet(f"{work}/accept").unionByName(
        spark.read.parquet(f"{work}/reject")
    )
    row = both.where(F.col("doc_id") == 200).collect()[0]
    assert row["dsir_ppm"] != 0


# ---------------------------------------------------------------------------
# kill-between-appends replay idempotency (VERDICT r6 item 1)
# ---------------------------------------------------------------------------


class _Bomb(Exception):
    pass


def _crash_once(stage, on_batch):
    """fault_hook that raises on its first visit to (stage, on_batch) —
    simulates a crash in the window between two per-batch appends."""
    fired = {"n": 0}

    def hook(s, b):
        if s == stage and b == on_batch and fired["n"] == 0:
            fired["n"] += 1
            raise _Bomb(f"injected crash at {s} batch {b}")

    return hook


def _await_failure(q):
    with pytest.raises(Exception) as ei:
        q.awaitTermination(120)
    assert "injected crash" in str(ei.value)


@pytest.mark.slow
def test_dedup_stream_replay_idempotent(spark, tmp_path):
    """Crash BETWEEN the hits append and the corpus/index appends of
    run_dedup_stream's second micro-batch, then restart: the replayed
    batch must overwrite its crashed attempt — zero duplicate hit rows,
    zero double-admitted corpus docs, exactly one index row per
    (kept doc, band).  This is the at-least-once → effectively-exactly-
    once upgrade of VERDICT r6 item 1."""
    import random as _r

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_dedup_stream,
    )

    rng = _r.Random(47)
    vocab = [f"tok{i}" for i in range(300)]

    def doc(n=50):
        return " ".join(rng.choice(vocab) for _ in range(n))

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    batch1 = [(i, doc()) for i in range(12)]
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_dedup_stream(spark, stream(), work, ckpt, threshold=0.5)
    q.awaitTermination(120)

    # batch 2 (batch_id=1): one exact copy + two fresh docs; crash right
    # after the hits append — the exact window that used to double-admit
    batch2 = [(100, batch1[3][1]), (101, doc()), (102, doc())]
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = run_dedup_stream(
        spark, stream(), work, ckpt, threshold=0.5,
        fault_hook=_crash_once("after_hits", 1),
    )
    _await_failure(q2)

    q3 = run_dedup_stream(spark, stream(), work, ckpt, threshold=0.5)
    q3.awaitTermination(120)

    corpus = spark.read.parquet(f"{work}/corpus").select("doc_id").collect()
    ids = [r["doc_id"] for r in corpus]
    assert sorted(ids) == sorted(set(ids))  # no double-admitted rows
    assert set(ids) == set(range(12)) | {101, 102}
    hits = spark.read.parquet(f"{work}/hits").select("id_a", "id_b").collect()
    pairs = [(r["id_a"], r["id_b"]) for r in hits]
    assert sorted(pairs) == sorted(set(pairs)) and (100, 3) in pairs
    idx = spark.read.parquet(f"{work}/band_index")
    n_kept, n_idx = len(ids), idx.count()
    assert n_idx == idx.distinct().count() == n_kept * 32


@pytest.mark.slow
def test_decontaminate_stream_replay_idempotent(spark, tmp_path):
    """Crash between the hits and clean appends of the decontamination
    gate, restart, and verify the replay replaced — not duplicated — the
    batch's output on both routes."""
    import random as _r

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_decontaminate_stream,
    )

    rng = _r.Random(53)
    vocab = [f"tok{i}" for i in range(300)]

    def doc(n=40):
        return " ".join(rng.choice(vocab) for _ in range(n))

    bench_texts = [doc() for _ in range(2)]
    benchmark = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench_texts)], "doc_id long, text string"
    )
    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(0, doc()), (1, doc())], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_decontaminate_stream(spark, stream(), benchmark, work, ckpt)
    q.awaitTermination(120)

    contaminated = doc(5) + " " + " ".join(bench_texts[0].split()[2:10]) + " " + doc(5)
    spark.createDataFrame(
        [(10, contaminated), (11, doc())], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b2"))
    q2 = run_decontaminate_stream(
        spark, stream(), benchmark, work, ckpt,
        fault_hook=_crash_once("after_hits", 1),
    )
    _await_failure(q2)
    q3 = run_decontaminate_stream(spark, stream(), benchmark, work, ckpt)
    q3.awaitTermination(120)

    clean = [r["doc_id"] for r in spark.read.parquet(f"{work}/clean").collect()]
    assert sorted(clean) == sorted(set(clean)) and set(clean) == {0, 1, 11}
    hits = [r["doc_id"] for r in spark.read.parquet(f"{work}/hits").collect()]
    assert hits == [10]


@pytest.mark.slow
def test_media_dedup_stream_replay_idempotent(spark, tmp_path):
    """Crash between the hits append and the corpus/index appends of the
    multimodal dedup intake, restart, and verify no duplicate corpus rows
    / hit pairs / index band rows survive the replay."""
    from arcane_stream_microsoft_synapse_link_spark.functions import multimodal as M
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_media_dedup_stream,
    )

    media = M.raw_media_with_variants(spark, n=9, n_variants=1, noise=2)
    rows = {r["media_id"]: r for r in media.collect()}
    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    batch1 = [rows[0], rows[3], rows[1]]  # 2 images + 1 audio
    spark.createDataFrame(batch1, M.MEDIA_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = lambda: spark.readStream.schema(M.MEDIA_SCHEMA).parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_media_dedup_stream(spark, stream(), work, ckpt, max_hamming=6)
    q.awaitTermination(120)

    w, h = rows[0]["width"], rows[0]["height"]
    inv = bytes(
        255 - ((x * 255) // (w - 1) + y) % 256 for y in range(h) for x in range(w)
    )
    batch2 = [rows[1000], (777, inv, "image", w, h, 0)]  # near-dup of 0 + fresh
    spark.createDataFrame(batch2, M.MEDIA_SCHEMA).coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = run_media_dedup_stream(
        spark, stream(), work, ckpt, max_hamming=6,
        fault_hook=_crash_once("after_hits", 1),
    )
    _await_failure(q2)
    q3 = run_media_dedup_stream(spark, stream(), work, ckpt, max_hamming=6)
    q3.awaitTermination(120)

    ids = [r["media_id"] for r in spark.read.parquet(f"{work}/corpus").collect()]
    assert sorted(ids) == sorted(set(ids)) and set(ids) == {0, 3, 1, 777}
    hits = [
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(f"{work}/hits").collect()
    ]
    assert sorted(hits) == sorted(set(hits)) and (1000, 0) in hits
    idx = spark.read.parquet(f"{work}/phash_index")
    assert idx.count() == idx.distinct().count()


@pytest.mark.slow
def test_ann_index_stream_replay_idempotent(spark, tmp_path):
    """Crash the fold-in micro-batch right after its codes write (before
    the checkpoint commit), restart, and verify the replay OVERWROTE the
    batch partition: exactly one code row per vector, never two."""
    import numpy as np

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_ann_index_stream,
    )

    rng = np.random.RandomState(5)
    base = rng.randn(300, 16).astype(np.float32)
    src = tmp_path / "incoming"
    src.mkdir()
    idx_dir, ckpt = str(tmp_path / "ann_index"), str(tmp_path / "ckpt")
    b1 = [(int(i), base[i].tolist()) for i in range(200)]
    spark.createDataFrame(b1, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema(  # noqa: E731
        "vec_id long, embedding array<float>"
    ).parquet(str(src / "*"))
    q = run_ann_index_stream(spark, stream(), idx_dir, ckpt, n_centroids=4, codes=16)
    q.awaitTermination(120)

    b2 = [(int(200 + i), base[200 + i].tolist()) for i in range(100)]
    spark.createDataFrame(b2, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(str(src / "b2"))
    q2 = run_ann_index_stream(
        spark, stream(), idx_dir, ckpt, n_centroids=4, codes=16,
        fault_hook=_crash_once("after_codes", 1),
    )
    _await_failure(q2)
    q3 = run_ann_index_stream(spark, stream(), idx_dir, ckpt, n_centroids=4, codes=16)
    q3.awaitTermination(120)

    codes = spark.read.parquet(f"{idx_dir}/codes")
    assert codes.count() == 300
    assert codes.select("vec_id").distinct().count() == 300


@pytest.mark.slow
def test_curation_stream_replay_idempotent(spark, tmp_path):
    """Crash between the accept and reject appends of the curation gate,
    restart, and verify both routes carry each doc exactly once."""
    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_curation_stream,
    )

    prose = "the quick brown fox jumps over the lazy dog and it is fine "
    junk = "x,y;z.!? q,w;e.!? "
    ref_rows = [(i, prose * (2 + i % 3)) for i in range(0, 30, 2)]
    ref_rows += [(i, junk * (4 + i % 3)) for i in range(1, 30, 2)]
    reference = spark.createDataFrame(ref_rows, "doc_id long, text string")
    target = F.col("doc_id") % 2 == 0

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(100, prose * 3), (101, junk * 5)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_curation_stream(
        spark, stream(), reference, target, work, ckpt, min_score_ppm=500000,
        fault_hook=_crash_once("after_accept", 0),
    )
    _await_failure(q)
    q2 = run_curation_stream(
        spark, stream(), reference, target, work, ckpt, min_score_ppm=500000
    )
    q2.awaitTermination(120)

    accepted = [r["doc_id"] for r in spark.read.parquet(f"{work}/accept").collect()]
    rejected = [r["doc_id"] for r in spark.read.parquet(f"{work}/reject").collect()]
    assert accepted == [100] and rejected == [101]


@pytest.mark.slow
def test_curation_stream_model_refresh(spark, tmp_path):
    """Model-refresh e2e (VERDICT r6 item 8): batch 1 scores with model
    v000001; ``curation_model_refresh`` retrains on a NEW reference with
    the seed domain FLIPPED (junk becomes the target) and atomically
    swings CURRENT to v000002; the post-refresh batch routes junk to
    accept/ — and a restart keeps v000002."""
    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        _current_version,
        curation_model_refresh,
        run_curation_stream,
    )

    prose = "the quick brown fox jumps over the lazy dog and it is fine "
    junk = "x,y;z.!? q,w;e.!? "
    ref_rows = [(i, prose * (2 + i % 3)) for i in range(0, 30, 2)]
    ref_rows += [(i, junk * (4 + i % 3)) for i in range(1, 30, 2)]
    reference = spark.createDataFrame(ref_rows, "doc_id long, text string")
    target_v1 = F.col("doc_id") % 2 == 0  # prose is the seed domain

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(100, prose * 3), (101, junk * 5)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_curation_stream(
        spark, stream(), reference, target_v1, work, ckpt,
        min_score_ppm=500000, min_dsir_ppm=-(10**9),
    )
    q.awaitTermination(120)
    assert _current_version(work) == "v000001"
    accepted = {r["doc_id"] for r in spark.read.parquet(f"{work}/accept").collect()}
    assert accepted == {100}

    # refresh: flip the seed domain — junk is now the target
    v2 = curation_model_refresh(spark, work, reference, F.col("doc_id") % 2 == 1)
    assert v2 == "v000002" and _current_version(work) == "v000002"

    spark.createDataFrame(
        [(200, prose * 3), (201, junk * 5)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b2"))
    q2 = run_curation_stream(
        spark, stream(), reference, target_v1, work, ckpt,
        min_score_ppm=500000, min_dsir_ppm=-(10**9),
    )
    q2.awaitTermination(120)

    accepted = {r["doc_id"] for r in spark.read.parquet(f"{work}/accept").collect()}
    rejected = {r["doc_id"] for r in spark.read.parquet(f"{work}/reject").collect()}
    # v2 scores the post-refresh batch: junk accepted, prose rejected
    assert accepted == {100, 201} and rejected == {101, 200}
    # restart keeps v2 (CURRENT survives; run_curation_stream must NOT
    # retrain when a current model exists)
    spark.createDataFrame(
        [(301, junk * 4)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b3"))
    q3 = run_curation_stream(
        spark, stream(), reference, target_v1, work, ckpt,
        min_score_ppm=500000, min_dsir_ppm=-(10**9),
    )
    q3.awaitTermination(120)
    assert _current_version(work) == "v000002"
    accepted = {r["doc_id"] for r in spark.read.parquet(f"{work}/accept").collect()}
    assert 301 in accepted


@pytest.mark.slow
def test_span_dedup_stream_cross_batch_and_replay(spark, tmp_path):
    """run_span_dedup_stream: a 3-sentence block admitted in batch 1 must
    be removed from every later occurrence (cross-batch keep-first); the
    within-batch rule keeps the (doc_id,start)-min copy; a crash between
    the corpus and index appends replays without double-admitting rows
    or index hashes."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_span_dedup_stream,
    )

    block = " ".join(f"w{i}" for i in range(24))  # exactly 3 8-word sentences

    def uniq(seed):
        return " ".join(f"u{seed}x{j}" for j in range(24))

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    batch1 = [(1, block + " " + uniq(1)), (2, uniq(2)), (3, block + " " + uniq(5))]
    batch2 = [(10, block + " " + uniq(3)), (11, uniq(4))]
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_span_dedup_stream(spark, stream(), work, ckpt)
    q.awaitTermination(120)

    got1 = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{work}/corpus").collect()
    }
    # within-batch keep-first: doc 1 keeps the block, doc 3 loses it
    assert got1[1]["n_removed"] == 0
    assert got1[3]["n_removed"] == 3 and block not in got1[3]["cleaned"]
    assert got1[2]["n_removed"] == 0

    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = run_span_dedup_stream(
        spark, stream(), work, ckpt, fault_hook=_crash_once("after_corpus", 1)
    )
    _await_failure(q2)
    q3 = run_span_dedup_stream(spark, stream(), work, ckpt)
    q3.awaitTermination(120)

    corpus = spark.read.parquet(f"{work}/corpus").collect()
    ids = [r["doc_id"] for r in corpus]
    assert sorted(ids) == sorted(set(ids)) == [1, 2, 3, 10, 11]
    got = {r["doc_id"]: r for r in corpus}
    # cross-batch: doc 10's block span was known from batch 1 → removed
    assert got[10]["n_removed"] == 3 and block not in got[10]["cleaned"]
    assert got[11]["n_removed"] == 0 and got[11]["cleaned"] == uniq(4)
    idx = spark.read.parquet(f"{work}/span_index")
    assert idx.count() == idx.select("h").distinct().count()
    # the replayed batch added only its genuinely fresh hashes
    import pyspark.sql.functions as F  # noqa: N812

    b0 = spark.read.parquet(f"{work}/span_index/batch_id=0")
    b1 = spark.read.parquet(f"{work}/span_index/batch_id=1")
    assert b1.join(b0, "h").count() == 0


@pytest.mark.slow
def test_intake_gate_cascade_span_then_neardup(spark, tmp_path):
    """Gates compose: run_span_dedup_stream's corpus layout feeds
    run_dedup_stream directly (batch-dir parquet stream, cleaned text as
    the text column).  Planted: doc 30's duplicate block is removed by
    the SPAN gate (cross-batch keep-first), after which its cleaned text
    is a near-copy of doc 20 — caught by the NEAR-DUP gate across
    stage-2 batches.  Counts conserve through both stages."""
    import pyspark.sql.functions as F  # noqa: N812

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_dedup_stream,
        run_span_dedup_stream,
    )

    block = " ".join(f"b{i}" for i in range(24))  # 3 sentences
    u1 = " ".join(f"u{j}" for j in range(24))
    u1_variant = " ".join(f"u{j}" for j in range(23)) + " tail"
    u2 = " ".join(f"v{j}" for j in range(24))

    src = tmp_path / "incoming"
    src.mkdir()
    work1, ckpt1 = str(tmp_path / "span"), str(tmp_path / "ckpt1")
    work2, ckpt2 = str(tmp_path / "dedup"), str(tmp_path / "ckpt2")

    spark.createDataFrame(
        [(10, block + " " + u2), (20, u1)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream1 = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    run_span_dedup_stream(spark, stream1(), work1, ckpt1).awaitTermination(120)
    spark.createDataFrame(
        [(30, block + " " + u1_variant)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b2"))
    run_span_dedup_stream(spark, stream1(), work1, ckpt1).awaitTermination(120)

    stage1 = {r["doc_id"]: r for r in spark.read.parquet(f"{work1}/corpus").collect()}
    assert len(stage1) == 3
    assert stage1[30]["n_removed"] == 3 and block not in stage1[30]["cleaned"]

    # stage 2 consumes stage 1's batch layout; cleaned text is the payload
    schema = "doc_id long, text string, n_sent long, n_removed long, cleaned string"

    def stream2(glob):
        df = spark.readStream.schema(schema).parquet(f"{work1}/corpus/{glob}")
        return df.select("doc_id", F.col("cleaned").alias("text"))

    run_dedup_stream(
        spark, stream2("batch_id=0"), work2, ckpt2, threshold=0.5
    ).awaitTermination(120)
    run_dedup_stream(
        spark, stream2("*"), work2, ckpt2, threshold=0.5
    ).awaitTermination(120)

    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{work2}/corpus").collect()
    )
    assert admitted == [10, 20]  # doc 30's cleaned text was a near-dup of 20
    hits = spark.read.parquet(f"{work2}/hits").collect()
    assert {(r["id_a"], r["id_b"]) for r in hits} == {(30, 20)}


@pytest.mark.slow
def test_compact_batches_preserves_gate_state(spark, tmp_path):
    """Small-files maintenance: compacting a gate's corpus/index batch
    dirs into one segment must preserve the exact row set, and the gate
    must keep deduping against the compacted state (a batch-1 near-dup
    arriving after compaction is still caught)."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        compact_batches,
        read_batches,
        run_dedup_stream,
    )

    import random as _r

    rng = _r.Random(53)
    vocab = [f"tok{i}" for i in range(300)]

    def doc(n=50):
        return " ".join(rng.choice(vocab) for _ in range(n))

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    batches = [[(b * 100 + i, doc()) for i in range(6)] for b in range(3)]
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))
        run_dedup_stream(spark, stream(), work, ckpt, threshold=0.5).awaitTermination(
            120
        )

    def snap(root):
        df = read_batches(spark, f"{work}/{root}")
        return sorted(tuple(r) for r in df.collect())

    before_c, before_i = snap("corpus"), snap("band_index")
    assert compact_batches(spark, f"{work}/corpus", keep_last=1) == 2
    assert compact_batches(spark, f"{work}/band_index", keep_last=1) == 2
    assert snap("corpus") == before_c
    assert snap("band_index") == before_i

    # gate keeps working against compacted state: exact copy of a batch-0
    # doc arrives in batch 3 and must be rejected
    spark.createDataFrame(
        [(900, batches[0][2][1])], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b3"))
    run_dedup_stream(spark, stream(), work, ckpt, threshold=0.5).awaitTermination(120)
    # NOTE: a compacted root mixes batch_id= and segment= dirs — raw
    # spark.read.parquet(root) rejects that; read_batches is the reader
    admitted = {r["doc_id"] for r in read_batches(spark, f"{work}/corpus").collect()}
    assert 900 not in admitted
    hits = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{work}/hits").collect()}
    assert (900, 2) in hits


def test_compact_batches_crash_windows_and_replay_guard(spark, tmp_path):
    """Crash-safety of the manifest discipline: an orphan segment (crash
    before the manifest swap) is invisible; a covered batch dir left
    behind (crash before cleanup) is skipped, never double-read; and a
    ``before`` inside a segment's covered range raises instead of
    over-reading."""
    import os
    import shutil

    import pytest as _pytest

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        compact_batches,
        read_batches,
        write_batch,
    )

    root = str(tmp_path / "state")
    for b in range(5):
        write_batch(
            spark.createDataFrame([(b, f"v{b}")], "id long, v string"), root, b
        )

    def rows():
        return sorted(tuple(r) for r in read_batches(spark, root).collect())

    base = rows()
    # orphan segment dir (crash between segment write and manifest swap)
    spark.createDataFrame([(99, "junk")], "id long, v string").write.parquet(
        os.path.join(root, "segment=0-1")
    )
    assert rows() == base  # manifest is the source of truth
    assert compact_batches(spark, root, keep_last=2) == 3  # retires 0,1,2
    assert rows() == base
    # grace period: retired dirs + the orphan segment survive ONE cycle on
    # disk (invisible to readers) so an in-flight reader that planned
    # against the old manifest never loses files mid-scan
    assert os.path.isdir(os.path.join(root, "batch_id=0"))
    assert os.path.isdir(os.path.join(root, "segment=0-1"))

    # crash-before-cleanup: a covered dir reappears — skipped by readers
    write_batch(spark.createDataFrame([(1, "v1")], "id long, v string"), root, 1)
    assert rows() == base
    write_batch(spark.createDataFrame([(5, "v5")], "id long, v string"), root, 5)
    assert compact_batches(spark, root, keep_last=2) == 1  # retires 3 (4,5 kept)
    # the previous cycle's pending deletes are now expired — gone for real
    assert not os.path.isdir(os.path.join(root, "batch_id=0"))
    assert not os.path.isdir(os.path.join(root, "batch_id=1"))  # stale dir cleaned
    assert not os.path.isdir(os.path.join(root, "segment=0-1"))  # orphan reclaimed
    assert sorted(tuple(r) for r in read_batches(spark, root).collect()) == sorted(
        base + [(5, "v5")]
    )

    # replay-window guard: segment now covers 0..3, before=3 must raise
    with _pytest.raises(ValueError, match="replay window"):
        read_batches(spark, root, before=3)
    shutil.rmtree(root)


def test_compact_batches_grace_period_protects_inflight_reader(spark, tmp_path):
    """The ADVICE-medium scenario: a cadence job compacts WHILE a
    micro-batch is mid-scan.  The reader planned its file list from the
    pre-compaction manifest; grace-period deletion guarantees those files
    still exist when the scan executes, so the in-flight batch completes
    instead of crashing on deleted parquet."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        compact_batches,
        read_batches,
        write_batch,
    )

    root = str(tmp_path / "state")
    for b in range(6):
        write_batch(
            spark.createDataFrame([(b, f"v{b}")], "id long, v string"), root, b
        )
    # the in-flight reader: file listing happens at DataFrame-creation
    # time (InMemoryFileIndex), execution later
    inflight = read_batches(spark, root)
    assert compact_batches(spark, root, keep_last=2) == 4
    # executes AFTER the manifest swap — must still see every file it listed
    got = sorted(tuple(r) for r in inflight.collect())
    assert got == [(b, f"v{b}") for b in range(6)]


def test_compact_batches_keep_last_floor(spark, tmp_path):
    """keep_last=0 could fold the newest (possibly uncommitted) batch into
    a segment and wedge the stream's restart replay — the function itself
    rejects it, callers cannot opt out."""
    import pytest as _pytest

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        compact_batches,
        write_batch,
    )

    root = str(tmp_path / "state")
    write_batch(spark.createDataFrame([(0, "v0")], "id long, v string"), root, 0)
    with _pytest.raises(ValueError, match="keep_last"):
        compact_batches(spark, root, keep_last=0)


def test_compact_batches_orphan_segment_reclaim_without_retire(spark, tmp_path):
    """An orphan ``segment=`` dir (crash between segment write and
    manifest swap) is reclaimed by the compaction cadence even when no
    batches are eligible to retire: queued on the first pass, physically
    deleted on the second (grace period)."""
    import os

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        compact_batches,
        read_batches,
        write_batch,
    )

    root = str(tmp_path / "state")
    for b in range(2):
        write_batch(
            spark.createDataFrame([(b, f"v{b}")], "id long, v string"), root, b
        )
    spark.createDataFrame([(99, "junk")], "id long, v string").write.parquet(
        os.path.join(root, "segment=0-0")
    )
    base = sorted(tuple(r) for r in read_batches(spark, root).collect())
    assert compact_batches(spark, root, keep_last=2) == 0  # nothing to retire
    assert os.path.isdir(os.path.join(root, "segment=0-0"))  # queued, not gone
    assert compact_batches(spark, root, keep_last=2) == 0
    assert not os.path.isdir(os.path.join(root, "segment=0-0"))  # reclaimed
    assert sorted(tuple(r) for r in read_batches(spark, root).collect()) == base


@pytest.mark.slow
def test_ivfpq_load_ignores_partial_foldin_batch(spark, tmp_path):
    """A crashed fold-in leaves a ``batch_id=N`` codes dir WITHOUT
    ``_SUCCESS``; ivfpq_load must not serve those partial code rows
    (ADVICE r7) — they become visible only once the replay completes the
    batch."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.functions import similarity as S
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_ann_index_stream,
        write_batch,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(200, 16).astype(np.float32)
    src = tmp_path / "incoming"
    src.mkdir()
    idx_dir, ckpt = str(tmp_path / "ann_index"), str(tmp_path / "ckpt")
    rows = [(int(i), base[i].tolist()) for i in range(200)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(
        str(src / "*")
    )
    run_ann_index_stream(
        spark, stream, idx_dir, ckpt, n_centroids=4, codes=16
    ).awaitTermination(120)

    codes_root = os.path.join(idx_dir, "codes")
    loaded = S.ivfpq_load(spark, idx_dir)
    n_complete = loaded.codes.count()
    assert n_complete == 200

    # simulate a crashed fold-in: partial batch (code rows, no _SUCCESS)
    junk = loaded.codes.limit(5).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    write_batch(junk, codes_root, 99, partition_by=("centroid_id",))
    success = os.path.join(codes_root, "batch_id=99", "_SUCCESS")
    os.remove(success)

    reloaded = S.ivfpq_load(spark, idx_dir)
    ids = {r["vec_id"] for r in reloaded.codes.select("vec_id").collect()}
    assert reloaded.codes.count() == n_complete
    assert not any(i >= 100000 for i in ids)

    # replay completes the batch → its rows are served
    with open(success, "w"):
        pass
    assert S.ivfpq_load(spark, idx_dir).codes.count() == n_complete + 5


@pytest.mark.slow
def test_ivfpq_load_reads_compacted_codes_store(spark, tmp_path):
    """Index maintenance composition: after ``compact_gate_state`` folds
    the fold-in stream's ``batch_id=`` code dirs into a segment, a fresh
    ``ivfpq_load`` + probe must serve the IDENTICAL code set (segments +
    surviving batch dirs), and a later fold-in batch keeps appending."""
    import os

    import numpy as np

    from arcane_stream_microsoft_synapse_link_spark.functions import similarity as S
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        compact_gate_state,
        run_ann_index_stream,
    )

    rng = np.random.RandomState(13)
    base = rng.randn(300, 16).astype(np.float32)
    src = tmp_path / "incoming"
    src.mkdir()
    idx_dir, ckpt = str(tmp_path / "ann_index"), str(tmp_path / "ckpt")
    stream = lambda: spark.readStream.schema(  # noqa: E731
        "vec_id long, embedding array<float>"
    ).parquet(str(src / "*"))
    for b in range(3):
        rows = [(int(b * 100 + i), base[b * 100 + i].tolist()) for i in range(100)]
        spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))
        run_ann_index_stream(
            spark, stream(), idx_dir, ckpt, n_centroids=4, codes=16
        ).awaitTermination(120)

    before = {
        r["vec_id"] for r in S.ivfpq_load(spark, idx_dir).codes.select("vec_id").collect()
    }
    assert len(before) == 300
    retired = compact_gate_state(spark, idx_dir, keep_last=1)
    assert retired.get("codes", 0) == 2
    loaded = S.ivfpq_load(spark, idx_dir)
    after = {r["vec_id"] for r in loaded.codes.select("vec_id").collect()}
    assert after == before
    # probing the compacted index still finds an exact planted vector
    q = spark.createDataFrame(
        [(0, base[42].tolist())], "query_id long, embedding array<float>"
    )
    got = S.ivfpq_probe(loaded, q, k=1, nprobe=4).collect()
    assert got[0]["vec_id"] == 42

    # a post-compaction fold-in batch appends next to the segment
    rows = [(int(9000 + i), base[i].tolist()) for i in range(10)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(str(src / "b3"))
    run_ann_index_stream(
        spark, stream(), idx_dir, ckpt, n_centroids=4, codes=16
    ).awaitTermination(120)
    assert S.ivfpq_load(spark, idx_dir).codes.count() == 310


@pytest.mark.slow
def test_compact_gate_state_sweeps_all_stores(spark, tmp_path):
    """compact_gate_state: one cadence call compacts every batch-dir
    store under a gate work_dir and the gate keeps operating."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        compact_gate_state,
        read_batches,
        run_span_dedup_stream,
    )

    block = " ".join(f"c{i}" for i in range(24))
    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    for b in range(3):
        rows = [(b * 10 + j, " ".join(f"b{b}x{j}w{i}" for i in range(24))) for j in range(2)]
        if b == 0:
            rows.append((99, block))
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))
        run_span_dedup_stream(spark, stream(), work, ckpt).awaitTermination(120)

    before = {
        s: sorted(tuple(r) for r in read_batches(spark, f"{work}/{s}").collect())
        for s in ("corpus", "span_index")
    }
    retired = compact_gate_state(spark, work, keep_last=1)
    assert retired == {"corpus": 2, "span_index": 2}
    for s, rows in before.items():
        got = sorted(tuple(r) for r in read_batches(spark, f"{work}/{s}").collect())
        assert got == rows

    # the gate still removes a known span arriving after compaction
    spark.createDataFrame(
        [(500, block + " " + " ".join(f"z{i}" for i in range(24)))],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b3"))
    run_span_dedup_stream(spark, stream(), work, ckpt).awaitTermination(120)
    got = {
        r["doc_id"]: r for r in read_batches(spark, f"{work}/corpus").collect()
    }
    assert got[500]["n_removed"] == 3 and block not in got[500]["cleaned"]


@pytest.mark.slow
def test_dedup_stream_inline_compaction(spark, tmp_path):
    """compact_every: the gate self-maintains — after batch 3 the first
    two batches are in a segment, the replay window stays un-compacted,
    and cross-batch dedup still works from the compacted state."""
    import os

    import random as _r

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        read_batches,
        run_dedup_stream,
    )

    rng = _r.Random(61)
    vocab = [f"tok{i}" for i in range(300)]

    def doc(n=50):
        return " ".join(rng.choice(vocab) for _ in range(n))

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    b0 = [(i, doc()) for i in range(5)]
    batches = [b0, [(100 + i, doc()) for i in range(5)],
               [(200 + i, doc()) for i in range(5)],
               [(300, b0[1][1]), (301, doc())]]  # exact dup of batch-0 doc 1
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))
        run_dedup_stream(
            spark, stream(), work, ckpt, threshold=0.5, compact_every=3
        ).awaitTermination(120)

    # after batch index 2 ((2+1)%3==0) compaction ran: batches 0 of
    # corpus are in a segment, last two batch dirs kept
    assert os.path.exists(os.path.join(work, "corpus", "_compacted.json"))
    admitted = {r["doc_id"] for r in read_batches(spark, f"{work}/corpus").collect()}
    assert 300 not in admitted and 301 in admitted
    hits = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{work}/hits").collect()}
    assert (300, 1) in hits


def test_compact_batches_single_compactor_lock(spark, tmp_path):
    """ADVICE r9: a cadence compactor racing a gate's in-step compaction
    must not double-run — a held ``_compact.lock`` makes the loser skip
    the cycle untouched; a STALE lock (crashed compactor) is stolen; and
    a pending_delete name re-referenced by the live manifest is never
    physically deleted."""
    import json
    import os
    import time

    from arcane_stream_microsoft_synapse_link_spark.streaming import structured as st

    root = str(tmp_path / "state")
    for b in range(4):
        st.write_batch(
            spark.createDataFrame([(b, f"v{b}")], "id long, v string"), root, b
        )
    # a live lock held by "another" compactor → this run is a no-op
    lock = os.path.join(root, st._COMPACT_LOCK)
    with open(lock, "w") as f:
        f.write("9999")
    assert st.compact_batches(spark, root, keep_last=1) == 0
    assert not os.path.exists(os.path.join(root, st._COMPACT_MANIFEST))
    assert os.path.exists(lock)  # loser must not release the holder's lock
    # stale lock (older than TTL) is stolen and compaction proceeds
    old = time.time() - st._COMPACT_LOCK_TTL_S - 10
    os.utime(lock, (old, old))
    assert st.compact_batches(spark, root, keep_last=1) == 3
    assert not os.path.exists(lock)  # released after the cycle
    # defense in depth: a pending_delete name that the live manifest still
    # references survives the grace-period sweep
    mpath = os.path.join(root, st._COMPACT_MANIFEST)
    m = json.loads(open(mpath).read())
    live_seg = m["segments"][0]["dir"]
    m["pending_delete"] = sorted(set(m.get("pending_delete", [])) | {live_seg})
    with open(mpath, "w") as f:
        json.dump(m, f)
    st.compact_batches(spark, root, keep_last=1)
    assert os.path.isdir(os.path.join(root, live_seg))
    got = {
        (r["id"], r["v"]) for r in st.read_batches(spark, root).collect()
    }
    assert got == {(b, f"v{b}") for b in range(4)}


def test_readstream_chunked_large_csv_with_embedded_newlines(spark, tmp_path):
    """A single large batch CSV whose quoted display values embed newlines
    drains through the readStream path into a target identical to the
    source rows — the multi-line records survive the stream's read.
    (The file fails the quote-parity probe, so the batch runner's reader
    takes its multiLine read.)"""
    import os
    from datetime import datetime

    from arcane_stream_microsoft_synapse_link_spark.streaming.runner import StreamSpec
    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable
    from .synapse_fixture import data_row, model_json

    fx = SynapseFixture(tmp_path / "source")
    n = 4000
    rows = []
    for i in range(n):
        disp = f"multi\nline\nD{i}" if i % 7 == 0 else f"D{i}"
        rows.append(data_row(f"{i:08d}-aaaa-bbbb-cccc-ddddeeee0000", 5_000_000_000 + i, disp))
    ts = datetime(2021, 7, 1, 12, 0, 0)
    name = fx.folder_name(ts)
    d = os.path.join(fx.root, name, ENTITY)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(fx.root, name, "model.json"), "w") as fh:
        fh.write(model_json())
    with open(os.path.join(d, "data.csv"), "w") as fh:
        fh.write("\n".join(rows) + "\n")
    fx.set_changelog(name)

    spec = StreamSpec(
        entity_name=ENTITY,
        source_root=str(tmp_path / "source"),
        target_root=str(tmp_path / "target"),
    )
    q = run_structured(spark, spec, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    got = VersionedTable(spec.target_root).read(spark)
    assert got.count() == n
    sample = {
        r["Id"]: r["displayvalue"]
        for r in got.where("Id like '0000000%'").collect()
    }
    assert sample["00000000-aaaa-bbbb-cccc-ddddeeee0000"] == "multi\nline\nD0"
    assert sample["00000001-aaaa-bbbb-cccc-ddddeeee0000"] == "D1"


@pytest.mark.slow
def test_exact_substring_stream_cross_batch_and_replay(spark, tmp_path):
    """run_exact_substring_stream: a >=20-token verbatim run admitted in
    batch 1 is cut from every later occurrence (cross-batch keep-first at
    token granularity); the within-batch rule keeps the (doc_id,start)-min
    copy; a crash between the corpus and index appends replays without
    double-admitting rows or index hashes."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_exact_substring_stream,
    )

    run = " ".join(f"w{i}" for i in range(20))  # exactly the L=20 run

    def uniq(seed):
        return " ".join(f"u{seed}x{j}" for j in range(25))

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    batch1 = [(1, run + " " + uniq(1)), (2, uniq(2)), (3, uniq(5) + " " + run)]
    batch2 = [(10, uniq(3) + " " + run + " " + uniq(6)), (11, uniq(4))]
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_exact_substring_stream(spark, stream(), work, ckpt)
    q.awaitTermination(120)

    got1 = {r["doc_id"]: r for r in spark.read.parquet(f"{work}/corpus").collect()}
    # within-batch keep-first: doc 1 (min doc_id, start) keeps, doc 3 loses
    assert got1[1]["n_removed"] == 0
    assert got1[3]["n_removed"] == 20 and run not in got1[3]["cleaned"]
    assert got1[2]["n_removed"] == 0

    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = run_exact_substring_stream(
        spark, stream(), work, ckpt, fault_hook=_crash_once("after_corpus", 1)
    )
    _await_failure(q2)
    q3 = run_exact_substring_stream(spark, stream(), work, ckpt)
    q3.awaitTermination(120)

    corpus = spark.read.parquet(f"{work}/corpus").collect()
    ids = [r["doc_id"] for r in corpus]
    assert sorted(ids) == sorted(set(ids)) == [1, 2, 3, 10, 11]
    got = {r["doc_id"]: r for r in corpus}
    # cross-batch: doc 10's mid-document run was known from batch 1 → cut,
    # surrounding unique frame survives intact
    assert got[10]["n_removed"] == 20 and run not in got[10]["cleaned"]
    assert uniq(3) in got[10]["cleaned"] and uniq(6) in got[10]["cleaned"]
    assert got[11]["n_removed"] == 0 and got[11]["cleaned"] == uniq(4)
    idx = spark.read.parquet(f"{work}/gram_index")
    assert idx.count() == idx.select("h").distinct().count()
    # the replayed batch added only its genuinely fresh hashes
    b0 = spark.read.parquet(f"{work}/gram_index/batch_id=0")
    b1 = spark.read.parquet(f"{work}/gram_index/batch_id=1")
    assert b1.join(b0, "h").count() == 0


@pytest.mark.slow
def test_curation_stream_langid_first_stage(spark, tmp_path):
    """VERDICT r10 item 6: the trained langid gate runs as the FIRST
    stage of run_curation_stream.  Reference carries (text, target,
    lang); the gate trains quality+DSIR+langid into v000001, batch 1
    crashes between the accept and reject appends, the restart replays
    it and batch 2 (added after the restart) streams through — every
    non-English doc must land in reject/ with first_reject='langid',
    quality rejections attribute to 'quality', accepts carry NULL
    first_reject, and no doc is duplicated across the crash."""
    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_curation_stream,
    )

    prose = "the quick brown fox jumps over the lazy dog and it is fine "
    junk = "x,y;z.!? q,w;e.!? "
    de = "der schnelle braune fuchs springt über den faulen hund im park und es ist schön "
    fr = "le renard brun rapide saute par dessus le chien paresseux et la journée est belle "
    ref_rows = [(i, prose * (2 + i % 3), "en") for i in range(0, 30, 2)]
    ref_rows += [(i, junk * (4 + i % 3), "en") for i in range(1, 30, 2)]
    ref_rows += [(100 + i, de * (2 + i % 2), "de") for i in range(8)]
    ref_rows += [(200 + i, fr * (2 + i % 2), "fr") for i in range(8)]
    reference = spark.createDataFrame(ref_rows, "doc_id long, text string, lang string")
    target = F.col("lang") == "en"  # quality seed: english rows (prose+junk mix)

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(300, prose * 3), (301, de * 4)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    gate = lambda hook=None: run_curation_stream(  # noqa: E731
        spark, stream(), reference, target, work, ckpt,
        min_score_ppm=0, min_dsir_ppm=-(10**9),
        fault_hook=hook, langid_label="lang", langid_accept=("en",),
    )
    q = gate(_crash_once("after_accept", 0))
    _await_failure(q)
    # second batch arrives while the gate is down; restart must replay
    # batch 0's reject append AND process batch 1
    spark.createDataFrame(
        [(302, prose * 2), (303, fr * 4)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b2"))
    q2 = gate()
    q2.awaitTermination(120)

    acc = {r["doc_id"]: r for r in spark.read.parquet(f"{work}/accept").collect()}
    rej = {r["doc_id"]: r for r in spark.read.parquet(f"{work}/reject").collect()}
    assert set(acc) == {300, 302} and set(rej) == {301, 303}
    assert all(r["lang_pred"] == "en" and r["first_reject"] is None for r in acc.values())
    assert rej[301]["lang_pred"] == "de" and rej[301]["first_reject"] == "langid"
    assert rej[303]["lang_pred"] == "fr" and rej[303]["first_reject"] == "langid"
    # the funnel row, read straight off the gate's own output
    funnel = (
        spark.read.parquet(f"{work}/accept")
        .unionByName(spark.read.parquet(f"{work}/reject"))
        .groupBy("first_reject")
        .count()
        .collect()
    )
    counts = {r["first_reject"]: r["count"] for r in funnel}
    assert counts == {None: 2, "langid": 2}


@pytest.mark.slow
def test_curation_stream_langid_model_refresh(spark, tmp_path):
    """Langid model refresh e2e: v000001 trains with ('en', 'de') labels
    and accepts en; curation_model_refresh retrains on a reference whose
    labels are REMAPPED (German text now labeled 'en') and swings
    CURRENT to v000002 — the post-refresh batch routes German docs to
    accept/ because the NEW model learned German bytes as the accept
    label.  A restart keeps v000002."""
    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        _current_version,
        curation_model_refresh,
        run_curation_stream,
    )

    prose = "the quick brown fox jumps over the lazy dog and it is fine "
    de = "der schnelle braune fuchs springt über den faulen hund im park und es ist schön "
    ref_rows = [(i, prose * (2 + i % 3), "en") for i in range(0, 30, 2)]
    ref_rows += [(100 + i, de * (2 + i % 2), "de") for i in range(15)]
    reference = spark.createDataFrame(ref_rows, "doc_id long, text string, lang string")
    target = F.col("lang") == "en"

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(300, prose * 3), (301, de * 4)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    gate = lambda: run_curation_stream(  # noqa: E731
        spark, stream(), reference, target, work, ckpt,
        min_score_ppm=0, min_dsir_ppm=-(10**9),
        langid_label="lang", langid_accept=("en",),
    )
    q = gate()
    q.awaitTermination(120)
    assert _current_version(work) == "v000001"
    rej = {r["doc_id"]: r for r in spark.read.parquet(f"{work}/reject").collect()}
    assert rej[301]["first_reject"] == "langid" and rej[301]["lang_pred"] == "de"

    # refresh: German text is now LABELED 'en' (the accept label), English
    # 'other' — the swapped model must accept German and reject English
    flipped = reference.select(
        "doc_id", "text",
        F.when(F.col("lang") == "de", F.lit("en")).otherwise(F.lit("other")).alias("lang"),
    )
    v2 = curation_model_refresh(
        spark, work, flipped, F.col("lang") == "en", langid_label="lang"
    )
    assert v2 == "v000002"
    spark.createDataFrame(
        [(302, prose * 2), (303, de * 4)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b2"))
    q2 = gate()
    q2.awaitTermination(120)
    assert _current_version(work) == "v000002"
    acc = {r["doc_id"]: r for r in spark.read.parquet(f"{work}/accept").collect()}
    rej = {r["doc_id"]: r for r in spark.read.parquet(f"{work}/reject").collect()}
    assert 303 in acc and acc[303]["lang_pred"] == "en"  # German now the accept label
    assert rej[302]["first_reject"] == "langid" and rej[302]["lang_pred"] == "other"


@pytest.mark.slow
def test_url_dedup_stream_cross_batch_and_replay(spark, tmp_path):
    """run_url_dedup_stream: within-batch keep-best (longest text, tie to
    smallest id) per CANONICAL url — raw forms differing only in case /
    www / tracking params / fragments collapse; cross-batch keep-first
    rejects refetches; a crash between corpus and index appends replays
    without double-admitting."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_url_dedup_stream,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    schema = "doc_id long, url string, text string"
    batch1 = [
        # three raw spellings of ONE canonical url: longest text wins
        (1, "https://example.com/a?utm_source=x", "short"),
        (2, "HTTPS://WWW.Example.com/a", "the longest body of the three"),
        (3, "https://example.com:443/a#frag", "medium body"),
        # a singleton
        (4, "https://other.com/b", "unique page"),
    ]
    batch2 = [
        # refetch of the admitted canonical url -> rejected by the index
        (10, "https://example.com/a?fbclid=y", "a refetch, longer than ever"),
        # genuinely new
        (11, "https://other.com/c", "new page"),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema(schema).parquet(str(src / "*"))  # noqa: E731

    run_url_dedup_stream(spark, stream(), work, ckpt).awaitTermination(120)
    got1 = {r["doc_id"]: r for r in spark.read.parquet(f"{work}/corpus").collect()}
    assert sorted(got1) == [2, 4]
    assert got1[2]["canon_url"] == "https://example.com/a"
    hits1 = {(r["doc_id"], r["reason"]) for r in spark.read.parquet(f"{work}/hits").collect()}
    assert hits1 == {(1, "batch"), (3, "batch")}

    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(src / "b2"))
    q2 = run_url_dedup_stream(
        spark, stream(), work, ckpt, fault_hook=_crash_once("after_corpus", 1)
    )
    _await_failure(q2)
    run_url_dedup_stream(spark, stream(), work, ckpt).awaitTermination(120)

    corpus = spark.read.parquet(f"{work}/corpus").collect()
    ids = sorted(r["doc_id"] for r in corpus)
    assert ids == [2, 4, 11]  # no duplicates after replay, refetch rejected
    hits = {(r["doc_id"], r["reason"]) for r in spark.read.parquet(f"{work}/hits").collect()}
    assert (10, "index") in hits
    idx = spark.read.parquet(f"{work}/url_index").collect()
    canon = sorted(r["canon_url"] for r in idx)
    assert canon == sorted(set(canon)) == [
        "https://example.com/a",
        "https://other.com/b",
        "https://other.com/c",
    ]


@pytest.mark.slow
def test_curation_stream_gopher_stage(spark, tmp_path):
    """gopher=True arms the published rule set between langid-absent and
    the trained scorers: a doc failing a Gopher rule (too few words) is
    rejected with first_reject='gopher' BEFORE the classifier gets a say,
    a rule-passing doc flows through to the quality stage, and restart
    replays idempotently."""
    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_curation_stream,
    )

    # 60+ words with several listed stopwords and sane word lengths: passes
    # every Gopher rule; the quality classifier separates prose vs junk.
    prose = ("the quick brown fox jumps over the lazy dog and that is fine "
             "to have with all of the usual words in good measure here now ") * 2
    junk = "x,y;z.!? q,w;e.!? "
    ref_rows = [(i, prose + f"tail{i} more of the usual words") for i in range(0, 30, 2)]
    ref_rows += [(i, junk * (4 + i % 3)) for i in range(1, 30, 2)]
    reference = spark.createDataFrame(ref_rows, "doc_id long, text string")
    target = F.col("doc_id") % 2 == 0

    src = tmp_path / "incoming"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    short = "the of and that have with be to"  # all stopwords but 8 words: fails word-count rule
    # 102: passes every Gopher rule (64 words, sane lengths, two listed
    # stopwords, no symbols) but carries the junk reference's punctuation
    # signature, so the CLASSIFIER rejects it — the post-gopher stage
    punct_junk = "foo,bar;baz.!? qux,quux;corge.!? the of " * 8
    spark.createDataFrame(
        [(100, prose), (101, short), (102, punct_junk)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema("doc_id long, text string").parquet(  # noqa: E731
        str(src / "*")
    )
    q = run_curation_stream(
        spark, stream(), reference, target, work, ckpt,
        min_score_ppm=500000, gopher=True,
        fault_hook=_crash_once("after_accept", 0),
    )
    _await_failure(q)
    q2 = run_curation_stream(
        spark, stream(), reference, target, work, ckpt,
        min_score_ppm=500000, gopher=True,
    )
    q2.awaitTermination(120)

    accepted = {r["doc_id"] for r in spark.read.parquet(f"{work}/accept").collect()}
    rej = {r["doc_id"]: r for r in spark.read.parquet(f"{work}/reject").collect()}
    assert accepted == {100}
    assert set(rej) == {101, 102}
    assert rej[101]["first_reject"] == "gopher" and rej[101]["n_rules_failed"] >= 1
    assert rej[102]["first_reject"] == "quality" and rej[102]["n_rules_failed"] == 0


@pytest.mark.slow
def test_cc_stream_incremental_labels_and_replay(spark, tmp_path):
    """run_cc_stream: the persisted labeling after draining N edge batches
    equals from-scratch CC of the union, across batches that merge
    earlier components; a crash before the label commit replays into the
    SAME labeling (fold-in idempotence), never a corrupted or
    double-merged one."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        run_cc_stream,
    )

    src = tmp_path / "edges"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    schema = "src long, dst long"
    batch1 = [(0, 1), (2, 3), (10, 11)]
    # merges 0-1 with 2-3 (cross-component), extends 10-11, new pair 20-21
    batch2 = [(1, 2), (11, 12), (20, 21)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema(schema).parquet(str(src / "*"))  # noqa: E731

    run_cc_stream(spark, stream(), work, ckpt).awaitTermination(120)
    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    tbl = VersionedTable(f"{work}/cc_labels")
    got1 = {r.node: r.component for r in tbl.read(spark).collect()}
    assert got1 == {0: 0, 1: 0, 2: 2, 3: 2, 10: 10, 11: 10}

    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(src / "b2"))
    q2 = run_cc_stream(
        spark, stream(), work, ckpt, fault_hook=_crash_once("before_commit", 1)
    )
    _await_failure(q2)
    run_cc_stream(spark, stream(), work, ckpt).awaitTermination(120)

    want = {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    got2 = {r.node: r.component for r in tbl.read(spark).collect()}
    assert got2 == want

    # replaying the full drain once more (fresh checkpoint, same folders)
    # is a semantic no-op: identical labeling, no phantom components
    run_cc_stream(spark, stream(), work, str(tmp_path / "ckpt2")).awaitTermination(120)
    got3 = {r.node: r.component for r in tbl.read(spark).collect()}
    assert got3 == want


@pytest.mark.slow
def test_pagerank_refresh_over_cc_stream_edges(spark, tmp_path):
    """pagerank_refresh: ranks committed over the gate's accumulated edge
    store equal the exact ppm reference on the union of all drained
    batches; a second refresh after more edges lands a new version while
    the old stays readable (VersionedTable time travel)."""
    from arcane_stream_microsoft_synapse_link_spark.streaming.structured import (
        pagerank_refresh,
        run_cc_stream,
    )
    from arcane_stream_microsoft_synapse_link_spark.tables import VersionedTable

    src = tmp_path / "edges"
    src.mkdir()
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    schema = "src long, dst long"
    batch1 = [(0, 1), (1, 2), (5, 1)]
    batch2 = [(2, 0), (6, 1), (0, 1)]  # (0,1) repeats — distinct-folded
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    stream = lambda: spark.readStream.schema(schema).parquet(str(src / "*"))  # noqa: E731

    assert pagerank_refresh(spark, work) is None  # nothing accumulated yet
    run_cc_stream(spark, stream(), work, ckpt).awaitTermination(120)
    v1 = pagerank_refresh(spark, work, iterations=4)
    assert v1 == 1

    def ref(edges, iters=4):
        nodes = sorted({n for e in edges for n in e})
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        rank = {n: 1_000_000 for n in nodes}
        for _ in range(iters):
            inc = {n: 0 for n in nodes}
            for s, d in edges:
                inc[d] += rank[s] // outdeg[s]
            rank = {n: 150_000 + (85 * inc[n]) // 100 for n in nodes}
        return rank

    tbl = VersionedTable(f"{work}/pagerank")
    got1 = {r.node: r.rank_ppm for r in tbl.read(spark).collect()}
    assert got1 == ref(batch1)

    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(src / "b2"))
    run_cc_stream(spark, stream(), work, ckpt).awaitTermination(120)
    v2 = pagerank_refresh(spark, work, iterations=4)
    assert v2 == 2
    got2 = {r.node: r.rank_ppm for r in tbl.read(spark).collect()}
    assert got2 == ref(sorted(set(batch1 + batch2)))
    # previous ranking still readable (maintenance never breaks readers)
    assert {r.node: r.rank_ppm for r in tbl.read(spark, version=v1).collect()} == got1
