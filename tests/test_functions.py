"""Training-data operator tests: planted near-duplicates for the LSH
pipelines, exact-vs-numpy KNN, IVF recall, multimodal plumbing shape,
and tolerance checks for approximate aggregates."""

from __future__ import annotations

import math
import random

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from arcane_stream_microsoft_synapse_link_spark.catalog import Tables
from arcane_stream_microsoft_synapse_link_spark.functions import dedup as D
from arcane_stream_microsoft_synapse_link_spark.functions import multimodal as M
from arcane_stream_microsoft_synapse_link_spark.functions import similarity as S

from .conftest import SF_SMOKE

VOCAB = [f"w{i:03d}" for i in range(400)]


def _doc(rng: random.Random, n: int = 60) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


@pytest.fixture(scope="module")
def planted(spark):
    """40 random docs + 5 planted near-dup pairs (1-word mutation)."""
    rng = random.Random(7)
    rows = [(i, _doc(rng)) for i in range(40)]
    pairs = []
    for j in range(5):
        base_id = 100 + j
        dup_id = 200 + j
        text = _doc(rng)
        mutated = text.split()
        mutated[3] = "mutant"
        rows.append((base_id, text))
        rows.append((dup_id, " ".join(mutated)))
        pairs.append((base_id, dup_id))
    return spark.createDataFrame(rows, "doc_id long, text string"), pairs


def test_minhash_finds_planted_pairs(planted):
    df, pairs = planted
    found = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_duplicates(df, threshold=0.5).collect()
    }
    for p in pairs:
        assert p in found, f"planted near-dup {p} not found"
    # random 60-word docs over a 400-word vocab are NOT near-dups
    false_positives = found - set(pairs)
    assert len(false_positives) == 0, false_positives


@pytest.mark.parametrize("bands", [0, -4, 5, 256])
def test_minhash_banded_rejects_bands_not_dividing_num_hashes(spark, bands):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must be positive and divide"):
        D.minhash_banded_np(df, num_hashes=128, bands=bands)


def test_simhash_finds_planted_pairs(planted):
    df, pairs = planted
    found = {(r.id_a, r.id_b) for r in D.simhash_near_duplicates(df, max_hamming=10).collect()}
    hit = sum(1 for p in pairs if p in found)
    assert hit >= 4  # SimHash on short docs is noisier; ≥4/5 planted found


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = D.drop_exact_duplicates(df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def test_knn_bruteforce_matches_numpy(spark):
    t = Tables(spark, SF_SMOKE)
    emb = t.embeddings.orderBy("vec_id")
    mat = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    ids = np.array([r.vec_id for r in emb.select("vec_id").collect()])
    qids = ids[:4]
    qmat = mat[:4]
    sims = (qmat @ mat.T) / (
        np.linalg.norm(qmat, axis=1)[:, None] * np.linalg.norm(mat, axis=1)[None, :]
    )
    queries_df = t.embeddings.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.brute_force_topk(t.embeddings, queries_df, k=5).collect()
    for qi, qid in enumerate(qids):
        expected = set(ids[np.argsort(-sims[qi])[:5]])
        actual = {r.vec_id for r in got if r.query_id == qid}
        # ties at equal cosine can swap the boundary element; require ≥4/5
        assert len(expected & actual) >= 4, (qid, expected, actual)


def test_ivf_recall_clustered(spark):
    """The ANN recall contract (SURVEY §2.D): recall ≥ 0.95 vs brute force
    while probing ≤ 25% of the cells AND ≤ 30% of the corpus rows — on
    clustered embeddings, the data ANN indexes exist for. (On uniform
    random vectors recall tracks probed fraction for ANY cell structure;
    that worst case is documented by test_ivf_uniform_worst_case.)"""
    rng = np.random.RandomState(7)
    k_true, n, dim = 40, 2000, 64
    centers = rng.randn(k_true, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.randint(0, k_true, n)
    mat = centers[labels] + 0.35 * rng.randn(n, dim) / np.sqrt(dim)
    df = spark.createDataFrame(
        [(int(i), mat[i].tolist()) for i in range(n)], "vec_id long, embedding array<double>"
    ).repartition(8)
    queries_df = df.where(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    brute = S.brute_force_topk(df, queries_df, k=10).collect()

    n_cells = 45
    cents = S.ivf_train(df, n_cells, iters=2)
    assigned = S.ivf_assign(df, cents).localCheckpoint()
    nprobe = max(1, -(-n_cells // 4))  # ceil(25% of cells) == the default
    approx = S.ivf_topk(assigned, cents, queries_df, k=10, nprobe=nprobe).collect()

    bset = {(r.query_id, r.vec_id) for r in brute}
    aset = {(r.query_id, r.vec_id) for r in approx}
    recall = len(bset & aset) / len(bset)
    assert recall >= 0.95, recall

    # probed-row bound: the cells each query ACTUALLY probes (its nprobe
    # nearest) cover ≤ 30% of the corpus on average
    sizes = {
        r["centroid_id"]: r["count"] for r in assigned.groupBy("centroid_id").count().collect()
    }
    crows = cents.orderBy("centroid_id").collect()
    cmat = np.asarray([r["centroid"] for r in crows], dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    qn = mat[:8] / np.linalg.norm(mat[:8], axis=1, keepdims=True)
    fracs = []
    for j in range(8):
        cells = np.argsort(-(qn[j] @ cmat.T))[:nprobe]
        fracs.append(sum(sizes.get(int(c), 0) for c in cells) / n)
    assert sum(fracs) / len(fracs) <= 0.30, fracs


def test_ivf_uniform_worst_case(spark):
    """Uniform random vectors (the fixture corpus) are the adversarial
    input for ANY inverted-file index: neighbors are barely above the
    noise floor, so recall tracks the probed corpus fraction. Assert the
    honest behavior — recall well above the probed fraction (the index is
    still far better than random sampling) — rather than inflating nprobe
    until IVF degenerates into brute force."""
    t = Tables(spark, SF_SMOKE)
    queries_df = t.embeddings.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = S.brute_force_topk(t.embeddings, queries_df, k=10).collect()
    cents = S.ivf_train(t.embeddings, 32, iters=1)
    assigned = S.ivf_assign(t.embeddings, cents)
    approx = S.ivf_topk(assigned, cents, queries_df, k=10).collect()  # default ≈25% of cells
    bset = {(r.query_id, r.vec_id) for r in brute}
    aset = {(r.query_id, r.vec_id) for r in approx}
    recall = len(bset & aset) / len(bset)
    assert recall >= 0.5, recall  # ≈2× the probed fraction on pure noise


def test_ops_knn_ivf_meets_declared_recall(spark):
    """The declared product entry ops_knn_ivf must meet the SURVEY §2.D
    bound (recall ≥ 0.95 vs brute force) on the corpus it actually runs
    on: it probes 28/32 cells because the shipped embeddings are
    near-uniform (measured 0.975 at sf0.01; nprobe=24 sits exactly at
    0.95 with no margin)."""
    from arcane_stream_microsoft_synapse_link_spark.plans import QUERIES
    from .conftest import SF_CORRECT

    t = Tables(spark, SF_CORRECT)
    queries_df = t.embeddings.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = S.brute_force_topk(t.embeddings, queries_df, k=10).collect()
    approx = QUERIES["ops_knn_ivf"](spark, SF_CORRECT).collect()
    bset = {(r.query_id, r.vec_id) for r in brute}
    aset = {(r.query_id, r.vec_id) for r in approx}
    recall = len(bset & aset) / len(bset)
    assert recall >= 0.95, recall


def test_embedding_near_dup_finds_planted(spark):
    """Planted noisy clones are found; unrelated random vectors are not."""
    rng = np.random.RandomState(3)
    base = rng.randn(30, 64)
    rows = [(int(i), base[i].tolist()) for i in range(30)]
    planted = []
    for j in range(5):
        src = base[j]
        clone = src + rng.randn(64) * 0.02  # cosine ≈ 0.999
        rows.append((100 + j, clone.tolist()))
        planted.append((j, 100 + j))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    found = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_duplicates(df, threshold=0.95, max_hamming=16).collect()
    }
    for p in planted:
        assert p in found, f"planted clone pair {p} not found"
    assert not (found - set(planted)), found - set(planted)


def test_multimodal_plumbing(spark):
    media = M.fake_media_df(spark, n=64)
    out = M.extract_features(media, dim=8)
    rows = out.collect()
    assert len(rows) == 64
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic across independent runs
    rows2 = M.extract_features(media, dim=8).collect()
    assert [r.feature for r in sorted(rows, key=lambda r: r.media_id)] == [
        r.feature for r in sorted(rows2, key=lambda r: r.media_id)
    ]


def test_decode_stub_is_honest():
    with pytest.raises(NotImplementedError):
        M.decode_stub(b"x", "image", fake=False)


def test_approx_count_distinct_tolerance(spark):
    t = Tables(spark, SF_SMOKE)
    apx = t.lineitem.agg(F.approx_count_distinct("l_partkey", 0.01).alias("a")).collect()[0].a
    exact = duckdb.sql(
        f"SELECT count(DISTINCT l_partkey) FROM '{SF_SMOKE}/lineitem.parquet'"
    ).fetchone()[0]
    assert abs(apx - exact) / exact < 0.02


def test_percentile_tolerance(spark):
    t = Tables(spark, SF_SMOKE)
    p50 = t.lineitem.agg(F.percentile_approx("l_extendedprice", 0.5).alias("p")).collect()[0].p
    exact = duckdb.sql(
        f"SELECT quantile_cont(l_extendedprice, 0.5) FROM '{SF_SMOKE}/lineitem.parquet'"
    ).fetchone()[0]
    assert math.isclose(p50, exact, rel_tol=0.01)


def test_multimodal_resize_and_frames(spark):
    media = M.fake_media_df(spark, n=30)
    resized = M.resize_images(media, 32, 32).collect()
    assert len(resized) == 10  # every third row is an image
    assert all(r.width == 32 and len(r.payload) == 32 * 32 // 64 for r in resized)

    frames = M.sample_frames(media, every_ms=250).collect()
    vids = media.where("media_type = 'video'").collect()
    expected = sum(max(v.duration_ms // 250, 1) for v in vids)
    assert len(frames) == expected
    assert all(len(f.frame) == 16 for f in frames)
    # frame sampling is deterministic
    again = M.sample_frames(media, every_ms=250).collect()
    key = lambda r: (r.media_id, r.frame_idx)
    assert sorted([(r.media_id, r.frame_idx, r.frame) for r in frames]) == sorted(
        [(r.media_id, r.frame_idx, r.frame) for r in again]
    )


def test_duplicate_clusters_and_drop(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 9)], "id_a long, id_b long"
    )
    clusters = {r.id: r.cluster_id for r in D.duplicate_clusters(pairs).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 5, 6, 7, 9)], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in D.drop_near_duplicates(docs, pairs).collect())
    assert kept == [1, 4, 6, 7]  # cluster keepers + unpaired 6


def test_duplicate_clusters_long_chain(spark):
    """A 10-node path graph needs several propagation rounds — checks the
    iteration/convergence logic, not just star shapes."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 19)], "id_a long, id_b long"
    )
    clusters = {r.id: r.cluster_id for r in D.duplicate_clusters(pairs).collect()}
    assert set(clusters.values()) == {10}
    assert len(clusters) == 10


def test_hll_sketch_tolerance_and_mergeability(spark, sf_dir):
    """HLL sketches: estimate within ±2% of exact, and per-partition
    sketches merged with hll_union_agg give EXACTLY the same estimate as
    one global sketch — the associativity that makes distributed distinct
    counting shuffle O(sketch bytes), not O(values)."""
    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.catalog import Tables

    li = Tables(spark, sf_dir).lineitem
    exact = li.agg(F.count_distinct("l_partkey")).first()[0]
    whole = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey", F.lit(14)))
    ).first()[0]
    assert abs(whole - exact) / exact < 0.02

    halves = li.withColumn("_h", (F.col("l_orderkey") % 2).cast("int"))
    merged = (
        halves.groupBy("_h")
        .agg(F.hll_sketch_agg("l_partkey", F.lit(14)).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")))
        .first()[0]
    )
    assert merged == whole


def test_duplicate_clusters_distributed_path_matches_driver_path(spark):
    """Force the distributed min-label propagation (driver_threshold=0) and
    check it equals the driver union-find on the same graph."""
    import random

    rng = random.Random(3)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    from arcane_stream_microsoft_synapse_link_spark.functions import dedup as D

    drv = {r.id: r.cluster_id for r in D.duplicate_clusters(pairs).collect()}
    dist = {
        r.id: r.cluster_id
        for r in D.duplicate_clusters(pairs, driver_threshold=0).collect()
    }
    assert drv == dist and len(drv) > 0


def test_repetition_metrics_planted(spark):
    """Hand-computable docs: a clean doc, a fully-repeated doc, a doc whose
    bigrams are dominated by one phrase, and a one-word doc."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),            # all distinct, all bigrams distinct
            (2, "x x x x"),              # 4 words 1 distinct; bigram "x x" ×3/3
            (3, "go go go stop"),        # top bigram "go go" 2 of 3
            (4, "solo"),                 # no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in repetition_metrics(docs).collect()}
    assert got[1]["dup_word_ppm"] == 0 and got[1]["top_bigram_ppm"] == 250_000
    assert got[2]["dup_word_ppm"] == 750_000 and got[2]["top_bigram_ppm"] == 1_000_000
    assert got[3]["dup_word_ppm"] == 500_000 and got[3]["top_bigram_ppm"] == 666_666
    assert got[4]["dup_word_ppm"] == 0 and got[4]["top_bigram_ppm"] == 0


def test_decontaminate_planted(spark):
    """A doc sharing an 8-gram with the benchmark is dropped; shorter
    overlaps and short docs survive."""
    phrase = "one two three four five six seven eight"
    bench = spark.createDataFrame([(100, f"junk {phrase} junk")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, f"prefix {phrase} suffix"),            # contaminated (8-gram hit)
            (2, "one two three four five six seven"),  # 7-gram only -> survives
            (3, "totally unrelated words here"),       # survives
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in D.decontaminate(corpus, bench, n=8).select("doc_id").collect()
    )
    assert kept == [2, 3]


def test_bloom_decontaminate_planted_and_vs_exact(spark):
    """The Bloom path flags exactly the exact-set contamination on a
    planted corpus (at 2^20 bits / ~dozens of grams the FP odds are
    ~1e-20), and its errors are one-sided by construction: every doc the
    exact semi-join flags must also be Bloom-flagged."""
    phrase = "one two three four five six seven eight"
    bench = spark.createDataFrame([(100, f"junk {phrase} junk")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, f"prefix {phrase} suffix"),
            (2, "one two three four five six seven"),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.asDict()
        for r in D.bloom_decontaminate_stats(corpus, bench, n=8).collect()
    }
    assert set(got) == {1, 3}  # doc 2 has no 8-gram at all
    # 10-word doc → 3 overlapping 8-grams, exactly one shared with bench
    assert got[1]["contaminated"] == 1 and got[1]["n_grams"] == 3 and got[1]["n_hits"] == 1
    assert got[3]["contaminated"] == 0 and got[3]["n_hits"] == 0
    # supersets the exact decontamination verdict on sf0.001 corpus data
    from arcane_stream_microsoft_synapse_link_spark.catalog import Tables

    t = Tables(spark, "/root/testdata/sf0.001")
    b = t.documents.where(F.col("source") == "src0")
    c = t.documents.where(F.col("source") != "src0")
    kept_exact = {r.doc_id for r in D.decontaminate(c, b, n=8).select("doc_id").collect()}
    all_ids = {r.doc_id for r in c.select("doc_id").collect()}
    exact_flagged = all_ids - kept_exact
    bloom_flagged = {
        r.doc_id
        for r in D.bloom_decontaminate_stats(c, b, n=8).where(F.col("contaminated") == 1).collect()
    }
    assert exact_flagged <= bloom_flagged


def test_bloom_filter_partition_invariant(spark):
    """The OR-of-partials bitmap is independent of input partitioning."""
    docs = spark.createDataFrame(
        [(i, f"word{i} " + " ".join(f"tok{j}" for j in range(10))) for i in range(40)],
        "doc_id long, text string",
    )
    one = D.bloom_gram_filter(docs.coalesce(1), n=4)
    many = D.bloom_gram_filter(docs.repartition(16), n=4)
    assert one == many


def test_compression_stats_verdicts(spark):
    """Highly repetitive text compresses into the 'repetitive' band,
    high-entropy text lands 'incompressible', and the ratio is the exact
    integer ppm of the zlib level-6 output."""
    import zlib

    import hashlib

    rep = "spam and eggs " * 200
    # deterministic high-entropy printable text (~6.4 bits/char): SHA-256
    # bytes mapped onto a 90-char alphabet → deflate ratio ~0.83
    noise = "".join(
        chr(33 + b % 90)
        for i in range(80)
        for b in hashlib.sha256(str(i).encode()).digest()
    )
    plain = (
        "the quick brown fox jumps over the lazy dog while a careful reader "
        "notes that ordinary english prose compresses to roughly half its size "
        "under deflate at the default level which is what this sentence is for"
    )
    docs = spark.createDataFrame(
        [(1, rep), (2, noise), (3, plain)], "doc_id long, text string"
    )
    from arcane_stream_microsoft_synapse_link_spark.functions.text import compression_stats

    got = {r.doc_id: r.asDict() for r in compression_stats(docs).collect()}
    assert got[1]["verdict"] == "repetitive"
    assert got[2]["verdict"] == "incompressible"
    assert got[3]["verdict"] == "keep"
    for did, raw in ((1, rep), (2, noise), (3, plain)):
        b = raw.encode()
        assert got[did]["raw_bytes"] == len(b)
        assert got[did]["zlib_bytes"] == len(zlib.compress(b, 6))
        assert got[did]["ratio_ppm"] == len(zlib.compress(b, 6)) * 1_000_000 // len(b)


def test_seeded_shuffle_shards_deterministic_and_complete(spark, tmp_path):
    from arcane_stream_microsoft_synapse_link_spark.functions import export as E

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a = E.seeded_shuffle_shards(df, num_shards=8, seed=7).collect()
    b = E.seeded_shuffle_shards(df, num_shards=8, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    shards = {r.shard for r in a}
    assert shards <= set(range(8)) and len({r.doc_id for r in a}) == 500
    # different seed -> different permutation
    c = E.seeded_shuffle_shards(df, num_shards=8, seed=8).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))
    # positions are a contiguous 1..n ranking inside each shard
    from collections import Counter

    per_shard = Counter(r.shard for r in a)
    for s, n in per_shard.items():
        assert sorted(r.pos for r in a if r.shard == s) == list(range(1, n + 1))

    # nonlinear mixer: strided ids (every 8th, num_shards=8) must spread
    # over ALL shards, and a seed change must REGROUP docs across shards
    # (an affine hash fails both — shard would be a function of id mod 8)
    strided = spark.createDataFrame([(8 * i,) for i in range(400)], "doc_id long")
    sa = {r.doc_id: r.shard for r in E.seeded_shuffle_shards(strided, 8, seed=0).collect()}
    assert len(set(sa.values())) == 8
    sb = {r.doc_id: r.shard for r in E.seeded_shuffle_shards(strided, 8, seed=1).collect()}
    assert sum(1 for d in sa if sa[d] != sb[d]) > 100

    # write path: partitioned layout, shard dirs, total row count preserved
    out = str(tmp_path / "shards")
    E.write_training_shards(df, out, num_shards=4, seed=1)
    back = spark.read.parquet(out)
    assert back.count() == 500
    assert {r.shard for r in back.select("shard").distinct().collect()} <= set(range(4))


def test_scrub_pii_planted(spark):
    from arcane_stream_microsoft_synapse_link_spark.functions.text import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or call +1 (555) 123-4567 now"),
            (2, "server at 192.168.001.12 rebooted"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in scrub_pii(docs).collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1
    assert "<EMAIL>" in got[1].text_scrubbed and "<PHONE>" in got[1].text_scrubbed
    assert "example" not in got[1].text_scrubbed and "555" not in got[1].text_scrubbed
    assert got[2].n_ip == 1 and got[2].n_phone == 0 and "<IP>" in got[2].text_scrubbed
    assert got[3].text_scrubbed == "nothing sensitive here"
    assert (got[3].n_email, got[3].n_phone, got[3].n_ip) == (0, 0, 0)


def test_decontaminate_property_matches_python_model(spark):
    """decontaminate == the obvious Python set-intersection model for
    random small corpora (varying doc lengths incl. < n words)."""
    import random
    import re

    from arcane_stream_microsoft_synapse_link_spark.functions.text import WORD_RE

    rng = random.Random(77)
    vocab = [f"t{i}" for i in range(12)]  # small vocab -> frequent collisions
    n = 5

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 14)))

    bench_rows = [(1000 + i, doc()) for i in range(8)]
    corpus_rows = [(i, doc()) for i in range(80)]

    def grams(text):
        w = re.findall(WORD_RE, text.lower())
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    bench_grams = set().union(*(grams(t) for _, t in bench_rows))
    expect = sorted(i for i, t in corpus_rows if not (grams(t) & bench_grams))

    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    got = sorted(r.doc_id for r in D.decontaminate(corpus, bench, n=n).collect())
    assert got == expect


def test_bloom_decontaminate_property_model(spark):
    """bloom_decontaminate_stats vs the Python exact-set model on random
    small corpora: per-doc gram counts exact, hit counts a superset of
    the exact intersection count (one-sided Bloom error), and at 2^20
    bits with a ~hundred-gram benchmark the flags are EQUAL to the exact
    model (FP odds ~(n_grams·k/m)^k ≈ 1e-13 per gram)."""
    import random
    import re

    from arcane_stream_microsoft_synapse_link_spark.functions.text import WORD_RE

    rng = random.Random(78)
    vocab = [f"t{i}" for i in range(12)]
    n = 5

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 14)))

    bench_rows = [(1000 + i, doc()) for i in range(8)]
    corpus_rows = [(i, doc()) for i in range(80)]

    def gram_list(text):
        w = re.findall(WORD_RE, text.lower())
        return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]

    bench_grams = set().union(*(set(gram_list(t)) for _, t in bench_rows))
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    got = {
        r.doc_id: r.asDict()
        for r in D.bloom_decontaminate_stats(corpus, bench, n=n).collect()
    }
    for i, t in corpus_rows:
        gs = gram_list(t)
        if not gs:
            assert i not in got
            continue
        exact_hits = sum(1 for g in gs if g in bench_grams)
        assert got[i]["n_grams"] == len(gs)
        assert got[i]["n_hits"] >= exact_hits  # one-sided
        assert got[i]["n_hits"] == exact_hits  # and equal at 2^20 bits
        assert got[i]["contaminated"] == (1 if exact_hits else 0)


def test_substring_span_stats_planted(spark):
    """Winnowing guarantee: a shared block >= window+k-1 chars is caught
    even when the copy sits at an ARBITRARY (stride-free) offset in the
    other doc; an unrelated doc reports zero dup fingerprints; a doc
    shorter than window+k-1 reports n_fps=0, dup_frac=0."""
    shared = "The quick brown fox jumps over the lazy dog near the river bank"  # 63 chars
    rows = [
        (1, shared + " and then some unique tail text for doc one only here"),
        # copy shifted by 37 chars — deliberately NOT a round offset
        (2, "Totally different opening words here " + shared),
        (3, "An unrelated document with its own words that repeat nothing at all from others."),
        (4, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.substring_span_stats(df, k=20, window=10).collect()}
    assert out[1]["n_dup_fps"] > 0 and out[2]["n_dup_fps"] > 0
    assert out[3]["n_dup_fps"] == 0
    assert out[4]["n_fps"] == 0 and out[4]["dup_frac"] == 0.0
    for r in out.values():
        assert 0.0 <= r["dup_frac"] <= 1.0
    # python oracle for doc 3: winnow by hand with the same md5 minima
    import hashlib

    text = rows[2][1]
    hs = [
        hashlib.md5(text[i : i + 20].encode()).hexdigest()
        for i in range(len(text) - 19)
    ]
    expect = len({min(hs[i : i + 10]) for i in range(len(hs) - 9)})
    assert out[3]["n_fps"] == expect


def test_semantic_dedup_drops_planted_duplicates(spark):
    """Planted near-identical vectors land in one cluster and every copy
    except the lowest id is dropped; well-separated vectors all survive."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 16))
    rows = [(i, base[i].tolist()) for i in range(30)]
    # plant: ids 100..103 are tiny perturbations of one vector
    v = rng.normal(size=16)
    for j in range(4):
        rows.append((100 + j, (v + rng.normal(scale=1e-3, size=16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in S.semantic_dedup(df, n_clusters=4, threshold=0.95).collect()}
    assert len(out) == 34
    clusters = {out[100 + j]["cluster"] for j in range(4)}
    assert len(clusters) == 1  # planted copies share a cluster
    keeps = [j for j in range(4) if out[100 + j]["keep"]]
    assert keeps == [0]  # only the lowest id kept
    # random gaussian vectors at cos>=0.95: none should be dropped
    dropped_random = [i for i in range(30) if not out[i]["keep"]]
    assert dropped_random == []


def test_winnowing_guarantee_property(spark):
    """Winnowing's detection guarantee, adversarially: for random docs
    with one shared block of length >= window+k-1 planted at RANDOM
    offsets (including offsets coprime to any stride), both docs always
    report n_dup_fps > 0; docs sharing nothing report zero."""
    import random as _r

    rng = _r.Random(23)
    alphabet = "abcdefghijklmnopqrstuvwxyz "

    def rand_text(n):
        return "".join(rng.choice(alphabet) for _ in range(n))

    k, w = 20, 10
    rows, expect_dup = [], set()
    for case in range(12):
        block = rand_text(k + w - 1 + rng.randrange(0, 30))
        a_pre, b_pre = rand_text(rng.randrange(0, 97)), rand_text(rng.randrange(0, 97))
        a_id, b_id = 1000 + case * 2, 1001 + case * 2
        rows.append((a_id, a_pre + block + rand_text(rng.randrange(0, 50))))
        rows.append((b_id, b_pre + block + rand_text(rng.randrange(0, 50))))
        expect_dup |= {a_id, b_id}
    # lone docs: random text, no planted block (collision odds over a
    # 27-char alphabet at 20-gram length are nil)
    lone = [(2000 + i, rand_text(150)) for i in range(8)]
    rows += lone
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.substring_span_stats(df, k=k, window=w).collect()}
    for did in expect_dup:
        assert out[did]["n_dup_fps"] > 0, f"planted block missed in doc {did}"
    for did, _ in lone:
        assert out[did]["n_dup_fps"] == 0, f"false positive in lone doc {did}"


def test_weighted_sample_prefers_heavy_rows(spark):
    """E-S sampling property: with weights 50 vs 1 and k = half the corpus,
    heavy rows are selected at a much higher rate than light rows, and the
    draw is deterministic per seed."""
    from arcane_stream_microsoft_synapse_link_spark.functions.export import (
        weighted_sample_topk,
    )

    rows = [(i, 50 if i < 100 else 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, wgt long")
    heavy_rates = []
    for seed in (1, 2, 3):
        got = weighted_sample_topk(df, F.col("wgt"), k=150, seed=seed, id_col="doc_id")
        ids = {r["doc_id"] for r in got.collect()}
        assert len(ids) == 150
        heavy_rates.append(sum(1 for i in ids if i < 100) / 100)
    # heavy rows (weight 50, a third of the corpus) should be nearly all
    # selected when half the corpus is drawn
    assert min(heavy_rates) > 0.9, heavy_rates
    # determinism: same seed → identical draw
    a = {r["doc_id"] for r in weighted_sample_topk(df, F.col("wgt"), k=150, seed=1).collect()}
    b = {r["doc_id"] for r in weighted_sample_topk(df, F.col("wgt"), k=150, seed=1).collect()}
    assert a == b


@pytest.mark.slow
def test_pq_topk_recall_with_rerank(spark):
    """PQ + exact rerank on clustered embeddings: recall >= 0.9 vs brute
    force while the ADC scan reads 8-byte codes, never raw vectors; codes
    and the final ranking are deterministic per seed."""
    rng = np.random.RandomState(13)
    k_true, n, dim = 20, 1500, 64
    centers = rng.randn(k_true, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.randint(0, k_true, n)
    mat = centers[labels] + 0.3 * rng.randn(n, dim) / np.sqrt(dim)
    df = spark.createDataFrame(
        [(int(i), mat[i].tolist()) for i in range(n)], "vec_id long, embedding array<double>"
    ).repartition(8)
    queries = df.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = S.brute_force_topk(df, queries, k=10).collect()
    approx = S.pq_topk(df, queries, k=10, m=8, rerank=100, seed=5).collect()
    bset = {(r.query_id, r.vec_id) for r in brute}
    aset = {(r.query_id, r.vec_id) for r in approx}
    recall = len(bset & aset) / len(bset)
    assert recall >= 0.9, recall
    # determinism
    again = S.pq_topk(df, queries, k=10, m=8, rerank=100, seed=5).collect()
    assert [(r.query_id, r.vec_id) for r in again] == [
        (r.query_id, r.vec_id) for r in approx
    ]


def test_pq_encode_shape_and_compression(spark):
    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(int(i), rng.randn(64).tolist()) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    cb = S.pq_train(df, m=8, codes=16, sample_size=128, seed=1)
    assert cb.shape == (8, 16, 8)
    enc = S.pq_encode(df, cb).collect()
    assert len(enc) == 200
    for r in enc[:5]:
        assert len(r["pq_codes"]) == 8
        assert all(0 <= c < 16 for c in r["pq_codes"])


def test_incremental_near_dup_against_index(spark):
    """Crawl-N+1 dedup: only the NEW batch is signed; matches against the
    stored band index are verified by exact Jaccard; fresh docs pass."""
    rng = random.Random(31)
    corpus_rows = [(i, _doc(rng)) for i in range(30)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    index = D.minhash_band_index(corpus).localCheckpoint()

    near = corpus_rows[3][1].split()
    near[5] = "mutant"
    new_rows = [
        (1000, corpus_rows[7][1]),          # exact copy of an indexed doc
        (1001, " ".join(near)),             # near-dup of an indexed doc
        (1002, _doc(rng)),                  # fresh
        (1003, _doc(rng)),                  # fresh
    ]
    new_docs = spark.createDataFrame(new_rows, "doc_id long, text string")
    hits = D.incremental_near_duplicates(new_docs, index, corpus, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in hits.collect()}
    assert (1000, 7) in got
    assert (1001, 3) in got
    assert not any(a in (1002, 1003) for a, _ in got), got
    # folding the new batch in = appending its band rows; the next batch
    # then matches against the union
    index2 = index.unionByName(D.minhash_band_index(new_docs)).localCheckpoint()
    next_batch = spark.createDataFrame([(2000, new_rows[2][1])], "doc_id long, text string")
    both = corpus.unionByName(new_docs)
    hits2 = {(r["id_a"], r["id_b"]) for r in
             D.incremental_near_duplicates(next_batch, index2, both, threshold=0.5).collect()}
    assert (2000, 1002) in hits2


def test_cms_heavy_hitters_exact_under_collisions(spark):
    """The CMS candidate filter is heuristic; the post-hoc soundness loop
    makes the answer exact even with a deliberately tiny sketch (width 8
    -> heavy collisions, threshold repeatedly halved). Compare against
    brute-force counts on a skewed corpus."""
    from collections import Counter

    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        cms_heavy_hitters,
    )

    rng = random.Random(97)
    rows, counter = [], Counter()
    for i in range(80):
        words = ["common" + str(i % 3)] * 6 + [_doc(rng, 12)]
        text = " ".join(words)
        rows.append((i, text))
        counter.update(__import__("re").findall(r"[a-z0-9]+", text.lower()))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["token"], r["cnt"]) for r in cms_heavy_hitters(df, k=10, width=8, depth=2).collect()]
    exp = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == exp


def test_pca_matches_numpy(spark):
    """Distributed moment-partial PCA == numpy PCA on the collected data:
    same eigenvalues, same (sign-fixed) components, same projections."""
    rng = np.random.RandomState(21)
    base = rng.randn(300, 16) @ np.diag(np.linspace(3, 0.1, 16))
    df = spark.createDataFrame(
        [(int(i), base[i].tolist()) for i in range(300)],
        "vec_id long, embedding array<double>",
    ).repartition(6)
    mean, comps, ev = S.pca_train(df, n_components=4)
    mu = base.mean(axis=0)
    cov = (base - mu).T @ (base - mu) / len(base)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:4]
    ref = vecs[:, order].T
    for i in range(4):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(mean, mu, atol=1e-9)
    assert np.allclose(ev, vals[order], atol=1e-9)
    assert np.allclose(comps, ref, atol=1e-7)
    proj = {r["vec_id"]: r["proj"] for r in S.pca_project(df, mean, comps).collect()}
    expect = (base - mu) @ ref.T
    for i in range(0, 300, 50):
        assert np.allclose(proj[i], expect[i], atol=1e-7)
    # variance is concentrated in the leading components by construction
    assert ev[0] > ev[1] > ev[2]


def test_bpe_train_matches_python_reference(spark, sf_dir):
    """The distributed trainer's merge table equals a pure-Python
    reference BPE (same tokenization, same tie-break, same greedy
    left-to-right merge rule) on the real corpus — exact, all 10 ranks."""
    import re
    from collections import Counter

    import duckdb

    from arcane_stream_microsoft_synapse_link_spark.catalog import Tables
    from arcane_stream_microsoft_synapse_link_spark.functions.text import bpe_train

    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    wc = Counter(w for t in texts for w in re.findall("[a-z]+", (t or "").lower()))
    vocab = {tuple(w): c for w, c in wc.items() if len(w) >= 2}
    expected = []
    for rank in range(10):
        pc = Counter()
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += c
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        expected.append((rank, l, r, cnt))
        nxt: dict[tuple, int] = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + c
        vocab = nxt

    t = Tables(spark, sf_dir)
    # driver-side engine (the size probe picks it for this vocab)
    merges, vdf = bpe_train(t.documents, n_merges=10)
    assert merges == expected
    got_words = {r["sym"].replace(" ", "") for r in vdf.collect()}
    assert got_words == {"".join(k) for k in vocab}
    # distributed engine (forced via limit=0) produces the IDENTICAL table
    merges_d, vdf_d = bpe_train(t.documents, n_merges=10, driver_vocab_limit=0)
    vdf_d.unpersist()
    assert merges_d == expected
    assert {r["sym"].replace(" ", "") for r in vdf_d.collect()} == got_words


def test_bilinear_resize_math():
    """The raw-path resize is REAL bilinear resampling: hand-computed
    2x2→4x4 case, constant-image invariance, and exact 2x downscale
    averaging on a checkerboard."""
    import numpy as np

    from arcane_stream_microsoft_synapse_link_spark.functions.multimodal import (
        bilinear_resize,
    )

    # constant image stays constant at any size
    const = np.full((5, 7), 93, dtype=np.uint8)
    assert (bilinear_resize(const, 13, 3) == 93).all()

    # 2x2 → 4x4, align_corners=False: corner output pixels clamp to the
    # nearest source pixel, interior pixels interpolate at 1/4 offsets
    src = np.array([[0, 100], [200, 60]], dtype=np.uint8)
    out = bilinear_resize(src, 4, 4)
    assert out[0, 0] == 0 and out[0, 3] == 100
    assert out[3, 0] == 200 and out[3, 3] == 60
    # center pixels: bilinear at (0.25, 0.25) from each corner
    # e.g. out[1,1] = 0*(.75*.75) + 100*(.25*.75) + 200*(.75*.25) + 60*(.25*.25)
    assert out[1, 1] == round(0 * 0.5625 + 100 * 0.1875 + 200 * 0.1875 + 60 * 0.0625)

    # exact 2x downscale of a checkerboard = the 4-pixel average everywhere
    cb = np.zeros((4, 4), dtype=np.uint8)
    cb[::2, 1::2] = 255
    cb[1::2, ::2] = 255
    down = bilinear_resize(cb, 2, 2)
    assert (down == 128).all()  # rint(127.5) rounds to even → 128


def test_raw_media_decode_and_features(spark):
    """decode_raw reinterprets bytes exactly; the Spark feature op's
    integer statistics equal a direct numpy computation per media row."""
    import numpy as np

    from arcane_stream_microsoft_synapse_link_spark.functions import multimodal as M

    media = M.raw_media_df(spark, n=24)
    rows = {r["media_id"]: r for r in media.collect()}
    feats = {r["media_id"]: r for r in M.extract_features_raw(media, bins=8).collect()}
    assert set(feats) == set(rows)
    for mid, r in rows.items():
        arr = M.decode_raw(bytes(r["payload"]), r["media_type"], r["width"], r["height"])
        flat = arr.astype(np.int64).ravel()
        f = feats[mid]
        assert f["n_values"] == flat.size
        assert f["mean_milli"] == int(flat.sum()) * 1000 // flat.size
        lo, hi = (-32768, 32768) if r["media_type"] == "audio" else (0, 256)
        assert f["hist"] == [int(v) for v in np.histogram(flat, bins=8, range=(lo, hi))[0]]

    # size mismatch fails loudly, not silently
    import pytest as _pytest

    with _pytest.raises(ValueError, match="image payload"):
        M.decode_raw(b"\x00" * 10, "image", 4, 4)


def test_raw_frame_sampling_slices_exactly(spark):
    """Sampled frames ARE the payload's width*height slices at the frame
    index (real decode, not a synthetic transform)."""
    from arcane_stream_microsoft_synapse_link_spark.functions import multimodal as M

    media = M.raw_media_df(spark, n=24)
    vids = {
        r["media_id"]: r
        for r in media.where("media_type = 'video'").collect()
    }
    out = M.sample_frames_raw(media, every_ms=500, frame_ms=500).collect()
    assert {r["media_id"] for r in out} == set(vids)
    for r in out:
        v = vids[r["media_id"]]
        fsz = v["width"] * v["height"]
        start = r["frame_idx"] * fsz
        assert bytes(r["frame"]) == bytes(v["payload"])[start : start + fsz]
        assert r["frame_ts_ms"] == r["frame_idx"] * 500


@pytest.mark.slow
def test_ivfpq_recall_and_determinism(spark):
    """IVF-PQ composite on clustered embeddings: cell pruning + residual
    ADC + exact rerank reaches recall >= 0.9 vs brute force while reading
    only probed cells' m-byte codes; fully deterministic per seed."""
    rng = np.random.RandomState(29)
    k_true, n, dim = 20, 1500, 64
    centers = rng.randn(k_true, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.randint(0, k_true, n)
    mat = centers[labels] + 0.3 * rng.randn(n, dim) / np.sqrt(dim)
    df = spark.createDataFrame(
        [(int(i), mat[i].tolist()) for i in range(n)], "vec_id long, embedding array<double>"
    ).repartition(8)
    queries = df.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = S.brute_force_topk(df, queries, k=10).collect()
    approx = S.ivfpq_topk(
        df, queries, k=10, n_centroids=20, m=8, codes=32, rerank=100, seed=5
    ).collect()
    bset = {(r.query_id, r.vec_id) for r in brute}
    aset = {(r.query_id, r.vec_id) for r in approx}
    recall = len(bset & aset) / len(bset)
    assert recall >= 0.9, recall
    again = S.ivfpq_topk(
        df, queries, k=10, n_centroids=20, m=8, codes=32, rerank=100, seed=5
    ).collect()
    assert [(r.query_id, r.vec_id) for r in again] == [
        (r.query_id, r.vec_id) for r in approx
    ]


@pytest.mark.slow
def test_ivfpq_residual_codes_beat_flat_pq_unreranked(spark):
    """The reason IVF-PQ exists: at the SAME byte budget and no rerank,
    residual quantization inside cells recovers more of the true top-k
    than flat PQ — the within-cell spread is tighter than the corpus
    spread."""
    rng = np.random.RandomState(31)
    k_true, n, dim = 20, 1500, 64
    centers = rng.randn(k_true, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.randint(0, k_true, n)
    mat = centers[labels] + 0.3 * rng.randn(n, dim) / np.sqrt(dim)
    df = spark.createDataFrame(
        [(int(i), mat[i].tolist()) for i in range(n)], "vec_id long, embedding array<double>"
    ).repartition(8)
    queries = df.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = {(r.query_id, r.vec_id) for r in S.brute_force_topk(df, queries, k=10).collect()}

    def recall_of(rows):
        got = {(r.query_id, r.vec_id) for r in rows}
        return len(brute & got) / len(brute)

    # no rerank on either side; full probe for ivfpq so ONLY the
    # quantization style differs (residual vs flat), not the candidate set
    r_flat = recall_of(S.pq_topk(df, queries, k=10, m=8, codes=32, rerank=0, seed=5).collect())
    r_ivf = recall_of(
        S.ivfpq_topk(
            df, queries, k=10, n_centroids=20, nprobe=20, m=8, codes=32, rerank=0, seed=5
        ).collect()
    )
    assert r_ivf >= r_flat, (r_ivf, r_flat)


def test_ops_knn_ivfpq_meets_declared_recall(spark):
    """The declared IVF-PQ entry must meet the SURVEY §2.D ANN bound
    (recall ≥ 0.95 vs brute force) on the corpus it actually runs on —
    measured 0.988 at sf0.01 with nprobe=14/16 and rerank=200 on the
    near-uniform fixture."""
    from arcane_stream_microsoft_synapse_link_spark.plans import QUERIES

    from .conftest import SF_CORRECT

    t = Tables(spark, SF_CORRECT)
    queries_df = t.embeddings.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = S.brute_force_topk(t.embeddings, queries_df, k=10).collect()
    approx = QUERIES["ops_knn_ivfpq"](spark, SF_CORRECT).collect()
    bset = {(r.query_id, r.vec_id) for r in brute}
    aset = {(r.query_id, r.vec_id) for r in approx}
    recall = len(bset & aset) / len(bset)
    assert recall >= 0.95, recall


def test_bpe_encode_word_best_first_not_rank_order():
    """The segmenter must merge the lowest-rank pair PRESENT, re-scanning
    after every merge — a later-rank merge can create an earlier-rank
    pair.  merges {(ab,c):0, (a,b):1} on 'abc': only (a,b) exists at
    first; merging it creates (ab,c) which rank-order application would
    have already passed by.  Best-first yields the single token 'abc'."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import bpe_encode_word

    rank_of = {("ab", "c"): 0, ("a", "b"): 1}
    assert bpe_encode_word("abc", rank_of) == ["abc"]
    # greedy left-to-right within one rank: overlapping 'aaa' merges left-first
    assert bpe_encode_word("aaa", {("a", "a"): 0}) == ["aa", "a"]
    # no applicable merge → characters
    assert bpe_encode_word("xyz", rank_of) == ["x", "y", "z"]


def test_bpe_encode_matches_python_reference(spark, sf_dir):
    """Distributed train→encode equals the sequential reference on the
    real corpus: same merges, same best-first segmentation, exact per-doc
    token counts (the same reference that renders the driver's literal
    VALUES oracle at sf0.01 — here exercised at the sweep scale)."""
    from arcane_stream_microsoft_synapse_link_spark.catalog import Tables
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        bpe_encode,
        bpe_train,
    )
    from arcane_stream_microsoft_synapse_link_spark.plans.values_oracle import (
        ref_bpe_encode,
    )

    t = Tables(spark, sf_dir)
    merges, vocab = bpe_train(t.documents, n_merges=10)
    vocab.unpersist()
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars_encoded"])
        for r in bpe_encode(t.documents, merges).collect()
    }
    expect = {d: (w, tk, ch) for d, w, tk, ch in ref_bpe_encode(sf_dir)}
    assert got == expect
    # encoding compresses: tokens strictly fewer than chars, at least words
    for w, tk, ch in got.values():
        assert w <= tk < ch or ch <= w  # degenerate all-1-char-word docs aside


@pytest.mark.slow
def test_ivfpq_index_probe_equals_one_shot_topk(spark):
    """ivfpq_build + ivfpq_probe must reproduce ivfpq_topk exactly (same
    math split into persisted-index form): identical (query, id, rank)
    rows at identical params."""
    rng = np.random.RandomState(7)
    base = rng.randn(400, 32).astype(np.float32)
    corpus = spark.createDataFrame(
        [(int(i), base[i].tolist()) for i in range(400)],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    queries = corpus.where("vec_id < 6").selectExpr("vec_id as query_id", "embedding")
    kw = dict(n_centroids=8, m=8, codes=16, sample_size=400, seed=3)
    one_shot = S.ivfpq_topk(corpus, queries, k=5, nprobe=4, rerank=50, **kw).collect()
    idx = S.ivfpq_build(corpus, **kw)
    probed = S.ivfpq_probe(idx, queries, k=5, nprobe=4, rerank=50, corpus=corpus).collect()
    assert [tuple(r) for r in one_shot] == [tuple(r) for r in probed]


@pytest.mark.slow
def test_ivfpq_fold_in_save_load(spark, tmp_path):
    """The stored-index lifecycle: build on crawl N, fold in crawl N+1
    (frozen centroids/codebooks, only new vectors encoded), save with
    cell partitioning, load, probe — the loaded index serves identically
    to the in-memory one, and a planted near-duplicate folded in AFTER
    the build is found at rank 1."""
    rng = np.random.RandomState(11)
    base = rng.randn(500, 32).astype(np.float32)
    rows = [(int(i), base[i].tolist()) for i in range(500)]
    # crawl N+1 carries a near-copy of vector 3 under a new id
    planted = (9000, (base[3] + rng.randn(32).astype(np.float32) * 0.01).tolist())
    old = spark.createDataFrame(rows[:400], "vec_id long, embedding array<float>")
    new = spark.createDataFrame(
        rows[400:] + [planted], "vec_id long, embedding array<float>"
    )
    full = old.unionByName(new)
    idx = S.ivfpq_build(old, n_centroids=8, m=8, codes=16, sample_size=400, seed=3)
    folded = S.ivfpq_fold_in(idx, new)
    assert folded.codes.count() == 501  # only the new batch was encoded on top

    queries = spark.createDataFrame(
        [(3, base[3].tolist())], "query_id long, embedding array<float>"
    )
    got = S.ivfpq_probe(folded, queries, k=3, nprobe=8, rerank=50, corpus=full).collect()
    assert got[0]["vec_id"] == 3 and got[1]["vec_id"] == 9000  # self, then the plant

    path = str(tmp_path / "ivfpq_index")
    S.ivfpq_save(folded, path)
    loaded = S.ivfpq_load(spark, path)
    again = S.ivfpq_probe(loaded, queries, k=3, nprobe=8, rerank=50, corpus=full).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in got]
    # pure code-serving mode (no raw-vector read) still surfaces the plant
    adc = S.ivfpq_probe(loaded, queries, k=3, nprobe=8).collect()
    assert {r["vec_id"] for r in adc} >= {3, 9000}


def test_image_near_dup_finds_planted_variants(spark):
    """Perceptual-hash dedup over raw bitmaps: every pixel-perturbed
    planted variant (id+1000) must pair with its source within Hamming 6
    — noise of ±2 intensity levels barely moves gradient signs — while
    byte-equality would match none of them (the payloads all differ)."""
    from arcane_stream_microsoft_synapse_link_spark.functions import multimodal as M

    media = M.raw_media_with_variants(spark, n=64, n_variants=8, noise=2)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in M.image_near_duplicates(media, max_hamming=6).collect()
    }
    planted = {(i, i + 1000) for i in (0, 3, 6, 9, 12, 15, 18, 21)}
    assert planted <= pairs, planted - pairs
    # ...and the variants really are byte-different from their sources
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.where("media_id in (0, 1000)").collect()
    }
    assert payloads[0] != payloads[1000]


def test_perceptual_hashes_invariances(spark):
    """dHash properties: identical images hash identically; hashes are
    64-bit signed ints; a strongly different image (inverted gradient)
    lands far away in Hamming space."""
    from arcane_stream_microsoft_synapse_link_spark.functions import multimodal as M

    w, h = 16, 12
    grad = bytes(((x * 255) // (w - 1)) % 256 for _ in range(h) for x in range(w))
    inv = bytes(255 - ((x * 255) // (w - 1)) % 256 for _ in range(h) for x in range(w))
    df = spark.createDataFrame(
        [
            (1, grad, "image", w, h, 0),
            (2, grad, "image", w, h, 0),
            (3, inv, "image", w, h, 0),
            (4, b"\x00" * 512, "audio", w, h, 0),  # non-image rows are pruned
        ],
        M.MEDIA_SCHEMA,
    )
    got = {r["media_id"]: (r["dhash"], r["ahash"]) for r in M.perceptual_hashes(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == got[2]
    ham = bin((got[1][0] ^ got[3][0]) & ((1 << 64) - 1)).count("1")
    assert ham >= 32  # inverted gradient flips (nearly) every gradient sign


def test_audio_near_dup_finds_planted_variants(spark):
    """Energy-contour audio dedup: every sample-jittered planted variant
    (id+2000) pairs with its source within Hamming 6 — the jitter changes
    every byte but not the window-energy ordering."""
    from arcane_stream_microsoft_synapse_link_spark.functions import multimodal as M

    media = M.raw_audio_with_variants(spark, n=64, n_variants=8)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in M.audio_near_duplicates(media, max_hamming=6).collect()
    }
    planted = {(i, i + 2000) for i in (1, 4, 7, 10, 13, 16, 19, 22)}
    assert planted <= pairs, planted - pairs
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.where("media_id in (1, 2001)").collect()
    }
    assert payloads[1] != payloads[2001]


def test_video_near_dup_finds_planted_variants(spark):
    """Aligned-frame video dedup: every per-pixel-jittered planted
    variant (id+3000) pairs with its source with ALL frames matched,
    while every payload is byte-different."""
    from arcane_stream_microsoft_synapse_link_spark.functions import multimodal as M

    media = M.raw_video_with_variants(spark, n=64, n_variants=8)
    got = {
        (r["id_a"], r["id_b"]): r["n_frames_matched"]
        for r in M.video_near_duplicates(media, max_hamming=6).collect()
    }
    frames_of = {i: 2 + i % 3 for i in (2, 5, 8, 11, 14, 17, 20, 23)}
    for i, nf in frames_of.items():
        assert got.get((i, i + 3000)) == nf, (i, got.get((i, i + 3000)))
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.where("media_id in (2, 3002)").collect()
    }
    assert payloads[2] != payloads[3002]


def test_bpe_save_load_roundtrip_encodes_identically(spark, sf_dir, tmp_path):
    """The persisted tokenizer artifact drives encoding identically to
    the in-memory merge table: train once, save, load in a 'different
    job', encode — exact per-doc token counts match."""
    from arcane_stream_microsoft_synapse_link_spark.catalog import Tables
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        bpe_encode,
        bpe_load,
        bpe_save,
        bpe_train,
    )

    t = Tables(spark, sf_dir)
    merges, vocab = bpe_train(t.documents, n_merges=10)
    vocab.unpersist()
    path = str(tmp_path / "tokenizer")
    bpe_save(merges, path, spark)
    loaded = bpe_load(spark, path)
    assert [(r, l, rt) for r, l, rt, _ in loaded] == [(r, l, rt) for r, l, rt, _ in merges]
    a = {r["doc_id"]: r["n_tokens"] for r in bpe_encode(t.documents, merges).collect()}
    b = {r["doc_id"]: r["n_tokens"] for r in bpe_encode(t.documents, loaded).collect()}
    assert a == b


def test_bpe_encode_word_properties():
    """Property sweep of the segmenter: for random words and random merge
    tables, (1) concatenating the tokens reproduces the word, (2) every
    token is non-empty, (3) no adjacent token pair forms a learned merge
    that could still fire (fixpoint), (4) deterministic."""
    import random as _r

    from arcane_stream_microsoft_synapse_link_spark.functions.text import bpe_encode_word

    rng = _r.Random(13)
    alpha = "abcd"
    for _ in range(300):
        word = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
        # random merge table over short symbol pairs
        syms = [a + b for a in alpha for b in alpha] + list(alpha)
        rank_of = {}
        for rank in range(rng.randint(0, 10)):
            pair = (rng.choice(syms), rng.choice(syms))
            if pair not in rank_of:
                rank_of[pair] = rank
        toks = bpe_encode_word(word, rank_of)
        assert "".join(toks) == word
        assert all(toks)
        assert toks == bpe_encode_word(word, rank_of)
        for a, b in zip(toks, toks[1:]):
            assert (a, b) not in rank_of, (word, toks, (a, b))


@pytest.mark.slow
def test_duplicate_clusters_distributed_100k_edge_stress(spark):
    """VERDICT r6 item 5: the distributed connected-components branch at
    realistic volume — ≥100k edges mixing the adversarial shapes: LONG
    CHAINS (5 × 10,000 nodes — diameter 10k, where plain min-propagation
    would need 10k rounds), STAR cliques (300 × 100 leaves), and dense
    cliques (20 × 50 nodes).  Must (a) equal the driver union-find
    exactly, and (b) converge WELL before max_iter — the pointer-jumping
    round is O(log diameter), so a 10k-diameter chain resolves in
    ~⌈log₂ 10k⌉ + slack rounds, not 10k."""
    from arcane_stream_microsoft_synapse_link_spark.functions import dedup as D

    edges = []
    base = 0
    for _ in range(5):  # chains of 10k nodes
        edges += [(base + i, base + i + 1) for i in range(9_999)]
        base += 10_000
    for _ in range(300):  # stars: hub + 100 leaves
        hub = base
        edges += [(hub, base + 1 + i) for i in range(100)]
        base += 101
    for _ in range(20):  # 50-cliques: all pairs
        ids = list(range(base, base + 50))
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        base += 50
    assert len(edges) >= 100_000

    pairs = spark.createDataFrame(edges, "id_a long, id_b long").repartition(32)
    stats: dict = {}
    dist = {
        r.id: r.cluster_id
        for r in D.duplicate_clusters(pairs, driver_threshold=0, stats=stats).collect()
    }
    drv = {r.id: r.cluster_id for r in D.duplicate_clusters(pairs).collect()}
    assert dist == drv
    assert stats["converged"] and stats["rounds"] <= 18, stats


def test_unigram_train_distributed_equals_driver(spark):
    """The adaptive EM probe (bpe_train's pattern): driver loop and
    distributed mapInPandas E-step must be count-for-count identical —
    integer counts are order-independent and every float is recomputed
    from integers on both paths."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        unigram_train,
    )

    rows = [
        (i, "sparkle banana sparkle apple sparkle banana kiwi apple")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = [tuple(r) for r in unigram_train(docs).collect()]
    b = [tuple(r) for r in unigram_train(docs, driver_vocab_limit=0).collect()]
    assert a == b
    assert len(a) > 0


def test_unigram_train_learns_frequent_pieces_and_encode_compresses(spark):
    """A dominant word must yield multi-char pieces covering it, and
    encoding must use strictly fewer pieces than characters (the whole
    point of subword tokenization); per-word cover is guaranteed by the
    never-pruned single-char inventory."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        unigram_encode,
        unigram_train,
    )

    rows = [(i, "sparkle " * 8 + "zq") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = unigram_train(docs)
    pieces = {r["piece"] for r in model.collect()}
    assert any(len(p) >= 2 and p in "sparkle" for p in pieces)
    enc = {r["doc_id"]: r for r in unigram_encode(docs, model).collect()}
    for i, text in rows:
        words = text.split()
        n_chars = sum(len(w) for w in words)
        assert enc[i]["n_words"] == len(words)
        assert enc[i]["n_pieces"] >= len(words)
        assert enc[i]["n_pieces"] < n_chars  # compression happened
    # model pieces all come from the corpus alphabet/substring space
    assert all(set(p) <= set("abcdefghijklmnopqrstuvwxyz") for p in pieces)


def test_unigram_encode_quantized_model_roundtrip(spark, tmp_path):
    """Persisted-model contract: saving the piece table to parquet and
    reloading must encode identically — scores flow through the integer
    logp_ppm column only."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        unigram_encode,
        unigram_train,
    )

    rows = [(i, "orbit penguin orbit cactus penguin orbit") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = unigram_train(docs)
    path = str(tmp_path / "unigram_model")
    model.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    a = sorted(tuple(r) for r in unigram_encode(docs, model).collect())
    b = sorted(tuple(r) for r in unigram_encode(docs, reloaded).collect())
    assert a == b


def test_unigram_encode_honors_id_col_name_and_type(spark):
    """ADVICE r7: ``unigram_encode(id_col=...)`` must emit the id column
    under the CALLER'S name with the input's type — string/uuid ids pass
    through uncoerced instead of crashing on ``int(i)``."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        unigram_encode,
        unigram_train,
    )

    train_docs = spark.createDataFrame(
        [(i, "orbit penguin orbit cactus") for i in range(4)],
        "doc_id long, text string",
    )
    model = unigram_train(train_docs)
    docs = spark.createDataFrame(
        [("doc-aa", "orbit penguin"), ("doc-bb", "cactus orbit orbit")],
        "uri string, text string",
    )
    enc = unigram_encode(docs, model, id_col="uri")
    assert enc.columns == ["uri", "n_words", "n_pieces", "pieces_md5"]
    assert dict(enc.dtypes)["uri"] == "string"
    got = {r["uri"]: r["n_words"] for r in enc.collect()}
    assert got == {"doc-aa": 2, "doc-bb": 3}


@pytest.mark.slow
def test_ivfpq_merge_equals_fold_in_and_rejects_foreign_model(spark):
    """Multi-crawl consolidation: merging a slice-B index (same frozen
    model) into the crawl-A index must serve identically to folding B in
    directly; crawl-overlap ids resolve keep-a; an index trained on its
    own (different model) must be refused."""
    rng = np.random.RandomState(23)
    base = rng.randn(500, 32).astype(np.float32)
    rows = [(int(i), base[i].tolist()) for i in range(500)]
    a_df = spark.createDataFrame(rows[:300], "vec_id long, embedding array<float>")
    b_df = spark.createDataFrame(rows[300:], "vec_id long, embedding array<float>")
    full = a_df.unionByName(b_df)
    kw = dict(n_centroids=8, m=8, codes=16, sample_size=400, seed=3)
    idx_a = S.ivfpq_build(a_df, **kw)
    # slice-B index under the SAME frozen model: fold B into a codes-empty
    # twin of idx_a (per-crawl jobs share the cadence-trained model)
    empty = S.IvfPqIndex(
        idx_a.cents_df, idx_a.cent, idx_a.cb, idx_a.codes.limit(0), idx_a.seed
    )
    idx_b = S.ivfpq_fold_in(empty, b_df)
    merged = S.ivfpq_merge(idx_a, idx_b)
    folded = S.ivfpq_fold_in(idx_a, b_df)
    queries = spark.createDataFrame(
        [(int(i), base[i].tolist()) for i in (2, 350, 499)],
        "query_id long, embedding array<float>",
    )
    got_m = S.ivfpq_probe(merged, queries, k=5, nprobe=8, rerank=50, corpus=full).collect()
    got_f = S.ivfpq_probe(folded, queries, k=5, nprobe=8, rerank=50, corpus=full).collect()
    assert [tuple(r) for r in got_m] == [tuple(r) for r in got_f]

    # crawl overlap: b rows re-offering ids 0..49 are dropped keep-a
    overlap = S.ivfpq_fold_in(empty, a_df.where("vec_id < 50").unionByName(b_df))
    merged2 = S.ivfpq_merge(idx_a, overlap)
    assert merged2.codes.count() == 500
    assert merged2.codes.select("vec_id").distinct().count() == 500

    foreign = S.ivfpq_build(b_df, n_centroids=8, m=8, codes=16, sample_size=400, seed=4)
    with pytest.raises(ValueError):
        S.ivfpq_merge(idx_a, foreign)


def test_span_dedup_property_matches_python_model(spark):
    """span_dedup vs a sequential Python model on random tiny-vocab
    corpora (duplicate spans abundant by construction), both without and
    WITH a known-hash set (the streaming gate's cross-batch path: known
    spans removed from every occurrence, fresh spans keep-first)."""
    import hashlib
    import random

    rng = random.Random(91)
    vocab = ["aa", "bb", "cc"]
    s, k = 8, 3

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 60)))

    rows = [(i, doc()) for i in range(40)]

    def model(rows, known):
        import re as _re

        sents_all, spans_all = {}, []
        for doc_id, text in rows:
            ws = _re.findall(r"[a-z0-9]+", text.lower())
            nsent = max(-(-len(ws) // s), 1)
            sents_all[doc_id] = [
                " ".join(ws[(i - 1) * s : (i - 1) * s + s]) for i in range(1, nsent + 1)
            ]
            for st in range(1, nsent - (k - 1) + 1):
                h = hashlib.md5(
                    " ".join(ws[(st - 1) * s : (st - 1) * s + s * k]).encode()
                ).hexdigest()
                spans_all.append((doc_id, st, h))
        removed = set()
        fresh = [(d, st, h) for d, st, h in spans_all if h not in known]
        removed |= {(d, st) for d, st, h in spans_all if h in known}
        by_h = {}
        for d, st, h in fresh:
            by_h.setdefault(h, []).append((d, st))
        for h, occ in by_h.items():
            if len(occ) >= 2:
                first = min(occ)
                removed |= {o for o in occ if o != first}
        rm_sids = {(d, st + j) for d, st in removed for j in range(k)}
        out = {}
        for doc_id, sents in sents_all.items():
            kept = [
                sent
                for i, sent in enumerate(sents, start=1)
                if (doc_id, i) not in rm_sids
            ]
            n_rm = sum(1 for i in range(1, len(sents) + 1) if (doc_id, i) in rm_sids)
            out[doc_id] = (len(sents), n_rm, " ".join(kept))
        return out

    df = spark.createDataFrame(rows, "doc_id long, text string")
    for known_hashes in (set(), None):
        if known_hashes is None:
            # cross-batch: treat the span hashes of docs 0-9 as already seen
            known_hashes = {
                h for d, st, h in (
                    (d, st, h)
                    for d, text in rows[:10]
                    for st, h in _model_span_hashes(text, s, k)
                )
            }
            known_df = spark.createDataFrame(
                [(h,) for h in sorted(known_hashes)], "h string"
            )
        else:
            known_df = None
        expect = model(rows, known_hashes)
        got = {
            r["doc_id"]: (r["n_sent"], r["n_removed"], r["cleaned"])
            for r in D.span_dedup(df, known=known_df).collect()
        }
        assert got == expect


def _model_span_hashes(text, s, k):
    import hashlib
    import re as _re

    ws = _re.findall(r"[a-z0-9]+", text.lower())
    nsent = max(-(-len(ws) // s), 1)
    for st in range(1, nsent - (k - 1) + 1):
        yield st, hashlib.md5(
            " ".join(ws[(st - 1) * s : (st - 1) * s + s * k]).encode()
        ).hexdigest()


def test_source_cap_property_matches_python_model(spark):
    """ops_source_cap semantics vs a sequential model on random corpora:
    per-source best-quality prefix under an integer corpus-share cap,
    ties broken by doc_id, cumulative sums exact."""
    import random
    import re as _re

    from arcane_stream_microsoft_synapse_link_spark.plans import QUERIES  # noqa: F401
    from arcane_stream_microsoft_synapse_link_spark.plans.extensions import (
        ops_source_cap,
    )

    # drive the declared entry against a scratch parquet corpus
    import tempfile

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(120):
        n = rng.randint(3, 40)
        rows.append(
            (i, " ".join(rng.choice(vocab) for _ in range(n)), "en",
             f"src{rng.randint(0, 4)}", n)
        )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {
            (r["source"], r["doc_id"]): (r["n_tokens"], r["cum_tokens"], r["kept"])
            for r in ops_source_cap(spark, d).collect()
        }

    # sequential model
    feats = []
    for doc_id, text, _, source, _ in rows:
        ws = _re.findall(r"[a-z0-9]+", text.lower())
        feats.append((source, doc_id, len(ws), len(set(ws)) / len(ws)))
    total = sum(f[2] for f in feats)
    cap = total * 4 // 100
    expect = {}
    for src in {f[0] for f in feats}:
        cum = 0
        for source, doc_id, nt, ur in sorted(
            (f for f in feats if f[0] == src), key=lambda f: (-f[3], f[1])
        ):
            cum += nt
            expect[(source, doc_id)] = (nt, cum, 1 if cum <= cap else 0)
    assert got == expect


def test_ngram_diversity_detects_mode_collapse(spark, tmp_path):
    """Planted discrimination for ops_ngram_diversity: a source that loops
    one sentence scores far lower distinct-trigram share than a source of
    unique text — the synthetic-data mode-collapse signal."""
    from arcane_stream_microsoft_synapse_link_spark.plans import QUERIES

    loop = "the same old sentence again and again "
    rows = [(i, loop * 12, "en", "collapsed", 1) for i in range(6)]
    rows += [
        (100 + i, " ".join(f"u{i}w{j}" for j in range(80)), "en", "fresh", 1)
        for i in range(6)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["source"]: r for r in QUERIES["ops_ngram_diversity"](spark, str(tmp_path)).collect()
    }
    assert set(got) == {"collapsed", "fresh"}
    # every trigram of the fresh source is unique → ppm 1_000_000
    assert got["fresh"]["diversity_ppm"] == 1_000_000
    # the looped source repeats its handful of trigrams 6*12 times
    assert got["collapsed"]["diversity_ppm"] < 25_000
    assert got["collapsed"]["n_distinct_grams"] < 10


def test_doc_concat_detect_flags_glued_documents(spark, tmp_path):
    """Planted discrimination for ops_doc_concat_detect: a coherent doc
    (halves share vocabulary) passes; two disjoint articles glued into
    one record are flagged; short docs are never flagged."""
    from arcane_stream_microsoft_synapse_link_spark.plans import QUERIES

    coherent = ("alpha beta gamma delta epsilon zeta eta theta " * 8).strip()
    glued = (
        " ".join(f"cooking{i}" for i in range(30))
        + " "
        + " ".join(f"astronomy{i}" for i in range(30))
    )
    short_glued = "apples pears plums figs"
    rows = [
        (1, coherent, "en", "s", 1),
        (2, glued, "en", "s", 1),
        (3, short_glued, "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r
        for r in QUERIES["ops_doc_concat_detect"](spark, str(tmp_path)).collect()
    }
    assert got[1]["half_jaccard_ppm"] == 1_000_000  # identical half-vocabularies
    assert not got[1]["suspect_concat"]
    assert got[2]["half_jaccard_ppm"] == 0  # disjoint halves
    assert got[2]["suspect_concat"]
    assert got[3]["half_jaccard_ppm"] == 0 and not got[3]["suspect_concat"]  # too short


def test_doc_concat_detect_long_document_no_overflow(spark, tmp_path):
    """A document whose halves share >2147 distinct words must not abort:
    size() is 32-bit, so the ppm multiply needs BIGINT promotion (ANSI mode
    turns the overflow into ARITHMETIC_OVERFLOW instead of a wrap)."""
    from arcane_stream_microsoft_synapse_link_spark.plans import QUERIES

    # 6000 distinct words, each appearing in both halves → intersect ≈ 6000.
    vocab = " ".join(f"w{i}" for i in range(6000))
    long_doc = vocab + " " + vocab
    spark.createDataFrame(
        [(1, long_doc, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = QUERIES["ops_doc_concat_detect"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["half_jaccard_ppm"] == 1_000_000
    assert not rows[0]["suspect_concat"]


def test_exact_substring_dedup_planted(spark):
    """Planted ExactSubstr semantics at L=4: cross-doc duplicated run is
    cut from the SECOND doc only (first-occurrence-keeps), overlapping
    anchors extend to the maximal shared run, a within-doc repeat loses
    its second copy, sub-threshold docs and empty docs pass untouched."""
    from arcane_stream_microsoft_synapse_link_spark.functions.dedup import (
        exact_substring_dedup,
    )

    rows = [
        (1, "a b c d e f"),                    # first occurrence — kept whole
        (2, "x y a b c d e z"),                # shares "a b c d e" with doc 1
        (3, "p q r s t u p q r s t u"),        # self-repeat, period 6 >= L
        (4, "a b c"),                          # < L tokens: never touched
        (5, ""),                               # empty doc must survive
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, min_len=4).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    # doc 1 is the global first occurrence of every duplicated gram
    assert got[1]["n_removed"] == 0 and got[1]["cleaned"] == "a b c d e f"
    # doc 2 loses the full maximal run "a b c d e" (5 tokens from two
    # overlapping 4-gram anchors), keeps its unique frame
    assert got[2]["n_removed"] == 5 and got[2]["cleaned"] == "x y z"
    # doc 3's second copy of the 6-token run is cut, first copy intact
    assert got[3]["n_tokens"] == 12 and got[3]["n_removed"] == 6
    assert got[3]["cleaned"] == "p q r s t u"
    # sub-threshold and empty docs are identity
    assert got[4]["n_removed"] == 0 and got[4]["cleaned"] == "a b c"
    assert got[5]["n_tokens"] == 0 and got[5]["cleaned"] == ""


def test_exact_substring_dedup_nested_and_adjacent(spark):
    """Nested (a long run containing a shorter duplicated run) and
    adjacent duplicated runs merge in the interval union — no token is
    double-counted and the cut is the union of maximal matches."""
    from arcane_stream_microsoft_synapse_link_spark.functions.dedup import (
        exact_substring_dedup,
    )

    # doc 1 holds both runs; doc 2 glues them adjacently; doc 3 nests
    # run A inside fresh context.
    run_a = "a1 a2 a3 a4 a5"
    run_b = "b1 b2 b3 b4"
    rows = [
        (1, f"{run_a} mid1 mid2 {run_b}"),
        (2, f"{run_a} {run_b}"),               # adjacent: union = 9 tokens
        (3, f"u1 u2 {run_a} u3 u4"),           # nested in unique context
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, min_len=4).collect()
    }
    assert got[1]["n_removed"] == 0
    assert got[2]["n_removed"] == 9 and got[2]["cleaned"] == ""
    assert got[3]["n_removed"] == 5 and got[3]["cleaned"] == "u1 u2 u3 u4"


def test_unigram_encode_id_col_needing_backticks(spark):
    """ADVICE r9: an id column whose name needs backticks (spaces) must
    work — the mapInPandas schema is a StructType, not a DDL f-string."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        unigram_encode,
        unigram_train,
    )

    train_docs = spark.createDataFrame(
        [(i, "orbit penguin orbit cactus") for i in range(4)],
        "doc_id long, text string",
    )
    model = unigram_train(train_docs)
    docs = spark.createDataFrame(
        [("u1", "orbit penguin")], ["doc id", "text"]
    )
    enc = unigram_encode(docs, model, id_col="doc id")
    assert enc.columns == ["doc id", "n_words", "n_pieces", "pieces_md5"]
    assert enc.collect()[0]["doc id"] == "u1"


def test_bpe_bytes_train_matches_sequential_reference(spark, sf_dir):
    """The distributed byte-level trainer's merge table equals the
    independent sequential byte-BPE reference on the real corpus —
    exact, all 10 ranks — and the distributed loop (forced by a tiny
    driver_vocab_limit) produces the identical table."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        bpe_bytes_train,
    )
    from arcane_stream_microsoft_synapse_link_spark.plans.values_oracle import (
        ref_bpe_bytes_train,
    )

    from arcane_stream_microsoft_synapse_link_spark.catalog import Tables

    docs = Tables(spark, sf_dir).documents
    expected = [(r, l, rt, c) for r, l, rt, _, c in ref_bpe_bytes_train(sf_dir, 10)]
    merges, vocab = bpe_bytes_train(docs, n_merges=10)
    vocab.unpersist()
    assert merges == expected
    merges_dist, vocab_dist = bpe_bytes_train(docs, n_merges=4, driver_vocab_limit=1)
    vocab_dist.unpersist()
    assert merges_dist == expected[:4]


def test_bpe_bytes_encode_no_oov_on_any_script(spark):
    """The no-OOV contract: emoji, CJK, umlauts, digits, punctuation —
    every whitespace word encodes (to its byte count when no merge
    applies), nothing is dropped, and n_bytes is the true UTF-8 length."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        bpe_bytes_encode,
        bpe_bytes_train,
    )

    train = spark.createDataFrame(
        [(i, "hello hello world") for i in range(3)], "doc_id long, text string"
    )
    merges, vocab = bpe_bytes_train(train, n_merges=6)
    vocab.unpersist()
    docs = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "\U0001F600 中文 café 123 !?"),
            (3, "   "),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bpe_bytes_encode(docs, merges).collect()}
    # trained words compress: "hello" -> 1 token after 4 merges of its chain
    assert got[1]["n_words"] == 2 and got[1]["n_tokens"] < got[1]["n_bytes"]
    # untrained scripts fall back to raw bytes — present, never dropped
    assert got[2]["n_words"] == 5
    assert got[2]["n_bytes"] == 4 + 6 + 5 + 3 + 2  # emoji + CJK + café + 123 + !?
    assert got[2]["n_tokens"] == got[2]["n_bytes"]  # no merges learned for them
    # whitespace-only doc is omitted, mirroring the reference explode
    assert 3 not in got


def test_wordpiece_train_likelihood_beats_raw_count(spark):
    """The discriminating property vs BPE: a pair whose parts are
    ubiquitous (high count(l)*count(r)) loses to a rarer but
    tightly-coupled pair.  'ta' appears 30x but t,a are everywhere;
    'qz' appears only 10x but q and z occur ONLY together → WordPiece
    merges ##q-ish pair first where BPE would take the count leader."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        bpe_train,
        wordpiece_train,
    )

    # 'tata' floods t/a counts; 'qz' is exclusive: count(q)=count(z)=count(qz)
    rows = [(i, "tata tata tata qz") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wp = wordpiece_train(docs, n_merges=1)
    bp, vocab = bpe_train(docs, n_merges=1)
    vocab.unpersist()
    assert wp[0][1] == "q" and wp[0][2] == "##z"  # score 10/(10*10)=0.1 wins
    assert (bp[0][1], bp[0][2]) != ("q", "z")  # BPE takes a 'tata' pair (count 30+)


def test_wordpiece_train_cap_fires_before_collect(spark, monkeypatch):
    """The driver_vocab_limit guard must run as a count() BEFORE the
    vocabulary is collect()ed — on a 100-TB crawl the distinct-word
    table can exceed the cap, and a guard that fires after collect()
    documents the driver crash instead of preventing it."""
    import pytest as _pytest
    from pyspark.sql import DataFrame

    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        wordpiece_train,
    )

    collects: list[int] = []
    orig = DataFrame.collect

    def spy(self):
        collects.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="driver_vocab_limit"):
        wordpiece_train(docs, n_merges=2, driver_vocab_limit=2)
    assert collects == []  # overflow detected without materializing the vocab


def test_wordpiece_encode_longest_match_and_unk(spark):
    """Greedy longest-match-first with ## continuation; a word containing
    a char unseen in training becomes one [UNK]."""
    from arcane_stream_microsoft_synapse_link_spark.functions.text import (
        wordpiece_encode,
        wordpiece_encode_word,
        wordpiece_train,
        wordpiece_vocab,
    )

    train = spark.createDataFrame(
        [(i, "hugging hugging hugging hug") for i in range(5)],
        "doc_id long, text string",
    )
    merges = wordpiece_train(train, n_merges=8)
    vocab = wordpiece_vocab(train, merges)
    # longest-match: 'hugging' segments through trained pieces, and any
    # split must start with the longest vocab prefix
    pieces = wordpiece_encode_word("hugging", vocab)
    assert "".join(p.lstrip("#") for p in pieces) == "hugging"
    assert pieces[0] == max(
        (p for p in vocab if not p.startswith("##") and "hugging".startswith(p)),
        key=len,
    )
    # unseen char → whole word [UNK]
    assert wordpiece_encode_word("hug9ing", vocab) == ["[UNK]"]
    docs = spark.createDataFrame(
        [(1, "hugging hug"), (2, "zebra")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in wordpiece_encode(docs, merges, vocab).collect()}
    assert got[1]["n_unk"] == 0 and got[1]["n_words"] == 2
    # 'zebra' has chars (z,b,r,e,a)... all seen? training had h,u,g,i,n only
    assert got[2]["n_unk"] == 1 and got[2]["n_pieces"] == 1  # the [UNK] piece


@pytest.mark.slow
def test_exact_substring_dedup_random_mirror(spark):
    """Randomized cross-check: engine ExactSubstr vs an independent
    sequential mirror on seeded corpora engineered for overlap-heavy
    structure (small vocab + shared motifs → nested/adjacent/overlapping
    duplicated runs arise organically).  Equality on counts AND the
    reassembled text, every doc, every seed."""
    import random

    from arcane_stream_microsoft_synapse_link_spark.functions.dedup import (
        exact_substring_dedup,
    )

    L = 5

    def mirror(docs: list[tuple[int, str]]) -> dict[int, tuple[int, int, str]]:
        toks = {d: (t or "").lower().split() for d, t in docs}
        occ: dict[tuple, list[tuple[int, int]]] = {}
        for d, ws in sorted(toks.items()):
            for s in range(len(ws) - L + 1):
                occ.setdefault(tuple(ws[s : s + L]), []).append((d, s + 1))
        removed: dict[int, set[int]] = {d: set() for d, _ in docs}
        for g, positions in occ.items():
            if len(positions) < 2:
                continue
            positions.sort()
            for d, s in positions[1:]:
                removed[d].update(range(s, s + L))
        out = {}
        for d, ws in toks.items():
            keep = [w for i, w in enumerate(ws, start=1) if i not in removed[d]]
            out[d] = (len(ws), len(removed[d] & set(range(1, len(ws) + 1))), " ".join(keep))
        return out

    for seed in range(8):
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(12)]
        motifs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(L, 2 * L)))
            for _ in range(4)
        ]
        docs = []
        for d in range(12):
            parts = []
            for _ in range(rng.randint(1, 4)):
                if rng.random() < 0.6:
                    parts.append(rng.choice(motifs))
                else:
                    parts.append(
                        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 8)))
                    )
            docs.append((d, " ".join(p for p in parts if p)))
        expect = mirror(docs)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned"])
            for r in exact_substring_dedup(df, min_len=L).collect()
        }
        assert got == expect, f"seed {seed}: {got} != {expect}"


def test_bfd_pack_beats_chop_on_padding_and_keeps_docs_whole(spark):
    """Planted discrimination: with docs of sizes {60,60,40,40} at
    budget 100, BFD packs 2 full bins (zero padding); every doc lands in
    exactly one bin; an oversized doc gets a lone capped bin; and on the
    real corpus BFD's mean fill is >= the chop rule's doc-boundary
    fill."""
    from arcane_stream_microsoft_synapse_link_spark.functions.curation import (
        bfd_pack,
    )

    rows = [
        (1, "w " * 60, "en"),
        (2, "w " * 40, "en"),
        (3, "w " * 60, "en"),
        (4, "w " * 40, "en"),
        (5, "w " * 250, "de"),  # oversized: lone bin capped at budget
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = bfd_pack(df, budget=100).orderBy("lang", "seq_id").collect()
    en = [r for r in got if r["lang"] == "en"]
    de = [r for r in got if r["lang"] == "de"]
    assert len(en) == 2 and all(r["seq_tokens"] == 100 for r in en)
    assert all(r["fill_ppm"] == 1_000_000 and r["n_docs"] == 2 for r in en)
    assert len(de) == 1 and de[0]["seq_tokens"] == 100 and de[0]["n_docs"] == 1
    assert sum(r["n_docs"] for r in got) == 5  # every doc exactly once


def test_bfd_pack_sharded_matches_per_shard_sequential_mirror(spark):
    """Property: above shard_rows a stratum auto-sub-shards on
    pmod(xxhash64(id), n_shards), each shard packs with the exact BFD
    contract, and bins renumber per stratum in (shard, local-bin)
    order.  Mirror = the original O(docs·bins) linear-scan BFD run
    sequentially per shard (shard assignment read back from the same
    salt expression), so this also proves the capacity-indexed
    structure is placement-identical to the linear scan."""
    import random

    from pyspark.sql import functions as F

    from arcane_stream_microsoft_synapse_link_spark.functions.curation import (
        bfd_pack,
    )

    rng = random.Random(7)
    budget, shard_rows, n_docs = 100, 100, 400  # 400 rows -> 4 shards
    rows = [(d, "w " * rng.randint(1, 150), "en") for d in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = (
        bfd_pack(df, budget=budget, shard_rows=shard_rows)
        .orderBy("seq_id")
        .collect()
    )

    n_shards = -(-n_docs // shard_rows)
    assign = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).alias("s")
        ).collect()
    }
    toks = {d: len(t.split()) for d, t, _ in rows}
    expect = []
    for shard in range(n_shards):
        docs_in = sorted(
            ((toks[d], d) for d, s in assign.items() if s == shard),
            key=lambda p: (-p[0], p[1]),
        )
        loads: list[int] = []
        ndocs: list[int] = []
        for tok, _ in docs_in:
            eff = min(tok, budget)
            best, best_load = -1, -1
            for i, ld in enumerate(loads):
                if ld + eff <= budget and ld > best_load:
                    best, best_load = i, ld
            if best < 0:
                loads.append(eff)
                ndocs.append(1)
            else:
                loads[best] += eff
                ndocs[best] += 1
        expect.extend((nd, ld) for ld, nd in zip(loads, ndocs))
    assert [(r["n_docs"], r["seq_tokens"]) for r in got] == expect
    assert [r["seq_id"] for r in got] == list(range(len(expect)))
    assert sum(r["n_docs"] for r in got) == n_docs


def test_bfd_pack_giant_stratum_bounded_and_near_unsharded_fill(spark):
    """Planted giant stratum (30k docs, one lang): the auto sub-shard +
    capacity-indexed bins keep it bounded (the old O(docs·bins) scan
    would spin ~40M Python iterations per shard), and the sharding
    fill-rate loss stays O(1 bin per shard): sharded bin count ≤
    unsharded bin count + n_shards."""
    from arcane_stream_microsoft_synapse_link_spark.functions.curation import (
        bfd_pack,
    )

    n_docs, budget, shard_rows = 30_000, 4096, 10_000  # -> 3 shards
    rows = [(d, "w " * (1 + (d * 2654435761) % 200), "en") for d in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()
    try:
        sharded = bfd_pack(df, budget=budget, shard_rows=shard_rows).collect()
        unsharded = bfd_pack(df, budget=budget).collect()
    finally:
        df.unpersist()
    assert sum(r["n_docs"] for r in sharded) == n_docs
    assert sum(r["n_docs"] for r in unsharded) == n_docs
    assert sum(r["seq_tokens"] for r in sharded) == sum(
        r["seq_tokens"] for r in unsharded
    )
    n_shards = -(-n_docs // shard_rows)
    assert len(sharded) <= len(unsharded) + n_shards
    assert sorted(r["seq_id"] for r in sharded) == list(range(len(sharded)))


# ---------------------------------------------------------------------------
# URL-level curation (functions/web.py)
# ---------------------------------------------------------------------------


class TestUrlCuration:
    def _canon(self, spark, urls):
        from arcane_stream_microsoft_synapse_link_spark.functions import web as WB

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return [r.c for r in df.select(WB.canonicalize_url(F.col("url")).alias("c")).collect()]

    def test_canonicalize_rules(self, spark):
        """Every documented rule, one planted case each."""
        cases = {
            # scheme+host lowering
            "HTTPS://EXAMPLE.COM/a": "https://example.com/a",
            # www strip
            "https://www.example.com/a": "https://example.com/a",
            # default port dropped (https)
            "https://example.com:443/a": "https://example.com/a",
            # default port dropped (http)
            "http://example.com:80/a": "http://example.com/a",
            # non-default port kept
            "https://example.com:8443/a": "https://example.com:8443/a",
            # fragment dropped
            "https://example.com/a#frag": "https://example.com/a",
            # tracking params stripped, survivors sorted
            "https://example.com/a?z=1&utm_source=x&a=2&ref=tw": "https://example.com/a?a=2&z=1",
            # all params tracking -> no query at all
            "https://example.com/a?utm_campaign=c&fbclid=f&gclid=g": "https://example.com/a",
            # trailing slash stripped; root path collapses to empty
            "https://example.com/a/": "https://example.com/a",
            "https://example.com/": "https://example.com",
            # a non-tracking param whose VALUE mentions utm survives
            "https://example.com/a?q=utm_source": "https://example.com/a?q=utm_source",
            # a '?' that first appears INSIDE the fragment is not a query
            "https://example.com/a#x?q=1": "https://example.com/a",
            # real query + fragment containing another '?'
            "https://example.com/a?b=2#x?q=1": "https://example.com/a?b=2",
        }
        got = self._canon(spark, list(cases))
        for (raw, want), c in zip(cases.items(), got):
            assert c == want, f"{raw!r}: got {c!r}, want {want!r}"

    def test_canonicalize_matches_duckdb_mirror(self, spark):
        """The engine expression and the oracle SQL constant agree on a
        pile of adversarial URLs (mixed case, multi-param, ports,
        fragments, empty query)."""
        import duckdb as ddb

        from arcane_stream_microsoft_synapse_link_spark.functions.web import CANON_URL_SQL

        urls = [
            "HTTP://WWW.Example.COM:80/X/Y/?b=2&a=1&utm_medium=m#z",
            "https://sub.www.example.com/p",  # www strip is prefix-only
            "https://example.com:9090/?utm_source=s",
            "https://example.com/deep/path///",
            "https://example.com/a?single=1",
            "https://example.com/a?",
            "https://example.com/a#x?q=1",
            "https://example.com/a?b=2&utm_source=s#x?q=1",
        ]
        eng = self._canon(spark, urls)
        con = ddb.connect()
        con.execute("CREATE TABLE u(url VARCHAR)")
        con.executemany("INSERT INTO u VALUES (?)", [(u,) for u in urls])
        ora = [r[0] for r in con.execute(f"SELECT {CANON_URL_SQL} FROM u").fetchall()]
        assert eng == ora

    def test_url_dedup_keeper(self, spark):
        from arcane_stream_microsoft_synapse_link_spark.functions import web as WB

        rows = [
            # one canonical group: longest wins, tie -> smallest doc_id
            (1, 50, "https://a.com/x"),
            (2, 90, "https://a.com/x"),
            (3, 90, "https://a.com/x"),
            # singleton group
            (9, 10, "https://b.com/y"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, n_chars long, canon_url string")
        out = {r.canon_url: r for r in WB.url_dedup(df).collect()}
        assert out["https://a.com/x"].keeper_id == 2
        assert out["https://a.com/x"].keeper_chars == 90
        assert out["https://a.com/x"].n_copies == 3
        assert out["https://b.com/y"].keeper_id == 9
        assert out["https://b.com/y"].n_copies == 1

    def test_host_cap_binds_and_pins_kept_set(self, spark):
        import hashlib

        from arcane_stream_microsoft_synapse_link_spark.functions import web as WB

        rows = [("big.com", i) for i in range(40)] + [("small.com", 100 + i) for i in range(3)]
        df = spark.createDataFrame(rows, "host string, doc_id long")
        out = {r.host: r for r in WB.host_cap(df, cap=5).collect()}
        assert out["big.com"].n_docs == 40 and out["big.com"].n_kept == 5
        assert out["small.com"].n_docs == 3 and out["small.com"].n_kept == 3
        # mirror the deterministic selection sequentially
        kept = sorted(
            sorted(range(40), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:5]
        )
        want = hashlib.md5(",".join(str(i) for i in kept).encode()).hexdigest()
        assert out["big.com"].kept_md5 == want


# ---------------------------------------------------------------------------
# Kneser–Ney bigram LM (functions/lm.py)
# ---------------------------------------------------------------------------


class TestKneserNey:
    @pytest.fixture(scope="class")
    def tiny(self, spark):
        from arcane_stream_microsoft_synapse_link_spark.functions import lm as LM

        docs = spark.createDataFrame(
            [
                (0, "a b a b"),   # train
                (1, "a b x c"),   # held: seen-pair, unseen-word, unseen-context
                (2, "a c"),       # train
            ],
            "doc_id long, text string",
        )
        train = docs.where(F.col("doc_id") % 2 == 0)
        parts = LM.kn_model(train)
        scored = {r.doc_id: r for r in LM.kn_score(docs, *parts).collect()}
        return parts, scored

    def test_hand_computed_values(self, tiny):
        """model: (a,b):2 (b,a):1 (a,c):1; n1tot=3; cu(a)=3 n1u(a)=2;
        cu(b)=1 n1u(b)=1; n1w = 1 for a, b, c.  All probabilities below
        are hand-derived from the documented 3/4-discount arithmetic."""
        _, scored = tiny
        # doc 1: (a,b)=416666+166666, (b,x)=0 (discount eats c<1, n1w=0),
        # (x,c) unseen ctx -> 1e6//3
        assert scored[1].n_bigrams == 3
        assert scored[1].n_unseen == 2
        assert scored[1].kn_ppm == (583332 + 0 + 333333) // 3
        # doc 0: (a,b) twice + (b,a)=250000+250000
        assert scored[0].n_bigrams == 3
        assert scored[0].n_unseen == 0
        assert scored[0].kn_ppm == (583332 + 500000 + 583332) // 3

    def test_seen_context_distribution_sums_to_one(self, tiny, spark):
        """Interpolated KN is a proper distribution: for a seen context u,
        sum over the TRAIN VOCAB of p(w|u) plus the unseen-word mass must
        be 1 (up to the defined <=2-ppm-per-term floor).  Checked for
        context 'a' over vocabulary {a,b,c}."""
        from arcane_stream_microsoft_synapse_link_spark.functions import lm as LM

        (model, ctx, cont, tot), _ = tiny
        vocab = spark.createDataFrame([("a",), ("b",), ("c",)], "w2 string")
        pairs = vocab.withColumn("w1", F.lit("a"))
        j = (
            pairs.join(model, ["w1", "w2"], "left")
            .join(ctx, "w1", "left")
            .join(cont, "w2", "left")
            .crossJoin(tot)
            .select(LM.kn_transition_ppm())
        )
        total = sum(r.p_ppm for r in j.collect())
        assert abs(total - 1_000_000) <= 2 * 3  # <=2 ppm floor loss per term

    def test_held_out_backoff_is_nonzero_for_seen_words(self, tiny):
        """The whole point of KN over MLE: a held-out bigram of two SEEN
        words gets continuation mass, not zero — doc 1's (x,c) context is
        unseen yet p>0 because c is a known continuation."""
        _, scored = tiny
        assert scored[1].kn_ppm > 0


class TestGopherRules:
    def test_planted_rule_boundaries(self, spark):
        """One planted doc per rule failure mode; the registry compare
        covers the corpus, this pins the thresholds themselves."""
        import sys

        sys.path.insert(0, "/root/repo")
        import __spark_entry__ as e

        mk = lambda n, sep=" ": sep.join(["the", "of", "and"] + [f"word{i}" for i in range(n - 3)])  # noqa: E731
        rows = [
            (0, mk(60)),                                # passes all
            (1, mk(10)),                                # too few words
            (2, " ".join(["the", "of"] + ["x"] * 58)),  # mean word length < 3
            (3, mk(60) + " " + "#" * 1 * 9),            # one '#' per ~6 words: symbol_ppm high
            (4, " ".join(["the", "of"] + ["99999"] * 58)),  # alpha fraction low
            (5, "\n".join(["- bullet line " + mk(8, " ")] * 10)),  # all bullet lines
            (6, " ".join(f"word{i}" for i in range(60))),  # no stopwords
        ]
        # doc 3: append enough '#' to cross 10% of words
        rows[3] = (3, mk(60) + " " + " ".join(["#"] * 9))
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                [(i, t, "en", "src0", len(t)) for i, t in rows],
                "doc_id long, text string, lang string, source string, n_chars long",
            ).coalesce(1).write.parquet(f"{td}/documents.parquet")
            out = {r.doc_id: r for r in e.queries()["ops_gopher_rules"](spark, td).collect()}
        assert out[0].passes
        assert not out[1].passes and out[1].n_words < 50
        assert not out[2].passes and out[2].mwl_ppm < 3_000_000
        assert not out[3].passes and out[3].symbol_ppm > 100_000
        assert not out[4].passes and out[4].alpha_ppm < 800_000
        assert not out[5].passes and out[5].bullet_ppm > 900_000
        assert not out[6].passes and out[6].n_stop_distinct < 2


class TestEventAnalytics:
    def test_funnel_strict_order(self, spark):
        """A user whose purchase PRECEDES the view must not advance past
        step 2; gaps are exact epoch-microsecond means."""
        import datetime as dt
        import sys
        import tempfile

        sys.path.insert(0, "/root/repo")
        import __spark_entry__ as e

        T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
        rows = [
            # user 1: full funnel, gaps 10s then 20s
            (1, T(0), 1, "signup", 0.0, "{}"),
            (2, T(10), 1, "view", 0.0, "{}"),
            (3, T(30), 1, "purchase", 0.0, "{}"),
            # user 2: purchase BEFORE view -> stops at view
            (4, T(0), 2, "signup", 0.0, "{}"),
            (5, T(5), 2, "purchase", 0.0, "{}"),
            (6, T(8), 2, "view", 0.0, "{}"),
            # user 3: never signed up -> not even step 1
            (7, T(0), 3, "view", 0.0, "{}"),
            (8, T(1), 3, "purchase", 0.0, "{}"),
        ]
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            ).coalesce(1).write.parquet(f"{td}/events.parquet")
            out = {r.step: r for r in e.queries()["ops_event_funnel"](spark, td).collect()}
        assert out["signup"].n_users == 2
        assert out["view"].n_users == 2  # users 1 and 2
        assert out["purchase"].n_users == 1  # only user 1 (strict order)
        # user1 gap 10s, user2 gap 8s -> mean 9s
        assert out["view"].mean_gap_us == 9_000_000
        assert out["purchase"].mean_gap_us == 20_000_000

    def test_cohort_retention_offsets(self, spark):
        import datetime as dt
        import sys
        import tempfile

        sys.path.insert(0, "/root/repo")
        import __spark_entry__ as e

        # Mondays: 2024-01-01, 2024-01-08, 2024-01-15
        rows = [
            # user 1: first week w0, active again w2
            (1, dt.datetime(2024, 1, 2), 1, "view", 0.0, "{}"),
            (2, dt.datetime(2024, 1, 16), 1, "view", 0.0, "{}"),
            # user 2: first week w1 only
            (3, dt.datetime(2024, 1, 10), 2, "view", 0.0, "{}"),
        ]
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            ).coalesce(1).write.parquet(f"{td}/events.parquet")
            got = {
                (str(r.cohort_week), r.offset_weeks): r.n_users
                for r in e.queries()["ops_cohort_retention"](spark, td).collect()
            }
        assert got == {
            ("2024-01-01", 0): 1,
            ("2024-01-01", 2): 1,
            ("2024-01-08", 0): 1,
        }


def test_eval_sample_guard_refuses_corpus_sized_input(spark):
    """The all-pairs evaluation arm is guarded: within-bounds samples
    pass through unchanged; above the bound it refuses with the
    redirect-to-banded-LSH message instead of planning sample²."""
    small = spark.range(100).select(F.col("id").alias("doc_id"))
    assert D.eval_sample_guard(small, max_docs=2_000).count() == 100
    big = spark.range(2_001).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="evaluation-only"):
        D.eval_sample_guard(big, max_docs=2_000)
