"""Document deduplication at scale: exact, MinHash+LSH, SimHash, Jaccard.

Design notes (100 TB first):

* Everything is shuffle-on-key or map-side — there is NO O(n²) crossJoin
  anywhere. Candidate generation goes through LSH band buckets (shuffle on
  band hash), verification joins candidates back by doc_id.
* MinHash signatures are computed entirely with JVM higher-order functions
  (transform/aggregate over xxhash64) — vectorized codegen, no Python in
  the hot path. 128 hashes × |shingles| per doc, one scan.
* SimHash likewise: 64-bit signature via transform/aggregate bit votes.
* Self-join pair explosion inside one LSH bucket is bounded by bucket
  size; a skewed bucket (e.g. empty-text cluster) is capped via AQE skew
  handling plus an optional per-bucket limit.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import WORD_RE, word_ngram_strings
from ..session import local_df


def words(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), 0)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before CPU-bound
    per-row work (signature mapInPandas, winnowing HOFs).

    A small local parquet arrives as ONE input split, which serializes the
    whole Python/codegen stage onto one core (measured: the minhash
    signature stage alone was 1.4 s single-core vs 0.3 s spread at sf0.1).
    No-op whenever the scan already has >= defaultParallelism splits — at
    100 TB that is always true, so nothing extra shuffles at scale."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a document.

    Implemented as a single ``aggregate`` fold carrying a k-word sliding
    buffer. The word array appears once per branch of the final ``when`` —
    NOT inside a per-index lambda: ``transform(idx, i -> slice(w, i, k))``
    re-evaluates the regexp word extraction once per index after projection
    collapsing (O(n²) per row)."""
    w = words(text)

    def step(acc: Column, x: Column) -> Column:
        nb = F.concat(acc["buf"], F.array(x))
        nb = F.when(F.size(nb) > k, F.slice(nb, 2, k)).otherwise(nb)
        grams = F.when(
            F.size(nb) == k, F.concat(acc["grams"], F.array(F.concat_ws(" ", nb)))
        ).otherwise(acc["grams"])
        return F.struct(nb.alias("buf"), grams.alias("grams"))

    zero = F.struct(
        F.array().cast("array<string>").alias("buf"),
        F.array().cast("array<string>").alias("grams"),
    )
    # short docs (< k words): one shingle of all words, like slice(w, 1, k)
    fin = lambda acc: F.when(  # noqa: E731
        F.size(acc["grams"]) > 0, acc["grams"]
    ).otherwise(F.array(F.concat_ws(" ", acc["buf"])))
    return F.array_distinct(F.aggregate(w, zero, step, fin))


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts; keep min id as the canonical representative.
    One shuffle on the content hash (not the full text — cheaper keys)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    keepers = exact_dedup_groups(df, text_col, id_col).select(F.col("keeper_id").alias(id_col))
    return df.join(keepers, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_banded_np(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, band, bh) — MinHash signature + banding FUSED in one Arrow
    mapInPandas pass (r15, VERDICT r14 item 3).

    The r14 shape computed the 128-long signature in Python, shipped the
    whole array to the JVM, and exploded 32 (band, xxhash64(slice))
    structs per row there.  Bucket membership only depends on the TUPLE
    of slice values (the sequential oracle mirrors bucket by exactly that
    tuple — plans/values_oracle.py:_minhash_sig_and_shingles consumers),
    so the band hash is free to be computed where the signature already
    lives: a vectorized FNV-1a fold over the (docs × bands × r) grid.
    Saves the signature-array Python→JVM transfer, the 32-struct
    build/explode stage, and the per-band xxhash64 — identical candidate
    sets (64-bit bucket keys, collisions ~2⁻⁶⁴ exactly as before).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # checked here: a bad split would only surface inside a Python worker,
    # where the (docs × bands × r) reshape fails
    if bands <= 0 or num_hashes % bands:
        raise ValueError(
            f"minhash_banded_np: bands={bands} must be positive and divide "
            f"num_hashes={num_hashes}"
        )
    r = num_hashes // bands
    rng = np.random.RandomState(seed)
    A = rng.randint(1, 2**63 - 1, size=num_hashes, dtype=np.uint64) | np.uint64(1)
    B = rng.randint(0, 2**63 - 1, size=num_hashes, dtype=np.uint64)
    word_re = re.compile(WORD_RE)
    empty_sig = np.full(num_hashes, 2**63 - 1, dtype=np.uint64)
    FNV_OFF = np.uint64(0xCBF29CE484222325)
    FNV_PRIME = np.uint64(0x100000001B3)
    band_ids = np.arange(bands, dtype=np.int32)

    out_schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("bh", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            all_grams: list[str] = []
            offsets = [0]
            for t in pdf[text_col]:
                words_l = word_re.findall((t or "").lower())
                if len(words_l) <= shingle_k:
                    all_grams.append(" ".join(words_l))
                else:
                    all_grams.extend(
                        {
                            " ".join(words_l[i : i + shingle_k])
                            for i in range(len(words_l) - shingle_k + 1)
                        }
                    )
                offsets.append(len(all_grams))
            H = (
                pd.util.hash_array(np.asarray(all_grams, dtype=object))
                if all_grams
                else np.array([], dtype=np.uint64)
            )
            n = len(pdf)
            sigs = np.empty((n, num_hashes), dtype=np.uint64)
            for i in range(n):
                h = H[offsets[i] : offsets[i + 1]]
                sigs[i] = (
                    (h[:, None] * A[None, :] + B[None, :]).min(axis=0)
                    if len(h)
                    else empty_sig
                )
            # FNV-1a over each band's r signature values, whole chunk at once
            grid = sigs.reshape(n, bands, r)
            bh = np.full((n, bands), FNV_OFF, dtype=np.uint64)
            for j in range(r):
                bh = (bh ^ grid[:, :, j]) * FNV_PRIME
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf[id_col].to_numpy(), bands),
                    "band": np.tile(band_ids, n),
                    "bh": bh.reshape(-1).view(np.int64),
                }
            )

    return spread_small_scan(df.select(id_col, text_col)).mapInPandas(run, schema=out_schema)


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    rows-per-band r = num_hashes/bands; two docs collide if any band of
    their signatures matches exactly. Plan (r15): fused signature+banding
    scan → shuffle on (band, band_hash) → within-bucket pairing.
    Returns distinct (id_a, id_b) with id_a < id_b.

    ``max_bucket`` caps degenerate buckets (e.g. thousands of empty docs
    sharing a signature) — pairs beyond the cap are dropped and such
    buckets are better handled by exact dedup first.
    """
    # signature + banding fused in the mapInPandas (r15) — the former
    # JVM-side 32-struct explode and its signature-array transfer are gone
    banded = minhash_banded_np(df, text_col, id_col, num_hashes, bands, shingle_k)

    # Cap BEFORE collecting: row_number over the bucket (spillable external
    # sort on the same shuffle key) keeps only the first max_bucket ids, so
    # no aggregation buffer ever holds a degenerate bucket in full —
    # collect_list-then-slice would materialize a 10M-id bucket on one
    # reducer's heap first. Ordering by _id preserves the exact "first
    # max_bucket sorted ids" semantics of the sliced form (skew probe:
    # tests/test_skew.py::test_lsh_degenerate_bucket_bounded).
    from pyspark.sql import Window as W

    w = W.partitionBy("band", "bh").orderBy("_id")
    buckets = (
        banded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_bucket)
        .groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda a: F.transform("ids", lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))),
                    )
                ),
                lambda p: p["id_a"] < p["id_b"],
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return pairs.distinct()


def verify_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (two hash joins back to the
    shingle sets — never on the full corpus product). The corpus is first
    semi-joined down to ids that appear in a candidate pair, so shingling
    cost is O(candidates), not O(corpus) — at 100 TB candidates are a tiny
    fraction and the semi-join prunes the scan. Candidates are materialized
    once (localCheckpoint): they are referenced three times below, and
    without it each reference re-runs the whole LSH pipeline.

    r14: both pair members' shingle sets are fetched in ONE pass —
    explode each pair to its two ids, join the (candidate-pruned)
    shingle frame once, re-group by pair (exactly one row per side
    since ids are unique in ``df`` → max(when) is the side's single
    non-null set). The former two-join spelling evaluated the shingle
    subtree once PER SIDE (different aliases → no subtree reuse) — at
    any scale, two shingling passes where one suffices.

    r15 job-structure pass: the EXPLODED pair frame (not the raw pairs)
    is the multi-referenced one — candidate ids are just its distinct
    _id — so the pin moves there, LAZILY (eager=False): the checkpoint
    materializes inside the first consuming job instead of costing its
    own driver action, and the raw pairs frame is consumed exactly once.
    The shingle scan is spread before the per-row fold (no-op at scale,
    see spread_small_scan) — it arrived as ONE split and serialized the
    candidate shingling onto one core (r15 job trace: 0.33 s single-task
    job inside ops_minhash_near_dup)."""
    ex = pairs.select(
        "id_a", "id_b", F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("_id")
    ).localCheckpoint(eager=False)
    # no distinct on the semi-join's right side: LEFT SEMI ignores
    # duplicate build keys, and dropping the distinct drops one exchange
    # (and its AQE stage job); the build side is 2 rows/pair vs the
    # distinct's one-per-doc — a bounded 2x, not the 32x a pre-distinct
    # band explode would be (r15)
    cand_ids = ex.select(F.col("_id").alias(id_col))
    sh = spread_small_scan(df.select(id_col, text_col)).join(
        cand_ids, id_col, "left_semi"
    ).select(
        F.col(id_col).alias("_id"), shingles(F.col(text_col), shingle_k).alias("_sh")
    )
    g = (
        ex.join(sh, "_id")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("_id") == F.col("id_a"), F.col("_sh"))).alias("sh_a"),
            F.max(F.when(F.col("_id") == F.col("id_b"), F.col("_sh"))).alias("sh_b"),
        )
        # inner-join parity: the old per-side joins dropped a pair when
        # either member had no shingle row; max() leaves that side null
        .where(F.col("sh_a").isNotNull() & F.col("sh_b").isNotNull())
    )
    j = g.select(
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
        ).alias("jaccard"),
    )
    return j.where(F.col("jaccard") >= threshold)


def verify_jaccard_counts(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold_num: int = 7,
    threshold_den: int = 10,
) -> DataFrame:
    """``verify_jaccard`` with EXACT-INTEGER outputs: per surviving pair
    the shingle-set intersection and union sizes, thresholded as the
    rational ``inter/union ≥ num/den`` via cross-multiplication — no
    float division anywhere, so the result hash-matches any engine
    (the driver-verifiable form; plans/values_oracle.py renders its
    sequential twin as a literal-VALUES oracle)."""
    # one shingling pass for both sides (see verify_jaccard r14/r15 notes)
    ex = pairs.select(
        "id_a", "id_b", F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("_id")
    ).localCheckpoint(eager=False)
    # no distinct on the semi-join's right side: LEFT SEMI ignores
    # duplicate build keys, and dropping the distinct drops one exchange
    # (and its AQE stage job); the build side is 2 rows/pair vs the
    # distinct's one-per-doc — a bounded 2x, not the 32x a pre-distinct
    # band explode would be (r15)
    cand_ids = ex.select(F.col("_id").alias(id_col))
    sh = spread_small_scan(df.select(id_col, text_col)).join(
        cand_ids, id_col, "left_semi"
    ).select(
        F.col(id_col).alias("_id"), shingles(F.col(text_col), shingle_k).alias("_sh")
    )
    g = (
        ex.join(sh, "_id")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("_id") == F.col("id_a"), F.col("_sh"))).alias("sh_a"),
            F.max(F.when(F.col("_id") == F.col("id_b"), F.col("_sh"))).alias("sh_b"),
        )
        .where(F.col("sh_a").isNotNull() & F.col("sh_b").isNotNull())
    )
    return (
        g.select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_inter"),
            F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
            .cast("bigint")
            .alias("n_union"),
        )
        .where(F.col("n_inter") * threshold_den >= F.col("n_union") * threshold_num)
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify."""
    pairs = lsh_candidate_pairs(df, text_col, id_col, num_hashes, bands, shingle_k)
    return verify_jaccard(df, pairs, text_col, id_col, shingle_k, threshold)


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """(id, cluster_id) for every id appearing in a near-dup pair, where
    cluster_id = min id of the connected component — the canonical keeper.

    Adaptive execution: the pair graph is tiny relative to the corpus
    (candidates surviving LSH + verification), so when it fits on the
    driver (≤ ``driver_threshold`` edges) a local union-find resolves
    components in one pass — milliseconds instead of several Spark rounds
    of fixed overhead. Above the threshold (billion-doc corpora), the
    distributed branch runs min-label propagation WITH POINTER JUMPING
    (the hash-to-min idea, Rastogi et al. 2012): each round every node
    takes (1) the min of its own and its neighbors' labels, then (2) its
    label's label — step 2 doubles the distance information travels, so
    convergence is O(log diameter) rounds, not O(diameter): a 100k-node
    chain resolves in ~⌈log₂ diameter⌉ + 2 rounds where plain propagation
    would need 100k. Labels only decrease and always name a node of the
    same component, so the fixpoint is exactly the min-label assignment.
    Each round is one shuffle-join + groupBy + one label self-join;
    ``localCheckpoint`` truncates lineage so round N doesn't replay
    1..N-1.  Pass ``stats={}`` to receive ``stats["rounds"]`` (distributed
    branch only) — the convergence-bound observability the scale tests
    pin."""
    # the verified-pair graph is small (LSH + Jaccard survivors) but its
    # lineage is the whole LSH pipeline; the size probe and the edge read
    # below are separate actions — materialize once, not twice.  LAZY
    # (r15): the size-probe count is the first job anyway, so it doubles
    # as the materialization; an eager pin cost one extra driver action.
    pairs = pairs.localCheckpoint(eager=False)
    n_edges = pairs.limit(driver_threshold + 1).count()
    if n_edges <= driver_threshold:
        edges_local = [(r[0], r[1]) for r in pairs.select(id_a, id_b).collect()]
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in edges_local:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(x, find(x)) for x in parent]
        spark = pairs.sparkSession
        schema = pairs.select(F.col(id_a).alias("id"), F.col(id_a).alias("cluster_id")).schema
        return local_df(spark, rows, schema)

    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    for rounds in range(1, max_iter + 1):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("dlabel")), "dst"
            )
            .groupBy("src")
            .agg(F.min("dlabel").alias("nlabel"))
        )
        # step 1: min over self + neighbors (1-hop propagation).
        # materialized once — it feeds both sides of the pointer-jump join
        hop = (
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        # step 2: pointer jump — label(v) ← label(label(v)).  label values
        # are node ids of the same component, so the lookup stays inside
        # the component; min-ness is preserved by the outer least()
        jmp = hop.select(
            F.col("id").alias("_jid"), F.col("label").alias("_jlabel")
        )
        new = (
            hop.join(jmp, hop["label"] == jmp["_jid"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("_jlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = changed == 0
    return labels.select("id", F.col("label").alias("cluster_id"))


def drop_near_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per duplicate cluster plus all
    unpaired rows — the end-to-end near-dup removal."""
    clusters = duplicate_clusters(pairs)
    losers = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _bit_votes(h: Column) -> Column:
    """array<long>[64]: +1/−1 per bit of an already-hashed word (long).
    Takes the hash, not the word: referencing xxhash64(word) here would
    re-hash the word once per bit (64×) — HOF lambdas get no common
    subexpression elimination. Shift counts must be Python ints
    (shiftright's numBits is not a Column), so the 64 bit expressions are
    unrolled."""
    return F.array(
        *[
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            for j in range(64)
        ]
    )


def simhash64(text: Column) -> Column:
    """64-bit SimHash over words: bit j of the result is the sign of the
    vote sum over word-hash bit j. Built-ins only; words are hashed once
    (inside the aggregate input, evaluated once per row), then each fold
    step works on a bound long."""
    hashed = F.transform(words(text), lambda w: F.xxhash64(w))
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(acc, _bit_votes(h), lambda x, y: x + y),
    )
    out = F.lit(0).cast("long")
    for j in range(64):
        bit = F.shiftleft(F.lit(1).cast("long"), j)
        out = out.bitwiseOR(F.when(F.element_at(votes, j + 1) > 0, bit).otherwise(F.lit(0).cast("long")))
    return out


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sim) signatures via explode + codegen'd hash aggregation.

    Equivalent values to ``simhash64`` but ~an order faster on wide
    corpora: per-(doc, word) bit votes become 64 SUM aggregates in a
    whole-stage-codegen hash agg; map-side partial aggregation collapses
    each doc locally, so the shuffle carries 64 longs per doc, not per
    word. ``explode_outer`` keeps word-less docs (null hash → −1 votes
    → signature 0, matching the fold's zero-votes → 0)."""
    hw = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(F.transform(words(F.col(text_col)), lambda w: F.xxhash64(w))).alias("_h"),
    )
    votes = hw.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("_h", j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
            ).alias(f"_v{j}")
            for j in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for j in range(64):
        bit = F.shiftleft(F.lit(1).cast("long"), j)
        sim = sim.bitwiseOR(F.when(F.col(f"_v{j}") > 0, bit).otherwise(F.lit(0).cast("long")))
    return votes.select("_id", sim.alias("_sim"))


def simhash_signatures_np(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sim) SimHash signatures via numpy in Arrow mapInPandas — the
    fast path: all words of a chunk hashed in one ``pd.util.hash_array``
    call (C-speed SipHash, deterministic across workers), bit votes as one
    unpackbits/sum per doc. Same signature construction as
    ``simhash_signatures`` over a different (equally uniform) word hash —
    identical Hamming/banding behavior."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    word_re = re.compile(WORD_RE)
    out_schema = T.StructType(
        [T.StructField("_id", T.LongType()), T.StructField("_sim", T.LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            all_words: list[str] = []
            offsets = [0]
            for t in pdf[text_col]:
                all_words.extend(word_re.findall((t or "").lower()))
                offsets.append(len(all_words))
            H = (
                pd.util.hash_array(np.asarray(all_words, dtype=object))
                if all_words
                else np.array([], dtype=np.uint64)
            )
            # bit matrix for the whole chunk: (words, 64) of 0/1
            bits = (
                np.unpackbits(H.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
                if len(H)
                else np.zeros((0, 64), dtype=np.uint8)
            )
            sims = []
            for i in range(len(offsets) - 1):
                b = bits[offsets[i] : offsets[i + 1]]
                n = len(b)
                if n == 0:
                    sims.append(0)
                    continue
                votes = 2 * b.sum(axis=0, dtype=np.int64) - n  # (+1/-1 votes)
                packed = np.packbits((votes > 0).astype(np.uint8), bitorder="little")
                sims.append(int(packed.view(np.int64)[0]))
            yield pd.DataFrame({"_id": pdf[id_col], "_sim": pd.array(sims, dtype="int64")})

    return spread_small_scan(df.select(id_col, text_col)).mapInPandas(run, schema=out_schema)


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into 4×16-bit
    chunks (pigeonhole: ≤3 differing bits → at least one identical chunk),
    bucket-join on (chunk_idx, chunk), verify Hamming distance exactly."""
    from .similarity import band_pairs_64

    sig = simhash_signatures_np(df, text_col, id_col)
    return band_pairs_64(sig, band_bits).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap with an eval/benchmark set)
# ---------------------------------------------------------------------------


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Drop training documents that share any word ``n``-gram with a
    benchmark/eval document — the standard pre-training decontamination
    step (GPT-3 appendix C / PaLM-style 8-gram overlap).

    Scale shape: the benchmark side is an eval suite — tiny next to a
    100 TB corpus — so its distinct n-gram set is broadcast and the
    corpus-side check is a map-side semi-join on the exploded grams (no
    corpus shuffle), followed by a broadcast anti-join of the hit ids.
    Grams are matched as strings here so external oracles can replay the
    exact semantics; a production run at larger benchmark sizes would match
    on ``xxhash64(gram)`` to shrink the broadcast (collision odds ~n²/2⁶⁴,
    and a false positive only drops one extra doc).
    """
    def exploded_grams(d: DataFrame) -> DataFrame:
        # words materialized in their own projection (multi-referenced →
        # not inlined into the n-gram lambda; see word_ngram_strings)
        return d.select(
            F.col(id_col), words(F.col(text_col)).alias("_w")
        ).select(F.col(id_col), F.explode(word_ngram_strings(F.col("_w"), n)).alias("gram"))

    bench_grams = exploded_grams(benchmark).select("gram").distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        exploded_grams(df)
        .join(bench_grams, "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    # hits is NOT forced to broadcast: it is bounded by the corpus, not the
    # benchmark — one boilerplate n-gram in the eval set can contaminate a
    # large corpus fraction. AQE broadcasts it when it is actually small.
    return df.join(hits, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (the beyond-broadcast scale path)
# ---------------------------------------------------------------------------


def _bloom_positions_np(h, m_bits: int, k: int):
    """k bit positions per 64-bit hash via Kirsch–Mitzenmacher double
    hashing (h1 + i·h2 mod m): the low 32 bits seed, the high 32 bits
    (forced odd) step.  One xxhash64 per gram feeds all k probes — no
    per-probe rehash, and the arithmetic is plain uint64 so an external
    mirror reproduces it with Python ints."""
    import numpy as np

    u = h.astype(np.uint64)
    lo = u & np.uint64(0xFFFFFFFF)
    step = (u >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((lo[:, None] + i[None, :] * step[:, None]) % np.uint64(m_bits)).astype(
        np.int64
    )


def bloom_gram_filter(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> bytes:
    """Build an ``m_bits`` Bloom filter over the benchmark's distinct word
    ``n``-grams, distributed: each input partition sets its grams' bits in
    a local numpy bitmap and emits the packed bytes (``m_bits/8`` per
    partition, 128 KiB at the default), the driver ORs the ≤P partials.
    Only bitmaps cross the wire — never the gram set — so the build cost
    is independent of benchmark cardinality."""
    import numpy as np
    import pandas as pd

    nbytes = m_bits // 8

    def partials(batches):
        bits = np.zeros(m_bits, dtype=bool)
        any_rows = False
        for pdf in batches:
            h = pdf["h"].to_numpy(dtype=np.int64)
            if len(h) == 0:
                continue
            any_rows = True
            bits[_bloom_positions_np(h, m_bits, k).ravel()] = True
        if any_rows:
            yield pd.DataFrame({"bmp": [np.packbits(bits, bitorder="little").tobytes()]})

    grams = benchmark.select(
        F.col(text_col).alias("_t")
    ).select(words(F.col("_t")).alias("_w")).select(
        F.explode(word_ngram_strings(F.col("_w"), n)).alias("gram")
    )
    rows = (
        grams.select(F.xxhash64("gram").alias("h"))
        .distinct()
        .mapInPandas(partials, schema="bmp binary")
        .collect()
    )
    acc = np.zeros(nbytes, dtype=np.uint8)
    for r in rows:
        acc |= np.frombuffer(r["bmp"], dtype=np.uint8)
    return acc.tobytes()


def bloom_decontaminate_stats(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Per-document benchmark-overlap stats through a Bloom filter — the
    decontamination shape for when the eval suite's n-gram set no longer
    fits an exact broadcast set (``decontaminate`` above): a 100 TB-scale
    run holds the filter at a fixed 128 KiB regardless of benchmark size
    and pays zero corpus shuffle for membership.

    Returns ``(id_col, n_grams, n_hits, contaminated)`` for every corpus
    doc with at least one gram.  ``n_hits`` counts grams whose k probe
    bits are all set; false positives are one-sided (over-flagging at the
    classical ``(1-e^{-kn/m})^k`` rate — conservative for contamination
    removal, never under-flagging).  The membership test runs as an
    Arrow-batched numpy bit test over JVM-computed gram hashes, pandas
    partial-aggregated per batch so the final groupBy shuffles one row
    per (batch, doc), not one per gram."""
    bmp = bloom_gram_filter(benchmark, text_col, n, m_bits, k)
    return bloom_probe_stats(df, bmp, text_col, id_col, n, k)


def bloom_probe_stats(
    df: DataFrame,
    bmp: bytes,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    k: int = 4,
) -> DataFrame:
    """Probe side of the Bloom decontamination: score ``df`` against an
    already-built bitmap (``bloom_gram_filter`` output — batch-built or
    loaded from a persisted intake gate).  ``m_bits`` is implied by the
    bitmap length."""
    import numpy as np
    import pandas as pd

    m_bits = len(bmp) * 8

    def probe(batches):
        bits = np.unpackbits(np.frombuffer(bmp, dtype=np.uint8), bitorder="little")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h = pdf["h"].to_numpy(dtype=np.int64)
            pos = _bloom_positions_np(h, m_bits, k)
            hit = bits[pos].all(axis=1).astype(np.int64)
            out = pd.DataFrame({"_id": pdf["_id"], "_hit": hit})
            agg = out.groupby("_id", sort=False)["_hit"].agg(["count", "sum"])
            yield pd.DataFrame(
                {
                    "_id": agg.index.to_numpy(),
                    "n_grams": agg["count"].to_numpy(dtype=np.int64),
                    "n_hits": agg["sum"].to_numpy(dtype=np.int64),
                }
            )

    gram_hashes = (
        df.select(F.col(id_col).alias("_id"), words(F.col(text_col)).alias("_w"))
        .select("_id", F.explode(word_ngram_strings(F.col("_w"), n)).alias("gram"))
        .select("_id", F.xxhash64("gram").alias("h"))
    )
    return (
        gram_hashes.mapInPandas(probe, schema="_id long, n_grams long, n_hits long")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_hits").alias("n_hits"),
        )
        .withColumn(
            "contaminated", (F.col("n_hits") > 0).cast("long")
        )
    )


def substring_span_stats(
    df: DataFrame,
    k: int = 20,
    window: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Per-document duplicated-substring fraction via WINNOWING
    fingerprints (Schleimer et al. 2003, the MOSS algorithm) — the
    content-anchored approximation of suffix-array substring dedup (Lee
    et al. 2022): hash every ``k``-char gram, select the minimum hash of
    each sliding window of ``window`` consecutive gram hashes, and call a
    fingerprint "duplicated" when it occurs in >= ``min_docs`` distinct
    documents.

    Why winnowing and not strided position sampling: fixed-stride windows
    only collide when the two copies are aligned modulo the stride — a
    copy shifted by one character is invisible.  Window-minima anchor on
    CONTENT, so any shared substring of length >= ``window + k - 1``
    chars is guaranteed to contribute at least one common fingerprint
    regardless of where it sits in either document, at an expected
    fingerprint density of ~2/(window+1) per position.

    Plan shape: the per-position gram hashes and window minima are
    computed INSIDE per-row array expressions (no explode until after
    ``array_distinct`` of the selected minima), so shuffle volume is the
    winnowed fingerprint set (~2n/window per doc), not the full gram
    stream; then one fingerprint aggregate (map-side partial) and one
    co-partitioned join back — no all-pairs stage at any corpus size.
    ``md5`` is the gram hash because it is bit-identical across external
    engines (oracle replay); a production run would swap ``xxhash64``
    (cheaper, same selection semantics).  Docs shorter than
    ``window + k - 1`` chars have no full window and report
    ``n_fps = 0`` with ``dup_frac = 0``.
    """
    min_len = window + k - 1
    df = spread_small_scan(df)
    n_grams = F.length(text_col) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.md5(F.substring(F.col(text_col), i, k)),
    )
    # materialize the gram-hash array in its own projection: it is
    # multi-referenced by every window slice below and must not be inlined
    hashed = df.select(
        F.col(id_col),
        F.when(F.length(text_col) >= min_len, grams)
        .otherwise(F.array().cast("array<string>"))
        .alias("_hs"),
    )
    minima = F.transform(
        F.sequence(F.lit(1), F.size("_hs") - (window - 1)),
        lambda i: F.array_min(F.slice(F.col("_hs"), i, window)),
    )
    fps_arr = hashed.select(
        id_col,
        F.when(F.size("_hs") >= window, F.array_distinct(minima))
        .otherwise(F.array().cast("array<string>"))
        .alias("_fps"),
    )
    # explode_OUTER, not explode: InferFiltersFromGenerate rewrites a plain
    # explode into a pre-Generate `size(_fps) > 0` Filter whose pushdown
    # INLINES the whole winnowing expression tree — the window-minima
    # lambda then recomputes the full gram array per window (observed 180×
    # slowdown). The rule skips outer generates; the null row an empty
    # array produces is dropped right after, on the generated column.
    # localCheckpoint materializes the fingerprint stream once — it is
    # consumed twice below (kind aggregate + join back), same pattern as
    # the LSH pipelines.
    fps = fps_arr.select(F.col(id_col), F.explode_outer("_fps").alias("fp")).filter(
        F.col("fp").isNotNull()
    )
    if materialize:
        # consumed twice below (kind aggregate + join back); the lazy form
        # (materialize=False) exists so plan tests can inspect the full
        # winnowing expression tree, which the checkpoint otherwise hides
        fps = fps.localCheckpoint(eager=False)
    dup_kinds = (
        fps.groupBy("fp")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("fp", F.lit(1).alias("dup"))
    )
    per_doc = (
        fps.join(dup_kinds, "fp", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.count("dup").alias("n_dup_fps"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_fps", F.lit(0)).cast("bigint").alias("n_fps"),
            F.coalesce("n_dup_fps", F.lit(0)).cast("bigint").alias("n_dup_fps"),
            F.when(F.coalesce("n_fps", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.col("n_dup_fps").cast("double") / F.col("n_fps").cast("double")
            )
            .alias("dup_frac"),
        )
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Persistable LSH index: ``(band, bh, idx_id)`` — one row per
    (document, band) with the band's bucket hash.  This is the structure
    an incremental pipeline stores between crawls (e.g. a parquet table
    bucketed by ``(band, bh)``), so deduping a NEW batch never rescans or
    re-signs the historical corpus — the core economics of dedup at a
    growing 100 TB corpus.  Size: ``bands`` rows × 20 bytes per doc.
    """
    banded = minhash_banded_np(df, text_col, id_col, num_hashes, bands, shingle_k, seed)
    return banded.select(F.col("_id").alias("idx_id"), "band", "bh")


def incremental_near_duplicates(
    new_docs: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-dup matches of a NEW batch against an EXISTING corpus index
    (``minhash_band_index`` output): sign only the new batch, bucket-join
    its bands against the index, exact-Jaccard-verify the candidates
    using texts fetched by semi-join — the historical corpus is never
    re-signed and only candidate docs' texts are read.

    Plan shape: new-batch signature scan (small) → join on ``(band, bh)``
    (with the index bucketed on that key this is a pruned lookup, not a
    full index scan) → per-bucket cap (``max_bucket`` ids per index
    bucket, the same degenerate-bucket guard as ``lsh_candidate_pairs``)
    → ``verify_jaccard`` over the union of the two doc sets, shingling
    only candidates.  Returns ``(id_a = new id, id_b = matched corpus
    id, jaccard >= threshold)``.  The caller folds the new batch into
    the stored index with a plain append of ``minhash_band_index(new)``.
    """
    new_banded = minhash_band_index(
        new_docs, text_col, id_col, num_hashes, bands, shingle_k, seed
    ).withColumnRenamed("idx_id", "new_id")
    # cap fan-out per (band, bh) on the index side — a boilerplate bucket
    # with millions of historical members would otherwise explode the join
    from pyspark.sql import Window as W

    w = W.partitionBy("band", "bh").orderBy("idx_id")
    capped = index.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= max_bucket
    )
    cand = (
        new_banded.join(capped, ["band", "bh"])
        .where(F.col("new_id") != F.col("idx_id"))
        .select(F.col("new_id").alias("id_a"), F.col("idx_id").alias("id_b"))
        .distinct()
    )
    both = new_docs.select(id_col, text_col).unionByName(
        corpus.select(id_col, text_col)
    )
    return verify_jaccard(both, cand, text_col, id_col, shingle_k, threshold)


# ---------------------------------------------------------------------------
# C4-style duplicate-span removal (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------


def _span_word_array(text_col: str) -> Column:
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), F.lit(0))


def span_sentences(
    df: DataFrame,
    sentence_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, sid, sent)`` — fixed ``sentence_words``-word sentences
    (the corpus has no punctuation; the algorithm is delimiter-agnostic),
    1-based ``sid``, at least one (possibly empty) sentence per doc so
    every document survives the rebuild group-by."""
    s = sentence_words
    w = df.select(F.col(id_col).alias("doc_id"), _span_word_array(text_col).alias("_ws"))
    nsent = F.greatest(F.ceil(F.size("_ws") / s).cast("int"), F.lit(1))
    return w.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), nsent),
                lambda i: F.array_join(F.slice("_ws", (i - 1) * s + 1, s), " "),
            )
        ).alias("_p", "sent"),
    ).select("doc_id", (F.col("_p") + 1).alias("sid"), "sent")


def span_hashes(
    df: DataFrame,
    sentence_words: int = 8,
    span_sents: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, start, h)`` — md5 of every sliding stride-1 span of
    ``span_sents`` consecutive sentences.  One row per span; the ×k text
    overlap stays inside the md5 argument, never materialized."""
    s, k = sentence_words, span_sents
    w = df.select(F.col(id_col).alias("doc_id"), _span_word_array(text_col).alias("_ws"))
    nsent = F.greatest(F.ceil(F.size("_ws") / s).cast("int"), F.lit(1))
    return w.select(
        "doc_id",
        F.posexplode(
            F.when(
                nsent >= k,
                F.transform(
                    F.sequence(F.lit(1), nsent - (k - 1)),
                    lambda i: F.md5(
                        F.array_join(F.slice("_ws", (i - 1) * s + 1, s * k), " ")
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_p", "h"),
    ).select("doc_id", (F.col("_p") + 1).alias("start"), "h")


def span_dedup(
    df: DataFrame,
    known: DataFrame | None = None,
    sentence_words: int = 8,
    span_sents: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4 duplicate-span removal: drop all but the globally FIRST
    occurrence (min ``(doc_id, start)``) of any span occurring ≥2 times;
    with ``known`` (a ``(h)`` DataFrame of span hashes already seen in
    earlier crawls/batches) EVERY occurrence of a known span is removed —
    its keeper copy lives in the prior corpus.  Returns
    ``(doc_id, n_sent, n_removed, cleaned)`` with the surviving sentences
    reassembled in order.

    Scale: keep-first is a mergeable ``min(struct)`` hash-agg per span
    hash — no corpus-wide window sort; the join back touches duplicated
    hashes only (AQE broadcasts when small); the covered-sentence explode
    is removed-span-sized; reassembly is the window-free
    ``sort_array(collect_list(struct))`` rebuild shared with the CCNet
    paragraph path."""
    k = span_sents
    sents = span_sentences(df, sentence_words, text_col, id_col)
    spans = span_hashes(df, sentence_words, span_sents, text_col, id_col)
    if known is not None:
        known_h = known.select("h").distinct()
        removed_known = spans.join(known_h, "h").select("doc_id", "start")
        spans_fresh = spans.join(known_h, "h", "left_anti")
    else:
        removed_known = None
        spans_fresh = spans
    firsts = (
        spans_fresh.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("doc_id", "start")).alias("first"),
        )
        .where(F.col("cnt") >= 2)
    )
    removed_occ = (
        spans_fresh.join(firsts, "h")
        .where(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("start") == F.col("first.start"))
            )
        )
        .select("doc_id", "start")
    )
    if removed_known is not None:
        removed_occ = removed_occ.unionByName(removed_known)
    removed_sids = (
        removed_occ.select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + (k - 1))).alias("sid"),
        )
        .distinct()
        .withColumn("_rm", F.lit(1))
    )
    return (
        sents.join(removed_sids, ["doc_id", "sid"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sent"),
            F.count("_rm").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_rm").isNull(),
                                F.struct(F.col("sid"), F.col("sent")),
                            )
                        )
                    ),
                    lambda st: st["sent"],
                ),
                " ",
            ).alias("cleaned"),
        )
    )

def exact_substring_grams(
    df: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, start, h)`` — md5 of every stride-1 ``min_len``-token
    window (1-based token start).  The anchor stream
    ``exact_substring_dedup`` consumes, exposed separately so the
    streaming gate can append a batch's gram hashes to its persisted
    index without recomputing the dedup."""
    L = min_len
    # spread before the per-position md5 fan-out: a one-split local scan
    # otherwise serializes the whole gram stage onto one core (r14 —
    # measured 2.5 s single-task; no-op at scale, see spread_small_scan)
    w = spread_small_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"), _span_word_array(text_col).alias("_ws")
    )
    return (
        w.select(
            "doc_id",
            F.posexplode_outer(
                F.when(
                    F.size("_ws") >= L,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_ws") - (L - 1)),
                        lambda i: F.md5(F.array_join(F.slice("_ws", i, L), " ")),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("_p", "h"),
        )
        .where(F.col("h").isNotNull())
        .select("doc_id", (F.col("_p") + 1).alias("start"), "h")
    )


def exact_substring_dedup(
    df: DataFrame,
    known: DataFrame | None = None,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): remove every token
    that lies inside a VERBATIM duplicated run of >= ``min_len`` tokens,
    keeping the globally first occurrence (min ``(doc_id, start)``) of
    each duplicated run.  The paper's reference implementation builds a
    suffix array over the concatenated corpus; a suffix array is a
    driver-sized sequential structure that cannot shard, so this engine
    uses the equivalent GRAM-ANCHORED form:

    *A duplicated run of m >= L tokens contains exactly m-L+1 duplicated
    stride-1 L-grams, and every duplicated L-gram lies inside a
    duplicated run.*  So (1) hash every L-token window (one md5 per
    position — the xL text overlap stays inside the hash argument, never
    materialized), (2) keep-first per gram hash via a mergeable
    ``min(struct(doc_id, start))`` hash-agg (no corpus-wide sort),
    (3) the union of token intervals ``[start, start+L)`` over all
    NON-FIRST duplicated gram occurrences is precisely the suffix
    array's maximal-match extension: overlapping anchors chain across a
    long shared run, nested and adjacent duplicates merge in the
    interval union, and the first copy's tokens stay untouched unless a
    self-overlapping repeat (period < L) eats into them — the same
    byte-range-cut semantics as the reference tool.

    Scale shape: gram explode is corpus-linear (one 32-char hash + two
    ints per token position); the keep-first agg and the join back touch
    duplicated hashes only; the removed-token explode is
    removed-run-sized; reassembly is the window-free
    ``sort_array(collect_list(struct))`` rebuild shared with span_dedup
    (dedup.py:span_dedup).  No all-pairs stage, no suffix array, no
    driver state at any corpus size.

    With ``known`` (a ``(h)`` DataFrame of gram hashes already admitted
    by earlier batches/crawls) EVERY occurrence of a known gram is
    removed — its keeper copy lives in the prior corpus — and only fresh
    grams compete for within-batch keep-first: the streaming-gate form
    (run_exact_substring_stream), the same contract as ``span_dedup``'s
    known index at token granularity.

    Returns ``(doc_id, n_tokens, n_removed, cleaned)`` — counts plus the
    surviving tokens reassembled in order (empty string when everything
    was removed or the doc had no tokens).
    """
    L = min_len
    # same spread as the gram stage: the token re-derivation below is the
    # other CPU-heavy pass over the same one-split scan (both branches
    # share one round-robin exchange — identical subtree → ReusedExchange)
    df = spread_small_scan(df.select(id_col, text_col))
    w = df.select(
        F.col(id_col).alias("doc_id"), _span_word_array(text_col).alias("_ws")
    )
    grams = exact_substring_grams(df, min_len, text_col, id_col)
    if known is not None:
        # streaming-gate form: every occurrence of a gram already in the
        # persisted index is removed — its keeper copy was admitted by an
        # earlier batch (the span_dedup known-index contract at token
        # granularity); only fresh grams compete for within-batch
        # keep-first.
        known_h = known.select("h").distinct()
        removed_known = grams.join(known_h, "h").select("doc_id", "start")
        grams = grams.join(known_h, "h", "left_anti")
    else:
        removed_known = None
    firsts = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("doc_id", "start")).alias("first"),
        )
        .where(F.col("cnt") >= 2)
    )
    removed_occ = (
        grams.join(firsts, "h")
        .where(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("start") == F.col("first.start"))
            )
        )
        .select("doc_id", "start")
    )
    if removed_known is not None:
        removed_occ = removed_occ.unionByName(removed_known)
    removed_tids = (
        removed_occ.select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + (L - 1))).alias(
                "tid"
            ),
        )
        .distinct()
        .withColumn("_rm", F.lit(1))
    )
    tokens = w.select(
        "doc_id", F.posexplode_outer("_ws").alias("_p", "token")
    ).select("doc_id", (F.col("_p") + 1).alias("tid"), "token")
    return (
        tokens.join(removed_tids, ["doc_id", "tid"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("token").alias("n_tokens"),
            F.count("_rm").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_rm").isNull() & F.col("token").isNotNull(),
                                F.struct(F.col("tid"), F.col("token")),
                            )
                        )
                    ),
                    lambda st: st["token"],
                ),
                " ",
            ).alias("cleaned"),
        )
    )


def eval_sample_guard(
    df: DataFrame, max_docs: int = 2_000, stats: dict | None = None
) -> DataFrame:
    """EVALUATION-ONLY input guard for the all-pairs ground-truth arms
    (ops_lsh_eval and siblings): exact recall/precision measurement
    needs an exact all-pairs truth set, which is quadratic BY DESIGN —
    the one place a cartesian is the point — and must therefore never
    see a corpus-sized frame.  Counts the sample and refuses above
    ``max_docs`` (2k docs ≈ 2M pairs, seconds anywhere; 1M docs would
    be 5·10¹¹ pairs).  Returns the input unchanged when within bounds
    so it chains inline; the count is one job on a sample-sized frame.
    Point the EVALUATION at a sample; point the PRODUCTION dedup at the
    banded LSH operators, which never form all pairs.  ``stats`` (r15)
    receives ``stats["n"] = n`` so callers that need the sample size
    anyway don't pay a second count job."""
    n = df.count()
    if stats is not None:
        stats["n"] = n
    if n > max_docs:
        raise ValueError(
            f"all-pairs evaluation sample has {n} docs (> {max_docs}): "
            "this harness is evaluation-only — sample the corpus first, or "
            "use the banded LSH operators for production-scale dedup"
        )
    return df
