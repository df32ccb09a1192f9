"""Similarity search over embedding columns (array<float>).

Two paths, both cluster-scale clean:

* **Brute-force top-k** (the exact baseline): broadcast the (small) query
  set against the corpus — a map-side broadcast nested-loop with built-in
  ``zip_with``/``aggregate`` dot products (JVM codegen, no Python), then a
  single shuffle for the per-query top-k window. Cost: one corpus scan per
  batch of queries — the right exact plan at any corpus size, as long as
  the query batch is broadcastable.

* **IVF (inverted-file) ANN**: deterministic centroid sample → assign every
  vector to its nearest centroid (broadcast argmin, one scan) → queries
  probe only the ``nprobe`` nearest centroid cells (join on centroid id).
  Recall/probe tradeoff is the standard IVF contract; at 100 TB the
  assignment table is bucketed by centroid so probes prune partitions.

Embedding near-dup (cosine ≥ τ) reuses the random-hyperplane SimHash from
``dedup.simhash_near_duplicates`` applied to vectors (sign-bit LSH).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_df


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _unit_rows(M):
    """Row-normalize a numpy matrix (0-norm rows stay 0)."""
    import numpy as np

    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of each query over the corpus.

    Scale shape: the (small, top-k-search contract) query set is collected
    once and shipped to executors as a normalized numpy matrix inside the
    mapInPandas closure — the broadcast-side of a GEMM. Each corpus chunk
    computes one (chunk × queries) matrix product and keeps its local
    top-k per query (argpartition), so the shuffle that feeds the final
    per-query window carries ≤ k·partitions rows per query, never the
    corpus. The corpus is scanned once and never shuffled.
    """
    import numpy as np

    qrows = queries.select(query_id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    Q = np.asarray([r[1] for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    m = len(qids)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            C = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
            S = Cn @ Qn.T  # (chunk, queries)
            ids = pdf[id_col].to_numpy()
            kk = min(k, len(ids))
            out_q, out_id, out_sim = [], [], []
            for j in range(m):
                top = np.argpartition(-S[:, j], kk - 1)[:kk]
                out_q.extend([qids[j]] * kk)
                out_id.extend(ids[top])
                out_sim.extend(S[top, j])
            yield pd.DataFrame(
                {query_id_col: out_q, id_col: out_id, "cos_sim": out_sim}
            )

    local = corpus.select(id_col, vec_col).mapInPandas(
        run, schema=f"{query_id_col} long, {id_col} long, cos_sim double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def _local_spherical_kmeans(X: "np.ndarray", k: int, seed: int = 42, iters: int = 8) -> "np.ndarray":
    """kmeans++ init (D² sampling on cosine distance) + spherical Lloyd on a
    driver-side sample matrix. Returns a row-normalized (k × dim) matrix.
    Bounded cost: the sample is capped by the caller, never the corpus."""
    rng = np.random.RandomState(seed)
    n = len(X)
    k = min(k, n)
    idx = [int(rng.randint(n))]
    d2 = 1.0 - X @ X[idx[0]]
    for _ in range(k - 1):
        p = np.maximum(d2, 1e-12)
        i = int(rng.choice(n, p=p / p.sum()))
        idx.append(i)
        d2 = np.minimum(d2, 1.0 - X @ X[i])
    C = X[idx].copy()
    for _ in range(iters):
        a = np.argmax(X @ C.T, axis=1)
        for c in range(k):
            members = X[a == c]
            if len(members):
                C[c] = members.mean(axis=0)
        C = _unit_rows(C)
    return C


def ivf_centroids_pp(
    corpus: DataFrame,
    n_centroids: int,
    sample_size: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """kmeans++ warm start: deterministic hash-stride sample (bounded at
    ``sample_size`` rows — map-side filter, no global sort) collected once,
    clustered locally with spherical k-means. The sample collect and the
    O(sample × k) local Lloyd are both bounded by contract regardless of
    corpus size; the corpus itself is only scanned for the sample filter."""
    spark = corpus.sparkSession
    total = corpus.count()
    stride = max(total // sample_size, 1)
    rows = (
        corpus.select(vec_col)
        .where(F.pmod(F.xxhash64(id_col), F.lit(stride)) == 0)
        .limit(sample_size)
        .collect()
    )
    X = _unit_rows(np.asarray([r[0] for r in rows], dtype=np.float64))
    C = _local_spherical_kmeans(X, n_centroids, seed=seed)
    return local_df(
        spark, [(i, row.tolist()) for i, row in enumerate(C)], "centroid_id int, centroid array<double>"
    )


def ivf_train(
    corpus: DataFrame,
    n_centroids: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """Centroid training: kmeans++ sample warm start + ``iters`` distributed
    spherical Lloyd refinements.

    Each refinement is ONE corpus scan with ZERO corpus shuffle: a
    mapInPandas pass emits per-batch partial sums (centroid_id, Σvec, n) —
    ≤ n_centroids rows per Arrow batch — which are collected and combined
    on the driver (bounded by n_centroids × partitions, tiny). The previous
    groupBy(centroid_id).applyInPandas spelling shuffled the whole corpus
    per iteration; at 100 TB that is ``iters`` full shuffles vs none here.
    Means are re-normalized (spherical k-means — the right Lloyd step for
    cosine cells)."""
    spark = corpus.sparkSession
    cents = ivf_centroids_pp(corpus, n_centroids, sample_size, seed, id_col, vec_col)
    if iters <= 0:
        return cents
    # r15: the centroid table is driver-sized by contract, so the Lloyd
    # loop carries it as a numpy matrix instead of round-tripping a local
    # DataFrame through a dedicated collect job every iteration (one job
    # + py4j transfer per round saved, at any corpus size).  Bit-exact
    # with the former spelling: the Spark array<double> round-trip was a
    # lossless float64 copy, and the stored->renormalized double
    # _unit_rows sequence is preserved below (normalizing an
    # already-normalized row is NOT an identity in floats).
    rows = sorted(cents.collect(), key=lambda r: r["centroid_id"])
    stored = np.asarray([r["centroid"] for r in rows], dtype=np.float64)
    for _ in range(iters):
        cmat = _unit_rows(stored)
        k, dim = cmat.shape

        def partials(batches, cmat=cmat, k=k, dim=dim):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _unit_rows(np.asarray(pdf[vec_col].tolist(), dtype=np.float64))
                a = np.argmax(X @ cmat.T, axis=1)
                sums = np.zeros((k, dim))
                np.add.at(sums, a, X)
                counts = np.bincount(a, minlength=k)
                nz = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "centroid_id": nz.astype("int32"),
                        "psum": [sums[c].tolist() for c in nz],
                        "n": counts[nz].astype("int64"),
                    }
                )

        collected = (
            corpus.select(vec_col)
            .mapInPandas(partials, schema="centroid_id int, psum array<double>, n long")
            .collect()
        )
        sums = np.zeros((k, dim))
        counts = np.zeros(k, dtype=np.int64)
        for r in collected:
            sums[r["centroid_id"]] += np.asarray(r["psum"])
            counts[r["centroid_id"]] += r["n"]
        new = cmat.copy()  # empty cells keep their old centroid
        nz = counts > 0
        new[nz] = sums[nz] / counts[nz, None]
        stored = _unit_rows(new)
    return local_df(
        spark,
        [(i, row.tolist()) for i, row in enumerate(stored)],
        "centroid_id int, centroid array<double>",
    )


def ivf_assign(corpus: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine) with ZERO
    shuffle: the (tiny) centroid matrix is collected once and closed over a
    vectorized mapInPandas — each Arrow batch does one (batch × dim) @
    (dim × n_centroids) matmul and a row-wise argmax. The join+window
    spelling would shuffle the full corpus on vec_id; this is a pure
    map-side pass, the right plan at any corpus size."""
    from pyspark.sql import types as T

    # tiny frame: collect then sort driver-side (orderBy would cost a job)
    rows = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
    cmat = np.array([r["centroid"] for r in rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0
    cids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)

    vec_field = corpus.schema[vec_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField(vec_col, vec_field),
            T.StructField("centroid_id", T.IntegerType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vnorm = np.linalg.norm(mat, axis=1)
            vnorm[vnorm == 0] = 1.0
            sims = (mat @ cmat.T) / (vnorm[:, None] * cnorm[None, :])
            # ties break to the lowest centroid_id (argmax returns first max)
            best = cids[np.argmax(sims, axis=1)]
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: pdf[vec_col], "centroid_id": best.astype("int32")}
            )

    return corpus.select(id_col, vec_col).mapInPandas(run, schema=out_schema)


def embedding_sign_signatures(
    df: DataFrame,
    dim: int,
    n_bits: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (sign-bit LSH) 64-bit signatures for vectors.

    sig bit j = sign(v · plane_j); cos-similar vectors agree on most bits
    (P[agree] = 1 − θ/π). The projection is a (batch × dim) @ (dim × 64)
    numpy matmul inside an Arrow-batched mapInPandas — the vectorized
    Python path, ~100× a per-row UDF. Hyperplanes are seeded → fully
    deterministic across partitions/executors.
    """
    planes = np.random.RandomState(seed).randn(dim, n_bits)
    weights = np.power(2.0, np.arange(n_bits), dtype=object)  # exact ints via object
    out_schema = T.StructType(
        [T.StructField("_id", T.LongType()), T.StructField("_sim", T.LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (mat @ planes) > 0  # (batch, n_bits)
            sigs = [
                int(sum(int(w) for b, w in zip(row, weights) if b)) - (1 << 63)
                for row in bits
            ]  # offset into signed-long range for JVM compat
            yield pd.DataFrame({"_id": pdf[id_col], "_sim": sigs})

    # spread before the per-batch matmul: a small local parquet arrives as
    # ONE split, serializing the whole projection onto one core (r14; no-op
    # at scale — see dedup.spread_small_scan)
    from .dedup import spread_small_scan

    return spread_small_scan(df.select(id_col, vec_col)).mapInPandas(run, schema=out_schema)


def band_pairs_64(sig: DataFrame, band_bits: int = 16) -> DataFrame:
    """Candidate pairs from 64-bit signatures by banded bucket join:
    (id_a, id_b, hamming) for every pair sharing at least one band chunk.
    Shared by SimHash text near-dup and embedding sign-LSH near-dup."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sig.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("_sim"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_sim", "bb.band", "bb.chunk")
    left = banded.select("band", "chunk", F.col("_id").alias("id_a"), F.col("_sim").alias("sim_a"))
    right = banded.select("band", "chunk", F.col("_id").alias("id_b"), F.col("_sim").alias("sim_b"))
    return (
        left.join(right, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .distinct()
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    max_hamming: int = 16,
    band_bits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-LSH bucketing → Hamming
    prefilter → exact cosine verify on the candidates only (two key joins
    back to the vectors — never a corpus × corpus product)."""
    dim = len(df.select(vec_col).first()[0])
    sig = embedding_sign_signatures(df, dim, seed=seed, id_col=id_col, vec_col=vec_col)
    # materialize candidates once (the verify_jaccard convention): the two
    # vector joins below broadcast this frame under DIFFERENT build keys
    # (id_a, then id_b), and broadcast reuse only fires for identical build
    # modes — without the pin each build re-ran the banded self-join from
    # the signature scan (r14 measured: two ~1.2 s duplicate jobs)
    cands = (
        band_pairs_64(sig, band_bits)
        .where(F.col("hamming") <= max_hamming)
        .localCheckpoint(eager=False)
    )
    # fetch both pair members' vectors in ONE corpus scan: explode each
    # candidate pair to its two ids, join the vector table once, re-group
    # by pair (exactly 2 rows/group, one per side → max(when) is the
    # side's single non-null vector). The former two-join spelling ran
    # the parquet array decode once PER SIDE (~1 s single-task each,
    # r14 measured) — and at 100 TB it is one corpus scan instead of two;
    # the added exchange is pair-sized, not corpus-sized.
    ex = cands.select(
        "id_a", "id_b", F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("_vid")
    )
    v = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vec"))
    g = (
        ex.join(v, "_vid")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("_vid") == F.col("id_a"), F.col("_vec"))).alias("_va"),
            F.max(F.when(F.col("_vid") == F.col("id_b"), F.col("_vec"))).alias("_vb"),
        )
    )
    return g.select(
        "id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k: each query scans only its ``nprobe`` nearest cells.
    Default ``nprobe`` probes 25% of the cells (⌈0.25·n_centroids⌉).

    Recall contract: the engine's declared ANN tolerance is recall ≥ 0.95
    vs brute force at probed fraction ≤ 25% (SURVEY §2.D). With kmeans++
    spherical training (``ivf_train``) this holds on clustered embeddings —
    the data ANN indexes exist for — and is asserted by
    tests/test_functions.py::test_ivf_recall_clustered (recall 1.0 at ~17%
    probed on a 40-cluster corpus). On *uniform random* vectors (the
    synthetic fixture) recall fundamentally tracks the probed fraction for
    ANY cell structure (measured: ≤0.93 at 26% probed even with ideal
    kmeans++ at 4 cells/centroid), so the fixture test documents that
    worst case separately instead of inflating nprobe to fake the contract.

    The probe table (query × nprobe cells) is tiny by contract; it is
    computed with a window over queries, collected once, and shipped as
    per-cell normalized numpy matrices in the mapInPandas closure. Each
    corpus chunk GEMMs only the rows whose cell some query probes —
    non-probed cells are filtered before Python (cell-level pruning is the
    IVF point) — and emits its local per-query top-k; the final window
    merges ≤ k·partitions rows per query. Corpus: one scan, no shuffle.
    """
    import math

    import numpy as np

    if nprobe is None:
        nprobe = max(1, math.ceil(0.25 * centroids.count()))
    q = queries.select(query_id_col, F.col(vec_col).alias("_qvec"))
    qc = q.join(F.broadcast(centroids)).select(
        query_id_col, "_qvec", "centroid_id", cosine(F.col("_qvec"), F.col("centroid")).alias("_sim")
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("_sim"), F.asc("centroid_id"))
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select(query_id_col, "_qvec", "centroid_id")
        # bounded set (queries x nprobe); the explicit sort makes the
        # collect ORDER session-independent — per-cell query matrices then
        # have identical shapes/row order everywhere, so the GEMM bits
        # (and any fixed-point output derived from them) are reproducible
        .orderBy(query_id_col, "centroid_id")
        .collect()
    )
    by_cell: dict[int, tuple[list, list]] = {}
    for r in probes:
        by_cell.setdefault(r["centroid_id"], ([], []))[0].append(r[query_id_col])
        by_cell[r["centroid_id"]][1].append(r["_qvec"])
    cell_mats = {
        c: (qids, _unit_rows(np.asarray(vecs, dtype=np.float64)))
        for c, (qids, vecs) in by_cell.items()
    }
    probed = sorted(cell_mats)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out_q, out_id, out_sim = [], [], []
            for cell, grp in pdf.groupby("centroid_id"):
                qids, Qn = cell_mats[cell]
                C = np.asarray(grp[vec_col].tolist(), dtype=np.float64)
                S = _unit_rows(C) @ Qn.T
                ids = grp[id_col].to_numpy()
                kk = min(k, len(ids))
                for j, qid in enumerate(qids):
                    top = np.argpartition(-S[:, j], kk - 1)[:kk]
                    out_q.extend([qid] * kk)
                    out_id.extend(ids[top])
                    out_sim.extend(S[top, j])
            if out_q:
                yield pd.DataFrame(
                    {query_id_col: out_q, id_col: out_id, "cos_sim": out_sim}
                )

    local = (
        assigned.where(F.col("centroid_id").isin(probed))  # cell pruning
        .select("centroid_id", id_col, vec_col)
        .mapInPandas(run, schema=f"{query_id_col} long, {id_col} long, cos_sim double")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    n_clusters: int = 10,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023): cluster embeddings, then inside each
    cluster drop every vector whose cosine to a lower-id cluster-mate
    reaches ``threshold`` — semantic near-duplicate pruning without any
    all-pairs stage.

    Plan shape: zero-shuffle k-means (``ivf_train``) + map-side assignment
    (``ivf_assign``), then ONE shuffle on ``centroid_id`` into a
    per-cluster vectorized GEMM (``applyInPandas``) — the pairwise work is
    n_i² per cluster, bounded by the cluster sizes, never the corpus
    square.  At 100 TB the knob is ``n_clusters``: it scales
    with corpus size to hold max cluster size roughly constant (the
    SemDedup paper runs 50k clusters for LAION-scale); a degenerate
    cluster is the same skew problem as an LSH bucket and the same fix
    applies (raise k, or exact-dedup first).

    Drop rule: ``keep = no lower-id cluster-mate with cos >= threshold`` —
    the standard distributed approximation of the paper's greedy sweep
    (a chain a~b~c drops both b and c even though greedy might keep c;
    over-dropping is the conservative direction for dedup).  Deterministic
    given the seed: kmeans++ init, argmax ties to the lowest centroid_id,
    and the keep rule depends only on the id order.
    """
    cents = ivf_train(corpus, n_clusters, id_col=id_col, vec_col=vec_col, seed=seed)
    assigned = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)

    # Within-cluster similarity as ONE applyInPandas pass (the paper's
    # actual structure: a per-cluster m×m GEMM), not an expression-level
    # self-join — the join spelling evaluates an interpreted 64-dim
    # zip_with/aggregate per candidate PAIR (measured 6.4 s at sf0.1 vs
    # ~1 s for the GEMM).  One shuffle on centroid_id; each group must fit
    # a worker (the paper's constraint too — n_clusters is the knob that
    # holds max cluster size roughly constant as the corpus grows).
    id_dtype = corpus.schema[id_col].dataType.simpleString()

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        X = _unit_rows(np.asarray(pdf[vec_col].tolist(), dtype=np.float64))[order]
        sims = X @ X.T
        # drop j when ANY earlier (lower-id) cluster-mate reaches threshold
        m = len(ids)
        tri = np.triu(sims >= threshold, k=1)  # [i, j] with i < j in id order
        dropped_sorted = tri.any(axis=0)
        keep = np.empty(m, dtype=bool)
        keep[order] = ~dropped_sorted
        return pd.DataFrame(
            {id_col: pdf[id_col], "cluster": pdf["centroid_id"], "keep": keep}
        )

    return assigned.groupBy("centroid_id").applyInPandas(
        prune, schema=f"{id_col} {id_dtype}, cluster int, keep boolean"
    )


# ---------------------------------------------------------------------------
# Product Quantization (Jégou et al. 2011) — compressed-domain ANN
# ---------------------------------------------------------------------------


def _local_kmeans(X: "np.ndarray", k: int, seed: int, iters: int = 12) -> "np.ndarray":
    """Plain (L2) Lloyd on a driver-side sample with kmeans++-style seeded
    init — the per-subspace codebook trainer. Deterministic per seed."""
    rng = np.random.RandomState(seed)
    n = len(X)
    k = min(k, n)
    # kmeans++ seeding
    cents = [X[rng.randint(n)]]
    d2 = np.full(n, np.inf)
    for _ in range(1, k):
        d2 = np.minimum(d2, ((X - cents[-1]) ** 2).sum(axis=1))
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        cents.append(X[rng.choice(n, p=probs)])
    C = np.asarray(cents)
    for _ in range(iters):
        # argmin ||x-c||² == argmin (-2xc + ||c||²) — GEMM form, no O(n·k·d)
        # broadcast temporaries
        a = (-2.0 * (X @ C.T) + (C**2).sum(axis=1)[None, :]).argmin(axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, a, X)
        counts = np.bincount(a, minlength=k)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    codes: int = 256,
    sample_size: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Train product-quantization codebooks: unit-normalize, split the
    dimension into ``m`` contiguous subspaces, and k-means each subspace to
    ``codes`` centroids on ONE deterministic driver-side sample (ordered
    by ``xxhash64(id)`` — seed-stable and scan-cheap; codebooks are tiny:
    m × codes × d/m floats).  Returns the (m, codes, dsub) array the
    encode/search steps close over — at 100 TB training cost is constant,
    it never touches more than the sample."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(
            F.xxhash64(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))),
            F.col(id_col),
        )
        .limit(sample_size)
        .collect()
    )
    X = _unit_rows(np.asarray([r[vec_col] for r in rows], dtype=np.float64))
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack(
        [
            _local_kmeans(X[:, s * dsub : (s + 1) * dsub], codes, seed + s)
            for s in range(m)
        ]
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each (normalized) vector to ``m`` one-byte codes — a pure
    map-side pass (zero shuffle), 8 bytes/vector at m=8 instead of 256:
    the 32× compression that lets a 100 TB embedding corpus's index live
    in a fraction of the space and stream through ADC scans."""
    m, codes, dsub = codebooks.shape

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(np.asarray(pdf[vec_col].tolist(), dtype=np.float64))
            out = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                # ||x - c||² = ||x||² - 2xc + ||c||² → argmin over -2xc + ||c||²
                C = codebooks[s]
                d = -2.0 * (Xs @ C.T) + (C**2).sum(axis=1)[None, :]
                out[:, s] = d.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "pq_codes": list(out.tolist())})

    return corpus.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} long, pq_codes array<int>"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    codes: int = 256,
    rerank: int = 0,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k by asymmetric-distance (ADC) scan over PQ codes, with
    optional exact rerank of the top ``rerank`` candidates.

    Plan shape: codebooks train on a constant-size sample; encoding is
    map-side; the ADC scan is one pass over the CODES (8 bytes/row, not
    the raw vectors) with per-partition top-R per query — the shuffle into
    the final window carries ≤ R·partitions rows per query.  ``rerank``
    joins only the candidate ids back to the raw vectors (semi-join-sized
    read) and re-scores exactly — the standard PQ + rerank recipe that
    restores recall lost to 8-byte quantization.  Deterministic: seeded
    codebooks, total (distance, id) ordering."""
    cb = pq_train(corpus, m, codes, 4096, seed, id_col, vec_col)
    encoded = pq_encode(corpus, cb, id_col, vec_col)

    qrows = queries.select(query_id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    Q = _unit_rows(np.asarray([r[1] for r in qrows], dtype=np.float64))
    nq = len(qids)
    dsub = Q.shape[1] // m
    # per-query ADC lookup tables: lut[q, s, c] = ||q_s - cb[s,c]||²
    lut = np.empty((nq, m, codes))
    for s in range(m):
        Qs = Q[:, s * dsub : (s + 1) * dsub]
        C = cb[s]
        lut[:, s, :] = ((Qs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    keep = max(k, rerank)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes_mat = np.asarray(pdf["pq_codes"].tolist(), dtype=np.int64)  # (n, m)
            ids = pdf[id_col].to_numpy()
            n = len(ids)
            kk = min(keep, n)
            out_q, out_id, out_d = [], [], []
            for j in range(nq):
                # gather: d[i] = Σ_s lut[j, s, codes[i, s]]
                d = lut[j][np.arange(m)[None, :], codes_mat].sum(axis=1)
                top = np.argpartition(d, kk - 1)[:kk]
                out_q.extend([qids[j]] * kk)
                out_id.extend(ids[top])
                out_d.extend(d[top])
            yield pd.DataFrame({query_id_col: out_q, id_col: out_id, "adc_dist": out_d})

    local = encoded.mapInPandas(
        scan, schema=f"{query_id_col} long, {id_col} long, adc_dist double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc(id_col))
    cands = (
        local.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= keep)
    )
    if not rerank:
        return cands.where(F.col("rank") <= k).orderBy(query_id_col, "rank")

    # exact rerank: candidate ids (≤ rerank per query) back to raw vectors
    withvec = cands.select(query_id_col, id_col).join(
        corpus.select(id_col, vec_col), id_col
    )
    qdf = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    rescored = withvec.join(F.broadcast(qdf), query_id_col).select(
        query_id_col,
        id_col,
        cosine(
            F.transform(vec_col, lambda v: v.cast("double")),
            F.transform("_qvec", lambda v: v.cast("double")),
        ).alias("cos_sim"),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        rescored.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


# ---------------------------------------------------------------------------
# PCA (exact covariance via map-side partials)
# ---------------------------------------------------------------------------


def pca_train(
    corpus: DataFrame,
    n_components: int = 8,
    vec_col: str = "embedding",
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
    """Exact PCA of an embedding column with ZERO corpus shuffle: one
    mapInPandas pass emits per-partition moment partials (Σx, Σx·xᵀ, n —
    a d + d² payload per partition, constant in corpus size), the driver
    combines them in deterministic partition order and eigendecomposes
    the d×d covariance.  d=64 → a 4 KB partial; the same pattern Spark
    MLlib's RowMatrix uses, kept dependency-free here.

    Returns ``(mean, components, explained_var)`` with components as rows,
    sign-fixed (largest-|coefficient| entry positive) so the basis is
    deterministic — ``eigh`` is unique up to sign for distinct
    eigenvalues.
    """
    def partials(batches):
        pid_state = {"sum": None, "outer": None, "n": 0}
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if pid_state["sum"] is None:
                d = X.shape[1]
                pid_state["sum"] = np.zeros(d)
                pid_state["outer"] = np.zeros((d, d))
            pid_state["sum"] += X.sum(axis=0)
            pid_state["outer"] += X.T @ X
            pid_state["n"] += len(X)
        if pid_state["n"]:
            yield pd.DataFrame(
                {
                    "s": [pid_state["sum"].tolist()],
                    "o": [pid_state["outer"].flatten().tolist()],
                    "n": [pid_state["n"]],
                }
            )

    rows = (
        corpus.select(vec_col)
        .mapInPandas(partials, schema="s array<double>, o array<double>, n long")
        .collect()
    )
    # deterministic combine order: float addition is order-sensitive at the
    # ulp level, and the self-check fingerprints downstream need stable bits
    rows = sorted(rows, key=lambda r: (r["n"], r["s"][0]))
    d = len(rows[0]["s"])
    S = np.zeros(d)
    O = np.zeros((d, d))
    n = 0
    for r in rows:
        S += np.asarray(r["s"])
        O += np.asarray(r["o"]).reshape(d, d)
        n += r["n"]
    mean = S / n
    cov = O / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T
    # sign fix: the largest-|coeff| entry of each component is positive
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, vals[order]


def pca_project(
    corpus: DataFrame,
    mean: "np.ndarray",
    components: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Project vectors onto the trained components — a pure map-side pass
    (the (k × d) basis travels in the closure)."""
    from pyspark.sql import types as T

    M = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)

    schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField(out_col, T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64) - mu
            P = X @ M.T
            yield pd.DataFrame({id_col: pdf[id_col], out_col: list(P.tolist())})

    return corpus.select(id_col, vec_col).mapInPandas(run, schema=schema)



# ---------------------------------------------------------------------------
# IVF-PQ composite (coarse quantizer + per-cell residual PQ — Jégou 2011,
# the FAISS IVFPQ layout and the shape a 100 TB ANN index actually takes)
# ---------------------------------------------------------------------------


def _pq_train_codebooks(
    assigned: DataFrame,
    cent: dict,
    m: int,
    codes: int,
    sample_size: int,
    seed: int,
    id_col: str,
    vec_col: str,
):
    """Residual PQ codebooks from ONE deterministic constant-size sample
    (xxhash64-ordered TakeOrdered — never a full sort): per subspace a
    seeded local k-means over the residual slice.  Returns the
    ``(m, codes, dsub)`` codebook tensor."""
    srows = (
        assigned.select(id_col, "centroid_id", vec_col)
        .orderBy(
            F.xxhash64(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))),
            F.col(id_col),
        )
        .limit(sample_size)
        .collect()
    )
    Xs = _unit_rows(np.asarray([r[vec_col] for r in srows], dtype=np.float64))
    Rs = Xs - np.asarray([cent[r["centroid_id"]] for r in srows])
    dim = Rs.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack(
        [_local_kmeans(Rs[:, s * dsub : (s + 1) * dsub], codes, seed + s) for s in range(m)]
    )


def _pq_encode(assigned: DataFrame, cent: dict, cb, id_col: str, vec_col: str) -> DataFrame:
    """Residual-encode assigned vectors (map-side, zero shuffle): one
    ``(id, cell, m small ints)`` row per vector — the stored index."""
    m, dsub = cb.shape[0], cb.shape[2]

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(np.asarray(pdf[vec_col].tolist(), dtype=np.float64))
            Rm = X - np.asarray([cent[c] for c in pdf["centroid_id"]])
            out = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Rsub = Rm[:, s * dsub : (s + 1) * dsub]
                C = cb[s]
                d = -2.0 * (Rsub @ C.T) + (C**2).sum(axis=1)[None, :]
                out[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "centroid_id": pdf["centroid_id"],
                    "pq_codes": list(out.tolist()),
                }
            )

    return assigned.select(id_col, "centroid_id", vec_col).mapInPandas(
        encode, schema=f"{id_col} long, centroid_id int, pq_codes array<int>"
    )


def _ivfpq_serve(
    encoded: DataFrame,
    queries: DataFrame,
    cents_df: DataFrame,
    cent: dict,
    cb,
    k: int,
    nprobe: int,
    rerank: int,
    corpus: DataFrame | None,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Query side of IVF-PQ: probe selection → per-(query, cell) residual
    ADC LUTs → cell-pruned code scan → optional exact rerank against raw
    vectors (semi-join-sized read).  ``corpus=None`` serves pure
    ADC-ranked top-k from the codes alone — the no-raw-read mode a
    100 TB index answers from m bytes/row."""
    m, dsub = cb.shape[0], cb.shape[2]
    q = queries.select(query_id_col, F.col(vec_col).alias("_qvec"))
    qc = q.join(F.broadcast(cents_df)).select(
        query_id_col,
        "_qvec",
        "centroid_id",
        cosine(F.col("_qvec"), F.col("centroid")).alias("_sim"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("_sim"), F.asc("centroid_id"))
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select(query_id_col, "_qvec", "centroid_id")
        # bounded set (queries x nprobe); the explicit sort makes the
        # collect ORDER session-independent — per-cell query matrices then
        # have identical shapes/row order everywhere, so the GEMM bits
        # (and any fixed-point output derived from them) are reproducible
        .orderBy(query_id_col, "centroid_id")
        .collect()
    )
    # per-(query, cell) residual LUTs: lut[s, j] = ||(q − c)_s − cb[s, j]||²
    luts: dict[int, tuple[list, "np.ndarray"]] = {}
    for r in probes:
        c = r["centroid_id"]
        qv = _unit_rows(np.asarray([r["_qvec"]], dtype=np.float64))[0] - cent[c]
        lut = np.empty((m, cb.shape[1]))
        for s in range(m):
            lut[s] = ((qv[s * dsub : (s + 1) * dsub][None, :] - cb[s]) ** 2).sum(axis=1)
        qids, stack = luts.setdefault(c, ([], []))
        qids.append(r[query_id_col])
        stack.append(lut)
    cell_luts = {c: (qids, np.stack(ls)) for c, (qids, ls) in luts.items()}
    probed = sorted(cell_luts)
    keep = max(k, rerank) if corpus is not None else k

    def scan(batches):
        for pdf in batches:
            out_q, out_id, out_d = [], [], []
            for cell, grp in pdf.groupby("centroid_id"):
                qids, lut = cell_luts[cell]  # (nq_cell, m, codes)
                codes_mat = np.asarray(grp["pq_codes"].tolist(), dtype=np.int64)
                ids = grp[id_col].to_numpy()
                kk = min(keep, len(ids))
                gather_idx = (np.arange(m)[None, :], codes_mat)
                for j, qid in enumerate(qids):
                    d = lut[j][gather_idx].sum(axis=1)
                    top = np.argpartition(d, kk - 1)[:kk]
                    out_q.extend([qid] * kk)
                    out_id.extend(ids[top])
                    out_d.extend(d[top])
            if out_q:
                yield pd.DataFrame(
                    {query_id_col: out_q, id_col: out_id, "adc_dist": out_d}
                )

    local = (
        encoded.where(F.col("centroid_id").isin(probed))  # cell pruning
        .mapInPandas(scan, schema=f"{query_id_col} long, {id_col} long, adc_dist double")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc(id_col))
    cands = local.withColumn("rank", F.row_number().over(w).cast("bigint")).where(
        F.col("rank") <= keep
    )
    if corpus is None:
        return cands.select(query_id_col, id_col, "adc_dist", "rank").orderBy(
            query_id_col, "rank"
        )

    # --- exact rerank (semi-join-sized raw-vector read)
    withvec = cands.select(query_id_col, id_col).join(
        corpus.select(id_col, vec_col), id_col
    )
    qdf = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    rescored = withvec.join(F.broadcast(qdf), query_id_col).select(
        query_id_col,
        id_col,
        cosine(
            F.transform(vec_col, lambda v: v.cast("double")),
            F.transform("_qvec", lambda v: v.cast("double")),
        ).alias("cos_sim"),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        rescored.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int | None = None,
    m: int = 8,
    codes: int = 64,
    rerank: int = 32,
    sample_size: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k with BOTH pruning axes composed — the production index
    shape: the IVF coarse quantizer prunes which rows are read (cell-level
    partition pruning), PQ codes of the RESIDUAL ``unit(x) − centroid``
    shrink what is read to m bytes/row (the ADC scan streams codes, never
    raw vectors), and an exact rerank of the top ``rerank`` candidates
    restores the recall quantization loses.

    Residual encoding is what makes the composition worth it: within a
    cell the residual spread is much tighter than the raw-vector spread,
    so the same byte budget quantizes far finer than flat PQ
    (``pq_topk``).  The ADC lookup tables are per (query, probed cell):
    ``lut[s, j] = ||(q − c)ₛ − cb[s, j]||²``, since
    ``||q − x||² = ||(q − c) − r||²`` for ``x = c + r``.

    Scale shape: one corpus pass to assign + residual-encode (map-side,
    zero shuffle — at rest this is the stored index: (id, cell, m bytes));
    codebooks train on ONE deterministic constant-size residual sample;
    the query-side LUT build is (queries × nprobe × m × codes) floats —
    driver-tiny by the same contract as ``ivf_topk``'s probe table; the
    scan reads only probed cells' code rows (filter pushed before
    Python), emits per-partition top-R per query, and the rerank
    semi-joins candidate ids back to raw vectors.  Deterministic: seeded
    kmeans everywhere, total (distance, id) orderings.

    One-shot build+serve; ``ivfpq_build``/``ivfpq_probe`` below split the
    same math into a persisted index and a re-encode-free query path.
    """
    import math

    cents_df = ivf_train(corpus, n_centroids)
    assigned = ivf_assign(corpus, cents_df, id_col, vec_col)
    cent = {
        r["centroid_id"]: np.asarray(r["centroid"], dtype=np.float64)
        for r in cents_df.collect()
    }
    if nprobe is None:
        nprobe = max(1, math.ceil(0.25 * len(cent)))
    cb = _pq_train_codebooks(assigned, cent, m, codes, sample_size, seed, id_col, vec_col)
    encoded = _pq_encode(assigned, cent, cb, id_col, vec_col)
    return _ivfpq_serve(
        encoded, queries, cents_df, cent, cb, k, nprobe, rerank, corpus,
        id_col, vec_col, query_id_col,
    )


class IvfPqIndex:
    """A persisted/persistable IVF-PQ index (VERDICT r5 item 6 — the
    100 TB serving shape ``ivfpq_topk`` rebuilt per call): frozen coarse
    centroids + residual codebooks, plus the codes table ``(id, cell,
    m bytes)``.  Mirrors ``minhash_band_index``'s store-between-crawls
    economics: new crawls fold in by encoding ONLY new vectors
    (``ivfpq_fold_in``); queries serve from the stored codes without any
    re-encoding (``ivfpq_probe``).  Centroid/codebook retrain is an
    offline cadence job, exactly as in production FAISS deployments."""

    def __init__(self, cents_df, cent, cb, codes_df, seed, id_col="vec_id", vec_col="embedding"):
        self.cents_df = cents_df      # (centroid_id int, centroid array<double>)
        self.cent = cent              # {centroid_id: np.ndarray}
        self.cb = cb                  # (m, codes, dsub) float64
        self.codes = codes_df         # (id, centroid_id, pq_codes array<int>)
        self.seed = seed
        self.id_col = id_col
        self.vec_col = vec_col


def ivfpq_build(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    codes: int = 64,
    sample_size: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfPqIndex:
    """Train + encode a corpus into an ``IvfPqIndex`` (same math as
    ``ivfpq_topk``'s build half).  The codes DataFrame is lazy; persist
    it with ``ivfpq_save`` (partitioned by cell) for serving at rest."""
    cents_df = ivf_train(corpus, n_centroids)
    assigned = ivf_assign(corpus, cents_df, id_col, vec_col)
    cent = {
        r["centroid_id"]: np.asarray(r["centroid"], dtype=np.float64)
        for r in cents_df.collect()
    }
    cb = _pq_train_codebooks(assigned, cent, m, codes, sample_size, seed, id_col, vec_col)
    return IvfPqIndex(
        cents_df, cent, cb, _pq_encode(assigned, cent, cb, id_col, vec_col),
        seed, id_col, vec_col,
    )


def ivfpq_fold_in(index: IvfPqIndex, new_vectors: DataFrame) -> IvfPqIndex:
    """Crawl-N+1 fold-in: assign + residual-encode ONLY the new vectors
    with the index's FROZEN centroids/codebooks and append — O(new batch)
    work, the historical corpus is never re-read or re-encoded.  On a
    stored index this is a parquet append into the cell partitioning."""
    assigned = ivf_assign(new_vectors, index.cents_df, index.id_col, index.vec_col)
    new_codes = _pq_encode(assigned, index.cent, index.cb, index.id_col, index.vec_col)
    return IvfPqIndex(
        index.cents_df, index.cent, index.cb,
        index.codes.unionByName(new_codes),
        index.seed, index.id_col, index.vec_col,
    )


def ivfpq_probe(
    index: IvfPqIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    rerank: int = 32,
    corpus: DataFrame | None = None,
    query_id_col: str = "query_id",
) -> DataFrame:
    """Serve queries from a built/loaded index — no corpus re-encoding:
    probed cells' code rows are the only index I/O (on a saved index the
    ``centroid_id`` filter prunes cell partitions at the parquet layer).
    With ``corpus`` given, the top-``rerank`` ADC candidates are exactly
    reranked against raw vectors (semi-join-sized read); without it the
    ADC ordering is returned as-is (pure code-serving mode)."""
    import math

    if nprobe is None:
        nprobe = max(1, math.ceil(0.25 * len(index.cent)))
    return _ivfpq_serve(
        index.codes, queries, index.cents_df, index.cent, index.cb,
        k, nprobe, rerank, corpus, index.id_col, index.vec_col, query_id_col,
    )


def ivfpq_save(index: IvfPqIndex, path: str, include_codes: bool = True) -> None:
    """Persist the index: codes partitioned by cell (probe-time partition
    pruning at rest), centroids + flattened codebooks as parquet, params
    as JSON.  All tables are plain parquet — readable by any engine.

    ``params.json`` is written LAST and promoted atomically (tmp +
    ``os.replace``): its presence marks a complete model, so a crash
    mid-save leaves no half-model that ``ivfpq_load`` would accept.
    ``include_codes=False`` persists only the model (centroids/codebooks/
    params) — the streaming fold-in path (``run_ann_index_stream``) owns
    the code layout itself, batch-keyed for replay idempotency."""
    import json
    import os

    spark = index.codes.sparkSession
    if include_codes:
        index.codes.write.mode("overwrite").partitionBy("centroid_id").parquet(
            os.path.join(path, "codes")
        )
    index.cents_df.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    m, ncodes, dsub = index.cb.shape
    cb_rows = [
        (s, j, index.cb[s, j].tolist()) for s in range(m) for j in range(ncodes)
    ]
    local_df(
        spark, cb_rows, "subspace int, code int, vec array<double>"
    ).write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    tmp = os.path.join(path, "params.json._tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "seed": index.seed,
                "m": m,
                "codes": ncodes,
                "dsub": dsub,
                "id_col": index.id_col,
                "vec_col": index.vec_col,
            },
            f,
        )
    os.replace(tmp, os.path.join(path, "params.json"))


def ivfpq_load(spark, path: str) -> IvfPqIndex:
    """Load a persisted index.  The codes root comes in two layouts:

    - ``ivfpq_save``'s single atomic write (``_SUCCESS`` at the root) —
      read plainly;
    - the streaming fold-in's batch-keyed layout
      (``codes/batch_id=N/centroid_id=.../``, ``run_ann_index_stream``)
      — read through ``read_batches``, which admits only
      ``_SUCCESS``-complete batch dirs and honors the compaction
      manifest.  A crashed fold-in's partial ``batch_id=N`` files are
      therefore NEVER served by ``ivfpq_probe``; they become visible
      only after the replay overwrites them completely."""
    import json
    import os

    with open(os.path.join(path, "params.json")) as f:
        p = json.load(f)
    cents_df = spark.read.parquet(os.path.join(path, "centroids"))
    cent = {
        r["centroid_id"]: np.asarray(r["centroid"], dtype=np.float64)
        for r in cents_df.collect()
    }
    cb = np.zeros((p["m"], p["codes"], p["dsub"]))
    for r in spark.read.parquet(os.path.join(path, "codebooks")).collect():
        cb[r["subspace"], r["code"]] = r["vec"]
    codes_root = os.path.join(path, "codes")
    batch_keyed = os.path.isdir(codes_root) and any(
        n.startswith(("batch_id=", "segment=")) or n == "_compacted.json"
        for n in os.listdir(codes_root)
    )
    if batch_keyed:
        from ..streaming.structured import read_batches

        codes_df = read_batches(spark, codes_root)
        if codes_df is None:
            raise FileNotFoundError(
                f"ivfpq_load({path}): batch-keyed codes root has no complete "
                "(_SUCCESS-marked) batch — the first fold-in has not committed"
            )
    else:
        codes_df = spark.read.parquet(codes_root)
    codes_df = codes_df.select(p["id_col"], "centroid_id", "pq_codes")
    return IvfPqIndex(cents_df, cent, cb, codes_df, p["seed"], p["id_col"], p["vec_col"])


def mmr_select(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    greedily pick ``k`` results that balance relevance to the query
    against redundancy with what's already picked —
    ``argmax_i λ·rel(i) − (1−λ)·max_{j∈S} sim(i, j)`` — the diversity
    re-rank step between retrieval and a RAG context window, and the
    classic diverse-exemplar sampler for eval-set construction.

    Split of labor: the CORPUS-sized work (cosine relevance + top-``pool``
    cut) is a distributed scan with a TakeOrdered limit — never a full
    sort, never a collect of the corpus.  The greedy loop is inherently
    sequential (selection j+1 depends on j), so it runs on the driver
    over the ``pool`` collected candidates (pool × dim doubles, bounded
    by contract).  Pairwise similarities are computed lazily only against
    newly selected items — O(pool·k) folds, not O(pool²).

    Determinism: relevance uses the JVM ``cosine`` fold; driver-side
    similarities use the bit-identical strict left-to-right Python fold,
    so (score, id) tie-breaks — and therefore the whole selection — are
    reproducible across sessions and mirrorable by a sequential
    reference (plans/values_oracle.py:ref_mmr_select)."""
    import math

    spark = corpus.sparkSession
    qlit = F.array(*[F.lit(float(v)) for v in query_vec])
    xd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    cand = (
        corpus.select(F.col(id_col), xd.alias("_v"))
        .withColumn("_rel", cosine(F.col("_v"), qlit))
        .orderBy(F.desc("_rel"), F.asc(id_col))
        .limit(pool)
        .collect()
    )
    ids = [r[id_col] for r in cand]
    vecs = [list(r["_v"]) for r in cand]
    rel = [r["_rel"] for r in cand]

    def fold_cos(a: list[float], b: list[float]) -> float:
        dot_ = na = nb = 0.0
        for x, y in zip(a, b):
            dot_ += x * y
            na += x * x
            nb += y * y
        return dot_ / (math.sqrt(na) * math.sqrt(nb))

    n = len(ids)
    chosen = [False] * n
    selected: list[int] = []
    sim: dict[tuple[int, int], float] = {}
    out_rows = []
    for rank in range(1, min(k, n) + 1):
        best_i = -1
        best: float | None = None
        for i in range(n):
            if chosen[i]:
                continue
            if not selected:
                score = lam * rel[i]
            else:
                score = lam * rel[i] - (1.0 - lam) * max(
                    sim[(i, j)] for j in selected
                )
            if best is None or score > best or (score == best and ids[i] < ids[best_i]):
                best_i, best = i, score
        chosen[best_i] = True
        selected.append(best_i)
        for i in range(n):
            if not chosen[i]:
                sim[(i, best_i)] = fold_cos(vecs[i], vecs[best_i])
        out_rows.append(
            (rank, ids[best_i], math.floor(rel[best_i] * 1e6), math.floor(best * 1e6))
        )
    out_schema = T.StructType(
        [
            T.StructField("sel_rank", T.LongType()),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("rel_ppm", T.LongType()),
            T.StructField("mmr_ppm", T.LongType()),
        ]
    )
    return local_df(spark, out_rows, out_schema)


def ivfpq_merge(a: IvfPqIndex, b: IvfPqIndex) -> IvfPqIndex:
    """Consolidate two indexes that share the SAME frozen model into one
    serving index — the multi-crawl shape: per-crawl/per-region fold-in
    jobs each produce an index over their slice, and a cadence job merges
    them (codes-table union, zero re-encoding; on persisted indexes this
    is a parquet-partition move per cell directory).

    Raises ``ValueError`` if the models differ (different centroids or
    codebooks encode incompatible code spaces — merging them would serve
    garbage distances; retrain + re-encode is the only correct path).
    Duplicate ids (crawl overlap) resolve keep-``a`` — the established
    corpus wins, mirroring the keep-first discipline of the dedup family.
    The id anti-join is the only work; it is codes-table-sized, carries
    (id, cell, m bytes) rows, never vectors."""
    same_model = (
        a.seed == b.seed
        and a.cb.shape == b.cb.shape
        and bool(np.array_equal(a.cb, b.cb))
        and set(a.cent) == set(b.cent)
        and all(bool(np.array_equal(a.cent[c], b.cent[c])) for c in a.cent)
    )
    if not same_model:
        raise ValueError("ivfpq_merge: indexes were built from different models")
    b_fresh = b.codes.join(
        a.codes.select(a.id_col).distinct(), b.id_col, "left_anti"
    )
    return IvfPqIndex(
        a.cents_df,
        a.cent,
        a.cb,
        a.codes.unionByName(b_fresh),
        a.seed,
        a.id_col,
        a.vec_col,
    )
