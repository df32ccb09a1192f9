"""Text-analysis operators for training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs: token counting and quality scoring
are regexp/length arithmetic, fingerprints are built-in hashes, language ID
is a character-class decision list. Each operator is a narrow column
expression so Catalyst prunes the scan to (doc_id, text).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from ..session import local_df

# token = maximal run of non-whitespace (same regex class in Spark/RE2)
_TOKEN_RE = r"\S+"
# words for shingling/fingerprints: lowercase alnum runs
WORD_RE = r"[a-z0-9]+"

_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (BPE-ish pre-tokenization proxy).

    ``regexp_count`` rather than ``size(regexp_extract_all(...))``: the
    count never materializes the token array, so the hot text sweeps
    allocate no per-row garbage — on this box the array version's GC debt
    was the main source of 3-4x run-to-run swings in the regex-heavy
    bench entries (BENCH_DETAIL r4: ops_token_bpe 0.48<->3.26 s)."""
    return F.regexp_count(text, F.lit(_TOKEN_RE)).cast("bigint")


def char_count(text: Column) -> Column:
    return F.length(text).cast("bigint")


# BPE-style pre-tokenization: letter runs, digit runs, and symbol runs each
# form one token, with an optional leading space glued on (the GPT-2 regex
# family, minus lookahead so the same pattern runs on both Java regex and
# RE2/DuckDB for oracle checking).
BPE_RE = r" ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish pre-tokenizer count over lowercased text (better proxy for
    LLM token budgets than whitespace splitting: punctuation and number
    runs count separately)."""
    return F.regexp_count(F.lower(text), F.lit(BPE_RE)).cast("bigint")


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(r"[.,!?;:]")).cast("bigint")


def stopword_count(text: Column) -> Column:
    pat = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat)).cast("bigint")


def quality_score(text: Column) -> Column:
    """Length/punctuation/stopword quality heuristic in [0,1]:
    0.5·min(tokens/64,1) + 0.3·min(stopword_ratio·5,1) + 0.2·(1−min(punct_ratio·10,1)).
    Deterministic arithmetic over exact counts (DECIMAL-safe when rounded)."""
    toks = token_count(text).cast("double")
    stop_ratio = stopword_count(text).cast("double") / F.greatest(toks, F.lit(1.0))
    punct_ratio = punct_count(text).cast("double") / F.greatest(char_count(text).cast("double"), F.lit(1.0))
    return (
        F.lit(0.5) * F.least(toks / F.lit(64.0), F.lit(1.0))
        + F.lit(0.3) * F.least(stop_ratio * 5.0, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0)))
    )


def fingerprint_md5(text: Column) -> Column:
    """Exact-content fingerprint (hash-groupBy dedup key)."""
    return F.md5(text)


def fingerprint_rolling(text: Column, window: int = 4) -> Column:
    """Order-sensitive document fingerprint: xxhash64 chained over word
    ``window``-grams (a rolling-hash analog, built-ins only) — robust to
    whitespace layout, sensitive to word order.

    One ``aggregate`` fold with a sliding word buffer; the word array is
    evaluated once per row (an index lambda over ``slice(words, i, k)``
    would re-run the regexp extraction per index — O(n²) per row)."""
    words = F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), 0)

    def step(acc: Column, x: Column) -> Column:
        nb = F.concat(acc["buf"], F.array(x))
        nb = F.when(F.size(nb) > window, F.slice(nb, 2, window)).otherwise(nb)
        full = F.size(nb) == window
        nh = F.when(
            full, F.xxhash64(acc["h"], F.xxhash64(F.concat_ws(" ", nb)))
        ).otherwise(acc["h"])
        return F.struct(nb.alias("buf"), nh.alias("h"), (acc["emitted"] | full).alias("emitted"))

    zero = F.struct(
        F.array().cast("array<string>").alias("buf"),
        F.lit(0).cast("long").alias("h"),
        F.lit(False).alias("emitted"),
    )
    # short docs (< window words): single gram over all words, like slice(w, 1, window)
    fin = lambda acc: F.when(acc["emitted"], acc["h"]).otherwise(  # noqa: E731
        F.xxhash64(F.lit(0).cast("long"), F.xxhash64(F.concat_ws(" ", acc["buf"])))
    )
    return F.aggregate(words, zero, step, fin)


def rolling_fingerprints_np(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", window: int = 4
) -> DataFrame:
    """(id, fp64) rolling word-gram fingerprints via C-speed hashing in
    Arrow-batched mapInPandas — same order-sensitive contract as
    ``fingerprint_rolling`` (different hash values), ~3× faster end to end
    because it avoids the per-row fold expression and its codegen cost."""
    import hashlib
    import re as _re

    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    word_re = _re.compile(WORD_RE)

    def fp_of(text: str | None) -> int:
        words_l = word_re.findall((text or "").lower())
        n = len(words_l)
        grams = (
            [" ".join(words_l[i : i + window]) for i in range(n - window + 1)]
            if n >= window
            else [" ".join(words_l)]
        )
        acc = b"\x00" * 8
        for g in grams:
            acc = hashlib.blake2b(acc + g.encode(), digest_size=8).digest()
        return int.from_bytes(acc, "big", signed=False) - (1 << 63)

    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("fp64", T.LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({id_col: pdf[id_col], "fp64": [fp_of(t) for t in pdf[text_col]]})

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


# Character-class decision list for script-detectable languages; Latin-script
# languages are separated by diacritic classes. Word-salad English text (the
# test corpus) lands in 'en'. A statistical n-gram profile would need
# training data we don't ship; the operator contract (text → lang code) and
# the Spark plumbing are identical.
_LANG_RULES = (
    ("zh", "[一-鿿]"),
    ("ru", "[Ѐ-ӿ]"),
    ("de", "[äöüß]"),
    ("es", "[áéíóúñ¿¡]"),
    ("fr", "[àâçèêëîïôùûœ]"),
)


def lang_id(text: Column) -> Column:
    expr = F.lit("en")
    for code, pattern in reversed(_LANG_RULES):
        hit = F.regexp_like(text, F.lit(pattern))
        expr = F.when(hit, code).otherwise(expr)
    return expr


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF (tf = in-doc count,
    idf = ln(N / df)), ties broken by term asc. Plan: one explode →
    (doc, term) count agg → term document-frequency agg (broadcast back —
    the term dictionary is small relative to the corpus) → per-doc window
    top-k (WindowGroupLimit prunes map-side). Scores are floor-quantized
    to ppm so the oracle hash-compares across engines."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col), F.explode(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.count()
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(docfreq), "term").select(
        id_col,
        "term",
        F.floor(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6)
        .cast("bigint")
        .alias("tfidf_ppm"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf_ppm"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
    )


def word_ngram_strings(words_col: Column, n: int = 8) -> Column:
    """All word n-grams (as space-joined strings, overlapping,
    order-preserving) of an ALREADY-MATERIALIZED word-array column — the
    unit for benchmark-contamination matching and repetition counting.
    Takes the array, not the raw text: inlining the word-extraction regexp
    into the per-index lambda would re-run it once per n-gram index
    (O(words²) per doc — the CollapseProject trap documented at
    ``dedup.shingles``). ``sequence()`` counts DOWN when stop < start, so
    short docs are guarded to empty."""
    w = words_col
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition ratios (Rae et al. 2021 §A1.1
    quality filters): per doc, the duplicate-word fraction and the fraction
    of word bigrams taken by the single most frequent bigram. Boilerplate /
    generated spam scores high on both; training-data curation drops docs
    above a threshold.

    Ratios are emitted as exact ppm integers (``x * 1_000_000 DIV total``,
    pure BIGINT arithmetic) so they hash-match any engine — no float
    rounding policy involved.

    Scale shape: word metrics ride the projection; the bigram mode needs a
    frequency count, done as explode → two-level groupBy keyed on
    (doc_id, gram) then doc_id — partial aggregation applies map-side, the
    per-doc constants (total/distinct counts) are carried through with
    ``first`` instead of a join back to the corpus, so the whole operator
    is one scan + two shuffles regardless of corpus size.
    """
    # Materialize the word array in its own projection: it is referenced
    # multiple times below (a non-cheap multi-referenced expr, which
    # CollapseProject will NOT inline). Writing the regexp expression
    # directly inside the per-index transform lambda re-evaluates the word
    # extraction once per bigram index — O(words²) per doc (measured 7 s
    # vs <1 s at sf0.1; same trap as the MinHash signature fold, see
    # functions/dedup.py:shingles).
    w = F.col("_words")
    base = df.select(
        F.col(id_col),
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), F.lit(0)).alias("_words"),
    ).select(
        F.col(id_col),
        F.size(w).cast("bigint").alias("total_w"),
        F.size(F.array_distinct(w)).cast("bigint").alias("dist_w"),
        word_ngram_strings(w, 2).alias("grams"),
    )
    ex = base.select(
        id_col,
        "total_w",
        "dist_w",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.explode_outer("grams").alias("gram"),  # outer: keep gram-less docs
    )
    per_gram = ex.groupBy(id_col, "gram").agg(
        F.count("*").alias("c"),
        F.first("total_w").alias("total_w"),
        F.first("dist_w").alias("dist_w"),
        F.first("n_grams").alias("n_grams"),
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.max("c").alias("max_c"),
        F.first("total_w").alias("total_w"),
        F.first("dist_w").alias("dist_w"),
        F.first("n_grams").alias("n_grams"),
    )
    return per_doc.select(
        id_col,
        "total_w",
        F.expr(
            "CASE WHEN total_w > 0 THEN ((total_w - dist_w) * 1000000) DIV total_w"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("dup_word_ppm"),
        F.expr(
            "CASE WHEN n_grams > 0 THEN (max_c * 1000000) DIV n_grams"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("top_bigram_ppm"),
    )


# PII patterns, shared by engine and oracle: RE2-compatible (no
# lookarounds) so the same regex text runs on Spark (Java), DuckDB (RE2),
# and any RE2-based scrubber. Order matters: emails before IPs before
# phones — a dotted IPv4 (or digits inside an address) is also a valid
# match for the looser phone pattern, so each stage must consume its
# matches before the next stage counts.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\s.-]{7,}[0-9]", "<PHONE>"),
)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4 addresses / phone numbers and count what was
    removed — the standard pre-training PII pass. Pure chained
    ``regexp_replace`` / ``regexp_extract_all`` built-ins: one codegen'd
    projection, no shuffle, no Python in the hot path. Each pattern is
    counted on the text as it stands *before* its own replacement (i.e.
    after the earlier stages ran), so every match is attributed to exactly
    one category and ``n_*`` equals the number of tokens inserted."""
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            F.regexp_count(scrubbed, F.lit(pat))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select("*", *counts, scrubbed.alias(f"{text_col}_scrubbed"))


def compression_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
    low_ppm: int = 450_000,
    high_ppm: int = 800_000,
) -> DataFrame:
    """Per-document DEFLATE compression ratio as a quality signal — the
    Dolma / RefinedWeb heuristic: text that compresses far below the
    corpus norm is templated/repetitive (the compressor is the strongest
    general repetition detector), text that barely compresses is
    noise/binary spill.  Emits ``(id, raw_bytes, zlib_bytes, ratio_ppm,
    verdict)`` with ``verdict ∈ {repetitive, keep, incompressible}`` by
    the ppm band.

    Ratio in exact integer ppm (``len(zlib)·1e6 DIV len(raw)``) so any
    mirror with the same DEFLATE level reproduces it bit-for-bit.  Runs as
    Arrow-batched ``mapInPandas`` — one corpus scan, no shuffle, CPU-bound
    per row, so throughput scales with cores; ``spread_small_scan``
    rebalances a single-split local input across the session's
    parallelism first."""
    import zlib

    import pandas as pd

    from .dedup import spread_small_scan  # runtime import: dedup imports text

    def run(batches):
        for pdf in batches:
            raw_n, z_n, ratio, verdict = [], [], [], []
            for t in pdf[text_col]:
                b = (t or "").encode("utf-8")
                z = len(zlib.compress(b, level))
                r = z * 1_000_000 // max(len(b), 1)
                raw_n.append(len(b))
                z_n.append(z)
                ratio.append(r)
                verdict.append(
                    "repetitive"
                    if r < low_ppm
                    else ("incompressible" if r > high_ppm else "keep")
                )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": pd.array(raw_n, dtype="int64"),
                    "zlib_bytes": pd.array(z_n, dtype="int64"),
                    "ratio_ppm": pd.array(ratio, dtype="int64"),
                    "verdict": verdict,
                }
            )

    return spread_small_scan(df.select(id_col, text_col)).mapInPandas(
        run,
        schema=f"{id_col} long, raw_bytes long, zlib_bytes long, "
        "ratio_ppm long, verdict string",
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping word-window chunks (LLM context
    preprocessing): chunk i = words[i*step .. i*step+size), step =
    size-overlap; every doc emits >= 1 chunk.

    Pure built-ins — split → explode(sequence) → slice → concat_ws — so
    the whole operator is one codegen'd projection + generate; no shuffle
    at all, and output rows stay co-partitioned with their input split
    (chunking 100 TB is embarrassingly parallel). The UDTF twin in
    tests/test_text_chunking.py demonstrates the §2.F surface; this form
    is the hot path."""
    step = size - overlap
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    # mirror the oracle's float expression order: CEIL((n - overlap) / step)
    n_chunks = F.greatest(
        F.ceil((F.size(ws) - F.lit(float(overlap))) / F.lit(float(step))).cast("long"),
        F.lit(1),
    )
    return (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(id_col, ws.alias("_ws"), n_chunks.alias("_nc"))
        .select(
            id_col,
            "_ws",
            F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice("_ws", (F.col("chunk_id") * step + 1).cast("int"), size)
            ).alias("chunk"),
        )
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of each document against a fixed query-term set,
    as integer ppm (per-term scores floored to ppm, then summed — integer
    addition is associative, so aggregation order can't perturb results;
    avgdl is computed as exact-int SUM(dl)/N in one double division).

    Delegates to ``bm25_multi`` with a single synthetic query — ONE
    definition of the scoring arithmetic (a second copy silently
    diverging on a k1/b/idf tweak is exactly the bug class the
    single-query-equality test used to be the only guard against)."""
    qt = local_df(
        df.sparkSession, [(0, t) for t in terms], "query_id int, term string"
    )
    return bm25_multi(df, qt, text_col, id_col, k1, b).select(id_col, "bm25_ppm")


def bm25_multi(
    df: "DataFrame",
    query_terms: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    materialize: bool = True,
) -> "DataFrame":
    """Multi-query BM25 in ONE corpus pass: ``query_terms`` is a
    ``(query_id, term)`` relation (tiny — broadcast), and every query's
    per-document integer-ppm score comes out of the same explode/aggregate
    chain ``bm25_scores`` uses for a single term list.

    Batching queries this way is the scale shape: N queries cost one
    corpus scan + one O(docs × matched-terms) shuffle, not N scans.  Term
    frequencies and document frequencies are computed once per (doc, term)
    / term over the UNION of all query vocabularies, then fanned out to
    queries by the broadcast join — a term shared by every query is
    counted once, exactly like a production search engine's postings.

    Per-term scores are floored to ppm BEFORE the per-query sum (integer
    addition is associative → aggregation order can't perturb results),
    matching ``bm25_scores`` bit-for-bit when given that query alone."""
    # ONE spread scan feeds both the doc-length pass and the postings
    # explode (identical subtree → ReusedExchange; no-op at scale), and
    # the narrow (id, dl) frame is pinned so the scoring join and the
    # corpus-stats aggregate don't re-run the regexp count each (r14 —
    # three corpus scans collapsed to one)
    from ..functions.dedup import spread_small_scan

    base = spread_small_scan(df.select(id_col, text_col))
    dl_col = F.regexp_count(F.lower(F.col(text_col)), F.lit(WORD_RE))
    docs = base.select(id_col, dl_col.alias("dl"))
    if materialize:
        docs = docs.localCheckpoint(eager=False)
    vocab = query_terms.select("term").distinct()
    toks = base.select(
        id_col,
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), F.lit(0))
        ).alias("term"),
    ).join(F.broadcast(vocab), "term")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    if materialize:
        # tf feeds BOTH the document-frequency aggregate and the scoring
        # join; without materialization each consumer re-runs the corpus
        # explode+aggregate (Spark reuses exchanges, not whole subtrees —
        # and only when AQE canonicalization happens to line up).  The
        # postings table is docs × matched-terms — bounded, safe to pin.
        # materialize=False exists for plan-shape tests.
        tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(docs, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("sum_dl").cast("double") / F.col("n_docs"))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "score",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
            ),
        )
        .withColumn("score_ppm", F.floor(F.col("score") * 1e6))
    )
    return (
        scored.join(F.broadcast(query_terms), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum("score_ppm").cast("bigint").alias("bm25_ppm"))
    )


def cms_heavy_hitters(
    df: "DataFrame",
    k: int = 20,
    width: int = 2048,
    depth: int = 4,
    candidate_factor: int = 4,
    text_col: str = "text",
    seed: int = 1,
) -> "DataFrame":
    """EXACT corpus top-``k`` tokens, sketch-accelerated: a count-min
    sketch (Cormode & Muthukrishnan 2005) prunes the candidate set, then
    an exact aggregate runs over the survivors only.

    Why this shape at 100 TB: the naive exact plan shuffles EVERY distinct
    token through a groupBy; here pass 1 builds per-partition CMS partials
    (mapInPandas, ``depth×width`` ints each) merged on the driver —
    shuffle-free, sketch size is constant — and pass 2 re-scans tokens
    keeping only those whose CMS estimate reaches the ``candidate_factor·k``-th
    largest estimate.  CMS NEVER underestimates, so every true top-k token
    survives the filter — the final exact count over the (tiny) candidate
    set is therefore guaranteed-correct top-k, not approximate.  Collision
    inflation can only ADMIT extra candidates (more exact-verify work),
    never drop one.

    Deterministic: fixed hash family (pandas SipHash with fixed key +
    seeded row mixers), total (count desc, token asc) output order.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    word_re = re.compile(WORD_RE)
    rng = np.random.RandomState(seed)
    # pairwise-independent-ish row mixers over one base hash
    A = rng.randint(1, 2**63 - 1, size=depth, dtype=np.uint64) | np.uint64(1)
    B = rng.randint(0, 2**63 - 1, size=depth, dtype=np.uint64)

    def rows_of(h: "np.ndarray") -> "np.ndarray":
        # (n, depth) bucket index per row hash
        return (
            (h[:, None] * A[None, :] + B[None, :]) >> np.uint64(13)
        ) % np.uint64(width)

    def partials(batches):
        sketch = np.zeros((depth, width), dtype=np.int64)
        any_rows = False
        for pdf in batches:
            toks: list[str] = []
            for t in pdf[text_col]:
                toks.extend(word_re.findall((t or "").lower()))
            if not toks:
                continue
            any_rows = True
            h = pd.util.hash_array(np.asarray(toks, dtype=object))
            idx = rows_of(h)
            for d in range(depth):
                np.add.at(sketch[d], idx[:, d], 1)
        if any_rows:
            yield pd.DataFrame({"row": list(range(depth)), "counts": sketch.tolist()})

    # spread before the CPU-bound tokenize+sketch passes (both this one
    # and the candidate filter below reuse the spread frame; no-op at
    # scale — dedup.spread_small_scan)
    from ..functions.dedup import spread_small_scan

    spread_text = spread_small_scan(df.select(text_col))
    merged_rows = (
        spread_text
        .mapInPandas(partials, schema="row int, counts array<long>")
        .collect()
    )
    sketch = np.zeros((depth, width), dtype=np.int64)
    for r in merged_rows:
        sketch[r["row"]] += np.asarray(r["counts"], dtype=np.int64)

    def estimate(tokens: "pd.Series") -> "np.ndarray":
        h = pd.util.hash_array(np.asarray(tokens.tolist(), dtype=object))
        idx = rows_of(h)
        ests = np.stack([sketch[d][idx[:, d]] for d in range(depth)])
        return ests.min(axis=0)

    # Candidate threshold, then a SOUNDNESS check that makes the final
    # answer provably exact: every excluded token has estimate < thresh,
    # and CMS never underestimates, so its true count < thresh.  If
    # thresh <= (k-th best exact count among the candidates), no excluded
    # token can displace a candidate from the top-k — the result is the
    # true top-k.  The initial thresh (a deep rank over the sketch cells,
    # scaled by candidate_factor) is a pruning heuristic only; whenever
    # the check fails the threshold halves and the candidate pass re-runs
    # (monotonically more candidates; thresh -> 1 degenerates to the full
    # exact aggregate, so termination and exactness are unconditional).
    cells = np.sort(sketch.flatten())[::-1]
    thresh = max(1, int(cells[min(candidate_factor * k, len(cells) - 1)]))

    def filter_candidates(thr):
        def run(batches):
            for pdf in batches:
                toks: list[str] = []
                for t in pdf[text_col]:
                    toks.extend(word_re.findall((t or "").lower()))
                if not toks:
                    continue
                s = pd.Series(toks)
                keep = s[estimate(s) >= thr]
                if len(keep):
                    yield pd.DataFrame({"token": keep})

        return run

    while True:
        cands = spread_text.mapInPandas(
            filter_candidates(thresh), schema="token string"
        )
        top = (
            cands.groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("token"))
            .limit(k)
        )
        rows = top.collect()
        kth = rows[-1]["cnt"] if len(rows) == k else 0
        if thresh <= kth or thresh == 1:
            schema = "token string, cnt bigint"
            return local_df(
                df.sparkSession, [(r["token"], r["cnt"]) for r in rows], schema
            )
        thresh = max(1, thresh // 2)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    driver_vocab_limit: int = 2_000_000,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Full iterative BPE tokenizer training (Sennrich et al. 2016) — the
    multi-merge loop around the single ``ops_bpe_merge_step`` iteration:
    repeat ``n_merges`` times { count adjacent symbol pairs over the
    frequency-weighted vocabulary, merge the argmax pair everywhere }.

    Deterministic: argmax ties break on (count DESC, left ASC, right ASC).
    Merging is greedy left-to-right non-overlapping (the reference BPE
    rule).

    Scale shape — adaptive like the duplicate-cluster resolver
    (functions/dedup.py union-find probe): the corpus collapses to the
    distinct-word frequency table FIRST (the compression that makes every
    later step O(vocab), not O(corpus) — this agg is the only corpus
    pass).  Then a size probe picks the loop engine:

    - vocab ≤ ``driver_vocab_limit`` rows → collect (word, count) and run
      the merge loop in plain Python — a natural-language vocabulary is
      ~10⁶ words regardless of corpus size (Heaps' law), and 10-50k
      sequential merges over an in-memory dict is exactly how production
      tokenizer trainers work; 1-row-per-iteration Spark jobs would pay
      ~0.5 s scheduling each for the same arithmetic.
    - larger (pathological tokenization domains) → the distributed loop:
      per iteration one pair-count shuffle over the cached vocab plus a
      1-row argmax collect, merging via one boundary-aware
      ``regexp_replace`` (consumes the LEADING separator, asserts the
      trailing one with a lookahead — adjacent sites ``a b a b`` both
      fire, overlapping ``a a a`` merges left-first).  Each round's vocab
      is cached and the predecessor unpersisted.

    Both engines produce IDENTICAL merge tables (same tie-break, same
    greedy rule — pinned by tests/test_functions.py equality tests).

    Returns ``(merges, vocab_df)``: the merge table as driver-side tuples
    ``(rank, left, right, weighted_pair_count)`` and the final symbolized
    vocabulary ``(sym, wcnt)`` as a DataFrame.
    """
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .where(F.length("w") >= 2)
    )
    vocab = words.select(
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("sym"), "wcnt"
    ).cache()
    return _bpe_merge_loop(vocab, docs.sparkSession, n_merges, driver_vocab_limit)


def _bpe_merge_loop(
    vocab: DataFrame,
    spark: SparkSession,
    n_merges: int,
    driver_vocab_limit: int,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The adaptive driver/distributed greedy-merge loop shared by
    ``bpe_train`` (char symbols) and ``bpe_bytes_train`` (hex-byte
    symbols).  ``vocab`` is a CACHED ``(sym, wcnt)`` DataFrame whose
    ``sym`` is the space-joined initial symbolization; symbols must be
    space-free (both callers guarantee it)."""
    import re as _re

    n_vocab = vocab.count()  # materializes the cache either way
    if n_vocab <= driver_vocab_limit:
        try:
            rows = [(r["sym"], int(r["wcnt"])) for r in vocab.collect()]
        finally:
            vocab.unpersist()
        local = {tuple(sym.split(" ")): c for sym, c in rows}
        merges = []
        for rank in range(n_merges):
            pc: dict[tuple[str, str], int] = {}
            for sym, c in local.items():
                for i in range(len(sym) - 1):
                    k = (sym[i], sym[i + 1])
                    pc[k] = pc.get(k, 0) + c
            if not pc:
                break
            (left, right), cnt = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, left, right, cnt))
            nxt: dict[tuple, int] = {}
            for sym, c in local.items():
                out: list[str] = []
                i = 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                key = tuple(out)
                nxt[key] = nxt.get(key, 0) + c
            local = nxt
        final = local_df(
            spark,
            [(" ".join(sym), c) for sym, c in sorted(local.items())],
            "sym string, wcnt long",
        )
        return merges, final

    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(n_merges):
            pairs = (
                vocab.select("wcnt", F.split("sym", " ").alias("a"))
                .where(F.size("a") >= 2)
                .select(
                    "wcnt",
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(a) - 1),"
                            " i -> struct(element_at(a, i) AS l,"
                            "             element_at(a, CAST(i + 1 AS INT)) AS r))"
                        )
                    ).alias("p"),
                )
            )
            top = (
                pairs.groupBy("p.l", "p.r")
                .agg(F.sum("wcnt").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
            merges.append((rank, left, right, cnt))
            pat = " " + _re.escape(left) + " " + _re.escape(right) + "(?= )"
            nxt = vocab.select(
                F.trim(
                    F.regexp_replace(
                        F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                        pat,
                        " " + left + right,
                    )
                ).alias("sym"),
                "wcnt",
            ).cache()
            nxt.count()  # materialize before dropping the predecessor
            vocab.unpersist()
            vocab = nxt
        return merges, vocab
    except Exception:
        vocab.unpersist()
        raise


def bpe_encode_word(word: str, rank_of: dict[tuple[str, str], int]) -> list[str]:
    """Encode ONE word with a trained merge-rank table — the standard
    best-pair-first BPE segmenter (subword-nmt / HF tokenizers rule):
    repeatedly merge the lowest-rank adjacent pair present, greedy
    left-to-right within a rank, until no learned pair remains.  Unlike
    apply-in-rank-order, this also catches pairs a later merge CREATES
    whose rank precedes it.  Deterministic; pure function."""
    return bpe_merge_symbols(list(word), rank_of)


def bpe_merge_symbols(
    sym: list[str], rank_of: dict[tuple[str, str], int]
) -> list[str]:
    """Best-pair-first merge over an arbitrary initial symbolization —
    the kernel shared by char-level ``bpe_encode_word`` and byte-level
    ``bpe_bytes_encode`` (whose initial symbols are hex byte pairs)."""
    while len(sym) >= 2:
        best_rank = None
        for i in range(len(sym) - 1):
            r = rank_of.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                left, right = sym[i], sym[i + 1]
        if best_rank is None:
            break
        out: list[str] = []
        i = 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed BPE corpus encoding — the missing middle of the
    train → encode → pack pipeline (VERDICT r5 item 5): apply a trained
    merge table to every document and return per-doc segmentation stats
    ``(id, n_words, n_tokens, n_chars_encoded)``.

    Scale shape (mirrors ``bpe_train``'s vocab compression): the corpus
    collapses to DISTINCT words first (one corpus pass, partial-agg
    shuffle), each distinct word is segmented ONCE in Arrow
    ``mapInPandas`` with the merge-rank dict shipped in the task closure
    (a tokenizer table is KBs–MBs — broadcast-sized by construction), and
    per-doc totals come from one word-key join (AQE broadcasts the
    encoded vocab when small) plus one aggregation back onto the doc key.
    Python cost is O(distinct words × word-length²·log) — Heaps-law
    sublinear in corpus size, and unchanged as docs are re-crawled.

    ``merges`` accepts the ``bpe_train`` output shape ``(rank, left,
    right, [count])`` or bare ``(left, right)`` pairs in rank order.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    rank_of: dict[tuple[str, str], int] = {}
    for i, m in enumerate(merges):
        if len(m) >= 3 and isinstance(m[0], int):
            rank_of[(m[1], m[2])] = m[0]
        else:
            rank_of[(m[0], m[1])] = i

    toks = (
        docs.select(
            F.col(id_col),
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0).alias(
                "_ws"
            ),
        )
        .select(F.col(id_col), F.explode("_ws").alias("w"))
    )
    distinct_words = toks.select("w").distinct()

    out_schema = T.StructType(
        [
            T.StructField("w", T.StringType()),
            T.StructField("w_tokens", T.LongType()),
        ]
    )

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "w_tokens": [
                        len(bpe_encode_word(w, rank_of)) for w in pdf["w"]
                    ],
                }
            )

    encoded_vocab = distinct_words.mapInPandas(seg, schema=out_schema)
    return (
        toks.join(encoded_vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("w_tokens").alias("n_tokens"),
            F.sum(F.length("w")).alias("n_chars_encoded"),
        )
    )


def bpe_save(merges: list[tuple], path: str, spark=None) -> None:
    """Persist a trained merge table as plain parquet
    ``(merge_rank, left_sym, right_sym, pair_count)`` — the tokenizer
    artifact a production pipeline trains once and ships to every encode
    job (mirrors ``similarity.ivfpq_save``'s store-the-model shape).
    Readable by any engine; order is carried by ``merge_rank``."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    rows = []
    for i, m in enumerate(merges):
        if len(m) >= 3 and isinstance(m[0], int):
            rows.append((int(m[0]), m[1], m[2], int(m[3]) if len(m) > 3 else None))
        else:
            rows.append((i, m[0], m[1], None))
    local_df(
        spark, rows, "merge_rank long, left_sym string, right_sym string, pair_count long"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def bpe_load(spark, path: str) -> list[tuple[int, str, str, int]]:
    """Load a persisted merge table in rank order — the input shape
    ``bpe_encode`` accepts."""
    rows = spark.read.parquet(path).orderBy("merge_rank").collect()
    return [
        (int(r["merge_rank"]), r["left_sym"], r["right_sym"], r["pair_count"])
        for r in rows
    ]


def _hex_bytes(w: str) -> list[str]:
    """UTF-8 bytes of ``w`` as lowercase 2-hex-digit symbols — the
    byte-level initial alphabet.  Hex keeps every symbol printable,
    space-free, and lexicographically comparable identically in Spark,
    DuckDB, and Python (the tie-break contract)."""
    return [f"{b:02x}" for b in w.encode("utf-8")]


def bpe_bytes_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    driver_vocab_limit: int = 2_000_000,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Byte-level BPE training (GPT-2-style byte fallback, Radford et al.
    2019): the initial alphabet is the 256 UTF-8 byte values — rendered
    as lowercase hex pairs — so EVERY input string is coverable and the
    trained tokenizer has no OOV on any text, any script, any binary
    mojibake a 100 TB crawl contains.  Words are whitespace-split and
    case-preserving (byte-level tokenizers see raw bytes; the char-level
    ``bpe_train`` lowercases because its alphabet is [a-z]).

    Same greedy argmax loop, tie-break (count DESC, left ASC, right ASC
    on the hex strings), and adaptive driver/distributed engine as
    ``bpe_train`` — the shared ``_bpe_merge_loop``; only the initial
    symbolization differs: ``hex(encode(w, 'utf-8'))`` split into byte
    pairs, entirely JVM-side.  Merged symbols are concatenated hex
    (always even length), decodable back to bytes at any point.

    Returns ``(merges, vocab_df)`` in the ``bpe_train`` shape — the merge
    table feeds ``bpe_bytes_encode`` / ``bpe_save`` unchanged."""
    words = (
        docs.select(
            F.explode(F.split(F.col(text_col), r"\s+")).alias("w")
        )
        .where(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        # single-byte words carry no pairs — excluded from the LOOP's
        # vocab (pure size saving, identical merge table)
        .where(F.length(F.encode("w", "utf-8")) >= 2)
    )
    vocab = words.select(
        F.trim(
            F.regexp_replace(F.lower(F.hex(F.encode("w", "utf-8"))), "(..)", "$1 ")
        ).alias("sym"),
        "wcnt",
    ).cache()
    return _bpe_merge_loop(vocab, docs.sparkSession, n_merges, driver_vocab_limit)


def bpe_bytes_encode(
    docs: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed byte-level BPE encoding — ``bpe_encode``'s byte twin
    with the no-OOV guarantee: every whitespace word decomposes into hex
    byte symbols first, so ANY input (emoji, CJK, control bytes) encodes
    to ``ceil`` tokens instead of dropping.  Same vocab-compression
    economics: distinct words segmented once in Arrow ``mapInPandas``
    (merge table in the closure — KBs), per-doc totals via one word-key
    join + agg.  Docs with no non-whitespace content are omitted
    (mirrors ``bpe_encode``'s explode).  Returns
    ``(id, n_words, n_tokens, n_bytes)``."""
    from collections.abc import Iterator

    import pandas as pd

    rank_of: dict[tuple[str, str], int] = {}
    for i, m in enumerate(merges):
        if len(m) >= 3 and isinstance(m[0], int):
            rank_of[(m[1], m[2])] = m[0]
        else:
            rank_of[(m[0], m[1])] = i

    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("w")
    ).where(F.length("w") >= 1)
    distinct_words = toks.select("w").distinct()

    out_schema = T.StructType(
        [
            T.StructField("w", T.StringType()),
            T.StructField("w_tokens", T.LongType()),
            T.StructField("w_bytes", T.LongType()),
        ]
    )

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nt, nb = [], []
            for w in pdf["w"]:
                syms = _hex_bytes(w)
                nb.append(len(syms))
                nt.append(len(bpe_merge_symbols(syms, rank_of)))
            yield pd.DataFrame({"w": pdf["w"], "w_tokens": nt, "w_bytes": nb})

    encoded_vocab = distinct_words.mapInPandas(seg, schema=out_schema)
    return (
        toks.join(encoded_vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("w_tokens").alias("n_tokens"),
            F.sum("w_bytes").alias("n_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style, Kudo 2018)
# ---------------------------------------------------------------------------


def _unigram_logp_table(counts: dict[str, int]) -> dict[str, float]:
    """Piece log-probabilities from integer counts with +1 floor smoothing
    (single-char pieces must stay in-model for cover even at count 0):
    ``log(max(c,1)) - log(sum(max(c,1)))`` — pure integer inputs, so the
    floats are bit-identical wherever they are recomputed."""
    import math

    total = sum(max(c, 1) for c in counts.values())
    lt = math.log(total)
    return {p: math.log(max(c, 1)) - lt for p, c in counts.items()}


def _unigram_viterbi(w: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of ``w`` under piece log-probs: left-to-right DP,
    candidates scanned with ascending start (strict ``>`` keeps the
    smallest start on exact float ties).  Single chars are always in the
    model, so every word is coverable."""
    n = len(w)
    neg = float("-inf")
    dp = [neg] * (n + 1)
    bp = [0] * (n + 1)
    dp[0] = 0.0
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            if dp[i] == neg:
                continue
            lp = logp.get(w[i:j])
            if lp is None:
                continue
            cand = dp[i] + lp
            if cand > dp[j]:
                dp[j] = cand
                bp[j] = i
    out: list[str] = []
    j = n
    while j > 0:
        i = bp[j]
        out.append(w[i:j])
        j = i
    out.reverse()
    return out


def unigram_train(
    docs: DataFrame,
    n_iters: int = 4,
    max_piece_len: int = 5,
    seed_size: int = 300,
    prune_keep: float = 0.75,
    text_col: str = "text",
    driver_vocab_limit: int = 2_000_000,
) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018; the SentencePiece
    ``--model_type=unigram`` algorithm), completing the tokenizer family
    next to the full BPE chain: seed an over-complete substring
    inventory, then alternate Viterbi E-steps with count re-estimation
    and prune the weakest pieces until the vocabulary settles.

    Deviations from the paper, documented: hard-EM (Viterbi counts, not
    lattice forward-backward expectations) and count-based pruning (drop
    the bottom ``1-prune_keep`` of multi-char pieces per round) instead
    of the full likelihood-loss-delta ranking — the standard cheap
    variant; single-char pieces are never pruned (cover guarantee).

    Deterministic end to end: seed selection and pruning order by
    ``(count DESC, piece ASC)``; Viterbi scans candidates ascending with
    strict ``>`` (ties keep the smallest start); all counts are exact
    integers aggregated order-independently, and every float is
    recomputed from integers via the same ``math.log`` calls
    (_unigram_logp_table) — so distributed and sequential runs are
    bit-identical.

    Scale shape (the same compression + adaptive probe bpe_train uses):
    the corpus collapses to the distinct-word frequency table FIRST —
    the only corpus pass; Heaps' law keeps it ~10⁶ rows at any corpus
    size.  Seed substring counting is a JVM-side explode + hash-agg over
    that table.  Then the size probe picks the EM engine: a word table ≤
    ``driver_vocab_limit`` collects once and loops in plain Python (the
    production-tokenizer-trainer shape — per-iteration Spark jobs would
    pay scheduling for dict arithmetic); larger vocabularies run each EM
    round as ONE Arrow mapInPandas pass over the cached word table with
    the model dict shipped in the closure (model-sized, ≤
    seed_size+alphabet) emitting per-batch pre-combined partial counts —
    the shuffle moves piece-table-sized partials, never words — plus a
    model-sized collect.  M-step and pruning are driver-side over the
    model only.  Both engines are count-for-count identical (pinned by
    tests).

    Returns the final piece table ``(rank, piece, cnt, logp_ppm)`` —
    ``logp_ppm = floor(log-prob × 1e6)``, the exact-integer form
    ``unigram_encode`` consumes (quantized once, so persisted models
    re-score identically)."""
    import math

    L = max_piece_len
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .cache()
    )
    try:
        subs = words.select(
            "wcnt",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)),"
                    f" s -> transform(sequence(1, least({L}, length(w) - s + 1)),"
                    "  l -> substring(w, s, CAST(l AS INT)))))"
                )
            ).alias("piece"),
        )
        seed = subs.groupBy("piece").agg(F.sum("wcnt").alias("cnt"))
        single_rows = seed.where(F.length("piece") == 1).collect()
        multi_rows = (
            seed.where(F.length("piece") >= 2)
            .orderBy(F.desc("cnt"), F.asc("piece"))
            .limit(seed_size)
            .collect()
        )
        counts: dict[str, int] = {r["piece"]: int(r["cnt"]) for r in single_rows}
        counts.update({r["piece"]: int(r["cnt"]) for r in multi_rows})

        n_vocab = words.count()  # materializes the cache either way
        wrows: list[tuple[str, int]] | None = None
        if n_vocab <= driver_vocab_limit:
            wrows = [(r["w"], int(r["wcnt"])) for r in words.collect()]

        for it in range(n_iters):
            logp = _unigram_logp_table(counts)

            if wrows is not None:
                new: dict[str, int] = {}
                for w, c in wrows:
                    for p in _unigram_viterbi(w, logp, L):
                        new[p] = new.get(p, 0) + c
            else:

                def estep(batches, logp=logp, L=L):
                    import pandas as pd

                    for pdf in batches:
                        acc: dict[str, int] = {}
                        memo: dict[str, list[str]] = {}
                        for w, c in zip(pdf["w"], pdf["wcnt"]):
                            seg = memo.get(w)
                            if seg is None:
                                seg = _unigram_viterbi(w, logp, L)
                                memo[w] = seg
                            for p in seg:
                                acc[p] = acc.get(p, 0) + int(c)
                        if acc:
                            yield pd.DataFrame(
                                {"piece": list(acc), "c": list(acc.values())}
                            )

                agg = (
                    words.mapInPandas(estep, schema="piece string, c long")
                    .groupBy("piece")
                    .agg(F.sum("c").alias("cnt"))
                    .collect()
                )
                new = {r["piece"]: int(r["cnt"]) for r in agg}
            counts = {p: new.get(p, 0) for p in counts}
            if it < n_iters - 1:
                alive = sorted(
                    ((p, c) for p, c in counts.items() if len(p) >= 2 and c > 0),
                    key=lambda pc: (-pc[1], pc[0]),
                )
                kept = alive[: math.ceil(prune_keep * len(alive))]
                counts = {p: c for p, c in counts.items() if len(p) == 1}
                counts.update(dict(kept))
    finally:
        words.unpersist()

    logp = _unigram_logp_table(counts)
    ordered = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))
    rows = [
        (i + 1, p, c, math.floor(logp[p] * 1e6)) for i, (p, c) in enumerate(ordered)
    ]
    return local_df(
        docs.sparkSession, rows, "rank long, piece string, cnt long, logp_ppm long"
    )


def unigram_encode(
    docs: DataFrame,
    model: DataFrame,
    max_piece_len: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Viterbi-encode every document with a trained unigram model (the
    ``unigram_train`` piece table, or the same shape loaded from
    parquet).  Scores come from the quantized ``logp_ppm`` integers —
    the persisted-model contract: any engine re-deriving floats as
    ``logp_ppm/1e6`` encodes identically, forever.

    One Arrow mapInPandas corpus scan with the model dict in the closure
    (model-sized); per-batch word→segmentation memoization collapses the
    Zipf head, so hot words pay the DP once per batch.  Output is
    compact (counts + md5 of the piece sequence), value-hash-verifiable
    without shipping token streams."""
    import hashlib

    mrows = model.select("piece", "logp_ppm").collect()
    logp = {r["piece"]: r["logp_ppm"] / 1e6 for r in mrows}
    L = max_piece_len
    # the output id column mirrors the INPUT's name and type — ids pass
    # through untouched (no integer coercion: string/uuid ids are legal).
    # Built as a StructType, not a DDL f-string: a name needing backticks
    # (spaces, hyphens, reserved words) would fail DDL parsing even though
    # select(id_col) accepts it.
    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("n_words", T.LongType()),
            T.StructField("n_pieces", T.LongType()),
            T.StructField("pieces_md5", T.StringType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            memo: dict[str, list[str]] = {}
            ids, nw, np_, md = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                ws = re.findall("[a-z]+", (t or "").lower())
                pieces: list[str] = []
                for w in ws:
                    seg = memo.get(w)
                    if seg is None:
                        seg = _unigram_viterbi(w, logp, L)
                        memo[w] = seg
                    pieces.extend(seg)
                ids.append(i)
                nw.append(len(ws))
                np_.append(len(pieces))
                md.append(hashlib.md5(" ".join(pieces).encode()).hexdigest())
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "n_words": nw,
                        "n_pieces": np_,
                        "pieces_md5": md,
                    }
                )

    return docs.select(id_col, text_col).mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer)
# ---------------------------------------------------------------------------


def _wordpiece_symbolize(w: str) -> tuple[str, ...]:
    """BERT-style initial symbolization: word-initial char plain, every
    continuation char prefixed ``##`` — merged symbols inherit the
    head's form (``c + ##at -> cat``, ``##a + ##t -> ##at``)."""
    return tuple([w[0], *(f"##{c}" for c in w[1:])])


def _wp_merge(left: str, right: str) -> str:
    return left + (right[2:] if right.startswith("##") else right)


def wordpiece_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    driver_vocab_limit: int = 2_000_000,
) -> list[tuple[int, str, str, str, int, int, int]]:
    """WordPiece training — the third classic subword algorithm next to
    BPE (``bpe_train``) and unigram-LM (``unigram_train``): each round
    merges the adjacent pair maximizing the LIKELIHOOD gain
    ``count(pair) / (count(left) * count(right))`` — BPE's rule is raw
    pair count; WordPiece normalizes by the parts' own frequencies, so
    it prefers pairs that co-occur more than chance, not just often.

    Scale shape: the corpus collapses to the distinct-word frequency
    table first (one distributed pass — the only corpus scan, same
    Heaps-law compression as ``bpe_train``); the merge loop then runs
    driver-side over the collected vocabulary.  Unlike BPE there is no
    distributed merge-loop branch: the argmax is over a RATIONAL score,
    and cross-engine determinism demands exact fraction comparison
    (``c1*a2*b2 <=> c2*a1*b1`` in unbounded ints) which a float orderBy
    cannot guarantee — a vocabulary beyond ``driver_vocab_limit`` (2M
    words; Heaps' law keeps natural language far below it at any corpus
    size) raises rather than silently degrading determinism.

    Tie-break: exact score DESC, then (left, right) ASC.  Returns
    ``(rank, left, right, merged, pair_count, left_count, right_count)``
    — all integers, so the table is hash-stable across engines.
    """
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .where(F.length("w") >= 2)
    )
    # Guard BEFORE collect(): on a 100-TB crawl the distinct [a-z]+ table
    # (typos, DNA strings, base64 runs) can far exceed the cap, and the cap
    # exists to protect the driver — so the cheap count() agg must run first,
    # not after the oversized vocabulary is already materialized.  Cached
    # so the guard count and the collect share ONE corpus pass (r15 — the
    # bpe_train/_bpe_merge_loop convention; the former spelling ran the
    # explode+groupBy twice).
    words = words.persist()
    try:
        vocab_size = words.count()  # materializes the cache
        if vocab_size > driver_vocab_limit:
            raise ValueError(
                f"wordpiece_train: vocabulary {vocab_size} exceeds "
                f"driver_vocab_limit={driver_vocab_limit}; exact-fraction argmax "
                "is driver-side by design (see docstring)"
            )
        rows = words.collect()
    finally:
        words.unpersist()
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        key = _wordpiece_symbolize(r["w"])
        vocab[key] = vocab.get(key, 0) + int(r["wcnt"])
    merges: list[tuple[int, str, str, str, int, int, int]] = []
    for rank in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        sc: dict[str, int] = {}
        for sym, c in vocab.items():
            for s in sym:
                sc[s] = sc.get(s, 0) + c
            for i in range(len(sym) - 1):
                k = (sym[i], sym[i + 1])
                pc[k] = pc.get(k, 0) + c
        if not pc:
            break
        best = None
        for (l, r), c in pc.items():
            cand = (c, sc[l], sc[r], l, r)
            if best is None:
                best = cand
                continue
            # exact fraction compare: c/(a*b) vs best — cross-multiplied
            lhs = c * best[1] * best[2]
            rhs = best[0] * sc[l] * sc[r]
            if lhs > rhs or (lhs == rhs and (l, r) < (best[3], best[4])):
                best = cand
        c, la, rb, l, r = best
        merges.append((rank, l, r, _wp_merge(l, r), c, la, rb))
        nxt: dict[tuple[str, ...], int] = {}
        for sym, cnt in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(_wp_merge(l, r))
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + cnt
        vocab = nxt
    return merges


def wordpiece_vocab(docs: DataFrame, merges: list[tuple], text_col: str = "text") -> set[str]:
    """The encode-time vocabulary: every single-char unit seen in
    training (word-initial plain + ``##`` continuation) plus each
    merge's output symbol."""
    chars = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .select(F.explode(F.split(F.col("w"), "")).alias("c"))
        .where(F.col("c") != "")
        .distinct()
        .collect()
    )
    vocab = set()
    for r in chars:
        vocab.add(r["c"])
        vocab.add(f"##{r['c']}")
    for m in merges:
        vocab.add(m[3] if len(m) >= 4 else _wp_merge(m[0], m[1]))
    return vocab


def wordpiece_encode_word(word: str, vocab: set[str]) -> list[str]:
    """Greedy longest-match-first (the BERT runtime rule): repeatedly
    take the LONGEST vocab prefix of the remainder (``##``-prefixed
    after the first piece); if no prefix matches, the whole word is
    ``[UNK]``.  Pure function; deterministic."""
    out: list[str] = []
    i, n = 0, len(word)
    while i < n:
        j = n
        piece = None
        while j > i:
            cand = word[i:j] if i == 0 else f"##{word[i:j]}"
            if cand in vocab:
                piece = cand
                break
            j -= 1
        if piece is None:
            return ["[UNK]"]
        out.append(piece)
        i = j
    return out


def wordpiece_encode(
    docs: DataFrame,
    merges: list[tuple],
    vocab: set[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed WordPiece encoding — the ``bpe_encode`` economics
    (distinct words segmented ONCE in Arrow ``mapInPandas`` with the
    vocab set in the closure, per-doc totals via one word-key join +
    agg).  Returns ``(id, n_words, n_pieces, n_unk, pieces_md5)`` —
    ``n_unk`` counts words that fell to ``[UNK]`` (chars unseen in
    training), the coverage signal a tokenizer report carries."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    toks = docs.select(
        F.col(id_col),
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0).alias(
            "_ws"
        ),
    ).select(F.col(id_col), F.explode("_ws").alias("w"))
    distinct_words = toks.select("w").distinct()

    out_schema = T.StructType(
        [
            T.StructField("w", T.StringType()),
            T.StructField("w_pieces", T.LongType()),
            T.StructField("w_unk", T.LongType()),
            T.StructField("w_md5", T.StringType()),
        ]
    )

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            np_, nu, md = [], [], []
            for w in pdf["w"]:
                pieces = wordpiece_encode_word(w, vocab)
                np_.append(len(pieces))
                nu.append(1 if pieces == ["[UNK]"] else 0)
                md.append(hashlib.md5(" ".join(pieces).encode()).hexdigest())
            yield pd.DataFrame(
                {"w": pdf["w"], "w_pieces": np_, "w_unk": nu, "w_md5": md}
            )

    encoded = distinct_words.mapInPandas(seg, schema=out_schema)
    # r15: pre-aggregate per (doc, word) BEFORE the doc rollup (guide §2.3
    # "aggregate before you shuffle").  The former single groupBy buffered
    # EVERY word occurrence in a per-doc collect_list and sorted it; the
    # (doc, word) counts collapse repeats map-side, and the md5 input
    # string is reconstructed bit-identically: the occurrence list sorted
    # by (w, w_md5) is exactly the distinct words sorted by w with each
    # w_md5 repeated cnt times.
    wcnt = toks.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        wcnt.join(encoded, "w")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("w_pieces") * F.col("cnt")).alias("n_pieces"),
            F.sum(F.col("w_unk") * F.col("cnt")).alias("n_unk"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("w", "w_md5", "cnt"))),
                        lambda st: F.concat_ws(
                            " ", F.array_repeat(st["w_md5"], st["cnt"].cast("int"))
                        ),
                    ),
                )
            ).alias("pieces_md5"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher/MassiveText quality rules (Rae et al. 2021, App. A1.1)
# ---------------------------------------------------------------------------

def gopher_rules(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The published Gopher/MassiveText document-quality rule set as ONE
    codegen'd projection: per-doc measurements (exact integer ppm, floor
    DIV), the failed-rule count, and the all-rules verdict.  Zero
    shuffle, zero Python, zero windows — the cheapest quality gate, run
    first after langid in the published pipelines (also the stateless
    ``gopher`` stage of ``streaming.structured.run_curation_stream``).
    Declared + oracle-checked as ``ops_gopher_rules``."""
    d = docs.select(
        id_col,
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)").alias("ws"),
        F.expr(f"split({text_col}, '\n')").alias("lines"),
        F.expr(
            f"CAST(regexp_count({text_col}, '#') + regexp_count({text_col}, '\\\\.\\\\.\\\\.') AS BIGINT)"
        ).alias("n_symbols"),
    ).select(
        id_col,
        F.expr("CAST(size(ws) AS BIGINT)").alias("n_words"),
        F.expr(
            "CASE WHEN size(ws) = 0 THEN NULL ELSE "
            "CAST(aggregate(ws, 0L, (a, w) -> a + length(w)) * 1000000 DIV size(ws) AS BIGINT) END"
        ).alias("mwl_ppm"),
        F.expr(
            "CASE WHEN size(ws) = 0 THEN NULL ELSE "
            "CAST(n_symbols * 1000000 DIV size(ws) AS BIGINT) END"
        ).alias("symbol_ppm"),
        F.expr(
            "CASE WHEN size(ws) = 0 THEN NULL ELSE "
            "CAST(size(filter(ws, w -> w RLIKE '[a-z]')) * 1000000 DIV size(ws) AS BIGINT) END"
        ).alias("alpha_ppm"),
        F.expr(
            "CAST(size(filter(lines, l -> l RLIKE '^\\\\s*([-*•]|[0-9]+\\\\.)\\\\s')) * 1000000 "
            "DIV size(lines) AS BIGINT)"
        ).alias("bullet_ppm"),
        F.expr(
            "CAST(size(filter(lines, l -> l RLIKE '\\\\.\\\\.\\\\.\\\\s*$')) * 1000000 "
            "DIV size(lines) AS BIGINT)"
        ).alias("ellipsis_ppm"),
        F.expr(
            "CAST(size(array_intersect(array_distinct(ws), "
            "array('the','be','to','of','and','that','have','with'))) AS BIGINT)"
        ).alias("n_stop_distinct"),
    )
    flags = (
        "CAST(NOT n_words BETWEEN 50 AND 100000 AS INT)"
        " + CAST(NOT coalesce(mwl_ppm BETWEEN 3000000 AND 10000000, false) AS INT)"
        " + CAST(NOT coalesce(symbol_ppm <= 100000, false) AS INT)"
        " + CAST(NOT coalesce(alpha_ppm >= 800000, false) AS INT)"
        " + CAST(NOT bullet_ppm <= 900000 AS INT)"
        " + CAST(NOT ellipsis_ppm <= 300000 AS INT)"
        " + CAST(NOT n_stop_distinct >= 2 AS INT)"
    )
    return d.select(
        "*",
        F.expr(f"CAST({flags} AS BIGINT)").alias("n_rules_failed"),
        F.expr(f"({flags}) = 0").alias("passes"),
    )
