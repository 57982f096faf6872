"""Text-analysis operators for large-scale training-data pipelines:
tokenization, shingling, quality scoring, language-ID heuristics,
fingerprinting. All pure ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage-codegen) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny function-word list used by the quality / lang-id heuristics. The
# corpus vocabulary is synthetic; real deployments swap in per-language
# stopword tables (broadcast).
EN_STOPWORDS = ("the", "a")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization. ``split`` is codegen'd; no UDF."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(col, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (higher-order functions;
    computed per-row with zero shuffle). Documents shorter than n tokens
    yield an empty array (guarded: F.sequence(0, negative) would count
    DOWN and emit garbage slices, not an empty sequence)."""
    toks = tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def stopword_count(text: Column | str, stopwords=EN_STOPWORDS) -> Column:
    return F.size(F.filter(tokens(text), lambda w: w.isin(*stopwords)))


def lang_id(text: Column | str, stopwords=EN_STOPWORDS, min_ratio: float = 0.02) -> Column:
    """N-gram/function-word language-ID heuristic: predict 'en' when the
    English function-word ratio clears a threshold, else 'und'."""
    ratio = stopword_count(text, stopwords).cast("double") / token_count(text)
    return F.when(ratio >= min_ratio, F.lit("en")).otherwise(F.lit("und"))


def fingerprint(text: Column | str, prefix_words: int = 8) -> Column:
    """Deterministic document fingerprint: md5 of the normalized leading
    token window (cheap near-head dedup key)."""
    col = F.col(text) if isinstance(text, str) else text
    head = F.concat_ws(" ", F.slice(tokens(F.lower(col)), 1, prefix_words))
    return F.md5(head)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    training-sample preparation step (chunk_tokens window, stride <
    chunk_tokens gives chunk overlap for context continuity).

    Pure higher-order functions: per row, build the chunk-start sequence
    (0, stride, 2·stride, … while a full-or-final window remains), slice
    the token array per start, and posexplode — zero Python, zero
    shuffle; output rows ∝ n_tokens/stride. A document shorter than one
    window yields exactly one chunk.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    # last start: largest multiple of stride that still begins a
    # non-empty window strictly inside the document
    last_start = F.greatest(
        F.lit(0), F.floor((n - 1) / F.lit(stride)).cast("int") * stride
    )
    starts = F.filter(
        F.sequence(F.lit(0), last_start, F.lit(stride)),
        lambda s: s < n,
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - s).cast("int").alias("n_tokens"),
        ),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "c"),
    ).select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition features per document (Rae et al. 2021,
    §A1.1): duplicate-token fraction and the share of the most common
    bigram. Repetitious documents are a strong low-quality signal for
    pre-training corpora.

    The duplicate-token fraction is pure per-row HOF work. The
    most-common-bigram share is computed by explode + two-level
    aggregation — the scalable way to take a per-document mode (the
    shuffle key is (doc, bigram); no per-row O(n²) HOF scan, no
    collect). Documents with fewer than 2 tokens get zero metrics.
    """
    toks = tokens(text_col)
    # ZERO-shuffle formulation: the per-document bigram mode is the
    # longest equal run in the SORTED hashed-bigram array — a per-row
    # O(n log n) HOF fold, replacing the explode + (doc, bigram) +
    # (doc) two-level aggregation (two shuffles of string keys) of the
    # textbook plan. Hashing to 64-bit first makes both the sort and
    # the distinct count compare longs; counts are unchanged absent an
    # intra-document collision (~50 grams → P ≈ 1e-16).
    staged = df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(
            F.array_distinct(F.transform(toks, lambda t: F.xxhash64(t)))
        ).alias("n_distinct"),
        F.array_sort(
            F.transform(shingles(text_col, 2), lambda g: F.xxhash64(g))
        ).alias("_bg"),
    )
    run_state = F.named_struct(
        F.lit("prev"), F.lit(None).cast("long"),
        F.lit("run"), F.lit(0).cast("long"),
        F.lit("best"), F.lit(0).cast("long"),
    )
    longest_run = F.aggregate(
        F.col("_bg"),
        run_state,
        lambda acc, x: F.named_struct(
            F.lit("prev"), x,
            F.lit("run"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            F.lit("best"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ),
        ),
        lambda acc: acc["best"],
    )
    out = staged.select(
        F.col(id_col),
        "n_tokens",
        "n_distinct",
        longest_run.alias("top_bigram_count"),
        F.size("_bg").cast("long").alias("n_bigrams"),
    )
    dup_frac = F.round(
        F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
    )
    top_frac = F.coalesce(
        F.round(
            F.col("top_bigram_count").cast("double") / F.col("n_bigrams"), 6
        ),
        F.lit(0.0),
    )
    return out.select(
        id_col,
        "n_tokens",
        dup_frac.alias("dup_token_fraction"),
        F.coalesce(F.col("top_bigram_count"), F.lit(0)).alias("top_bigram_count"),
        top_frac.alias("top_bigram_fraction"),
    )


# PII patterns: RE2- and java.util.regex-compatible (no backrefs, no
# lookaround) so the Spark plan and any SQL oracle agree byte-for-byte.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "digit_run": r"\d{7,}",
}
PII_ORDER = ("email", "ip", "digit_run")  # ip before digit_run: an IP's
# octets are short digit runs; an unredacted 7+-digit run is never an IP.


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Scrub PII-shaped spans (emails, IPv4s, long digit runs) with typed
    placeholders and count redactions per category. Pure JVM regex
    (regexp_count / regexp_replace) — zero Python in the hot path, fully
    codegen'd, trivially data-parallel."""
    counts = {
        f"n_{name}": F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[name]))
        for name in PII_ORDER
    }
    cleaned = F.col(text_col)
    for name in PII_ORDER:
        cleaned = F.regexp_replace(cleaned, PII_PATTERNS[name], f"<{name.upper()}>")
    return df.withColumns({**counts, out_col: cleaned})


def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    frac_threshold: float = 0.1,
) -> DataFrame:
    """Benchmark-contamination detection: flag training documents whose
    n-gram overlap with an eval/benchmark set clears a threshold (the
    GPT-3-style decontamination step; n=8..13 in published pipelines).

    Plan shape for 100 TB: the benchmark gram set is BOUNDED (eval
    suites are thousands of items, not a fraction of the corpus), so a
    broadcast semi-join against the exploded training grams is the
    correct strategy — the corpus side streams through map-side with no
    shuffle; the only aggregation is the per-doc hit count, keyed on
    the document id.

    Benchmark members are excluded from the scored side (anti-join).
    Returns per-doc gram totals, hit counts, overlap fraction, and the
    contamination flag. The scoring itself is content-pure given the
    benchmark — :func:`contamination_scores` — so callers can wrap it
    in ``dedup.contracted_rowwise`` to score unique content only.

    Fan-out happens HERE, on the bare scan, not after the anti-join:
    fan_out deliberately no-ops on join-bearing lineage (AQE probe
    safety), so a 1-partition corpus scan must be spread BEFORE the
    join or the whole downstream shingle pipeline serializes on one
    core (measured 4 s → 31 s at sf1 when this ordering regressed).
    The broadcast anti-join preserves the fanned partitioning.
    """
    from tfl_realtime_lakehouse_spark.sources.tables import fan_out

    train = fan_out(df).join(
        F.broadcast(benchmark.select(id_col)), id_col, "left_anti"
    )
    return contamination_scores(train, benchmark, text_col, id_col, n, frac_threshold)


def contamination_scores(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    frac_threshold: float = 0.1,
) -> DataFrame:
    """Per-document benchmark-overlap scoring (no membership filtering —
    ``train`` is already the scored population). Content-pure in
    ``train`` given a fixed benchmark.

    Grams are folded to 64-bit xxhash keys before dedup/join: intra-doc
    ``array_distinct`` over longs is ~4× cheaper than over strings, the
    broadcast bench set shrinks to fixed-width keys, and the join
    compares longs instead of variable-length text. Overlap counts are
    unchanged absent a 64-bit collision *within one document's gram
    set* (~50 grams → P ≈ 1e-16 per doc; same trade the jaccard
    self-join makes). The benchmark side fans out first — the scan of a
    single-row-group corpus file would otherwise run the shingle
    expression on one core (sources/tables.py:fan_out); ``train`` is
    the anti-join output, spread before that join by
    :func:`contamination_check`."""
    from tfl_realtime_lakehouse_spark.sources.tables import fan_out

    grams_expr = F.array_distinct(
        F.transform(shingles(text_col, n), lambda g: F.xxhash64(g))
    )
    bench_grams = (
        fan_out(benchmark).select(F.explode(grams_expr).alias("gram")).distinct()
    )
    # ONE gram computation per doc: explode_outer carries the per-doc
    # total alongside each gram, a marked broadcast LEFT join tags the
    # benchmark hits, and a single per-doc aggregate recovers both
    # counts. The previous two-branch plan (size-only scan + explode
    # scan) evaluated the shingle+hash expression — the dominant
    # per-row cost — twice over the corpus (measured 2× at sf5).
    g = (
        train.select(F.col(id_col), grams_expr.alias("_grams"))
        .select(
            F.col(id_col),
            F.size("_grams").alias("n_grams"),
            F.explode_outer("_grams").alias("gram"),
        )
    )
    marked = F.broadcast(bench_grams.withColumn("_hit", F.lit(1)))
    agg = (
        g.join(marked, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count("_hit").alias("n_overlap"),
        )
    )
    frac = F.round(
        F.col("n_overlap").cast("double")
        / F.greatest(F.col("n_grams"), F.lit(1)),
        6,
    )
    return agg.select(
        id_col,
        "n_grams",
        "n_overlap",
        frac.alias("overlap_frac"),
        (frac >= frac_threshold).cast("int").alias("is_contaminated"),
    )


def pack_sequences(
    chunks: DataFrame,
    context_tokens: int = 256,
    num_shards: int = 32,
    id_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Assign token chunks to fixed-size training context windows
    ("concat-then-split" packing, no straddling: each chunk lands in the
    window where its start offset falls).

    Packing is SHARD-LOCAL by design: a global concatenation order would
    serialize the whole corpus through one window partition — the
    classic scale-killer. Training needs full windows, not one global
    order, so we shard by hash of the document id and pack within each
    shard: num_shards independent window partitions, each a parallel
    cumulative sum over a deterministic (doc, chunk) order. Window ids
    are (shard, window_id) pairs.
    """
    shard = (F.col(id_col) % num_shards).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col, chunk_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return chunks.withColumn("shard", shard).withColumn(
        "window_id", F.floor(cum_before / context_tokens)
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms —
    the retrieval primitive for search-based corpus curation (find all
    documents about X) and RAG-style indexing.

    Distributed IR plan: explode tokens → per-(doc, term) tf, filtered
    to the query terms BEFORE the shuffle (the posting lists of a
    bounded query vocabulary, not the whole corpus vocabulary); per-term
    document frequency is a tiny aggregate over those postings; the
    corpus-level scalars (N, avg doc length) ride along as a broadcast
    1-row cross join. Per-term score contributions are summed as exact
    decimals so the result is partition-order deterministic (float SUM
    is not associative; decimal addition is).

    Uses the BM25+-style idf ln(1 + (N - df + 0.5)/(df + 0.5)), always
    positive.

    MAP-SIDE plan (r5): a bounded query vocabulary means per-term tf is
    an array expression (size of a filtered token array), not an
    explode + (doc, term) shuffle — so the postings never leave the
    row. Document frequencies, N and avgdl all collapse into ONE
    broadcast 1-row aggregate over those tf columns, and the per-doc
    score is a fixed-order sum of per-term decimal contributions
    (absent terms add exact decimal zero — same total the posting-join
    plan summed). Zero doc-keyed exchanges at any corpus size; the
    previous explode plan shuffled every (doc, query-term) pair.
    Measured 46 s -> map-scan-bound on the sf5 corpus.
    """
    import decimal

    # One tf column is built PER LIST POSITION, so a duplicated term
    # would double-count its contribution (the old posting-join plan
    # was idempotent to duplicates). Dedupe order-preservingly and
    # reject the degenerate empty query up front (ADVICE r5).
    query_terms = list(dict.fromkeys(query_terms))
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    nq = len(query_terms)

    def _tf(term):
        # single-parameter lambda: a 2-arg lambda (even with a default)
        # makes F.filter pass the element INDEX as the second argument
        return F.size(F.filter("_toks", lambda x: x == F.lit(term)))

    base = df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
        F.col(id_col),
        F.size("_toks").alias("dl"),
        *[_tf(term).alias(f"_tf{i}") for i, term in enumerate(query_terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("int")).alias(f"_df{i}")
            for i in range(nq)
        ],
    )
    matched = base.where(
        sum((F.col(f"_tf{i}") > 0).cast("int") for i in range(nq)) > 0
    ).crossJoin(F.broadcast(stats))
    zero = F.lit(decimal.Decimal(0)).cast("decimal(27,12)")
    total = zero
    for i in range(nq):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"_df{i}") + 0.5)
            / (F.col(f"_df{i}") + 0.5)
        )
        tf_norm = (F.col(f"_tf{i}") * (k1 + 1)) / (
            F.col(f"_tf{i}")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        total = total + F.when(
            F.col(f"_tf{i}") > 0, (idf * tf_norm).cast("decimal(27,12)")
        ).otherwise(zero)
    return matched.select(
        F.col(id_col), F.round(total.cast("double"), 6).alias("score")
    )


def _tfidf_weights(
    df: DataFrame, max_doc_freq: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(id, term, w) TF-IDF weights over the kept vocabulary (document
    frequency ≤ ``max_doc_freq``) and the per-doc squared norms
    (id, n2), summed as exact decimals."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.count()
    kept = tf.join(
        F.broadcast(dfreq.where(F.col("df_t") <= max_doc_freq)), "term"
    )
    w = F.col("tf").cast("double") * F.log(
        F.lit(float(n_docs)) / F.col("df_t").cast("double")
    )
    weights = kept.select(id_col, "term", w.alias("w"))
    norms = weights.groupBy(id_col).agg(
        F.sum((F.col("w") * F.col("w")).cast("decimal(27,12)")).alias("n2")
    )
    return weights, norms


def tfidf_cosine_pairs_reps(
    df: DataFrame,
    threshold: float = 0.3,
    max_doc_freq: int = 250,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse TF-IDF cosine document pairs on UNIQUE content — the
    bag-of-words similarity tier between shingle Jaccard (surface
    overlap) and embedding cosine (dense semantics): shared RARE
    vocabulary weighted by idf, robust to reordering that breaks
    shingles, no model required.

    The inverted-index discipline: tokens with document frequency >
    ``max_doc_freq`` are dropped from the FEATURE SPACE (not just the
    join) — stop tokens carry ~zero idf signal and unbounded posting
    lists, so removing them bounds every posting join at
    O(df²·|vocab_rare|) AND keeps weights/norms/dot products all
    consistent in the same reduced space (a lower-bound contract would
    otherwise understate norms). Per-pair dot products and per-doc
    squared norms are summed as exact decimals (the BM25 discipline);
    cosine = dot/(√na·√nb) is one shared double tree rounded at 6 dp.

    Returns (doc_a, doc_b, cosine) with doc_a < doc_b, cosine ≥
    threshold.
    """
    weights, norms = _tfidf_weights(df, max_doc_freq, text_col, id_col)
    a = weights.select(
        F.col(id_col).alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = weights.select(
        F.col(id_col).alias("doc_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(27,12)")).alias("dot")
        )
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("n2").alias("nb2"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    max_doc_freq: int = 250,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full-corpus TF-IDF cosine pairs: :func:`tfidf_cosine_pairs_reps`
    under exact contraction (``dedup.contracted_pairs``). Exact copies
    pair through the diagonal with the SAME expression tree the raw op
    gives a self-pair — n2/(√n2·√n2), which is 1.0 only up to IEEE sqrt
    rounding, so the diagonal recomputes it rather than hard-coding
    1.0."""
    from tfl_realtime_lakehouse_spark.operators.dedup import contracted_pairs
    from tfl_realtime_lakehouse_spark.sources.tables import fan_out

    def diag_fn(reps: DataFrame) -> DataFrame:
        n2 = F.col("n2").cast("double")
        cos = n2 / (F.sqrt(n2) * F.sqrt(n2))
        return (
            _tfidf_weights(reps, max_doc_freq, text_col, id_col)[1]
            .select(F.col(id_col), F.round(cos, 6).alias("cosine"))
            .where(F.col("cosine") >= threshold)
        )

    return contracted_pairs(
        fan_out(df),
        F.md5(F.col(text_col)),
        lambda reps: tfidf_cosine_pairs_reps(
            reps, threshold=threshold, max_doc_freq=max_doc_freq,
            text_col=text_col, id_col=id_col,
        ),
        diag_fn,
        id_col,
    )
