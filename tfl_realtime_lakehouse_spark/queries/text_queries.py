"""Training-data text operators as registered queries over `documents`:
dedup family, token/quality/language analysis, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators import dedup as D
from tfl_realtime_lakehouse_spark.operators import text as X
from tfl_realtime_lakehouse_spark.queries.registry import register, table
from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL, fan_out


@register(
    "dedup_exact_docs",
    oracle="""
    SELECT MD5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS first_doc
    FROM documents GROUP BY MD5(text)
    """,
    doc="Exact dedup via content digest + hash groupBy (shuffle key is "
    "the fixed-width digest, not the document body).",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(table(spark, sf_dir, "documents"))


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id, lang, source,
           CAST(LENGTH(text) AS INTEGER) AS n_chars_m,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INTEGER) AS n_distinct_tokens
    FROM documents
    """,
    doc="Token counting (whitespace tokenizer) — SURVEY extension: "
    "text analysis for training pipelines.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars_m"),
        X.token_count("text").alias("n_tokens"),
        F.size(F.array_distinct(X.tokens("text"))).alias("n_distinct_tokens"),
    )


@register(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ('the', 'a'))) AS INTEGER) AS n_stopwords,
           ROUND(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ('the', 'a')))::DOUBLE
                 / LEN(STRING_SPLIT(text, ' ')), 6) AS stopword_ratio,
           CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 64
                 AND LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ('the', 'a'))) > 0
                THEN 'keep' ELSE 'drop' END AS quality_verdict
    FROM documents
    """,
    doc="Quality scoring: stopword ratio + length gate (the classic "
    "pre-training quality filter shape).",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    nstop = X.stopword_count("text")
    ntok = X.token_count("text")
    return docs.select(
        "doc_id",
        nstop.alias("n_stopwords"),
        F.round(nstop.cast("double") / ntok, 6).alias("stopword_ratio"),
        F.when((ntok >= 64) & (nstop > 0), "keep").otherwise("drop").alias(
            "quality_verdict"
        ),
    )


@register(
    "text_lang_id",
    oracle="""
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ('the', 'a')))::DOUBLE
                     / LEN(STRING_SPLIT(text, ' ')) >= 0.02
                THEN 'en' ELSE 'und' END AS predicted_lang
    FROM documents
    """,
    doc="Language-ID heuristic (function-word ratio).",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        X.lang_id("text").alias("predicted_lang"),
    )


@register(
    "eval_langid_confusion",
    oracle="""
    WITH p AS (
      SELECT lang AS labeled_lang,
             CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                       w -> w IN ('the', 'a')))::DOUBLE
                       / LEN(STRING_SPLIT(text, ' ')) >= 0.02
                  THEN 'en' ELSE 'und' END AS predicted_lang
      FROM documents
    ),
    c AS (
      SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM p GROUP BY labeled_lang, predicted_lang
    )
    SELECT labeled_lang, predicted_lang, n,
           CAST(SUM(n) OVER (PARTITION BY labeled_lang) AS BIGINT)
               AS labeled_total,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY labeled_lang) AS DOUBLE),
                 6) AS frac_of_labeled
    FROM c
    """,
    doc="Language-ID confusion matrix — the classifier-eval companion "
    "to text_lang_id: per (labeled, predicted) cell count plus the "
    "per-labeled-class rate (the recall row of the matrix). The "
    "corpus collapses to |langs|x|predictions| cells in one map-side-"
    "combined aggregate; the marginal is a window over that cell "
    "table (data-independent key space), one shared double division "
    "at 6 dp.",
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    p = docs.select(
        F.col("lang").alias("labeled_lang"),
        X.lang_id("text").alias("predicted_lang"),
    )
    c = p.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("labeled_lang")
    return c.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        F.sum("n").over(w).cast("bigint").alias("labeled_total"),
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(w).cast("double"),
            6,
        ).alias("frac_of_labeled"),
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(ARRAY_TO_STRING(STRING_SPLIT(LOWER(text), ' ')[1:8], ' ')) AS head_fingerprint,
           MD5(LOWER(text)) AS full_fingerprint
    FROM documents
    """,
    doc="Document fingerprinting: digest of the normalized head window "
    "+ whole-document digest.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.fingerprint("text", prefix_words=8).alias("head_fingerprint"),
        F.md5(F.lower("text")).alias("full_fingerprint"),
    )


@register(
    "ngram_jaccard_pairs",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' ')) - 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+2], ' '))) AS sh
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS BIGINT) AS n_shared,
           ROUND(LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
                 / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))), 6) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
          / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))) >= 0.2
    """,
    doc="Exact 3-gram Jaccard near-dup pairs via inverted-index join "
    "(posting lists), NOT an n² cross join — the oracle brute-forces "
    "the same semantics. (PPJoin-style prefix pruning was measured "
    "slower here: at t=0.2 the prefix is 80% of each set and the "
    "DF-ranking overhead dominates; it only pays when t ≳ 0.5.)",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), n=3, threshold=0.2
    )


def _minhash_cte_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """The shared CTE block rebuilding the md5-family MinHash pipeline
    in ANSI SQL — shingle sets ``s``, signatures ``sigs`` (columns
    h0..h{k-1}), band hashes ``banded``, candidate pairs ``cands``.
    Composed by the LSH-candidates oracle and the wave-8 sketch-error
    oracle."""
    rows_per_band = num_hashes // bands
    h60 = "('0x' || SUBSTR(MD5({x}), 1, 15))::BIGINT"
    sig_cols = ",\n             ".join(
        "MIN(" + h60.format(x=f"'{i}:' || u.sh") + f") AS h{i}"
        for i in range(num_hashes)
    )
    band_cases = "\n        ".join(
        "WHEN {b} THEN ".format(b=b)
        + h60.format(
            x=" || ',' || ".join(
                f"h{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
            )
        )
        for b in range(bands)
    )
    return f"""s AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' ')) - 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+2], ' '))) AS sh
      FROM documents
    ),
    sigs AS (
      SELECT doc_id,
             {sig_cols}
      FROM (SELECT doc_id, UNNEST(sh) AS sh FROM s) u
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b.band_id,
        CASE b.band_id
        {band_cases}
        END AS band_hash
      FROM sigs, (SELECT UNNEST(RANGE({bands})) AS band_id) b
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB replica of the md5-family MinHash+LSH+verify pipeline —
    the sketch is seeded deterministic integer arithmetic, so the whole
    thing (signatures, band hashes, candidate join, exact-Jaccard
    verify) is expressible in ANSI SQL and hash-checkable, not just
    rows-only. Same md5-prefix recipe proven cross-engine in
    doc_rolling_hash / sample_hash_split."""
    return f"""
    WITH {_minhash_cte_sql(num_hashes, bands)}
    SELECT c.doc_a, c.doc_b,
           CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS BIGINT) AS n_shared,
           ROUND(LEN(LIST_INTERSECT(sa.sh, sb.sh))::DOUBLE
                 / (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_INTERSECT(sa.sh, sb.sh))),
                 6) AS jaccard
    FROM cands c
    JOIN s sa ON sa.doc_id = c.doc_a
    JOIN s sb ON sb.doc_id = c.doc_b
    WHERE ROUND(LEN(LIST_INTERSECT(sa.sh, sb.sh))::DOUBLE
                / (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_INTERSECT(sa.sh, sb.sh))),
                6) >= 0.2
    """


@register(
    "minhash_lsh_candidates",
    oracle=_minhash_oracle_sql(num_hashes=16, bands=4),
    doc="MinHash(16) + LSH(4 bands × 4 rows) candidate pairs, verified "
    "with exact Jaccard ≥ 0.2 computed on the candidates only — a "
    "deterministic subset of ngram_jaccard_pairs found without any n² "
    "(or even all-pairs-exact) work. Uses the md5-prefix hash family "
    "(operators.dedup.md5_prefix_hash) so the ENTIRE sketch — "
    "signatures, band hashes, candidate set — is reproduced by the "
    "DuckDB oracle and hash-checked, not just rows-only (the xxhash64 "
    "family remains the cheaper scale default). Wrapped in the "
    "exact-contraction (operators.dedup.contracted_pairs): banding + "
    "verification are content-pure, so duplicates ride the expansion "
    "joins instead of multiplying bucket collisions quadratically "
    "(40 s → 5 s at sf1).",
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_verified_pairs(table(spark, sf_dir, "documents"))


def _minhash_verified_pairs(docs: DataFrame) -> DataFrame:
    """md5-family MinHash(16) + LSH(4 bands) candidates verified at
    exact Jaccard ≥ 0.2, under exact contraction with the shingle
    diagonal (identical docs collide on every band)."""

    def _pairs(reps):
        cands = D.minhash_lsh_candidates(
            reps, n=3, num_hashes=16, bands=4, hash_family="md5"
        )
        return D.verify_pairs_jaccard(reps, cands, n=3, threshold=0.2)

    return D.contracted_pairs(
        fan_out(docs),
        F.md5("text"),
        _pairs,
        lambda reps: D.shingle_diagonal(reps, "text", "doc_id", 3, "jaccard"),
        "doc_id",
    )


_SIMHASH_ORACLE = """
    WITH th AS (
      SELECT doc_id, ('0x' || SUBSTR(MD5(w), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents) t
    ),
    votes AS (
      SELECT doc_id, b.b AS b,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT UNNEST(RANGE(60)) AS b) b
      GROUP BY doc_id, b.b
    ),
    sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM votes GROUP BY doc_id
    ),
    chunked AS (
      SELECT doc_id, sig, c.c AS chunk_id, (sig >> (c.c * 15)) & 32767 AS chunk
      FROM sigs, (SELECT UNNEST(RANGE(4)) AS c) c
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(BIT_COUNT(XOR(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM chunked a JOIN chunked b
      ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.sig, b.sig)) <= 8
    """


@register(
    "simhash_near_pairs",
    oracle=_SIMHASH_ORACLE,
    doc="SimHash near-dup candidates via pigeonhole block join, verified "
    "with popcount Hamming distance ≤ 8. Uses the 60-bit md5-prefix "
    "hash family (4 chunks × 15 bits) so the per-bit majority votes, "
    "signature assembly, chunk join and Hamming verify are ALL "
    "reproduced bit-exactly by the DuckDB oracle (hash-green, not "
    "rows-only); the 64-bit xxhash64 family remains the scale default.",
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_pairs(
        table(spark, sf_dir, "documents"), max_hamming=8, hash_family="md5"
    )


@register(
    "text_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_ws_tokens
    FROM documents
    """,
    doc="Token counting, whitespace + BPE-ish regex tokenizer "
    "(letters-run | digits-run | single symbol) — the SURVEY extension's "
    "token-counting op.",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_bpe_tokens"),
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
    )


@register(
    "text_word_frequencies",
    oracle="""
    SELECT w AS word, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
    GROUP BY w
    """,
    doc="Corpus term frequencies via explode (lateral flatten) + "
    "two-level counts — the inverted-index building block.",
)
def text_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WEIGHTED-CONTRACTED (r5): one explode per DISTINCT text; total
    # occurrences and doc frequencies weight per-text counts by the
    # copy multiplicity — exact integers, identical to raw counting.
    docs = table(spark, sf_dir, "documents")
    reps = docs.groupBy(F.md5("text").alias("_pk")).agg(
        F.count(F.lit(1)).alias("m"), F.min("text").alias("text")
    )
    per_text = (
        reps.select("_pk", "m", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("_pk", "word")
        .agg(F.count(F.lit(1)).alias("c"), F.max("m").alias("m"))
    )
    return per_text.groupBy("word").agg(
        F.sum(F.col("c") * F.col("m")).alias("n_total"),
        F.sum("m").alias("n_docs"),
    )


@register(
    "doc_rolling_hash",
    oracle="""
    SELECT doc_id,
           LIST_REDUCE(
             LIST_PREPEND(CAST(0 AS BIGINT),
               LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                              w -> ('0x' || SUBSTR(MD5(w), 1, 8))::BIGINT)),
             (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
    FROM documents
    """,
    doc="Polynomial rolling-hash document fingerprint (SURVEY extension "
    "'document fingerprinting (rolling hash)'): fold over word hashes, "
    "order-sensitive, computed with higher-order functions per row.",
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CONTENT-CONTRACTED (r5): the fingerprint is content-pure, so the
    # per-word md5 fold runs once per distinct text.
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", F.md5("text").alias("_pk"))
    reps = docs.groupBy(F.md5("text").alias("_pk")).agg(
        F.min("text").alias("text")
    )
    word_hashes = F.transform(
        F.split("text", " "),
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint"),
    )
    rolling = F.aggregate(
        word_hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % 1000000007,
    )
    per_text = reps.select("_pk", rolling.alias("rolling_hash"))
    return keyed.join(per_text, "_pk").select("doc_id", "rolling_hash")


@register(
    "sample_hash_split",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
    FROM (SELECT doc_id, lang,
                 ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
          FROM documents) t
    """,
    doc="Deterministic content-addressed train/val/test split (90/5/5): "
    "a pure function of the row key, reproducible across engines, runs "
    "and repartitions — the split primitive that stays stable as a "
    "100 TB corpus grows (operators/sampling.py).",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.sampling import hash_split

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(docs, "doc_id")


@register(
    "curation_pipeline_summary",
    oracle="""
    WITH kept AS (
      SELECT doc_id, text, n_chars FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 64
        AND LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ('the', 'a'))) > 0
        AND LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ('the', 'a')))::DOUBLE
            / LEN(STRING_SPLIT(text, ' ')) >= 0.02
    ),
    dedup AS (
      SELECT k.doc_id, k.n_chars FROM kept k
      JOIN (SELECT MIN(doc_id) AS m FROM kept GROUP BY MD5(text)) r
        ON r.m = k.doc_id
    ),
    assigned AS (
      SELECT n_chars,
             CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT n_chars,
                   ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
            FROM dedup) t
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split
    """,
    doc="The full curation pipeline as ONE composed plan: quality gate "
    "(length + stopword presence) AND lang-id filter -> exact-dedup "
    "representative pass -> deterministic hash split -> per-split "
    "volume summary. Every stage is an engine operator "
    "(operators/text.py, dedup.py, sampling.py); Catalyst fuses the "
    "filters into the scan and the whole job is two shuffles (dedup "
    "groupBy + final aggregate).",
)
def curation_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.dedup import dedup_representatives
    from tfl_realtime_lakehouse_spark.operators.sampling import hash_split

    docs = table(spark, sf_dir, "documents")
    nstop = X.stopword_count("text")
    ntok = X.token_count("text")
    kept = docs.filter(
        (ntok >= 64) & (nstop > 0) & (X.lang_id("text") == F.lit("en"))
    )
    reps = dedup_representatives(kept)
    assigned = hash_split(reps.select("doc_id", "n_chars"), "doc_id")
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "text_chunking",
    oracle="""
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, toks, LEN(toks) AS n,
                 LIST_FILTER(
                   RANGE(0, GREATEST(0, CAST(FLOOR((LEN(toks)-1)/48) AS INT)*48)+1, 48),
                   x -> x < LEN(toks)) AS starts
          FROM t),
    c AS (SELECT doc_id, toks, n,
                 UNNEST(LIST_TRANSFORM(RANGE(1, LEN(starts)+1),
                        i -> {'chunk_id': i-1, 's': starts[i]})) AS ch
          FROM s)
    SELECT doc_id, CAST(ch.chunk_id AS INTEGER) AS chunk_id,
           ARRAY_TO_STRING(toks[ch.s+1 : ch.s+64], ' ') AS chunk_text,
           CAST(LEAST(64, n - ch.s) AS INTEGER) AS n_tokens
    FROM c
    """,
    doc="Document chunking into overlapping token windows (64-token "
    "chunks, stride 48 -> 16-token overlap) — the training-sample "
    "preparation op (operators/text.py:chunk_documents). Pure "
    "higher-order functions: sequence -> filter -> transform -> "
    "posexplode, zero Python and zero shuffle; rows scale with "
    "n_tokens/stride.",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.text import chunk_documents

    return chunk_documents(
        table(spark, sf_dir, "documents"), chunk_tokens=64, stride=48
    )


@register(
    "dedup_cluster_resolution",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' ')) - 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+2], ' '))) AS sh
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
            / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))) >= 0.2
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
      SELECT u, u FROM (SELECT u FROM edges UNION SELECT v FROM edges)
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ), comp AS (
      SELECT node, MIN(r) AS component FROM reach GROUP BY node
    ), assigned AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           CAST(doc_id = cluster_id AS INTEGER) AS is_rep
    FROM assigned
    """,
    doc="Near-dup CLUSTER resolution: jaccard pairs -> connected "
    "components (alternating large-star/small-star, O(log n) shuffle "
    "rounds) -> one representative per cluster. The stage that turns "
    "any pairwise dedup operator's output into a keep/drop decision "
    "(near-duplication is not transitive, so per-pair deletion "
    "over-deletes); the oracle resolves the same graph with a "
    "recursive CTE.",
)
def dedup_cluster_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-first contraction: identical clusters to raw-pairs CC (the
    # oracle's formulation) at a fraction of the cost on duplicated
    # corpora — see operators.dedup.dedup_clusters.
    return D.dedup_clusters(table(spark, sf_dir, "documents"), n=3, threshold=0.2)


@register(
    "text_repetition_filter",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT(text,' ')) AS INTEGER) AS n_tokens,
             CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text,' '))) AS INTEGER) AS n_distinct
      FROM documents
    ), bg AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' '))),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+1], ' '))) AS bigram
      FROM documents WHERE LEN(STRING_SPLIT(text,' ')) >= 2
    ), counts AS (
      SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram
    ), top AS (
      SELECT doc_id, MAX(cnt) AS top_bigram_count, SUM(cnt) AS n_bigrams
      FROM counts GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           ROUND(1.0 - b.n_distinct::DOUBLE / b.n_tokens, 6) AS dup_token_fraction,
           COALESCE(t.top_bigram_count, 0) AS top_bigram_count,
           COALESCE(ROUND(t.top_bigram_count::DOUBLE / t.n_bigrams, 6), 0.0)
             AS top_bigram_fraction,
           CAST(ROUND(1.0 - b.n_distinct::DOUBLE / b.n_tokens, 6) <= 0.6
                AND COALESCE(ROUND(t.top_bigram_count::DOUBLE / t.n_bigrams, 6), 0.0) <= 0.05
                AS INTEGER) AS keep
    FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
    """,
    doc="Gopher-style repetition quality filter (Rae et al. 2021 §A1.1): "
    "duplicate-token fraction (per-row HOF) + most-common-bigram share "
    "(explode + two-level agg — the scalable per-doc mode) + keep flag. "
    "The pre-training corpus filter that removes boilerplate/looped text.",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row metrics are content-pure: compute once per unique document
    # (exact contraction), fan back out — bit-identical, 10x cheaper on
    # replicated corpora.
    m = D.contracted_rowwise(table(spark, sf_dir, "documents"), X.repetition_metrics)
    keep = (
        (F.col("dup_token_fraction") <= 0.6) & (F.col("top_bigram_fraction") <= 0.05)
    ).cast("int")
    return m.withColumn("keep", keep)


@register(
    "pii_redaction",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || doc_id || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 254 + 1) ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' ref ' || (1000000 + doc_id * 9973) ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
           CAST(LEN(regexp_extract_all(text, '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) AS INTEGER) AS n_ip,
           CAST(LEN(regexp_extract_all(text, '\\d{7,}')) AS INTEGER) AS n_digit_run,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '<IP>', 'g'),
             '\\d{7,}', '<DIGIT_RUN>', 'g') AS clean_text
    FROM aug
    """,
    doc="PII scrubbing over documents: emails / IPv4s / long digit runs "
    "redacted with typed placeholders + per-category counts, all JVM "
    "regex (regexp_count/regexp_replace, RE2-compatible patterns so the "
    "oracle agrees byte-for-byte). The corpus has no PII, so the query "
    "deterministically injects doc_id-derived spans on BOTH engines "
    "before scrubbing — redaction behavior is exercised on ~1/3 of rows "
    "with zero-count rows kept as negatives.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit(" from 10."), (d % 256).cast("string"), F.lit(".0."), (d % 254 + 1).cast("string"))).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.concat(F.lit(" ref "), (F.lit(1000000) + d * 9973).cast("string"))).otherwise(F.lit("")),
    )
    return X.redact_pii(
        docs.select("doc_id", aug.alias("text"))
    ).select("doc_id", "n_email", "n_ip", "n_digit_run", "clean_text")


@register(
    "contamination_check",
    oracle="""
    WITH g AS (
      SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' ')) - 2),
             i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+3], ' '))) AS grams
      FROM documents
    ), bench AS (
      SELECT DISTINCT UNNEST(grams) AS gram FROM g WHERE doc_id % 97 = 0
    ), train AS (SELECT * FROM g WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_overlap
      FROM (SELECT doc_id, UNNEST(grams) AS gram FROM train) t
      JOIN bench USING (gram) GROUP BY t.doc_id
    )
    SELECT t.doc_id, CAST(LEN(t.grams) AS INTEGER) AS n_grams,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           ROUND(COALESCE(h.n_overlap, 0)::DOUBLE / GREATEST(LEN(t.grams), 1), 6) AS overlap_frac,
           CAST(ROUND(COALESCE(h.n_overlap, 0)::DOUBLE / GREATEST(LEN(t.grams), 1), 6) >= 0.02
                AS INTEGER) AS is_contaminated
    FROM train t LEFT JOIN hits h USING (doc_id)
    """,
    doc="Benchmark-contamination detection (GPT-3-style decontamination): "
    "4-gram overlap of every training document against a benchmark set "
    "(docs with doc_id % 97 = 0 stand in for the eval suite). The "
    "benchmark gram set is bounded, so it broadcasts; the corpus side "
    "streams map-side with the per-doc hit count as the only shuffle.",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    # NOT contracted: the scoring is a map-side broadcast semi-join
    # (zero corpus shuffles), so exact-contraction's extra exchanges
    # cost more than they save — measured 6.6 s raw vs 13 s contracted
    # at sf1. Contraction pays for SUPER-LINEAR operators (pair joins,
    # matmuls), not for streaming per-row scans.
    return X.contamination_check(docs, bench, n=4, frac_threshold=0.02)


@register(
    "sequence_packing",
    oracle="""
    WITH toks AS (SELECT doc_id, LEN(STRING_SPLIT(text,' ')) AS n FROM documents),
    chunks AS (
      SELECT doc_id, s.i AS start, LEAST(64, n - s.i) AS ct
      FROM toks, UNNEST(RANGE(0, CAST(n AS BIGINT), 64)) AS s(i)
    ), assigned AS (
      SELECT doc_id, ct, CAST(doc_id % 32 AS INTEGER) AS shard,
             CAST(FLOOR(COALESCE(SUM(ct) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id, start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0) AS BIGINT) AS window_id
      FROM chunks
    )
    SELECT shard, window_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(ct) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM assigned GROUP BY shard, window_id
    """,
    doc="Sequence packing for training: 64-token chunks concatenated "
    "into 256-token context windows, SHARD-LOCAL by doc-id hash so the "
    "cumulative-sum window runs as 32 independent parallel partitions "
    "instead of one global serial order (the classic packing "
    "scale-killer). Emits per-window fill statistics.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    chunks = X.chunk_documents(docs, chunk_tokens=64, stride=64)
    packed = X.pack_sequences(chunks, context_tokens=256, num_shards=32)
    return packed.groupBy("shard", "window_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("n_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "domain_mixture_sample",
    oracle="""
    WITH b AS (
      SELECT lang,
             ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bkt
      FROM documents
    ), r AS (
      SELECT lang, bkt,
             CASE lang WHEN 'en' THEN 10000 WHEN 'fr' THEN 7500 WHEN 'de' THEN 5000
                       WHEN 'zh' THEN 2500 WHEN 'es' THEN 1000 ELSE 0 END AS thresh
      FROM b
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN bkt < thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           ROUND(SUM(CASE WHEN bkt < thresh THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 4)
             AS realized_rate
    FROM r GROUP BY lang
    """,
    doc="Domain-mixture assembly: deterministic per-stratum sampling to "
    "target language proportions (en 100% / fr 75% / de 50% / zh 25% / "
    "es 10%). Membership is a pure function of the row key (md5 bucket "
    "< integer threshold), so the mixture is reproducible across "
    "engines and stable as the corpus grows — unlike seeded Bernoulli "
    "sampling. Emits per-stratum realized rates.",
)
def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.sampling import mixture_sample

    docs = table(spark, sf_dir, "documents")
    rates = {"en": 1.0, "fr": 0.75, "de": 0.5, "zh": 0.25, "es": 0.1}
    sampled = mixture_sample(docs, "lang", rates, key_col="doc_id").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return totals.join(sampled, "lang", "left").select(
        "lang",
        "n_total",
        F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
        F.round(
            F.coalesce(F.col("n_sampled"), F.lit(0)).cast("double") / F.col("n_total"), 4
        ).alias("realized_rate"),
    )


@register(
    "leakage_safe_split",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' ')) - 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+2], ' '))) AS sh
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
            / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))) >= 0.2
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
      SELECT u, u FROM (SELECT u FROM edges UNION SELECT v FROM edges)
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ), comp AS (
      SELECT node, MIN(r) AS component FROM reach GROUP BY node
    ), assigned AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster_id,
           CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 ('0x' || SUBSTR(MD5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
          FROM assigned) t
    """,
    doc="Leakage-safe train/val/test split: hash-split by near-dup "
    "CLUSTER id, not document id, so near-duplicate documents can never "
    "straddle the train/eval boundary (the contamination mode a plain "
    "per-doc split leaves open). Composition: jaccard pairs -> connected "
    "components -> content-addressed 90/5/5 split on the cluster "
    "representative's id.",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.sampling import hash_split

    docs = table(spark, sf_dir, "documents")
    clusters = D.dedup_clusters(docs, n=3, threshold=0.2).select("doc_id", "cluster_id")
    return hash_split(clusters, "cluster_id")


@register(
    "bm25_search",
    oracle="""
    WITH postings AS (
      SELECT doc_id, term, dl, COUNT(*) AS tf FROM (
        SELECT doc_id, LEN(STRING_SPLIT(text,' ')) AS dl,
               UNNEST(STRING_SPLIT(text,' ')) AS term
        FROM documents) t
      WHERE term IN ('spark','join','window')
      GROUP BY doc_id, term, dl
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(LEN(STRING_SPLIT(text,' '))) AS avgdl
      FROM documents
    ), dfreq AS (
      SELECT term, COUNT(*) AS df_t FROM postings GROUP BY term
    )
    SELECT p.doc_id,
           ROUND(CAST(SUM(CAST(
             LN(1.0::DOUBLE + (s.n_docs - d.df_t + 0.5::DOUBLE) / (d.df_t + 0.5::DOUBLE))
             * (p.tf * 2.2::DOUBLE)
               / (p.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * p.dl / s.avgdl))
           AS DECIMAL(27,12))) AS DOUBLE), 6) AS score
    FROM postings p JOIN dfreq d USING (term) CROSS JOIN stats s
    GROUP BY p.doc_id
    """,
    doc="BM25 retrieval scoring against a bounded query vocabulary — "
    "the search primitive for corpus curation and RAG indexing. "
    "Posting lists are filtered to the query terms BEFORE the shuffle; "
    "document frequencies and corpus stats (N, avgdl) ride along as "
    "broadcast 1-row/short relations. Per-term contributions sum as "
    "exact decimals (float SUM is not associative; decimal addition "
    "is), so the score is partition-order deterministic.",
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bm25_scores(
        table(spark, sf_dir, "documents"), query_terms=["spark", "join", "window"]
    )


@register(
    "importance_resample",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS t,
             ('0x' || SUBSTR(MD5(tok), 1, 8))::BIGINT % 256 AS b
      FROM (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents) x
    ), counts AS (
      SELECT b, COUNT(*) AS n_all,
             SUM(CASE WHEN t THEN 1 ELSE 0 END) AS n_tgt
      FROM toks GROUP BY b
    ), tot AS (
      SELECT SUM(n_all) AS na, SUM(n_tgt) AS nt FROM counts
    ), scores AS (
      SELECT b, LN((n_tgt + 1.0) / (nt + 256.0))
                - LN((n_all + 1.0) / (na + 256.0)) AS llr
      FROM counts CROSS JOIN tot
    ), w AS (
      SELECT doc_id, CAST(SUM(CAST(llr AS DECIMAL(27,12))) AS DOUBLE) AS weight
      FROM toks JOIN scores USING (b) GROUP BY doc_id
    )
    SELECT doc_id, ROUND(weight, 6) AS weight, ROUND(skey, 6) AS sample_key
    FROM (
      SELECT doc_id, weight,
             weight - LN(-LN(
               ((('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100000) + 0.5) / 100000.0)) AS skey
      FROM w) s
    ORDER BY skey DESC, doc_id
    LIMIT 100
    """,
    doc="DSIR-style importance resampling (Xie et al. 2023): hashed "
    "bag-of-words log-likelihood ratio of the lang='en' target vs the "
    "full-corpus background (Laplace-smoothed, 256 hash cells — the "
    "feature table is O(cells) regardless of corpus size), summed "
    "per-doc as exact decimals, then a deterministic Gumbel-top-k "
    "sample of 100 docs keyed on md5(doc_id) — reproducible across "
    "engines and repartitions. The selection stage of a "
    "domain-targeted pretraining-data pipeline.",
)
def importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.sampling import (
        gumbel_topk_sample,
        importance_weights,
    )

    docs = table(spark, sf_dir, "documents")
    w = importance_weights(docs, is_target=F.col("lang") == "en", buckets=256)
    out = gumbel_topk_sample(w, k=100)
    return out.select(
        "doc_id",
        F.round("weight", 6).alias("weight"),
        F.round("sample_key", 6).alias("sample_key"),
    )


def _bpe_oracle_sql(num_merges: int = 12) -> str:
    """Unrolled DuckDB replay of BPE training + tokenization — the same
    fixed-round unrolling trick that oracle-ized HITS/LPA/BFS (r3).

    Greedy BPE is deterministic integer arithmetic, so every stage is
    SQL-expressible once the merge recurrence is unrolled: round r
    counts adjacent pairs over the (bounded) word-frequency table,
    picks argmax by (cnt DESC, a, b) — bit-identical to the trainer's
    ``min(counts, key=(-cnt, pair))`` tiebreak — and applies the rule.

    The greedy-left merge application encodes each word's symbol array
    as a chr(31)-delimited string (``US sym US US sym US ... US``, one
    separator on each flank of every symbol) so ONE ``replace(s,
    US||a||US||US||b||US, US||a||b||US)`` is exactly the trainer's
    left-to-right non-overlapping pass (:func:`operators.bpe
    .apply_merges_py`): replace scans left-to-right and resumes after each
    substitution, and the flanking separators survive in the
    replacement so adjacent matches stay joinable. chr(31) is verified
    absent from the corpus (probe committed with this oracle).
    Tokenization then replays the rules over the DISTINCT words of the
    corpus and joins counts back per document.
    """
    sep = "chr(31)"
    s2 = f"{sep} || {sep}"
    enc = (
        f"{sep} || array_to_string(string_split(word, ''), {s2}) "
        f"|| {s2} || '</w>' || {sep}"
    )
    parts = [
        """
    w0 AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents)
      WHERE LEN(word) > 0
      GROUP BY word ORDER BY freq DESC, word LIMIT 65536
    )""",
        f"v0 AS MATERIALIZED (SELECT freq, {enc} AS s FROM w0)",
    ]
    for r in range(num_merges):
        parts += [
            f"""
    l{r} AS (SELECT freq,
             string_split(substr(s, 2, length(s) - 2), {s2}) AS l
             FROM v{r})""",
            f"""
    p{r} AS (SELECT l[i] AS a, l[i + 1] AS b, SUM(freq) AS cnt
             FROM l{r}, UNNEST(range(1, len(l))) AS t(i)
             GROUP BY 1, 2)""",
            f"m{r} AS MATERIALIZED (SELECT a, b FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1)",
            f"""
    v{r + 1} AS MATERIALIZED (SELECT freq,
             replace(s, {sep} || a || {s2} || b || {sep},
                        {sep} || a || b || {sep}) AS s
             FROM v{r} CROSS JOIN m{r})""",
        ]
    parts += [
        """
    dw AS MATERIALIZED (SELECT doc_id, word
           FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
                 FROM documents)
           WHERE LEN(word) > 0)""",
        f"s0 AS MATERIALIZED (SELECT word, {enc} AS s FROM (SELECT DISTINCT word FROM dw))",
    ]
    for r in range(num_merges):
        parts.append(
            f"""
    s{r + 1} AS MATERIALIZED (SELECT word,
             replace(s, {sep} || a || {s2} || b || {sep},
                        {sep} || a || b || {sep}) AS s
             FROM s{r} CROSS JOIN m{r})"""
        )
    parts.append(
        f"""
    wtok AS (SELECT word,
             len(string_split(substr(s, 2, length(s) - 2), {s2})) AS n_sym
             FROM s{num_merges})"""
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT d.doc_id,
           CAST(COALESCE(r.n_tok, 0) AS INTEGER) AS n_bpe_tokens,
           CAST(COALESCE(r.n_w, 0) AS INTEGER) AS n_words
    FROM documents d
    LEFT JOIN (SELECT dw.doc_id, SUM(n_sym) AS n_tok, COUNT(*) AS n_w
               FROM dw JOIN wtok USING (word) GROUP BY dw.doc_id) r
      ON d.doc_id = r.doc_id
    """
    )


@register(
    "bpe_train_tokenize",
    oracle=_bpe_oracle_sql(12),
    doc="REAL BPE (Sennrich et al. 2016), not the regex approximation: "
    "learn 12 merge rules by iterative pair counting on the contracted "
    "distinct-word table: one distributed pass counts words, the "
    "standard frequency truncation bounds the vocab, and the merge loop "
    "runs on that bounded state (deterministic count-desc/pair-asc "
    "argmax; identical rules to an unbounded Python model, tested). "
    "Then "
    "tokenize every "
    "document by replaying the rules in rank order through an "
    "Arrow-batched kernel with a per-batch word cache.",
)
def bpe_train_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import bpe as B

    docs = table(spark, sf_dir, "documents")
    merges = B.bpe_train_counts(docs, num_merges=12)
    return B.bpe_tokenize_counts(docs, merges)


@register(
    "nb_quality_classifier",
    oracle="""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    ttoks AS (
      SELECT doc_id, lang = 'en' AS y,
             ('0x' || SUBSTR(MD5(tok), 1, 8))::BIGINT % 256 AS b
      FROM (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM train) x
    ), counts AS (
      SELECT b, SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n1,
                SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS n0
      FROM ttoks GROUP BY b
    ), tot AS (
      SELECT SUM(n1) AS n1_tot, SUM(n0) AS n0_tot FROM counts
    ), dcnt AS (
      SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS d1,
             SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS d0
      FROM train
    ), wts AS (
      SELECT b, LN((n1 + 1.0) / (n1_tot + 256.0))
                - LN((n0 + 1.0) / (n0_tot + 256.0)) AS w
      FROM counts CROSS JOIN tot
    ), stoks AS (
      SELECT doc_id, ('0x' || SUBSTR(MD5(tok), 1, 8))::BIGINT % 256 AS b
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM test) x
    ), scored AS (
      SELECT s.doc_id,
             LN(CAST(d1 AS DOUBLE) / CAST(d0 AS DOUBLE))
               + CAST(SUM(CAST(COALESCE(w,
                   LN((n0_tot + 256.0) / (n1_tot + 256.0)))
                 AS DECIMAL(27,12))) AS DOUBLE) AS score
      FROM stoks s
      LEFT JOIN wts USING (b) CROSS JOIN tot CROSS JOIN dcnt
      GROUP BY s.doc_id, d1, d0
    )
    SELECT CAST(t.lang = 'en' AS INTEGER) AS actual,
           CAST(score > 0 AS INTEGER) AS predicted,
           COUNT(*) AS n
    FROM scored JOIN test t USING (doc_id)
    GROUP BY 1, 2
    """,
    doc="Model-based quality/domain filtering (the CCNet-style "
    "classifier stage): multinomial Naive Bayes over 256 hashed "
    "bag-of-words cells, trained in ONE aggregation pass on the 80% "
    "doc_id-fold (closed form — no optimizer loop, O(buckets) model "
    "broadcast), evaluated on the held-out fold with Laplace-smoothed "
    "unseen-bucket defaults. Per-doc scores sum token log-odds as "
    "exact decimals so predictions are evaluation-order deterministic; "
    "the oracle replays train+eval end-to-end and the confusion matrix "
    "must hash-match.",
)
def nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.classifier import (
        nb_confusion,
        nb_score,
        nb_train,
    )

    # WEIGHTED-CONTRACTED (r5): training runs on distinct (content,
    # label) rows weighted by their copy count in the train fold —
    # exact-integer counts, bit-identical model — and scoring runs
    # once per distinct test text (content-pure given the model),
    # fanning back to per-doc rows through the content digest before
    # the confusion aggregate.
    docs = table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    trainc = train.groupBy(
        F.md5("text").alias("_pk"), (F.col("lang") == "en").alias("_y")
    ).agg(F.count(F.lit(1)).alias("m"), F.min("text").alias("text"))
    weights, stats = nb_train(
        trainc, label=F.col("_y"), id_col="_pk", buckets=256, weight="m"
    )
    test_keyed = test.select(
        "doc_id", F.md5("text").alias("_pk"), (F.col("lang") == "en").alias("y")
    )
    test_reps = test.groupBy(F.md5("text").alias("_pk")).agg(
        F.min("text").alias("text")
    )
    rep_scores = nb_score(test_reps, weights, stats, id_col="_pk", buckets=256)
    scores = test_keyed.join(rep_scores, "_pk").select("doc_id", "score")
    truth = test_keyed.select("doc_id", "y")
    return nb_confusion(scores, truth)


@register(
    "common_span_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ), posts AS (
      SELECT doc_id, i AS pos,
             ('0x' || SUBSTR(MD5(ARRAY_TO_STRING(ws[i:i+7], ' ')), 1, 15))::BIGINT
                 AS h
      FROM toks, UNNEST(RANGE(1, LEN(ws) - 6)) AS t(i)
      WHERE LEN(ws) >= 8
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM posts a JOIN posts b USING (h)
      WHERE a.doc_id < b.doc_id
    ), runs AS (
      SELECT doc_a, doc_b, pa - pb AS diag,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                     ORDER BY pa) AS isl
      FROM m
    ), rl AS (
      SELECT doc_a, doc_b, diag, isl, COUNT(*) AS run
      FROM runs GROUP BY doc_a, doc_b, diag, isl
    )
    SELECT doc_a, doc_b,
           CAST(SUM(run) AS BIGINT) AS n_shared_windows,
           CAST(MAX(run) + 7 AS INTEGER) AS max_span_tokens
    FROM rl GROUP BY doc_a, doc_b
    HAVING MAX(run) + 7 >= 12
    """,
    doc="Longest shared consecutive token span per doc pair (the "
    "substring-duplication signal of Lee et al. 2022, distributed): "
    "positional 8-token window shingles -> md5 posting-list self-join "
    "-> diagonal island detection (pos_a - pos_b constant, pos_a - "
    "row_number groups maximal runs) -> max run + w - 1 = span length, "
    "pairs with spans >= 12 tokens. Catches a verbatim paragraph pasted "
    "into an otherwise-different document, which set-based Jaccard "
    "dilutes away. Same skew guard (max_doc_freq stop-windows) as the "
    "jaccard operator at scale.",
)
def common_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.longest_common_span(docs, w=8, min_span_tokens=12)


@register(
    "text_c4_quality_rules",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_words,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 4) AS mean_word_len,
           CAST(LEN(STRING_SPLIT(text, ' ')) >= 20 AS INTEGER) AS rule_min_words,
           CAST(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')) BETWEEN 2.0 AND 12.0
                AS INTEGER) AS rule_word_len,
           CAST(RIGHT(text, 1) IN ('.', '!', '?') AS INTEGER) AS rule_terminal_punct,
           CAST(NOT CONTAINS(text, '{') AS INTEGER) AS rule_no_braces,
           CAST(NOT CONTAINS(LOWER(text), 'lorem ipsum') AS INTEGER) AS rule_no_lorem,
           CAST(LEN(STRING_SPLIT(text, ' ')) >= 20
                AND CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                    / LEN(STRING_SPLIT(text, ' ')) BETWEEN 2.0 AND 12.0
                AND RIGHT(text, 1) IN ('.', '!', '?')
                AND NOT CONTAINS(text, '{')
                AND NOT CONTAINS(LOWER(text), 'lorem ipsum')
                AS INTEGER) AS keep
    FROM documents
    """,
    doc="C4-style rule-based quality filter battery (Raffel et al. 2020 "
    "heuristics re-expressed over the documents table): minimum word "
    "count, mean-word-length band, terminal punctuation, code-brace "
    "exclusion, boilerplate ('lorem ipsum') exclusion, and the "
    "conjunctive keep decision. Pure JVM expressions (split/translate/"
    "substring) — zero Python, fully pushdown-friendly, embarrassingly "
    "parallel at any scale.",
)
def text_c4_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    mean_wl = F.length(F.translate("text", " ", "")).cast("double") / n_words
    last_ch = F.substring(F.col("text"), -1, 1)
    r_min = (n_words >= 20).cast("int")
    r_wl = mean_wl.between(2.0, 12.0).cast("int")
    r_punct = last_ch.isin(".", "!", "?").cast("int")
    r_brace = (~F.col("text").contains("{")).cast("int")
    r_lorem = (~F.lower(F.col("text")).contains("lorem ipsum")).cast("int")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        r_min.alias("rule_min_words"),
        r_wl.alias("rule_word_len"),
        r_punct.alias("rule_terminal_punct"),
        r_brace.alias("rule_no_braces"),
        r_lorem.alias("rule_no_lorem"),
        (
            (r_min == 1) & (r_wl == 1) & (r_punct == 1)
            & (r_brace == 1) & (r_lorem == 1)
        ).cast("int").alias("keep"),
    )


@register(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, LENGTH(text) AS n_chars, UNNEST(STRING_SPLIT(text, '')) AS ch
      FROM documents WHERE LENGTH(text) > 0
    ), freq AS (
      SELECT doc_id, n_chars, ch, COUNT(*) AS cnt
      FROM chars GROUP BY doc_id, n_chars, ch
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS INTEGER) AS n_distinct_chars,
           ROUND(CAST(SUM(CAST(
             -(cnt::DOUBLE / n_chars) * LOG2(cnt::DOUBLE / n_chars)
             AS DECIMAL(27,18))) AS DOUBLE), 6) AS char_entropy,
           CAST(ROUND(CAST(SUM(CAST(
             -(cnt::DOUBLE / n_chars) * LOG2(cnt::DOUBLE / n_chars)
             AS DECIMAL(27,18))) AS DOUBLE), 6) < 3.0 AS INTEGER) AS is_low_entropy
    FROM freq GROUP BY doc_id, n_chars
    """,
    doc="Character-entropy quality signal (the CCNet/Gopher-family "
    "gibberish-and-repetition detector): per-document Shannon entropy "
    "over the byte/char distribution, flagging H < 3 bits as low-"
    "entropy (looped chars, padding, binary junk). Per-char explode "
    "collapses map-side to <= |alphabet| rows per doc per partition; "
    "per-char terms are single IEEE products summed as exact decimals, "
    "so the value is evaluation-order-free on both engines.",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").where(F.length("text") > 0)
    chars = fan_out(docs).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    )
    freq = chars.groupBy("doc_id", "n_chars", "ch").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    p = F.col("cnt").cast("double") / F.col("n_chars")
    term = (-p * F.log2(p)).cast("decimal(27,18)")
    ent = F.round(F.sum(term).cast("double"), 6)
    return freq.groupBy("doc_id", "n_chars").agg(
        F.count(F.lit(1)).cast("int").alias("n_distinct_chars"),
        ent.alias("char_entropy"),
        (ent < 3.0).cast("int").alias("is_low_entropy"),
    ).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "n_distinct_chars",
        "char_entropy",
        "is_low_entropy",
    )


@register(
    "dedup_keep_best_quality",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' ')) - 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+2], ' '))) AS sh
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
            / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))) >= 0.2
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
      SELECT u, u FROM (SELECT u FROM edges UNION SELECT v FROM edges)
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ), comp AS (
      SELECT node, MIN(r) AS component FROM reach GROUP BY node
    ), assigned AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id,
             LEN(STRING_SPLIT(d.text, ' ')) AS n_tokens
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), ranked AS (
      SELECT doc_id, cluster_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_tokens DESC, doc_id) AS qrank,
             FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
                                       ORDER BY n_tokens DESC, doc_id) AS survivor_id
      FROM assigned
    )
    SELECT doc_id, cluster_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(qrank = 1 AS INTEGER) AS keep, survivor_id
    FROM ranked
    """,
    doc="Quality-aware dedup survivor selection: near-dup clusters "
    "(jaccard pairs -> connected components) resolved to ONE kept "
    "document per cluster by quality (longest document wins, id "
    "tiebreak) instead of the arbitrary min-id representative — the "
    "actual curation decision ('of these near-duplicates, which one "
    "enters the training set'). One window pass over the cluster "
    "assignment; every dropped row names its survivor.",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    clusters = D.dedup_clusters(docs, n=3, threshold=0.2).select("doc_id", "cluster_id")
    sized = clusters.join(
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_tokens").desc(), "doc_id")
    return sized.select(
        "doc_id",
        "cluster_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
        F.first("doc_id").over(w).alias("survivor_id"),
    )


@register(
    "training_corpus_build",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' ')) - 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+2], ' '))) AS sh
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
            / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))) >= 0.2
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
      SELECT u, u FROM (SELECT u FROM edges UNION SELECT v FROM edges)
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ), comp AS (
      SELECT node, MIN(r) AS component FROM reach GROUP BY node
    ), assigned AS (
      SELECT d.doc_id, d.lang, COALESCE(c.component, d.doc_id) AS cluster_id,
             LEN(STRING_SPLIT(d.text, ' ')) AS n_tokens
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), survivors AS (
      SELECT doc_id, lang, n_tokens FROM (
        SELECT assigned.*,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_tokens DESC, doc_id) AS qrank
        FROM assigned
      ) WHERE qrank = 1
    )
    SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM (SELECT lang, n_tokens,
                 ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 100 AS b
          FROM survivors) t
    GROUP BY 1, 2
    """,
    doc="END-TO-END training-corpus build as ONE composed plan — the "
    "pipeline a user of this engine actually ships: near-dup "
    "clustering (n-gram jaccard pairs -> connected components), "
    "quality-aware survivor selection (longest doc per cluster), "
    "content-addressed 90/5/5 split, and the per-(split, lang) "
    "doc/token budget that feeds a sampler. Every stage is an "
    "existing verified engine operator (dedup.py, sampling.py); the "
    "composition itself is what this query pins — the oracle replays "
    "the full chain (recursive-CTE components included) and the "
    "20-row budget table must hash-match end to end. Scale: the "
    "jaccard+CC stages dominate and carry their documented guards "
    "(stop-shingle cap, exact-contraction, O(log n) CC rounds); "
    "everything after the survivor window is map-side + one final "
    "aggregate.",
)
def training_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tfl_realtime_lakehouse_spark.operators.sampling import hash_split

    docs = table(spark, sf_dir, "documents")
    clusters = D.dedup_clusters(docs, n=3, threshold=0.2).select(
        "doc_id", "cluster_id"
    )
    sized = clusters.join(
        docs.select(
            "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
        ),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_tokens").desc(), "doc_id")
    survivors = (
        sized.withColumn("qrank", F.row_number().over(w))
        .where("qrank = 1")
        .select("doc_id", "lang", "n_tokens")
    )
    return (
        hash_split(survivors, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


@register(
    "dedup_normalized_docs",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             MD5(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'))
                 AS norm_digest
      FROM documents
    )
    SELECT norm_digest, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keep_doc_id
    FROM norm GROUP BY norm_digest HAVING COUNT(*) >= 1
    """,
    doc="Normalization-insensitive exact dedup: casefold + strip "
    "non-alphanumerics BEFORE digesting, so 'Hello, World!' and "
    "'hello world' collapse to one group — the canonicalization tier "
    "between byte-exact dedup (misses trivial edits) and MinHash "
    "(overkill for case/punct noise). Same scale shape as "
    "dedup_exact_docs: the shuffle key is the fixed-width digest of "
    "the normalized text, never the document body, and the normalize "
    "chain is pure JVM regexp (map-side, fused into the scan).",
)
def dedup_normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    norm = F.md5(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    ).alias("norm_digest")
    return (
        docs.select("doc_id", norm)
        .groupBy("norm_digest")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


@register(
    "text_vocab_oov_rate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rnk
        FROM toks GROUP BY w
      ) WHERE rnk <= 500
    ),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_in
      FROM toks t SEMI JOIN vocab v ON v.w = t.w
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(LEN(STRING_SPLIT(d.text, ' ')) - COALESCE(h.n_in, 0) AS BIGINT)
               AS n_oov,
           ROUND(CAST(LEN(STRING_SPLIT(d.text, ' ')) - COALESCE(h.n_in, 0)
                      AS DOUBLE)
                 / LEN(STRING_SPLIT(d.text, ' ')), 6) AS oov_rate
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
    doc="Vocabulary coverage / OOV rate per document against a "
    "corpus-derived top-500 vocabulary (exact counts, deterministic "
    "count-desc/word-asc cut) — the tokenizer-fit metric of corpus "
    "curation: a spiking OOV rate flags domain drift or encoding "
    "junk before a tokenizer ever sees the data. Plan: one exact "
    "word count (map-side combined), a top-k cut that is MODEL-sized "
    "(the vocabulary) and broadcasts into a semi join against the "
    "token stream, one per-doc aggregate keyed by doc_id. The "
    "vocabulary cut is exact; the word count is the only corpus-sized "
    "aggregate.",
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy(F.desc("cnt"), F.col("w"))
    vocab = (
        counts.withColumn("rnk", F.row_number().over(wv))
        .where("rnk <= 500")
        .select("w")
    )
    hits = (
        toks.join(F.broadcast(vocab), "w", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_in"))
    )
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    return (
        docs.select("doc_id", n_tokens.alias("n_tokens"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_in"), F.lit(0)))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                (F.col("n_tokens") - F.coalesce(F.col("n_in"), F.lit(0))).cast(
                    "double"
                )
                / F.col("n_tokens"),
                6,
            ).alias("oov_rate"),
        )
    )


@register(
    "text_tfidf_topterms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf AS DECIMAL(18,0))
             * CAST(LN((CAST(n.n_docs AS DOUBLE) + 1.0::DOUBLE)
                       / (CAST(df.df AS DOUBLE) + 1.0::DOUBLE))
                    + 1.0::DOUBLE AS DECIMAL(18,12)) AS score_d
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           ROUND(CAST(score_d AS DOUBLE), 6) AS score, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT scored.*,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score_d DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
    doc="TF-IDF top-5 terms per document — keyword extraction for "
    "corpus curation and retrieval indexing. One token explode feeds "
    "both the per-(doc, term) tf aggregate and the per-term document "
    "frequency; idf = ln((N+1)/(df+1)) + 1 (smoothed, sklearn "
    "convention) joins back on term, with the 1-row corpus count as "
    "a broadcast cross join. Determinism: the double LN is cast to "
    "DECIMAL(18,12) BEFORE the tf multiply and the top-5 ranking, so "
    "ordering compares exact decimals (a 1-ulp libm divergence "
    "at the 12th decimal is the only residual risk, vs ordering on "
    "raw doubles where every near-tie is a coin flip); row_number "
    "ties break on term. Two shuffles (term df join, doc window). "
    "WEIGHTED-CONTRACTED (r5): tf rows, the top-5 ranking and the "
    "score are content-pure, and df/N count duplicates exactly via "
    "per-distinct-text multiplicities (df = sum of m over distinct "
    "texts containing the term, N = sum of m), so the explode, both "
    "aggregates and the ranking window all run once per distinct "
    "text with a digest join-back fanning rows to every copy. Also "
    "folds the former second explode: df now derives from the tf "
    "frame instead of re-tokenizing the corpus.",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", F.md5("text").alias("_pk"))
    reps = docs.groupBy(F.md5("text").alias("_pk")).agg(
        F.count(F.lit(1)).alias("m"), F.min("text").alias("text")
    )
    tf = (
        reps.select("_pk", "m", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("_pk", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("m").alias("m"))
    )
    df = tf.groupBy("term").agg(F.sum("m").alias("df"))
    n = reps.agg(F.sum("m").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "_pk",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("decimal(18,0)")
                * (
                    F.log(
                        (F.col("n_docs").cast("double") + F.lit(1.0))
                        / (F.col("df").cast("double") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ).cast("decimal(18,12)")
            ).alias("score_d"),
        )
    )
    wr = Window.partitionBy("_pk").orderBy(F.col("score_d").desc(), "term")
    top = scored.withColumn("rnk", F.row_number().over(wr)).where(
        F.col("rnk") <= 5
    )
    return keyed.join(top, "_pk").select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        F.round(F.col("score_d").cast("double"), 6).alias("score"),
        F.col("rnk").cast("int").alias("rnk"),
    )


@register(
    "docs_shard_manifest",
    oracle="""
    WITH c AS (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
      FROM documents
    )
    SELECT doc_id, source,
           CAST(n_chars AS BIGINT) AS n_bytes,
           CAST(FLOOR(CAST(cum - n_chars AS DOUBLE) / 65536.0) AS BIGINT)
             AS shard_id,
           CAST(cum - n_chars
                - CAST(FLOOR(CAST(cum - n_chars AS DOUBLE) / 65536.0) AS BIGINT)
                  * 65536 AS BIGINT) AS shard_offset
    FROM c
    """,
    doc="WebDataset-style shard manifest: documents are packed into "
    "~64 KiB shards per source by a running byte cumsum over the "
    "(source, doc_id) total order — shard_id = exclusive-prefix / "
    "shard_size, shard_offset = position within the shard. This is "
    "the deterministic shard-assignment plan a training-data export "
    "runs before writing tar shards; keying the cumsum by source "
    "keeps every window partition to one source's manifest (the "
    "same bounded-partition design as the sequence-packing query) "
    "instead of one global serial scan. All-integer arithmetic — "
    "exact in both engines.",
)
def docs_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum"),
    )
    excl = F.col("cum") - F.col("n_chars")
    shard = F.floor(excl.cast("double") / F.lit(65536.0)).cast("bigint")
    return c.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_bytes"),
        shard.alias("shard_id"),
        (excl - shard * F.lit(65536)).cast("bigint").alias("shard_offset"),
    )


@register(
    "sample_weighted_priority",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             CAST(
               LN((('0x' || SUBSTR(MD5('es:' || CAST(doc_id AS VARCHAR)), 1, 15))
                     ::BIGINT + 1)
                  / 1152921504606846976.0::DOUBLE)
               / CAST(GREATEST(n_chars, 1) AS DOUBLE)
             AS DECIMAL(20, 15)) AS priority
      FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
           CAST(priority AS DOUBLE) AS priority,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT t.*,
                 ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rnk
          FROM (SELECT * FROM keyed
                ORDER BY priority DESC, doc_id LIMIT 20) t)
    """,
    doc="Weighted sampling WITHOUT replacement via the Efraimidis–"
    "Spirakis priority key: u = (h+1)/2⁶⁰ from the seeded 60-bit md5 "
    "hash, priority = ln(u)/w (order-isomorphic to the classic "
    "u^(1/w)), global top-20 by priority — each doc's inclusion "
    "probability is proportional to weight (n_chars), reproducible "
    "run-to-run because the randomness is content-addressed hashing, "
    "not an RNG. Scale: ORDER BY+LIMIT compiles to Spark's "
    "TakeOrdered (per-partition partial top-k, then a k-row merge) — "
    "no global sort, no single-partition window over the corpus; the "
    "rank column is attached AFTER the 20-row cut. Determinism: the "
    "double LN is cast to DECIMAL(20,15) BEFORE ranking (the TF-IDF "
    "pattern), ties break on doc_id, zero-weight docs clamp to w=1.",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("es:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (
            F.log((h + F.lit(1)) / F.lit(1152921504606846976.0))
            / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
        )
        .cast("decimal(20,15)")
        .alias("priority"),
    )
    top = keyed.orderBy(F.col("priority").desc(), "doc_id").limit(20)
    w = Window.orderBy(F.col("priority").desc(), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("weight"),
        F.col("priority").cast("double").alias("priority"),
        F.col("rnk").cast("int").alias("rnk"),
    )


@register(
    "text_containment_pairs",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' ')) - 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+2], ' '))) AS sh
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS BIGINT) AS n_shared,
           ROUND(LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
                 / LEAST(LEN(a.sh), LEN(b.sh))::DOUBLE, 6) AS containment
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
          / LEAST(LEN(a.sh), LEN(b.sh))::DOUBLE >= 0.5
    """,
    doc="Asymmetric n-gram containment pairs — |A∩B|/min(|A|,|B|) ≥ "
    "0.5 catches subset duplicates (a short doc embedded in a long "
    "one) that Jaccard structurally misses. Same inverted-index "
    "posting-join plan and exact-contraction wrapper as the Jaccard "
    "query (the oracle brute-forces the semantics); integer counts, "
    "one rounded division.",
)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_containment_pairs(
        table(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


@register(
    "text_unigram_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    lm AS (SELECT w, COUNT(*) AS nw FROM toks GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM toks),
    scored AS (
      SELECT t.doc_id,
             CAST(LN(CAST(lm.nw AS DOUBLE) / n.nt) AS DECIMAL(27, 12)) AS lp
      FROM toks t JOIN lm USING (w) CROSS JOIN n
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(EXP(-(CAST(SUM(lp) AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE)), 4)
             AS perplexity
    FROM scored GROUP BY doc_id
    """,
    doc="Unigram language-model perplexity per document — the CCNet-"
    "style LM quality filter (low perplexity under an in-domain LM = "
    "fluent text, high = noise), here with the corpus itself as the "
    "LM so every token has mass (no OOV smoothing needed). One "
    "explode feeds both the LM counts and the scoring pass; the "
    "per-token log-probs join back on the token (shuffle equi-join — "
    "the vocab is corpus-derived, not broadcastable by assumption) "
    "and sum as exact decimals per doc (the BM25 discipline); one "
    "final exp/division rounded at 4 dp. PP = exp(−Σ ln p(w) / n).",
)
def text_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WEIGHTED-CONTRACTED (r5, the bigram query's discipline): LM
    # counts are per-distinct-text occurrence rows times the content
    # multiplicity (exact integers), scoring runs once per distinct
    # text, and copies inherit their representative's bit-identical
    # decimal log-prob sum through a digest join-back.
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", F.md5("text").alias("_pk"))
    reps = docs.groupBy(F.md5("text").alias("_pk")).agg(
        F.count(F.lit(1)).alias("m"), F.min("text").alias("text")
    )
    toks = reps.select(
        "_pk", "m", F.explode(F.split("text", " ")).alias("w")
    )
    lm = toks.groupBy("w").agg(F.sum("m").cast("bigint").alias("nw"))
    n = lm.agg(F.sum("nw").cast("double").alias("nt"))
    scored = (
        toks.join(lm, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "_pk",
            F.log(F.col("nw").cast("double") / F.col("nt"))
            .cast("decimal(27,12)")
            .alias("lp"),
        )
    )
    per_text = scored.groupBy("_pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(
            F.exp(-(F.sum("lp").cast("double")) / F.count(F.lit(1)).cast("double")), 4
        ).alias("perplexity"),
    )
    return keyed.join(per_text, "_pk").select(
        "doc_id", "n_tokens", "perplexity"
    )


@register(
    "dedup_minhash_recall_eval",
    oracle=None,  # composed below after both component oracles exist
    doc="Dedup-quality evaluation: the MinHash+LSH+verify pipeline "
    "measured AGAINST the exact inverted-index Jaccard pairs on the "
    "same corpus and threshold — n_exact / n_approx / n_common, "
    "recall (the banding's theoretical 1−(1−s^r)^b realized on this "
    "data) and precision (1.0 by construction: candidates are "
    "exact-verified before emission; the count proves it). The "
    "evaluation harness a curation team runs before trusting an "
    "approximate dedup tier at 100 TB — both pair relations are "
    "output-sized, the comparison is one full-outer join on the "
    "pair key. Oracle: the two component oracles composed verbatim, "
    "so the metrics hash-check end-to-end.",
)
def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    exact = D.ngram_jaccard_pairs(docs, n=3, threshold=0.2).select("doc_a", "doc_b")
    approx = _minhash_verified_pairs(docs).select("doc_a", "doc_b")
    e = exact.withColumn("_e", F.lit(1))
    a = approx.withColumn("_a", F.lit(1))
    both = e.join(a, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.sum(F.when(F.col("_e").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.when(F.col("_a").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_approx"),
        F.sum(F.when(F.col("_e").isNotNull() & F.col("_a").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_common"),
    ).select(
        "n_exact",
        "n_approx",
        "n_common",
        F.round(
            F.col("n_common").cast("double") / F.col("n_exact").cast("double"), 6
        ).alias("recall"),
        F.round(
            F.col("n_common").cast("double") / F.col("n_approx").cast("double"), 6
        ).alias("precision"),
    )


# Compose the evaluation oracle from the two component oracles verbatim
# (the driver's registry is already built at import time, so patch in
# place before the module finishes importing).
from tfl_realtime_lakehouse_spark.queries.registry import REGISTRY as _REG  # noqa: E402

_eval_oracle = f"""
    WITH exact_p AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({_REG["ngram_jaccard_pairs"].oracle})
    ),
    approx_p AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({_minhash_oracle_sql(16, 4)})
    ),
    joined AS (
      SELECT COALESCE(e.doc_a, a.doc_a) AS doc_a,
             COALESCE(e.doc_b, a.doc_b) AS doc_b,
             e.doc_a IS NOT NULL AS in_e,
             a.doc_a IS NOT NULL AS in_a
      FROM exact_p e FULL OUTER JOIN approx_p a
        ON e.doc_a = a.doc_a AND e.doc_b = a.doc_b
    )
    SELECT CAST(SUM(CASE WHEN in_e THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_approx,
           CAST(SUM(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) AS BIGINT)
             AS n_common,
           ROUND(CAST(SUM(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN in_e THEN 1 ELSE 0 END) AS DOUBLE), 6)
             AS recall,
           ROUND(CAST(SUM(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS DOUBLE), 6)
             AS precision
    FROM joined
"""
_REG["dedup_minhash_recall_eval"] = _REG["dedup_minhash_recall_eval"].__class__(
    name="dedup_minhash_recall_eval",
    fn=_REG["dedup_minhash_recall_eval"].fn,
    oracle=_eval_oracle,
    doc=_REG["dedup_minhash_recall_eval"].doc,
)


@register(
    "docs_length_drift_ks",
    oracle="""
    WITH vals AS (SELECT DISTINCT n_chars AS v FROM documents),
    srcs AS (
      SELECT source, COUNT(*) AS ns FROM documents GROUP BY 1
    ),
    corpus_c AS (
      SELECT n_chars AS v, COUNT(*) AS dc FROM documents GROUP BY 1
    ),
    src_c AS (
      SELECT source, n_chars AS v, COUNT(*) AS ds
      FROM documents GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.source, s.ns, vals.v,
             COALESCE(sc.ds, 0) AS ds, cc.dc
      FROM srcs s CROSS JOIN vals
      JOIN corpus_c cc ON cc.v = vals.v
      LEFT JOIN src_c sc ON sc.source = s.source AND sc.v = vals.v
    ),
    cums AS (
      SELECT source, ns, v,
             SUM(ds) OVER (PARTITION BY source ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cs,
             SUM(dc) OVER (PARTITION BY source ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cc,
             (SELECT COUNT(*) FROM documents) AS n
      FROM grid
    )
    SELECT source, CAST(MAX(ns) AS BIGINT) AS n_source,
           ROUND(CAST(MAX(ABS(cs * n - cc * ns)) AS DOUBLE)
                 / (CAST(MAX(ns) AS DOUBLE) * CAST(MAX(n) AS DOUBLE)), 6)
             AS ks_stat,
           ROUND(CAST(MAX(ABS(cs * n - cc * ns)) AS DOUBLE)
                 / (CAST(MAX(ns) AS DOUBLE) * CAST(MAX(n) AS DOUBLE))
                 * SQRT(CAST(MAX(ns) AS DOUBLE) * CAST(MAX(n) AS DOUBLE)
                        / (CAST(MAX(ns) AS DOUBLE) + CAST(MAX(n) AS DOUBLE))), 6)
             AS ks_lambda
    FROM cums GROUP BY source
    """,
    doc="Distribution-drift monitor: per-source two-sample Kolmogorov–"
    "Smirnov statistic of the document-length distribution against "
    "the whole corpus — the domain-shift tripwire a training-data "
    "pipeline runs per ingest source (λ ≳ 1.36 ⇒ drift at α=0.05). "
    "Exact arithmetic throughout: ECDFs compare as the INTEGER "
    "cross-product |cs·N − cc·ns| (no float ECDF subtraction), "
    "maximized over a (source × length-domain) grid — both "
    "dimensions DOMAIN-bounded (the skyline/X116 window argument), "
    "with the corpus-sized work in two hash aggregates. One double "
    "division + sqrt at the end, rounded at 6 dp.",
)
def docs_length_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    vals = docs.select(F.col("n_chars").alias("v")).distinct()
    srcs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    corpus_c = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("dc")
    )
    src_c = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("ds")
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        srcs.crossJoin(vals)
        .join(corpus_c, "v")
        .join(src_c, ["source", "v"], "left")
        .select(
            "source",
            "ns",
            "v",
            F.coalesce("ds", F.lit(0)).alias("ds"),
            "dc",
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = grid.crossJoin(F.broadcast(n_total)).select(
        "source",
        "ns",
        "v",
        F.sum("ds").over(w).alias("cs"),
        F.sum("dc").over(w).alias("cc"),
        "n",
    )
    dev = F.abs(F.col("cs") * F.col("n") - F.col("cc") * F.col("ns"))
    agg = cums.groupBy("source").agg(
        F.max("ns").cast("bigint").alias("n_source"),
        F.max(dev).alias("mdev"),
        F.max("ns").cast("double").alias("nsd"),
        F.max("n").cast("double").alias("nd"),
    )
    ks = F.col("mdev").cast("double") / (F.col("nsd") * F.col("nd"))
    return agg.select(
        "source",
        "n_source",
        F.round(ks, 6).alias("ks_stat"),
        F.round(
            ks
            * F.sqrt(
                F.col("nsd") * F.col("nd") / (F.col("nsd") + F.col("nd"))
            ),
            6,
        ).alias("ks_lambda"),
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH wf AS (
      SELECT w, COUNT(*) AS n FROM (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
      GROUP BY 1
    ),
    ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rnk FROM wf
    ),
    pts AS (
      SELECT CAST(LN(CAST(rnk AS DOUBLE)) AS DECIMAL(27, 12)) AS x,
             CAST(LN(CAST(n AS DOUBLE)) AS DECIMAL(27, 12)) AS y
      FROM ranked
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS m,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT CAST(m AS BIGINT) AS vocab_size,
           ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS zipf_exponent,
           ROUND((m * sxy - sx * sy) * (m * sxy - sx * sy)
                 / ((m * sxx - sx * sx) * (m * syy - sy * sy)), 6) AS r2
    FROM sums
    """,
    doc="Zipf's-law fit of the corpus vocabulary: OLS of ln(freq) on "
    "ln(rank) — natural text shows exponent ≈ −1 with high R², and "
    "deviation flags synthetic/templated/spammy corpora (a standard "
    "corpus-health check beside perplexity and entropy). Rank comes "
    "from one window over the VOCAB-domain relation (ties broken on "
    "the word — vocabulary-sized, not token-sized; the corpus-sized "
    "work is the explode + count); ln points are decimal-cast before "
    "the sufficient-statistic sums (the X91 OLS discipline) and the "
    "normal equations run once on the 1-row summary, rounded at "
    "6 dp.",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), "w")
    pts = wf.select(
        F.log(F.row_number().over(w).cast("double"))
        .cast("decimal(27,12)")
        .alias("x"),
        F.log(F.col("n").cast("double")).cast("decimal(27,12)").alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    cxy = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    cxx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    cyy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        F.col("m").cast("bigint").alias("vocab_size"),
        F.round(cxy / cxx, 6).alias("zipf_exponent"),
        F.round(cxy * cxy / (cxx * cyy), 6).alias("r2"),
    )


@register(
    "text_bigram_interpolated_perplexity",
    oracle="""
    WITH l AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS nw
      FROM (SELECT UNNEST(toks) AS w FROM l) GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(nw) AS DOUBLE) AS nt FROM uni),
    bi AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM l, UNNEST(range(1, len(toks))) t(i)
    ),
    cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nb FROM bi GROUP BY 1, 2),
    scored AS (
      SELECT b.doc_id,
             CAST(LN(0.75 * (CAST(cb.nb AS DOUBLE) / CAST(u1.nw AS DOUBLE))
                     + 0.25 * (CAST(u2.nw AS DOUBLE) / n.nt))
                  AS DECIMAL(27, 12)) AS lp
      FROM bi b
      JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
      JOIN uni u1 ON u1.w = b.w1
      JOIN uni u2 ON u2.w = b.w2
      CROSS JOIN n
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(EXP(-(CAST(SUM(lp) AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE)), 4)
             AS perplexity
    FROM scored GROUP BY doc_id
    """,
    doc="Bigram language-model perplexity with Jelinek-Mercer "
    "interpolation (λ=0.75 bigram, 0.25 unigram backoff) — the "
    "stronger CCNet-style fluency filter: unigram perplexity scores "
    "vocabulary, bigram scores WORD ORDER, so shuffled or "
    "template-stitched text that fools the unigram filter lights up "
    "here. Bigrams come from an array zip (slice+zip_with, one "
    "explode — no window pass); counts are exact; the interpolated "
    "probability is computed in ONE shared double tree, per-token "
    "log-probs pinned as 12-dp decimals before the exact per-doc sum "
    "(the unigram query's discipline), final exp rounded at 4 dp. "
    "All shuffles key on tokens or doc_id — corpus-sized vocab "
    "stays distributed, nothing broadcast by assumption. "
    "WEIGHTED-CONTRACTED (r5): both the LM counts and the scoring "
    "run over DISTINCT texts — unigram/bigram counts are per-text "
    "occurrence counts times the content multiplicity (exact "
    "integers, so corpus counts are unchanged), and a duplicate "
    "copy's per-doc decimal log-prob sum is bit-identical to its "
    "representative's, so scores join back through the content "
    "digest. The contraction variant corpus-STATISTICS operators "
    "need: duplicates still weight the model, but the expensive "
    "occurrence-level scoring join runs once per distinct text.",
)
def text_bigram_interpolated_perplexity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", F.md5("text").alias("_pk"))
    reps = (
        docs.groupBy(F.md5("text").alias("_pk"))
        .agg(F.count(F.lit(1)).alias("m"), F.min("text").alias("text"))
        .select("_pk", "m", F.split("text", " ").alias("toks"))
    )
    bi = reps.select(
        "_pk",
        "m",
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("_pk", "m", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # Corpus counts = per-distinct-text occurrence rows weighted by the
    # content multiplicity — exact integers, identical to counting the
    # raw corpus.
    uni = (
        reps.select("m", F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.sum("m").cast("bigint").alias("nw"))
    )
    n = uni.agg(F.sum("nw").cast("double").alias("nt"))
    cb = bi.groupBy("w1", "w2").agg(F.sum("m").cast("bigint").alias("nb"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("nw").alias("n1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("nw").alias("n2"))
    p = F.lit(0.75) * (F.col("nb").cast("double") / F.col("n1").cast("double")) + F.lit(
        0.25
    ) * (F.col("n2").cast("double") / F.col("nt"))
    scored = (
        bi.join(cb, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select("_pk", F.log(p).cast("decimal(27,12)").alias("lp"))
    )
    per_text = scored.groupBy("_pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            F.exp(-(F.sum("lp").cast("double")) / F.count(F.lit(1)).cast("double")), 4
        ).alias("perplexity"),
    )
    return keyed.join(per_text, "_pk").select(
        "doc_id", "n_bigrams", "perplexity"
    )


@register(
    "sample_stratified_fixed_k",
    oracle="""
    WITH pri AS (
      SELECT lang, doc_id,
             ('0x' || SUBSTR(MD5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT AS pri
      FROM documents
    ),
    ranked AS (
      SELECT lang, doc_id, pri,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn
      FROM pri
    )
    SELECT lang, doc_id, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 20
    """,
    doc="Stratified fixed-k sampling — the balanced-class draw a "
    "training-data pipeline needs (equal representation per language/"
    "source regardless of stratum skew): per stratum keep the k rows "
    "with the smallest seeded md5 priority. Uniform-without-"
    "replacement within each stratum (hashes of distinct ids are "
    "i.i.d. uniform), EXACTLY k per stratum, and reproducible from "
    "the seed alone — re-running on a grown corpus keeps previously "
    "sampled rows comparable (priorities never change; the classic "
    "consistent-sampling property hash-seeded draws give for free). "
    "Plan: one map to compute priorities, one per-stratum top-k "
    "window (TakeOrdered under AQE — no global sort). Complements "
    "sample_weighted_priority (Efraimidis-Spirakis weighted) with "
    "the uniform-per-stratum contract.",
)
def sample_stratified_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pri = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("lang").orderBy("pri", "doc_id")
    return (
        docs.select("lang", "doc_id", pri.alias("pri"))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 20)
        .select("lang", "doc_id", "rn")
    )


@register(
    "text_vocab_coverage_curve",
    oracle="""
    WITH tf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS nw
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
      WHERE LEN(w) > 0 GROUP BY 1
    ),
    ranked AS (
      SELECT w, nw,
             ROW_NUMBER() OVER (ORDER BY nw DESC, w) AS rnk,
             SUM(nw) OVER (ORDER BY nw DESC, w
                           ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(nw) OVER () AS total
      FROM tf
    )
    SELECT CAST(rnk AS BIGINT) AS vocab_size, w AS boundary_token,
           CAST(cum AS BIGINT) AS tokens_covered,
           ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS coverage
    FROM ranked
    WHERE rnk IN (1, 2, 4, 8, 16, 24, 31) OR CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) >= 0.999
    """,
    doc="Vocabulary coverage curve — the tokenizer-sizing question "
    "('how big a vocab covers 99.9% of the corpus?') answered from "
    "one token-frequency aggregate: rank tokens by frequency (ties "
    "alphabetical for determinism), cumulative-sum coverage, report "
    "the curve at power-of-two checkpoints plus the 99.9% knee. At "
    "100 TB the ranked relation is vocab-sized (Heaps-bounded), the "
    "corpus-sized work is the one map-side-combined count; the "
    "cumulative window runs on the contracted table. Pairs with "
    "bpe_train_tokenize (how many merges) and text_vocab_oov_rate "
    "(what the cut excludes).",
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nw"))
    )
    w_rank = Window.orderBy(F.col("nw").desc(), "w")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = tf.select(
        "w",
        "nw",
        F.row_number().over(w_rank).cast("bigint").alias("vocab_size"),
        F.sum("nw").over(w_cum).alias("tokens_covered"),
        F.sum("nw").over(w_all).alias("total"),
    )
    coverage = F.col("tokens_covered").cast("double") / F.col("total").cast("double")
    return (
        ranked.where(
            F.col("vocab_size").isin(1, 2, 4, 8, 16, 24, 31)
            | (coverage >= 0.999)
        )
        .select(
            "vocab_size",
            F.col("w").alias("boundary_token"),
            "tokens_covered",
            F.round(coverage, 6).alias("coverage"),
        )
    )


@register(
    "text_tfidf_cosine_pairs",
    oracle="""
    WITH g AS (
      SELECT text, CAST(MIN(doc_id) AS BIGINT) AS rep
      FROM documents GROUP BY text
    ),
    toks AS (SELECT rep, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM g),
    tf AS (SELECT rep, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM g),
    wts AS (
      SELECT rep, tf.term,
             CAST(tf AS DOUBLE) * LN(nn.nd / CAST(df_t AS DOUBLE)) AS w
      FROM tf JOIN dfq USING (term) CROSS JOIN nn
      WHERE df_t <= 250
    ),
    norms AS (
      SELECT rep, SUM(CAST(w * w AS DECIMAL(27, 12))) AS n2
      FROM wts GROUP BY 1
    ),
    dots AS (
      SELECT a.rep AS ra, b.rep AS rb,
             SUM(CAST(a.w * b.w AS DECIMAL(27, 12))) AS dot
      FROM wts a JOIN wts b ON a.term = b.term AND a.rep < b.rep
      GROUP BY 1, 2
    ),
    mem AS (SELECT d.doc_id, g.rep FROM documents d JOIN g USING (text)),
    expanded AS (
      SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
             GREATEST(ma.doc_id, mb.doc_id) AS doc_b,
             ROUND(CAST(dot AS DOUBLE)
                   / (SQRT(CAST(na.n2 AS DOUBLE))
                      * SQRT(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
      FROM dots
      JOIN mem ma ON ma.rep = dots.ra
      JOIN mem mb ON mb.rep = dots.rb
      JOIN norms na ON na.rep = dots.ra
      JOIN norms nb ON nb.rep = dots.rb
    ),
    diag AS (
      SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b,
             ROUND(CAST(n.n2 AS DOUBLE)
                   / (SQRT(CAST(n.n2 AS DOUBLE))
                      * SQRT(CAST(n.n2 AS DOUBLE))), 6) AS cosine
      FROM norms n
      JOIN mem ma ON ma.rep = n.rep
      JOIN mem mb ON mb.rep = n.rep
      WHERE ma.doc_id < mb.doc_id
    )
    SELECT * FROM (SELECT * FROM expanded UNION ALL SELECT * FROM diag)
    WHERE cosine >= 0.5
    """,
    doc="Sparse TF-IDF cosine document pairs — the bag-of-words "
    "similarity tier between shingle Jaccard (surface n-gram overlap) "
    "and embedding cosine (dense semantics): shared RARE vocabulary "
    "weighted by idf, robust to the reorderings that break shingles, "
    "no model required. Inverted-index postings join with the "
    "max_doc_freq=250 stop-token bound applied to the FEATURE SPACE "
    "(weights, norms and dots all live in the same reduced space — "
    "dropping stop tokens only from the join would understate norms); "
    "idf over UNIQUE content (dedup-before-statistics — copies must "
    "not inflate df), exact-decimal dot/norm sums, one shared double "
    "tree for the cosine, 6 dp. Contraction-wrapped per the standing "
    "rule; the oracle replays rep-pairs + member expansion + the "
    "sqrt-rounded diagonal verbatim.",
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.text import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        table(spark, sf_dir, "documents"), threshold=0.5, max_doc_freq=250
    )


@register(
    "training_mixture_temperature",
    oracle="""
    WITH src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS n FROM src),
    q AS (
      SELECT source, n_docs,
             POW(CAST(n_docs AS DOUBLE) / tot.n, 0.7::DOUBLE) AS w
      FROM src CROSS JOIN tot
    ),
    qn AS (
      SELECT source, n_docs, w / (SELECT SUM(w) FROM q) AS qs,
             (SELECT n FROM tot) AS n
      FROM q
    ),
    rates AS (
      SELECT source, n_docs, qs,
             LEAST(1.0::DOUBLE,
                   (0.5::DOUBLE * n) * qs / CAST(n_docs AS DOUBLE)) AS rate
      FROM qn
    ),
    kept AS (
      SELECT d.source, COUNT(*) AS n_sampled
      FROM documents d JOIN rates r USING (source)
      WHERE CAST(('0x' || SUBSTR(MD5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                 ::BIGINT AS DOUBLE) / 1152921504606846976.0::DOUBLE < r.rate
      GROUP BY 1
    )
    SELECT r.source, r.n_docs,
           ROUND(r.qs, 6) AS mixture_weight,
           ROUND(r.rate, 6) AS sample_rate,
           CAST(COALESCE(k.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM rates r LEFT JOIN kept k USING (source)
    """,
    doc="Temperature-based domain mixing (τ = 0.7) — the standard "
    "LLM-pretraining recipe (GPT-3/LLaMA style) for rebalancing a "
    "multi-source corpus: mixture weight q_s ∝ p_s^τ upweights rare "
    "sources relative to their natural share, per-source sampling "
    "rate targets half the corpus under the mixture, capped at 1 "
    "(a source smaller than its quota is taken whole — the cap is "
    "why τ-mixing needs no replacement sampling until rates "
    "saturate). The keep decision is a seeded md5-fraction per doc — "
    "deterministic, consistent under corpus growth (the stratified-"
    "sampling property), and exactly replayed by the oracle. One "
    "count aggregate + one map-side filter; the rate table is "
    "|sources| rows.",
)
def training_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = src.agg(F.sum("n_docs").cast("double").alias("n"))
    q = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n",
        F.pow(F.col("n_docs").cast("double") / F.col("n"), F.lit(0.7)).alias("w"),
    )
    wsum = q.agg(F.sum("w").alias("ws"))
    rates = q.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_docs",
        (F.col("w") / F.col("ws")).alias("qs"),
        F.least(
            F.lit(1.0),
            (F.lit(0.5) * F.col("n"))
            * (F.col("w") / F.col("ws"))
            / F.col("n_docs").cast("double"),
        ).alias("rate"),
    )
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        )
        .cast("bigint")
        .cast("double")
        / F.lit(1152921504606846976.0)
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "rate")), "source")
        .where(frac < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.round("qs", 6).alias("mixture_weight"),
            F.round("rate", 6).alias("sample_rate"),
            F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias("n_sampled"),
        )
    )


@register(
    "scalar_url_parse_battery",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.org/docs/'
               || CAST(doc_id AS VARCHAR) || '?lang=' || lang
               || '&n=' || CAST(n_chars AS VARCHAR) AS url
      FROM documents
    )
    SELECT doc_id, url,
           SPLIT_PART(SPLIT_PART(url, '://', 2), '/', 1) AS host,
           '/' || SPLIT_PART(SPLIT_PART(SPLIT_PART(url, '://', 2), '?', 1),
                             '/', 2) || '/'
               || SPLIT_PART(SPLIT_PART(url, '?', 1), '/', 5) AS path,
           SPLIT_PART(SPLIT_PART(SPLIT_PART(url, '?', 2), 'lang=', 2),
                      '&', 1) AS lang_param,
           CAST(SPLIT_PART(SPLIT_PART(url, '?', 2), 'n=', 2) AS BIGINT)
               AS n_param,
           SPLIT_PART(url, '://', 1) AS protocol
    FROM u
    """,
    doc="URL parsing battery (SURVEY §2.8 scalar-family extension — "
    "the web-corpus staple: provenance URLs → host/path/query "
    "features for per-domain dedup and quality policies): URLs are "
    "constructed from row columns (the corpus carries none), then "
    "decomposed with Spark's parse_url(HOST/PATH/QUERY-key/PROTOCOL) "
    "— a JVM intrinsic; the oracle replays the decomposition with "
    "SPLIT_PART string algebra on the same well-formed inputs. "
    "Map-only, codegen.",
)
def scalar_url_parse_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&n="),
        F.col("n_chars").cast("string"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url("url", F.lit("QUERY"), F.lit("n"))
        .cast("bigint")
        .alias("n_param"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
    )


@register(
    "scalar_luhn_card_audit",
    oracle="""
    WITH nums AS (
      SELECT o_orderkey,
             LPAD(CAST((o_orderkey * 48271) % 10000000000000000 AS VARCHAR),
                  16, '0') AS card_number
      FROM orders
    ),
    sums AS (
      SELECT o_orderkey, card_number,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(16), i ->
               CASE WHEN i % 2 = 1 THEN
                 CASE WHEN 2 * CAST(SUBSTR(card_number, CAST(16 - i AS INTEGER), 1) AS INTEGER) > 9
                      THEN 2 * CAST(SUBSTR(card_number, CAST(16 - i AS INTEGER), 1) AS INTEGER) - 9
                      ELSE 2 * CAST(SUBSTR(card_number, CAST(16 - i AS INTEGER), 1) AS INTEGER) END
               ELSE CAST(SUBSTR(card_number, CAST(16 - i AS INTEGER), 1) AS INTEGER)
               END)) AS INTEGER) AS luhn_sum
      FROM nums
    )
    SELECT o_orderkey, card_number, luhn_sum,
           CAST(CASE WHEN luhn_sum % 10 = 0 THEN 1 ELSE 0 END AS INTEGER)
               AS is_valid
    FROM sums
    """,
    doc="Luhn-checksum screen (the PCI/PII-audit primitive: find "
    "syntactically-valid card-like numbers in a corpus before "
    "publishing training data — complements redact_pii's regex tier "
    "with an actual checksum validator, killing most false positives). "
    "16-digit candidates are synthesized from o_orderkey (the corpus "
    "carries no PII by construction); the mod-10 double-every-second-"
    "digit checksum runs as ONE aggregate() HOF over a literal "
    "16-element sequence — pure integer arithmetic, map-only, codegen, "
    "zero shuffle; the oracle replays it with LIST_TRANSFORM digit "
    "algebra. Exact ints both engines.",
)
def scalar_luhn_card_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    # The 16-digit HOF checksum is compute-dense and map-only, so it
    # ran whole-query serial on the single-split scan (sf1 re-eval,
    # r12 verdict ask #9). Only o_orderkey is needed — fan_out 8
    # bytes/row, compute everything after the spread.
    orders = fan_out(orders.select("o_orderkey"))
    num = F.lpad(
        ((F.col("o_orderkey") * 48271) % F.lit(10_000_000_000_000_000)).cast(
            "string"
        ),
        16,
        "0",
    )
    digit = (
        "CAST(SUBSTR(card_number, CAST(16 - i AS INT), 1) AS INT)"
    )
    luhn = F.expr(
        f"""CAST(aggregate(sequence(0, 15), 0, (acc, i) -> acc +
            CASE WHEN i % 2 = 1 THEN
              CASE WHEN 2 * {digit} > 9 THEN 2 * {digit} - 9
                   ELSE 2 * {digit} END
            ELSE {digit} END) AS INT)"""
    )
    return (
        orders.select("o_orderkey", num.alias("card_number"))
        .withColumn("luhn_sum", luhn)
        .withColumn(
            "is_valid",
            F.when(F.col("luhn_sum") % 10 == 0, 1).otherwise(0).cast("int"),
        )
    )


@register(
    "text_mojibake_screen",
    oracle="""
    WITH damaged AS (
      SELECT doc_id, lang,
             text || CASE WHEN doc_id % 7 = 0 THEN ' cafÃ©' ELSE '' END
                  || CASE WHEN doc_id % 11 = 0 THEN ' �' ELSE '' END
               AS t
      FROM documents
    ),
    counts AS (
      SELECT doc_id, lang, LEN(t) AS n_chars_t,
             (LEN(t) - LEN(REPLACE(t, 'Ã', ''))) AS n_mojibake,
             (LEN(t) - LEN(REPLACE(t, '�', ''))) AS n_replacement
      FROM damaged
    )
    SELECT doc_id,
           CAST(n_mojibake AS INTEGER) AS n_mojibake,
           CAST(n_replacement AS INTEGER) AS n_replacement,
           ROUND(CAST(n_mojibake + n_replacement AS DOUBLE) / n_chars_t, 6)
               AS bad_char_ratio,
           CAST(CASE WHEN n_mojibake + n_replacement > 0 THEN 1 ELSE 0 END
                AS INTEGER) AS flagged
    FROM counts
    """,
    doc="Encoding-damage (mojibake) screen — the web-corpus hygiene "
    "filter: double-encoded UTF-8 markers ('Ã?' digraphs) and U+FFFD "
    "replacement characters are the standard fingerprints of "
    "mis-decoded text that poisons tokenizers. Damage is PLANTED "
    "deterministically (doc_id mod 7 / mod 11 — the corpus is clean "
    "ASCII by construction) so the screen's hit set is exactly "
    "checkable. Counting is replace-length character algebra — "
    "map-only, codegen, zero shuffle, exact integers.",
)
def text_mojibake_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" cafÃ©")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" �")).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", t.alias("t"))
    n_moj = F.length("t") - F.length(F.replace(F.col("t"), F.lit("Ã")))
    n_rep = F.length("t") - F.length(F.replace(F.col("t"), F.lit("�")))
    return d.select(
        "doc_id",
        n_moj.cast("int").alias("n_mojibake"),
        n_rep.cast("int").alias("n_replacement"),
        F.round((n_moj + n_rep).cast("double") / F.length("t"), 6).alias(
            "bad_char_ratio"
        ),
        F.when(n_moj + n_rep > 0, 1).otherwise(0).cast("int").alias("flagged"),
    )


@register(
    "text_tokenizer_fertility",
    oracle="""
    SELECT lang, source,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(LEN(text)) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(LEN(text)) AS DOUBLE)
                 / SUM(LEN(STRING_SPLIT(text, ' '))), 6)
               AS chars_per_token,
           ROUND(CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS DOUBLE)
                 / COUNT(*), 6) AS tokens_per_doc
    FROM documents
    GROUP BY lang, source
    """,
    doc="Tokenizer fertility profile per (lang, source) — the "
    "compression-rate statistic that drives tokenizer/vocab sizing "
    "and per-language training-token budgeting (chars-per-token "
    "varies 2-4x across languages; budget by tokens, not docs). "
    "Exact integer sums, two ratios as final IEEE divisions. One "
    "scan + one hash agg on a tiny (lang, source) key domain — "
    "map-side partials do all the work at 100 TB.",
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ntok = X.token_count("text")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.sum(ntok).cast("bigint").alias("n_tokens"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
            F.round(
                F.sum(F.length("text")).cast("double") / F.sum(ntok), 6
            ).alias("chars_per_token"),
            F.round(F.sum(ntok).cast("double") / F.count(F.lit(1)), 6).alias(
                "tokens_per_doc"
            ),
        )
    )


@register(
    "training_curriculum_order",
    oracle="""
    WITH bucketed AS (
      SELECT doc_id, n_chars,
             CAST(NTILE(4) OVER (ORDER BY n_chars, doc_id) AS INTEGER)
                 AS difficulty_bucket
      FROM documents
    )
    SELECT doc_id, difficulty_bucket,
           CAST((ROW_NUMBER() OVER (PARTITION BY difficulty_bucket
                                    ORDER BY n_chars, doc_id) - 1) * 4
                + difficulty_bucket AS BIGINT) AS curriculum_rank
    FROM bucketed
    """,
    doc="Curriculum ordering for training-data scheduling: documents "
    "quartiled by length (the standard difficulty proxy) with NTILE "
    "over a total order, then round-robin interleaved across buckets "
    "(rank r*4+b) so every training window sees the full difficulty "
    "mix while within-bucket order stays easy-to-hard — the "
    "anti-catastrophic-forgetting shuffle used in staged pretraining. "
    "Deterministic tie-break (n_chars, doc_id) makes the permutation "
    "reproducible across engines and repartitions. Two windows; at "
    "100 TB the global NTILE becomes the documented range-partitioned "
    "rank (sort by the same key, rank via partition offsets).",
)
def training_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    b = docs.select(
        "doc_id",
        "n_chars",
        F.ntile(4).over(w).cast("int").alias("difficulty_bucket"),
    )
    wp = Window.partitionBy("difficulty_bucket").orderBy("n_chars", "doc_id")
    return b.select(
        "doc_id",
        "difficulty_bucket",
        (
            (F.row_number().over(wp) - 1) * 4 + F.col("difficulty_bucket")
        ).cast("bigint").alias("curriculum_rank"),
    )


def _minhash_probe_oracle_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """Cross-side variant of ``_minhash_oracle_sql``: signatures over
    the whole corpus, band-collision candidates restricted to
    (history doc) × (new-batch doc), exact-Jaccard verified. Identical
    hash family, so the probe's sketch is fully SQL-replayable."""
    rows_per_band = num_hashes // bands
    h60 = "('0x' || SUBSTR(MD5({x}), 1, 15))::BIGINT"
    sig_cols = ",\n             ".join(
        "MIN(" + h60.format(x=f"'{i}:' || u.sh") + f") AS h{i}"
        for i in range(num_hashes)
    )
    band_cases = "\n        ".join(
        "WHEN {b} THEN ".format(b=b)
        + h60.format(
            x=" || ',' || ".join(
                f"h{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
            )
        )
        for b in range(bands)
    )
    return f"""
    WITH s AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text,' ')) - 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+2], ' '))) AS sh
      FROM documents
    ),
    sigs AS (
      SELECT doc_id,
             {sig_cols}
      FROM (SELECT doc_id, UNNEST(sh) AS sh FROM s) u
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b.band_id,
        CASE b.band_id
        {band_cases}
        END AS band_hash
      FROM sigs, (SELECT UNNEST(RANGE({bands})) AS band_id) b
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS hist_id, b.doc_id AS batch_id
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
      WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
    )
    SELECT c.hist_id, c.batch_id,
           CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS BIGINT) AS n_shared,
           ROUND(LEN(LIST_INTERSECT(sa.sh, sb.sh))::DOUBLE
                 / (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_INTERSECT(sa.sh, sb.sh))),
                 6) AS jaccard
    FROM cands c
    JOIN s sa ON sa.doc_id = c.hist_id
    JOIN s sb ON sb.doc_id = c.batch_id
    WHERE ROUND(LEN(LIST_INTERSECT(sa.sh, sb.sh))::DOUBLE
                / (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_INTERSECT(sa.sh, sb.sh))),
                6) >= 0.2
    """


@register(
    "dedup_incremental_minhash_probe",
    oracle=_minhash_probe_oracle_sql(num_hashes=16, bands=4),
    doc="Near-dup tier of incremental ingest dedup: the NEW batch "
    "(doc_id mod 10 = 0) probes the historical corpus's persisted "
    "MinHash-LSH band index (operators/dedup.py:minhash_banded — the "
    "write-once (band_id, band_hash)-bucketed artifact), emitting "
    "(hist, batch) candidate pairs verified with exact Jaccard >= 0.2. "
    "Composes after dedup_incremental_new_batch's digest tiers exactly "
    "as the within-corpus pipeline composes exact->minhash. md5-prefix "
    "hash family, so signatures, band hashes, the cross-side candidate "
    "join and the verification are ALL replayed by the oracle. "
    "Exact-contraction across sides (raw ≡ contracted pytest): the "
    "union contracts to distinct texts, rep pairs expand via "
    "output-sized joins, and same-text-on-both-sides pairs carry "
    "(set size, 1.0) as the diagonal. History text is never rescanned "
    "at probe time — the index join shuffles fixed-width keys only.",
)
def dedup_incremental_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    return D.minhash_index_probe(
        history, batch, n=3, num_hashes=16, bands=4,
        hash_family="md5", threshold=0.2,
    )


@register(
    "scalar_csv_parse_battery",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN NULL
                ELSE o_orderstatus END AS status,
           CASE WHEN o_orderkey % 97 = 0 THEN NULL
                ELSE o_orderpriority || ',x' END AS pr,
           CASE WHEN o_orderkey % 97 = 0 THEN NULL
                ELSE CAST(o_totalprice AS DOUBLE) END AS price
    FROM orders
    """,
    doc="CSV parsing battery (from_csv — the flat-file ingest staple): "
    "CSV lines are CONSTRUCTED from row columns, including a quoted "
    "field containing a comma (the classic quoting trap) and a "
    "planted malformed short line every 97th key (arity violation), "
    "then parsed back with from_csv under PERMISSIVE mode — missing "
    "fields surface as NULLs, never task failures (the corrupt-"
    "isolation contract of every decoder in this repo). The oracle "
    "recomputes the expected fields from the source rows, so quote "
    "handling, type casting and the malformed-row NULL contract are "
    "all hash-checked. Map-only, codegen.",
)
def scalar_csv_parse_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    line = F.when(
        F.col("o_orderkey") % 97 == 0,
        F.col("o_orderkey").cast("string"),  # short line: 1 of 4 fields
    ).otherwise(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(","),
            F.col("o_orderstatus"),
            F.lit(',"'),
            F.col("o_orderpriority"),
            F.lit(',x"'),
            F.lit(","),
            F.col("o_totalprice").cast("double").cast("string"),
        )
    )
    schema = "k BIGINT, status STRING, pr STRING, price DOUBLE"
    parsed = orders.select(
        "o_orderkey", F.from_csv(line, F.lit(schema)).alias("p")
    )
    return parsed.select(
        "o_orderkey",
        F.col("p.status").alias("status"),
        F.col("p.pr").alias("pr"),
        F.col("p.price").alias("price"),
    )


@register(
    "text_duplicate_chunk_ratio",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t,
             LEN(STRING_SPLIT(text, ' ')) // 8 AS n_chunks
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             MD5(ARRAY_TO_STRING(t[c.c*8+1 : c.c*8+8], ' ')) AS chunk_digest
      FROM toks, LATERAL (SELECT UNNEST(RANGE(n_chunks)) AS c) c
    ),
    freq AS (
      SELECT chunk_digest, COUNT(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY 1
    ),
    per_doc AS (
      SELECT c.doc_id,
             COUNT(*) AS n_chunks,
             SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS dup_chunks
      FROM chunks c JOIN freq f USING (chunk_digest)
      GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(COALESCE(p.n_chunks, 0) AS INTEGER) AS n_chunks,
           CAST(COALESCE(p.dup_chunks, 0) AS INTEGER) AS dup_chunks,
           ROUND(CAST(p.dup_chunks AS DOUBLE) / p.n_chunks, 6)
               AS dup_chunk_ratio
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Duplicated-chunk fraction per document (the RefinedWeb / "
    "Gopher duplicated-n-gram corpus-quality metric at chunk "
    "granularity): split each doc into non-overlapping 8-token "
    "chunks, digest them, and report the share of a doc's chunks "
    "that appear in >= 2 distinct documents — partial/boilerplate "
    "duplication that document-level dedup cannot see. The shuffle "
    "keys are fixed-width md5 digests (never chunk text), frequency "
    "is one hash agg, and the ratio joins back by digest — linear "
    "in corpus tokens at any scale. Docs shorter than 8 tokens "
    "report 0 chunks and a NULL ratio (no fake zeros).",
)
def text_duplicate_chunk_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WEIGHTED-CONTRACTED (r5): chunk digests, per-doc chunk counts and
    # the dup flags are content-pure given the global digest-to-doc
    # frequency, and that frequency counts DOCS (not occurrences), so
    # it is the sum of copy multiplicities over distinct texts
    # containing the digest. Chunking runs once per distinct text; all
    # copies inherit their representative's row via the digest
    # join-back (a text with m >= 2 is automatically all-duplicate —
    # its own copies make every chunk shared, which the weighted freq
    # reproduces exactly).
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", F.md5("text").alias("_pk"))
    reps = docs.groupBy(F.md5("text").alias("_pk")).agg(
        F.count(F.lit(1)).alias("m"), F.min("text").alias("text")
    )
    toks = reps.select(
        "_pk",
        "m",
        F.split("text", " ").alias("t"),
        F.floor(F.size(F.split("text", " ")) / 8).cast("int").alias("n_chunks"),
    )
    chunks = toks.select(
        "_pk",
        "m",
        # sequence(0, n-1) DESCENDS for n < 1 (DuckDB RANGE is empty):
        # docs shorter than one chunk must yield zero chunks, not
        # phantom c=0/c=-1 rows (latent until a short-doc corpus)
        F.explode(
            F.when(
                F.col("n_chunks") >= 1,
                F.sequence(F.lit(0), F.col("n_chunks") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("c"),
        "t",
    ).select(
        "_pk",
        "m",
        F.md5(
            F.array_join(F.slice("t", F.col("c") * 8 + 1, 8), " ")
        ).alias("chunk_digest"),
    )
    freq = (
        chunks.dropDuplicates(["_pk", "chunk_digest"])
        .groupBy("chunk_digest")
        .agg(F.sum("m").alias("n_docs"))
    )
    per_text = (
        chunks.join(freq, "chunk_digest")
        .groupBy("_pk")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias(
                "dup_chunks"
            ),
        )
    )
    return (
        keyed.join(per_text, "_pk", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("int").alias("n_chunks"),
            F.coalesce("dup_chunks", F.lit(0)).cast("int").alias("dup_chunks"),
            F.round(
                F.col("dup_chunks").cast("double") / F.col("n_chunks"), 6
            ).alias("dup_chunk_ratio"),
        )
    )


@register(
    "text_pmi_collocations",
    oracle="""
    WITH l AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS nw
      FROM (SELECT UNNEST(toks) AS w FROM l) GROUP BY 1
    ),
    nt AS (SELECT CAST(SUM(nw) AS DOUBLE) AS n1 FROM uni),
    bi AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM l, UNNEST(range(1, len(toks))) t(i)
    ),
    cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nb FROM bi GROUP BY 1, 2),
    ntb AS (SELECT CAST(SUM(nb) AS DOUBLE) AS n2 FROM cb)
    SELECT cb.w1, cb.w2, cb.nb AS n_pair, u1.nw AS n_w1, u2.nw AS n_w2,
           ROUND(LN((CAST(cb.nb AS DOUBLE) / ntb.n2)
                    / ((CAST(u1.nw AS DOUBLE) / nt.n1)
                       * (CAST(u2.nw AS DOUBLE) / nt.n1))), 4) + 0.0 AS pmi
    FROM cb
    JOIN uni u1 ON u1.w = cb.w1
    JOIN uni u2 ON u2.w = cb.w2
    CROSS JOIN nt CROSS JOIN ntb
    WHERE cb.nb >= 20
    """,
    doc="Pointwise-mutual-information collocations over the corpus — "
    "the classic phrase-mining signal (Church & Hanks 1990): bigrams "
    "whose joint frequency beats the independence expectation, the "
    "detector behind multiword-expression vocab entries and "
    "tokenizer-merge seeding. Bigrams via the zip_with idiom (one "
    "explode, no window); unigram/bigram counts are exact integers and "
    "MEMBERSHIP is the integer support filter n_pair >= 20, so the row "
    "set can never differ across engines; PMI itself is one shared "
    "double tree rounded at 4 dp (the perplexity discipline). All "
    "shuffles key on tokens — corpus-derived vocab stays distributed.",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WEIGHTED-CONTRACTED (r5): unigram/bigram corpus counts are
    # per-distinct-text occurrence rows times the copy multiplicity —
    # exact integers, so every count (and thus the PMI) is unchanged.
    docs = table(spark, sf_dir, "documents")
    reps = docs.groupBy(F.md5("text").alias("_pk")).agg(
        F.count(F.lit(1)).alias("m"), F.min("text").alias("text")
    )
    toks = reps.select("m", F.split("text", " ").alias("toks"))
    bi = toks.select(
        "m",
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("m", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = (
        toks.select("m", F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.sum("m").cast("bigint").alias("nw"))
    )
    nt = uni.agg(F.sum("nw").cast("double").alias("n1"))
    cb = (
        bi.groupBy("w1", "w2")
        .agg(F.sum("m").cast("bigint").alias("nb"))
        .where(F.col("nb") >= 20)
    )
    ntb = (
        bi.agg(F.sum("m").cast("bigint").alias("s"))
        .select(F.col("s").cast("double").alias("n2"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("nw").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("nw").alias("n_w2"))
    pmi = F.log(
        (F.col("nb").cast("double") / F.col("n2"))
        / (
            (F.col("n_w1").cast("double") / F.col("n1"))
            * (F.col("n_w2").cast("double") / F.col("n1"))
        )
    )
    return (
        cb.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(ntb))
        .select(
            "w1",
            "w2",
            F.col("nb").alias("n_pair"),
            "n_w1",
            "n_w2",
            # + 0.0 canonicalizes IEEE -0.0 to +0.0 (ROUND of a tiny
            # negative yields -0.0 in one engine, 0.0 in the other;
            # the str-identity gate sees the sign)
            (F.round(pmi, 4) + F.lit(0.0)).alias("pmi"),
        )
    )


def _logreg_oracle(rounds: int = 3, lr: str = "0.1") -> str:
    """Unrolled fixed-round logistic-regression GD in DuckDB SQL,
    mirroring text_quality_logreg_train op-for-op. The activation is
    the RATIONAL fast sigmoid 0.5 + 0.5*z/(1+|z|) — only +,−,×,÷,abs,
    all correctly rounded IEEE ops — so unlike exp-based logistic the
    whole recurrence is bit-reproducible across engines (the
    verifiable-PCA discipline); per-row gradient terms are pinned to
    DECIMAL(27,12) so the parallel sums are order-independent. Every
    round CTE is MATERIALIZED: w_i references w_{i-1} twice (directly
    and through g_i), so un-materialized inlining re-expands the
    recurrence 2^rounds times."""
    prev = "w0"
    cte = [
        """feats AS MATERIALIZED (
      SELECT doc_id,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                  t -> t IN ('the', 'a'))) AS DOUBLE)
               / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS x1,
             CAST(n_chars AS DOUBLE) / 1000.0 AS x2,
             CAST(CAST(n_chars >= 200 AS INTEGER) AS DOUBLE) AS y
      FROM documents
    )""",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM feats)",
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b,"
        " CAST(0.0 AS DOUBLE) AS c)",
    ]
    for i in range(1, rounds + 1):
        z = f"({prev}.a + {prev}.b * f.x1 + {prev}.c * f.x2)"
        sig = f"(0.5 + (0.5 * {z}) / (1.0 + ABS({z})))"
        cte.append(f"""g{i} AS MATERIALIZED (
      SELECT SUM(CAST(({sig} - f.y) AS DECIMAL(27,12))) AS g0,
             SUM(CAST(({sig} - f.y) * f.x1 AS DECIMAL(27,12))) AS g1,
             SUM(CAST(({sig} - f.y) * f.x2 AS DECIMAL(27,12))) AS g2
      FROM feats f CROSS JOIN {prev}
    )""")
        cte.append(f"""w{i} AS MATERIALIZED (
      SELECT {prev}.a - {lr} * (CAST(g{i}.g0 AS DOUBLE) / nn.nd) AS a,
             {prev}.b - {lr} * (CAST(g{i}.g1 AS DOUBLE) / nn.nd) AS b,
             {prev}.c - {lr} * (CAST(g{i}.g2 AS DOUBLE) / nn.nd) AS c
      FROM g{i} CROSS JOIN {prev} CROSS JOIN nn
    )""")
        prev = f"w{i}"
    zf = "(w.a + w.b * f.x1 + w.c * f.x2)"
    sigf = f"(0.5 + (0.5 * {zf}) / (1.0 + ABS({zf})))"
    return (
        "WITH " + ",\n    ".join(cte) + f"""
    SELECT f.doc_id, ROUND({sigf}, 6) AS score,
           CAST({sigf} >= 0.5 AS INTEGER) AS pred,
           CAST(f.y AS INTEGER) AS label
    FROM feats f CROSS JOIN {prev} w
    """
    )


@register(
    "text_quality_logreg_train",
    oracle=_logreg_oracle(rounds=16, lr="20.0"),
    doc="Verifiable fixed-round logistic regression distilling a "
    "rule-based quality filter into a linear scorer (the fasttext-"
    "on-heuristic-labels practice): 16 full-batch gradient-descent "
    "rounds, label = the length rule (n_chars >= 200), features = "
    "stopword density (learned to ~0: uninformative here) and scaled "
    "length. Reaches 89% accuracy vs the 70% majority baseline. The activation is the RATIONAL fast "
    "sigmoid 0.5 + 0.5*z/(1+|z|) — no exp(), so every op in the "
    "recurrence (+,−,×,÷,abs) is correctly-rounded IEEE and the whole "
    "training run is bit-reproducible across engines (the "
    "verifiable-PCA/BPE discipline; classic exp-sigmoid would put a "
    "transcendental inside the recurrence). Per-row gradient terms "
    "pin to DECIMAL(27,12) before the map-side-combined sums, so "
    "partition order cannot change the model; driver state is 3 "
    "weights per round (the model, never the data). Per-round cost: "
    "one scan + one 3-column aggregate — at 100 TB this is 3 passes "
    "with O(1) driver traffic. Output: per-doc score (shared double "
    "tree, 6 dp), hard prediction, label.",
)
def text_quality_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WEIGHTED-CONTRACTED (r5): features and label are content-pure, so
    # the 16 gradient aggregates run over distinct (text, n_chars) rows
    # with each per-row decimal gradient term multiplied by the copy
    # multiplicity — decimal x integer is exact, so every round's sums
    # (and therefore the trained weights) are bit-identical to the raw
    # corpus recurrence the oracle replays.
    docs = table(spark, sf_dir, "documents")
    # The features read the n_chars METADATA column, so it joins the
    # contraction key instead of riding along via min() — identical
    # texts with divergent metadata would otherwise silently collapse
    # to one feature row (ADVICE r5). Same plan shape; on corpora where
    # n_chars is content-derived (an invariant pytest pins this for the
    # benchmark corpus) the groups are identical.
    keyed = docs.select("doc_id", F.md5("text").alias("_pk"), "n_chars")
    toks = F.split("text", " ")
    reps = docs.groupBy(F.md5("text").alias("_pk"), "n_chars").agg(
        F.count(F.lit(1)).alias("m"),
        F.min("text").alias("text"),
    )
    feats = reps.select(
        "_pk",
        "n_chars",
        F.col("m").cast("decimal(10,0)").alias("m"),
        (
            F.size(F.filter(toks, lambda t: t.isin("the", "a"))).cast("double")
            / F.size(toks).cast("double")
        ).alias("x1"),
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("x2"),
        (F.col("n_chars") >= 200).cast("int").cast("double").alias("y"),
    ).localCheckpoint(storageLevel=CKPT_LEVEL)
    nd = float(
        feats.agg(F.sum("m").alias("s")).collect()[0].s
    )
    w = (0.0, 0.0, 0.0)
    lr = 20.0
    for _ in range(16):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        sig = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
        err = sig - F.col("y")
        g = feats.agg(
            F.sum(err.cast("decimal(27,12)") * F.col("m")).alias("g0"),
            F.sum(
                (err * F.col("x1")).cast("decimal(27,12)") * F.col("m")
            ).alias("g1"),
            F.sum(
                (err * F.col("x2")).cast("decimal(27,12)") * F.col("m")
            ).alias("g2"),
        ).collect()[0]
        w = (
            w[0] - lr * (float(g.g0) / nd),
            w[1] - lr * (float(g.g1) / nd),
            w[2] - lr * (float(g.g2) / nd),
        )
    zf = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    sigf = F.lit(0.5) + F.lit(0.5) * zf / (F.lit(1.0) + F.abs(zf))
    per_text = feats.select(
        "_pk",
        "n_chars",
        F.round(sigf, 6).alias("score"),
        (sigf >= F.lit(0.5)).cast("int").alias("pred"),
        F.col("y").cast("int").alias("label"),
    )
    return keyed.join(per_text, ["_pk", "n_chars"]).select(
        "doc_id", "score", "pred", "label"
    )


@register(
    "text_decontaminate_spans",
    oracle="""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, i, ARRAY_TO_STRING(toks[i:i+3], ' ') AS gram
      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) s(i)
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    hitstarts AS (
      SELECT g.doc_id, g.i FROM g JOIN bench USING (gram)
      WHERE g.doc_id % 97 <> 0
    ),
    drops AS (
      SELECT DISTINCT h.doc_id, u.p
      FROM hitstarts h, UNNEST(GENERATE_SERIES(h.i, h.i + 3)) u(p)
    ),
    tokens AS (
      SELECT doc_id, s.p, toks[s.p] AS w
      FROM t, UNNEST(RANGE(1, LEN(toks) + 1)) s(p)
      WHERE doc_id % 97 <> 0
    ),
    kept AS (
      SELECT k.doc_id, k.p, k.w
      FROM tokens k ANTI JOIN drops d ON d.doc_id = k.doc_id AND d.p = k.p
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             STRING_AGG(w, ' ' ORDER BY p) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(LEN(t.toks) AS INTEGER) AS n_tokens,
           CAST(LEN(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.text_clean, '') AS text_clean
    FROM t LEFT JOIN agg a USING (doc_id)
    WHERE t.doc_id % 97 <> 0
    """,
    doc="Span-level benchmark decontamination (the REMOVAL step after "
    "contamination_check's detection, GPT-3 appendix-C style): every "
    "token covered by a 4-gram that appears in the benchmark set "
    "(docs with doc_id % 97 = 0) is cut from the training document, "
    "and the scrubbed text is re-assembled. The benchmark gram set is "
    "bounded so the gram probe is a map-side broadcast semi-join; "
    "drop positions aggregate per doc (collect_set of ints — output-"
    "sized, membership exact) and re-assembly is a positional HOF "
    "filter + array_join, all JVM-side. One corpus shuffle (the "
    "per-doc drop-position aggregate); emits n_tokens / n_removed / "
    "text_clean per training doc.",
)
def text_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CONTENT-CONTRACTED scrub side (r5): the benchmark gram set stays
    # RAW (membership is doc_id-derived), but GIVEN that set the
    # scrubbed output of a training doc is content-pure — so the gram
    # explode, the hit join and the positional re-assembly run once
    # per distinct training text, fanning back to training doc ids
    # through the content digest.
    docs = table(spark, sf_dir, "documents")
    # guard: Spark's sequence(1, n) DESCENDS for n < 1 (DuckDB RANGE is
    # empty) — short docs must yield zero grams, not bogus positions
    starts = F.when(
        F.size("toks") >= 4, F.sequence(F.lit(1), F.size("toks") - 3)
    ).otherwise(F.array().cast("array<int>"))
    gram_struct = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("i"),
            F.array_join(F.slice("toks", i, 4), " ").alias("gram"),
        ),
    )
    bench = (
        docs.where(F.col("doc_id") % 97 == 0)
        .select(F.split("text", " ").alias("toks"))
        .select(F.explode(gram_struct).alias("s"))
        .select(F.col("s.gram").alias("gram"))
        .distinct()
    )
    train_keyed = docs.where(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.md5("text").alias("_pk")
    )
    reps = (
        docs.where(F.col("doc_id") % 97 != 0)
        .groupBy(F.md5("text").alias("_pk"))
        .agg(F.min("text").alias("text"))
        .select("_pk", F.split("text", " ").alias("toks"))
    )
    grams = reps.select(
        "_pk", F.explode(gram_struct).alias("s")
    ).select("_pk", F.col("s.i").alias("i"), F.col("s.gram").alias("gram"))
    hits = grams.join(F.broadcast(bench), "gram").select(
        "_pk",
        F.explode(F.sequence(F.col("i"), F.col("i") + 3)).alias("p"),
    )
    drops = hits.groupBy("_pk").agg(F.collect_set("p").alias("drop_ps"))
    joined = reps.join(drops, "_pk", "left").select(
        "_pk",
        "toks",
        F.coalesce(F.col("drop_ps"), F.array().cast("array<int>")).alias(
            "drop_ps"
        ),
    )
    kept = F.filter(
        F.col("toks"),
        lambda w, idx: ~F.array_contains(F.col("drop_ps"), idx + F.lit(1)),
    )
    per_text = joined.select(
        "_pk",
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )
    return train_keyed.join(per_text, "_pk").select(
        "doc_id", "n_tokens", "n_removed", "text_clean"
    )


@register(
    "text_crossdoc_span_dedup",
    oracle="""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, i, ARRAY_TO_STRING(toks[i:i+3], ' ') AS gram
      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) s(i)
    ),
    dup AS (
      SELECT gram, MIN(doc_id) AS kdoc FROM g GROUP BY gram
      HAVING COUNT(*) > 1
    ),
    keep AS (
      SELECT g.gram, g.doc_id AS kdoc, MIN(g.i) AS ki
      FROM g JOIN dup d ON g.gram = d.gram AND g.doc_id = d.kdoc
      GROUP BY g.gram, g.doc_id
    ),
    drops AS (
      SELECT DISTINCT g.doc_id, u.p
      FROM g JOIN keep k ON g.gram = k.gram,
           UNNEST(GENERATE_SERIES(g.i, g.i + 3)) u(p)
      WHERE g.doc_id <> k.kdoc OR g.i <> k.ki
    ),
    tokens AS (
      SELECT doc_id, s.p, toks[s.p] AS w
      FROM t, UNNEST(RANGE(1, LEN(toks) + 1)) s(p)
    ),
    kept AS (
      SELECT k.doc_id, k.p, k.w
      FROM tokens k ANTI JOIN drops d ON d.doc_id = k.doc_id AND d.p = k.p
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             STRING_AGG(w, ' ' ORDER BY p) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(LEN(t.toks) AS INTEGER) AS n_tokens,
           CAST(LEN(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.text_clean, '') AS text_clean
    FROM t LEFT JOIN agg a USING (doc_id)
    """,
    doc="Cross-document exact-span dedup, the corpus-wide REMOVAL "
    "counterpart of text_decontaminate_spans (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better': "
    "delete every duplicated span from all but one occurrence). A "
    "4-gram occurring more than once corpus-wide keeps exactly its "
    "canonical occurrence — lexicographic-min (doc_id, position), "
    "computed as ONE min-of-struct aggregate (O(1) state per gram) — "
    "and every other occurrence's token positions are cut; per-doc "
    "position sets are output-bounded collect_sets and re-assembly "
    "is the positional HOF filter. Three shuffles total (gram "
    "min-pair agg, drop-position agg, doc join-back), no pair "
    "expansion anywhere — the suffix-array machinery of the paper "
    "collapses to a gram groupBy because grams of fixed k ARE the "
    "duplicated-substring witnesses. At production scale the gram "
    "shuffle key would be xxhash64(gram) for fixed width (collision "
    "odds 2^-64 per pair); kept as the literal gram here so the "
    "DuckDB oracle replays byte-identically. CONTENT-CONTRACTED "
    "(r5): the gram machinery runs on DISTINCT texts only, because "
    "an exact duplicate of an earlier text provably keeps nothing — "
    "every gram occurrence in a non-canonical copy repeats the same "
    "gram at the same position in the copy with the smallest doc_id, "
    "so the lexicographic-min keeper can never live there, every "
    "covered position drops, and (for len >= 4) ALL positions are "
    "covered by some 4-gram. Non-representative docs therefore emit "
    "n_removed = n_tokens / empty text_clean directly; measured "
    "94.5 s -> distinct-text-bound on the 50x-duplicated sf5 corpus.",
)
def text_crossdoc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.sources.tables import keyed_spread

    docs = table(spark, sf_dir, "documents")
    # fan_out the scan once: `keyed` feeds the rep groupBy, the gram
    # explode and both join-backs, and on a single-split scan the
    # 4-gram Generate+partial-agg stage ran as ONE task (measured
    # 2.25 s + 1.35 s serial at sf0.1). The round-robin exchange is
    # reused within the single plan; fan_out is a no-op only once the
    # input has >= defaultParallelism splits — an intermediate split
    # count (e.g. 10 splits on 200 cores) still pays the round-robin
    # shuffle, accepted here because the downstream gram Generate is
    # compute-dense (guide §2.5/§2.6 — spread compute-dense maps).
    keyed = fan_out(docs).select(
        "doc_id", F.md5("text").alias("_pk"), F.split("text", " ").alias("toks")
    )
    rep = keyed.groupBy("_pk").agg(F.min("doc_id").alias("rep_doc"))
    t = (
        keyed.join(rep, "_pk")
        .where(F.col("doc_id") == F.col("rep_doc"))
        .select("doc_id", "toks")
    )
    # sequence(1, n) DESCENDS for n < 1 — short docs must yield no grams
    starts = F.when(
        F.size("toks") >= 4, F.sequence(F.lit(1), F.size("toks") - 3)
    ).otherwise(F.array().cast("array<int>"))
    # keyed_spread by gram: the canonical-occurrence aggregate and the
    # gram join-back below both key on gram, so this one explicit
    # exchange (REPARTITION_BY_NUM, AQE-exempt) replaces both planner
    # exchanges AND keeps the compute-dense gram stages at cluster
    # parallelism when the gram relation is byte-light (measured
    # +0.9 s warm at sf0.1 under AQE's 1 MB coalescing floor).
    grams = keyed_spread(
        t.select(
            "doc_id",
            F.explode(
                F.transform(
                    starts,
                    lambda i: F.struct(
                        i.alias("i"),
                        F.array_join(F.slice("toks", i, 4), " ").alias("gram"),
                    ),
                )
            ).alias("s"),
        ).select("doc_id", F.col("s.i").alias("i"), F.col("s.gram").alias("gram")),
        "gram",
    )
    # Canonical occurrence per duplicated gram: lexicographic min of
    # (doc_id, i) — equals the oracle's two-step arg-min (min doc,
    # then min position within that doc). Computed on representatives
    # only: the rep corpus preserves every gram's global minimum
    # (reps hold the smallest doc_id of their content class).
    keep = (
        grams.groupBy("gram")
        .agg(
            F.min(F.struct("doc_id", "i")).alias("k"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .where(F.col("cnt") > 1)
        .select(
            "gram",
            F.col("k.doc_id").alias("kdoc"),
            F.col("k.i").alias("ki"),
        )
    )
    drops = (
        grams.join(keep, "gram")
        .where((F.col("doc_id") != F.col("kdoc")) | (F.col("i") != F.col("ki")))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + 3)).alias("p"),
        )
    )
    dps = drops.groupBy("doc_id").agg(F.collect_set("p").alias("drop_ps"))
    rep_out = (
        t.join(dps, "doc_id", "left")
        .select(
            "doc_id",
            "toks",
            F.coalesce(F.col("drop_ps"), F.array().cast("array<int>")).alias(
                "drop_ps"
            ),
        )
        .select(
            F.col("doc_id").alias("rep_doc"),
            F.filter(
                F.col("toks"),
                lambda w, idx: ~F.array_contains(
                    F.col("drop_ps"), idx + F.lit(1)
                ),
            ).alias("kept"),
        )
    )
    # Join every doc back to its representative's result. Non-reps with
    # >= 4 tokens lose everything (see docstring); shorter docs have no
    # grams anywhere and keep everything.
    is_rep = F.col("doc_id") == F.col("rep_doc")
    n_tok = F.size("toks")
    kept_final = F.when(is_rep, F.col("kept")).otherwise(
        F.when(n_tok >= 4, F.array().cast("array<string>")).otherwise(
            F.col("toks")
        )
    )
    return (
        keyed.join(rep, "_pk")
        .join(rep_out, "rep_doc")
        .select(
            "doc_id",
            n_tok.alias("n_tokens"),
            (n_tok - F.size(kept_final)).cast("bigint").alias("n_removed"),
            F.array_join(kept_final, " ").alias("text_clean"),
        )
    )


@register(
    "text_ngram_novelty_curve",
    oracle="""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[i:i+2], ' ') AS gram
      FROM t, UNNEST(RANGE(1, LEN(toks) - 1)) s(i)
    ),
    f AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
    ),
    p AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM g JOIN f USING (gram) GROUP BY g.doc_id
    )
    SELECT t.doc_id, COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_novel, 0) AS n_novel,
           CASE WHEN p.n_grams > 0
                THEN ROUND(CAST(p.n_novel AS DOUBLE)
                           / CAST(p.n_grams AS DOUBLE), 6)
           END AS novelty_ratio
    FROM t LEFT JOIN p USING (doc_id)
    """,
    doc="Per-document n-gram novelty — the dataset-accumulation metric "
    "behind 'how much NEW content does each additional shard "
    "contribute': for every doc (in doc_id arrival order), the "
    "fraction of its distinct 3-grams whose corpus-wide FIRST "
    "occurrence (min doc_id) is this doc. Dedup-adjacent curation "
    "signal: a tail of near-zero-novelty docs means the crawl has "
    "saturated. One distinct (doc,gram) projection, one gram arg-min "
    "aggregate (O(1) state per gram), an equi-join back and a per-doc "
    "count — integer counts end-to-end, one shared double division at "
    "6 dp. Same gram-keyed shuffle shape as the span-dedup family; "
    "production would key on xxhash64(gram) for fixed width. "
    "CONTENT-CONTRACTED (r5): the gram stage runs on DISTINCT texts "
    "only — an exact duplicate of an earlier text can own no novel "
    "gram (its every gram already exists in the copy with the "
    "smallest doc_id), so non-representatives inherit the content-"
    "pure n_grams and emit n_novel = 0 via a digest join-back.",
)
def text_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", F.md5("text").alias("_pk"), "text")
    rep = keyed.groupBy("_pk").agg(F.min("doc_id").alias("rep_doc"))
    t = (
        keyed.join(rep, "_pk")
        .where(F.col("doc_id") == F.col("rep_doc"))
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    starts = F.when(
        F.size("toks") >= 3, F.sequence(F.lit(1), F.size("toks") - 2)
    ).otherwise(F.array().cast("array<int>"))
    g = (
        t.select(
            "doc_id",
            F.explode(
                F.transform(
                    starts, lambda i: F.array_join(F.slice("toks", i, 3), " ")
                )
            ).alias("gram"),
        )
        .dropDuplicates(["doc_id", "gram"])
    )
    # First-doc per gram over representatives equals the corpus-wide
    # minimum: reps hold the smallest doc_id of their content class.
    f = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    p = (
        g.join(f, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    rep_out = p.select(
        F.col("doc_id").alias("rep_doc"), "n_grams", "n_novel"
    )
    is_rep = F.col("doc_id") == F.col("rep_doc")
    n_grams = F.coalesce("n_grams", F.lit(0).cast("bigint"))
    n_novel = F.when(
        is_rep, F.coalesce("n_novel", F.lit(0).cast("bigint"))
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        keyed.join(rep, "_pk")
        .join(rep_out, "rep_doc", "left")
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_novel.alias("n_novel"),
            F.when(
                n_grams > 0,
                F.round(
                    n_novel.cast("double") / n_grams.cast("double"), 6
                ),
            ).alias("novelty_ratio"),
        )
    )


@register(
    "eval_quality_auc_by_lang",
    oracle="""
    WITH d AS (
      SELECT lang,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                             w -> w IN ('the', 'a'))) AS score,
             CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    c AS (
      SELECT lang, score, CAST(SUM(y) AS BIGINT) AS p_v,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_v
      FROM d GROUP BY lang, score
    ),
    w AS (
      SELECT lang, p_v, n_v,
             COALESCE(SUM(n_v) OVER (PARTITION BY lang ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_n
      FROM c
    ),
    a AS (
      SELECT lang, CAST(SUM(p_v) AS BIGINT) AS n_pos,
             CAST(SUM(n_v) AS BIGINT) AS n_neg,
             CAST(SUM(2 * p_v * cum_n + p_v * n_v) AS BIGINT) AS u2
      FROM w GROUP BY lang
    )
    SELECT lang, n_pos, n_neg, u2,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN ROUND(CAST(u2 AS DOUBLE)
                           / CAST(2 * n_pos * n_neg AS DOUBLE), 6)
           END AS auc
    FROM a
    """,
    doc="Tie-corrected ROC-AUC of a quality signal (stopword count — "
    "integer-valued, so ties are the common case) against the length "
    "label (n_chars >= 200, the text_quality_logreg_train target), "
    "grouped by lang: the filter-evaluation step every curation "
    "pipeline needs before trusting a scorer. Computed WITHOUT pair "
    "enumeration via the Mann-Whitney U statistic on per-(lang,score) "
    "class counts: one corpus-collapsing aggregate to "
    "|langs|x|distinct scores| rows (map-side combined), a cumulative "
    "window over ascending score, and u2 = 2*concordant + tied kept "
    "as an EXACT integer; AUC = u2 / (2*P*N) is the single shared "
    "double division, rounded at 6 dp. Null AUC when a lang lacks "
    "both classes. Scale shape: the O(n^2) pairwise definition "
    "collapses to a group-by whose key space is data-independent of "
    "corpus size.",
)
def eval_quality_auc_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        X.stopword_count("text").alias("score"),
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("y"),
    )
    c = d.groupBy("lang", "score").agg(
        F.sum("y").cast("bigint").alias("p_v"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_v"),
    )
    win = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = c.select(
        "lang",
        "p_v",
        "n_v",
        F.coalesce(F.sum("n_v").over(win), F.lit(0)).alias("cum_n"),
    )
    a = w.groupBy("lang").agg(
        F.sum("p_v").cast("bigint").alias("n_pos"),
        F.sum("n_v").cast("bigint").alias("n_neg"),
        F.sum(
            2 * F.col("p_v") * F.col("cum_n") + F.col("p_v") * F.col("n_v")
        )
        .cast("bigint")
        .alias("u2"),
    )
    return a.select(
        "lang",
        "n_pos",
        "n_neg",
        "u2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("u2").cast("double")
                / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
                6,
            ),
        ).alias("auc"),
    )


@register(
    "eval_score_calibration",
    oracle="""
    WITH d AS (
      SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS y,
             (LEN(STRING_SPLIT(text, ' ')) - 45.0) / 10.0
                 + 2.0 * (LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                          w -> w IN ('the', 'a')))::DOUBLE
                          / LEN(STRING_SPLIT(text, ' '))) AS z
      FROM documents
    ),
    s AS (
      SELECT y, 0.5 + 0.5 * z / (1.0 + ABS(z)) AS score FROM d
    ),
    b AS (
      SELECT y, score,
             LEAST(CAST(FLOOR(score * 10.0) AS INTEGER), 9) AS bin
      FROM s
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(CAST(score AS DECIMAL(27,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_conf,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS emp_rate
    FROM b GROUP BY bin
    """,
    doc="Score-calibration reliability bins — the eval every scorer "
    "needs before its outputs are used as probabilities (filter "
    "thresholds, mixture weights): a deterministic rational-sigmoid "
    "scorer (0.5 + 0.5z/(1+|z|), the logreg query's activation — no "
    "transcendental, so the score tree is shared IEEE across "
    "engines) over stopword-ratio + length features, binned into 10 "
    "equal-width confidence bins; per bin the count, positive count, "
    "mean confidence (DECIMAL(27,12)-pinned sum, one shared "
    "division) and the empirical positive rate. Mean-conf vs "
    "emp-rate per bin IS the reliability diagram; |diff| weighted by "
    "n is ECE. One map + one 10-key aggregate — data-independent "
    "output at any corpus size. Completes the eval family (AUC, "
    "confusion, kappa, calibration).",
)
def eval_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    z = (F.size(toks).cast("double") - F.lit(45.0)) / F.lit(10.0) + F.lit(
        2.0
    ) * (
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))).cast("double")
        / F.size(toks).cast("double")
    )
    score = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    b = docs.select(
        (F.col("n_chars") >= 200).cast("int").alias("y"),
        score.alias("score"),
        F.least(
            F.floor(score * 10.0).cast("int"), F.lit(9)
        ).alias("bin"),
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.round(
            F.sum(F.col("score").cast("decimal(27,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_conf"),
        F.round(
            F.sum("y").cast("double") / F.count(F.lit(1)), 6
        ).alias("emp_rate"),
    )


@register(
    "text_readability_scores",
    oracle="""
    WITH w AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS wd,
             LEN(STRING_SPLIT(text, ' ')) AS n_words,
             GREATEST(LEN(STRING_SPLIT(text, '.')) - 1, 1) AS n_sentences
      FROM documents
    ),
    s AS (
      SELECT doc_id, MAX(n_words) AS n_words, MAX(n_sentences) AS n_sentences,
             CAST(SUM(GREATEST(LEN(REGEXP_EXTRACT_ALL(wd, '[aeiou]+')), 1))
                  AS BIGINT) AS n_syllables
      FROM w GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
           CAST(n_sentences AS INTEGER) AS n_sentences, n_syllables,
           ROUND(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
                 4) AS flesch_ease,
           ROUND(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                 - 15.59, 4) AS fk_grade
    FROM s
    """,
    doc="Flesch reading-ease + Flesch-Kincaid grade per document — the "
    "classic readability pair used as a curation quality signal "
    "(Kincaid et al. 1975). Syllables are the standard vowel-group "
    "heuristic (floored at 1 per word — an exact integer per word); "
    "sentence count falls back to 1 on unpunctuated text like this "
    "corpus. All counts exact integers; the two scores are shared "
    "double trees rounded at 4 dp. MAP-ONLY plan (r5): since spaces "
    "are not vowels, vowel runs never cross word boundaries, so "
    "sum-over-words of per-word runs equals ONE regexp_extract_all "
    "over the whole document; the per-word floor-at-1 adds exactly "
    "+1 per vowel-free word, counted by a vowel-strip length compare "
    "(translate — a char map, no regex) inside an array filter. The "
    "oracle keeps the per-word UNNEST definition; the identity is "
    "exact integer arithmetic, so the emitted values are unchanged "
    "(r5: 55.6 s → 9.1 s at sf5). CONTENT-CONTRACTED on top: all "
    "columns are content-pure, so the expression work runs once per "
    "distinct text (9.1 s → ~2 s on the 50x-duplicated corpus).",
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # CONTENT-CONTRACTED (r5): every output column is content-pure, so
    # the regex/array expression work runs once per distinct text and
    # fans back to doc ids through the content digest.
    keyed = docs.select("doc_id", F.md5("text").alias("_pk"))
    reps = docs.groupBy(F.md5("text").alias("_pk")).agg(
        F.min("text").alias("text")
    )
    toks = F.split("text", " ")
    # Words containing no vowel at all (each contributes floor 1 in the
    # per-word greatest(runs, 1)); translate strips vowels in one pass.
    no_vowel = F.filter(
        toks,
        lambda x: F.length(F.translate(x, "aeiou", "")) == F.length(x),
    )
    s = reps.select(
        "_pk",
        F.size(toks).alias("n_words"),
        F.greatest(
            F.size(F.split("text", "\\.")) - 1, F.lit(1)
        ).alias("n_sentences"),
        (
            F.size(F.regexp_extract_all("text", F.lit("([aeiou]+)"), 1))
            + F.size(no_vowel)
        )
        .cast("bigint")
        .alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    per_text = s.select(
        "_pk",
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_sentences").cast("int").alias("n_sentences"),
        "n_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4
        ).alias("fk_grade"),
    )
    return keyed.join(per_text, "_pk").select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        "flesch_ease", "fk_grade",
    )
