"""Deduplication operators for training-data pipelines:

- exact dedup: hash-groupBy on content digest — one shuffle on the hash.
- n-gram Jaccard pairs: inverted-index (posting-list) self-join on
  shingles — the scalable exact algorithm: work is proportional to the
  sum of squared posting-list lengths, not to n² documents.
- MinHash + LSH: shingle → k minhashes → banded bucket join. Candidate
  generation touches each document O(k) times; only same-bucket pairs
  are verified, which is what makes near-dedup feasible at 100 TB.
- SimHash: 64-bit signature via per-bit majority vote of token hashes;
  near-dup candidates share signatures within a small Hamming radius.
- exact contraction: :func:`exact_groups` collapses identical content
  to one representative, :func:`contracted_pairs` runs a content-pure
  pair operator on representatives and expands the result to every
  copy. Each pair operator ships as a raw ``*_reps`` function and a
  contracted entry point.

All built from DataFrame ops (xxhash64/explode/groupBy) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators.text import shingles, tokens
from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL, fan_out, keyed_spread


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical documents by content digest; emit group size and
    the representative (minimum) id. Hash-first so the shuffle key is a
    fixed-width digest, not the document body. fan_out first: the md5
    map side otherwise runs on the scan's split count (measured 1.8-2.2 s
    single-task at sf0.1 — single-row-group corpus files; no-op at scale)."""
    return (
        fan_out(df)
        .select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("first_doc"),
        )
    )


def dedup_representatives(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative row (minimum id) per exact-duplicate group.

    The standard first stage of a dedup pipeline: run this BEFORE any
    near-dup operator. Exact duplicates multiply near-dup work
    quadratically — k copies of a document inflate its posting lists k×
    and its candidate pairs k² — so collapsing them first keeps the
    expensive stages sized by UNIQUE content (measured at 10× replicated
    corpus: jaccard wall time drops from ~293 s to ~1 s, see SCALE.md).
    """
    reps = exact_dedup_groups(df, text_col, id_col).select(
        F.col("first_doc").alias(id_col)
    )
    return df.join(reps, id_col, "left_semi")


def _shingle_postings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_doc_freq: int | None = None,
) -> DataFrame:
    posts = fan_out(df).select(
        F.col(id_col),
        # Hash-to-long INSIDE the per-row pipeline: array_distinct over
        # 8-byte keys is ~4× cheaper than over n-gram strings, and every
        # downstream shuffle/join moves fixed-width keys. Identical
        # semantics absent a 64-bit collision (birthday bound ~10^9
        # distinct shingles; the MinHash/SimHash operators already make
        # the same trade).
        F.explode(
            F.array_distinct(F.transform(shingles(text_col, n), lambda g: F.xxhash64(g)))
        ).alias("sh"),
    )
    if max_doc_freq is not None:
        # Stop-shingle filter: a shingle appearing in d documents emits
        # O(d²) candidate pairs in the posting self-join, so one hot
        # shingle (boilerplate, license headers, Zipf-head phrases) turns
        # the plan quadratic. Dropping shingles with document frequency
        # above the cap bounds every posting list — the hot relation is
        # tiny (only pathological shingles) so AQE broadcasts the anti-join.
        hot = (
            posts.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .filter(F.col("doc_freq") > max_doc_freq)
            .select("sh")
        )
        posts = posts.join(hot, "sh", "left_anti")
    return posts


def shingle_sizes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    return fan_out(df).select(
        F.col(id_col),
        F.size(
            F.array_distinct(F.transform(shingles(text_col, n), lambda g: F.xxhash64(g)))
        ).alias("n_shingles"),
    )


def shingle_diagonal(
    reps: DataFrame, text_col: str, id_col: str, n: int, score_col: str
) -> DataFrame:
    """Self-pair values of the shingle-set pair operators (jaccard,
    containment, LSH + exact verification): a document paired with an
    exact copy shares its full distinct ``n``-shingle set at score 1.0.
    Zero-shingle documents are left out — they have no postings, hence
    no raw pair either."""
    return (
        shingle_sizes(reps, text_col, id_col, n)
        .where(F.col("n_shingles") > 0)
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("long").alias("n_shared"),
            F.lit(1.0).alias(score_col),
        )
    )


def exact_groups(df: DataFrame, key: Column, id_col: str) -> tuple[DataFrame, DataFrame]:
    """Group rows of ``df`` with equal ``key`` — ``F.md5(text)`` for
    documents, the signature column for fingerprints, the array column
    itself for vectors (array equality, no tolerance) — the grouping
    step of every exact contraction.

    Returns ``(members, reps)``: ``members`` is ``(id_col, _rep)`` with
    ``_rep`` the group's minimum id; ``reps`` holds the rows of ``df``
    that are their group's representative. Rows with a NULL key are in
    neither (the membership equi-join drops them). Both are
    localCheckpointed, so the key map and the semi-join run once however
    often a caller reads them (:func:`contracted_pairs` reads
    ``members`` four times and ``reps`` twice).

    ``df`` is used as given. Text callers pass ``fan_out(df)``: md5 over
    document bodies is an expensive map that otherwise runs single-task
    on a one-split scan (1.8-2.2 s at sf0.1), as does the reps
    semi-join feeding every content pass. A column key (signature,
    vector) has no such map, and spreading it only adds a shuffle
    (measured +3-6 s cold JVM CPU on the sf0.1 embedding near-dup
    queries).
    """
    keyed = df.select(F.col(id_col), key.alias("_key"))
    members = (
        keyed.join(keyed.groupBy("_key").agg(F.min(id_col).alias("_rep")), "_key")
        .select(id_col, "_rep")
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    reps = df.join(
        members.where(F.col(id_col) == F.col("_rep")).select(id_col), id_col, "left_semi"
    ).localCheckpoint(storageLevel=CKPT_LEVEL)
    return members, reps


def contracted_pairs(
    df: DataFrame,
    key: Column,
    pair_fn,
    diag_fn,
    id_col: str,
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """Exact contraction for CONTENT-PURE pair operators: run
    ``pair_fn`` on one representative per :func:`exact_groups` group
    and expand the result to every member id — bit-identical to running
    ``pair_fn`` on ``df`` itself, at unique-content cost. k exact copies
    otherwise inflate pair work k² (replicated sf1 corpus: jaccard
    280 s → 24 s, MinHash verify 40 s → 5 s).

    ``pair_fn(reps) -> (*pair_cols, *value_cols)`` must depend only on
    the grouping key's content, so copies are interchangeable.
    ``diag_fn(reps) -> (id_col, *value_cols)`` states the DIAGONAL: the
    values the raw operator gives a pair of exact copies of a
    representative, restricted to representatives whose copies it pairs
    at all (e.g. jaccard (full set size, 1.0) for docs with ≥ 1
    shingle; Hamming 0 for any signature; nothing for fuzzy edit
    distance, which excludes distance 0).

    Cross-group pairs re-attach each side's members through two
    equi-joins on the representative id (output-sized work) and are
    re-ordered with least/greatest; within-group pairs are a per-group
    member self-join carrying the diagonal values.
    """
    a, b = pair_cols
    members, reps = exact_groups(df, key, id_col)
    rep_pairs = pair_fn(reps)
    value_cols = [c for c in rep_pairs.columns if c not in pair_cols]
    m_a = members.select(F.col("_rep").alias(a), F.col(id_col).alias("_da"))
    m_b = members.select(F.col("_rep").alias(b), F.col(id_col).alias("_db"))
    cross = (
        rep_pairs.join(m_a, a)
        .join(m_b, b)
        .select(
            F.least("_da", "_db").alias(a),
            F.greatest("_da", "_db").alias(b),
            *value_cols,
        )
    )
    wa = members.select(F.col("_rep"), F.col(id_col).alias("_da"))
    wb = members.select(F.col("_rep"), F.col(id_col).alias("_db"))
    within = (
        wa.join(wb, "_rep")
        .where(F.col("_da") < F.col("_db"))
        .join(diag_fn(reps).withColumnsRenamed({id_col: "_rep"}), "_rep")
        .select(F.col("_da").alias(a), F.col("_db").alias(b), *value_cols)
    )
    return cross.unionByName(within)


def contracted_rowwise(
    df: DataFrame,
    fn,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact contraction for CONTENT-PURE per-row operators (quality
    metrics, language id, fingerprints): compute each metric once per
    unique document, fan the result back out to every copy via one
    equi-join on the representative id. Output is bit-identical to
    running ``fn`` on the raw corpus — per-row metrics of a copy ARE the
    representative's metrics — at unique-content compute cost.

    ``fn(reps) -> DataFrame`` must key its output by ``id_col`` and emit
    only content-derived columns.
    """
    members, reps = exact_groups(fan_out(df), F.md5(F.col(text_col)), id_col)
    rep_out = fn(reps).withColumnRenamed(id_col, "_rep")
    metric_cols = [c for c in rep_out.columns if c != "_rep"]
    return members.join(rep_out, "_rep").select(id_col, *metric_cols)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """:func:`ngram_jaccard_pairs_reps` under exact contraction
    (:func:`contracted_pairs`): the posting join is quadratic in UNIQUE
    content instead of raw rows, with bit-identical output. Exact copies
    share every shingle, so jaccard(a, b) = jaccard(rep(a), rep(b)) and
    within-group pairs are (full set size, 1.0) by definition
    (:func:`shingle_diagonal`). On the 10×-replicated sf1 corpus this
    cut the operator from 280 s to ~16 s — k copies otherwise inflate
    posting lists k× and candidate pairs k². ``max_doc_freq`` counts a
    shingle's document frequency over UNIQUE content — the more
    meaningful boilerplate measure, since replication would otherwise
    push ordinary shingles over the cap.
    """
    return contracted_pairs(
        fan_out(df),
        F.md5(F.col(text_col)),
        lambda reps: ngram_jaccard_pairs_reps(
            reps, text_col, id_col, n, threshold, max_doc_freq
        ),
        lambda reps: shingle_diagonal(reps, text_col, id_col, n, "jaccard"),
        id_col,
    )


def ngram_jaccard_pairs_reps(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle,
    computed on ``df`` as given (no exact contraction — use
    :func:`ngram_jaccard_pairs` unless the input is already unique).

    Inverted-index plan: explode distinct shingles → self equi-join on
    the shingle (posting-list join) → count shared shingles per pair →
    Jaccard from per-doc set sizes. At 100 TB the hot-shingle skew is
    the risk: AQE skew-join handles moderate skew; for pathological
    document frequencies pass ``max_doc_freq`` to drop stop-shingles
    before the join, bounding every posting list (candidate generation
    becomes O(n · max_doc_freq) instead of O(hot_df²)).

    With the filter on, ``n_shared`` no longer counts dropped shingles,
    so the emitted jaccard is a LOWER bound — precision stays exact
    (every surviving pair clears the true threshold too, since the true
    intersection is ≥ the counted one while sizes stay full), and recall
    loss is bounded: a pair loses at most (dropped shingles it shared)
    from its intersection, negligible for high-similarity pairs whose
    overlap is dominated by non-boilerplate content.

    Two shuffle-volume optimizations (measured 9.0 s → 4.7 s at sf0.1,
    identical output):

    - Shingles are hashed to 64-bit ``xxhash64`` keys BEFORE any
      shuffle: the posting self-join, the hot-shingle doc-freq count,
      and the per-pair aggregation all move fixed 8-byte keys instead of
      ~25-byte n-gram strings. Intersection-by-hash equals
      intersection-by-string absent a collision; at 2^64 key space a
      cross-engine-visible collision needs ~10^9 distinct shingles in
      one corpus (birthday bound) — and the same argument already backs
      the MinHash and SimHash operators.
    - The postings relation feeds BOTH sides of the self-join;
      ``localCheckpoint`` materializes it once so the scan + explode +
      hash subtree does not run twice (self-joins duplicate lineage).
      At cluster scale the checkpoint spills to executor-local disk —
      the standard trade for any reused exploded relation.
    """
    # Hash-to-long BEFORE array_distinct (dedup over 8-byte keys, not
    # n-gram strings). Callers pass spread input (the reps of a
    # fanned-out contraction). Checkpointed BEFORE the hot filter so
    # the per-doc set sizes (which must count ALL distinct shingles,
    # filter or not) come from the same materialization — the scan +
    # shingle + hash subtree runs exactly once per corpus.
    posts_raw = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.transform(shingles(text_col, n), lambda g: F.xxhash64(g)))
        ).alias("sh"),
    ).localCheckpoint(storageLevel=CKPT_LEVEL)
    posts = posts_raw
    if max_doc_freq is not None:
        # Stop-shingle filter on the HASHED key (same semantics as
        # _shingle_postings, cheaper shuffle): one hot shingle with
        # document frequency d emits O(d²) candidate pairs, so cap it.
        hot = (
            posts.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .filter(F.col("doc_freq") > max_doc_freq)
            .select("sh")
        )
        posts = posts.join(hot, "sh", "left_anti")
    a = posts.alias("a")
    b = posts.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # Per-doc distinct-shingle counts from the SAME checkpointed
    # postings (pre-hot-filter, so sizes stay full): zero-shingle docs
    # are absent here, but they are also absent from `shared` (no
    # postings → no join rows), so the inner joins below see the same
    # population either way.
    sizes = posts_raw.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_shingles")
    )
    out = (
        # Plain equi-joins on doc id: the sizes relation is O(n_docs), so a
        # broadcast hint would ship the whole corpus's sizes to every
        # executor. AQE still broadcasts when the relation is actually small.
        shared.join(sizes.withColumnsRenamed({id_col: "doc_a", "n_shingles": "size_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({id_col: "doc_b", "n_shingles": "size_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )
    return out


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs only: join the two
    documents' (distinct) shingle arrays onto each pair and intersect
    per-row. Work scales with the candidate count — never recomputes the
    all-pairs similarity the candidates were generated to avoid.
    fan_out first: the shingle pass is compute-dense and otherwise runs
    on the input's (often 1-partition checkpoint) split count — measured
    as two 2.5 s single-task broadcast builds at sf0.1."""
    sets_ = fan_out(df).select(
        F.col(id_col), F.array_distinct(shingles(text_col, n)).alias("sh")
    )
    out = (
        pairs.join(
            sets_.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets_.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .withColumn("n_shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared").cast("double")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.col("n_shared").cast("bigint").alias("n_shared"), "jaccard")
    )
    return out


def md5_prefix_hash(col) -> "F.Column":
    """60-bit hash from the first 15 hex chars of md5 — the cross-engine
    hash family: DuckDB computes the identical value as
    ``('0x' || SUBSTR(MD5(x), 1, 15))::BIGINT`` (verified bit-equal,
    incl. non-ASCII). Positive, fits BIGINT in both engines. Use for
    sketches that need an independent SQL oracle; prefer ``xxhash64``
    (~3× cheaper, JVM-native) when cross-engine replay isn't needed."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """k-permutation MinHash signature per document.

    ``hash_family="xxhash64"`` (default, the scale path): each family
    member is ``xxhash64(i, xxhash64(shingle))`` — 64-bit, JVM-native,
    fixed-width postings. ``hash_family="md5"``: each member is the
    60-bit md5-prefix hash of ``"{i}:" + shingle`` — ~3× costlier but
    bit-reproducible in ANSI SQL (:func:`md5_prefix_hash`), which makes
    the whole sketch independently checkable by a DuckDB oracle. The
    signature is the per-family minimum; one explode + one groupBy —
    linear in total shingle count either way.
    """
    if hash_family == "md5":
        posts = fan_out(df).select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles(text_col, n))).alias("sh"),
        )
        aggs = [
            F.min(
                md5_prefix_hash(F.concat(F.lit(f"{i}:"), F.col("sh")))
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        posts = _shingle_postings(df, text_col, id_col, n)
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return posts.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate near-dup pairs.

    rows_per_band = num_hashes // bands. Two documents become candidates
    iff some band of their signatures collides, i.e. with probability
    1-(1-j^r)^b for Jaccard j — tune (b, r) for the target threshold.
    The bucket join keys on (band_id, band_hash): bounded-size buckets,
    no n² comparison. ``hash_family="md5"`` makes both the signatures
    and the band hashes SQL-reproducible (see
    :func:`minhash_signatures`) at ~3× the hashing cost.
    """
    # md5 band hash = md5 of the comma-joined decimal strings: DuckDB
    # reproduces it exactly as MD5(h0::VARCHAR || ',' || h1::VARCHAR ...)
    banded = minhash_banded(
        df, text_col, id_col, n, num_hashes, bands, hash_family
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, band_id, band_hash) banding rows over MinHash signatures —
    the PERSISTABLE index shape: write this once for the historical
    corpus (bucketed by (band_id, band_hash)) and every future ingest
    batch probes it with an equi-join, never rescanning history text."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes, hash_family)

    def band_hash(b: int):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_family == "md5":
            return md5_prefix_hash(F.concat_ws(",", *cols))
        return F.xxhash64(*cols)

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                band_hash(b).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_structs).alias("band")).select(
        id_col, "band.band_id", "band.band_hash"
    )


def minhash_index_probe(
    history: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_family: str = "xxhash64",
    threshold: float = 0.2,
) -> DataFrame:
    """Cross-side MinHash-LSH probe: candidate (hist_id, batch_id) pairs
    wherever a band of the batch doc's signature collides with the
    historical index, verified with exact Jaccard ≥ ``threshold`` —
    the near-dup tier of incremental ingest dedup (the exact tiers are
    ``dedup_incremental_new_batch``'s digest anti-joins).

    Exact-contraction applies across sides too (banding + verification
    are content-pure): the union corpus contracts to distinct texts,
    rep-level LSH pairs expand to (hist member, batch member) via
    output-sized joins, and the DIAGONAL — the same text present on
    both sides — carries (full shingle-set size, 1.0) exactly as the
    raw cross join of identical docs would (identical signatures
    collide on every band; zero-shingle docs have no signature, hence
    no pairs). Bit-identical to the raw cross-side computation at
    unique-content cost (pinned by the raw≡contracted pytest).

    At 100 TB: ``minhash_banded(history)`` is the persisted index
    (fixed-width keys, bucketed by (band_id, band_hash)); a probe
    shuffles only the batch's band rows + candidate verifications.
    """
    u = history.select(
        F.col(id_col), F.col(text_col), F.lit("hist").alias("_side")
    ).unionByName(
        batch.select(F.col(id_col), F.col(text_col), F.lit("batch").alias("_side"))
    )
    groups = exact_dedup_groups(u, text_col, id_col)
    members = (
        u.select(F.col(id_col), "_side", F.md5(F.col(text_col)).alias("text_hash"))
        .join(
            groups.select("text_hash", F.col("first_doc").alias("_rep")),
            "text_hash",
        )
        .select(id_col, "_side", "_rep")
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    reps = u.join(
        members.where(F.col(id_col) == F.col("_rep")).select(id_col),
        id_col,
        "left_semi",
    ).localCheckpoint(storageLevel=CKPT_LEVEL)
    cands = minhash_lsh_candidates(
        reps, text_col, id_col, n, num_hashes, bands, hash_family
    )
    rep_pairs = verify_pairs_jaccard(reps, cands, text_col, id_col, n, threshold)
    h_m = members.where(F.col("_side") == "hist").select(
        F.col("_rep").alias("_rh"), F.col(id_col).alias("hist_id")
    )
    b_m = members.where(F.col("_side") == "batch").select(
        F.col("_rep").alias("_rb"), F.col(id_col).alias("batch_id")
    )
    # unordered rep pair {a, b} → both side assignments
    directed = rep_pairs.selectExpr(
        "doc_a AS _rh", "doc_b AS _rb", "n_shared", "jaccard"
    ).unionByName(
        rep_pairs.selectExpr("doc_b AS _rh", "doc_a AS _rb", "n_shared", "jaccard")
    )
    cross = (
        directed.join(h_m, "_rh")
        .join(b_m, "_rb")
        .select("hist_id", "batch_id", "n_shared", "jaccard")
    )
    diag_vals = shingle_sizes(reps, text_col, id_col, n).where(
        F.col("n_shingles") > 0
    )
    diag = (
        h_m.join(b_m, F.col("_rh") == F.col("_rb"))
        .join(
            diag_vals.select(
                F.col(id_col).alias("_rh"),
                F.col("n_shingles").cast("long").alias("n_shared"),
            ),
            "_rh",
        )
        .select("hist_id", "batch_id", "n_shared", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(diag)


def simhash_bits(hash_family: str) -> int:
    """Signature width per hash family: 64 for xxhash64, 60 for the md5
    prefix family (15 hex chars — the widest md5 prefix that stays a
    positive BIGINT in both Spark and DuckDB)."""
    return 60 if hash_family == "md5" else 64


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash per document: per-bit majority vote over token hashes,
    assembled with bit arithmetic — all JVM expressions.

    64-bit from xxhash64 (default), or 60-bit from the md5-prefix
    family (``hash_family="md5"``) when the signature must be
    SQL-reproducible for an independent oracle. The explode + per-bit
    conditional sums is one shuffle on ``id_col``; signature assembly
    is a pure projection.
    """
    nbits = simhash_bits(hash_family)
    h = (
        md5_prefix_hash(F.col("w"))
        if hash_family == "md5"
        else F.xxhash64("w")
    )
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("w")
    ).withColumn("h", h)
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(nbits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(nbits):
        sig = sig + F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * (2**b if b < 63 else -(2**63))).otherwise(0)
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    blocks: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """:func:`simhash_near_pairs_reps` under exact contraction
    (:func:`contracted_pairs`) — bit-identical output: copies share
    every chunk and sit at Hamming 0, so the diagonal is distance 0 for
    any document with ≥ 1 token (tokenless docs have no signature and no
    pairs, matching raw). k copies otherwise inflate every chunk bucket
    k× and candidate pairs k² (measured 34 s → 9 s on the
    50×-replicated sf5 corpus)."""
    return contracted_pairs(
        fan_out(df),
        F.md5(F.col(text_col)),
        lambda reps: simhash_near_pairs_reps(
            reps, text_col, id_col, max_hamming, blocks, hash_family
        ),
        lambda reps: reps.where(F.size(tokens(text_col)) >= 1)
        .select(F.col(id_col), F.lit(0).cast("int").alias("hamming")),
        id_col,
    )


def simhash_near_pairs_reps(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    blocks: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates via block permutation, on ``df`` as
    given: split the 64-bit signature into ``blocks`` chunks; by
    pigeonhole, any pair within Hamming distance < blocks shares a
    chunk — so an equi-join per chunk finds all such pairs without n²
    comparisons. Pairs are then verified with the exact popcount
    distance."""
    sigs = simhash(df, text_col, id_col, hash_family)
    return hamming_near_pairs(
        sigs,
        sig_col="simhash",
        id_col=id_col,
        max_hamming=max_hamming,
        blocks=blocks,
        total_bits=simhash_bits(hash_family),
    )


def hamming_near_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    blocks: int = 4,
    total_bits: int = 64,
) -> DataFrame:
    """Generic pigeonhole near-pair join over ANY long signature column
    (SimHash, perceptual image hash, audio fingerprint …): split the
    signature into ``blocks`` chunks; any pair within Hamming distance
    < blocks shares a chunk, so per-chunk equi-joins find all such
    pairs without n² comparisons; survivors are verified with the exact
    popcount distance. Output (doc_a, doc_b, hamming)."""
    width = total_bits // blocks
    # keyed_spread pins the per-chunk candidate self-join at cluster
    # parallelism: signature rows are byte-light (4 longs), so AQE
    # coalesces the bucket join to 1-2 tasks while the join itself is
    # compute-dense (within-bucket pair scan + popcount verify +
    # distinct) — measured +1.1 s warm at sf0.1 without it. Both join
    # sides read this one REPARTITION_BY_NUM exchange.
    chunked = keyed_spread(
        sigs.select(
            F.col(id_col),
            F.col(sig_col).alias("_sig"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("chunk_id"),
                            F.shiftrightunsigned(F.col(sig_col), i * width)
                            .bitwiseAND(F.lit((1 << width) - 1))
                            .alias("chunk"),
                        )
                        for i in range(blocks)
                    ]
                )
            ).alias("c"),
        ).select(id_col, "_sig", "c.chunk_id", "c.chunk"),
        "chunk_id",
        "chunk",
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    hamming = F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig")))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve duplicate PAIRS into CLUSTERS: distributed connected
    components via alternating large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    This is the stage every pair-producing dedup operator (jaccard,
    MinHash-LSH, SimHash, embedding near-dup) needs before anything can
    be dropped: near-duplication is not transitive pairwise, so "keep
    one per pair" over-deletes — the industry-standard policy is "keep
    one representative per connected component" of the similarity graph.

    Why this algorithm at 100 TB: plain min-label propagation needs
    O(graph diameter) rounds; star contraction converges in O(log n)
    rounds with each round a bounded set of shuffles on the node id
    (window-min + equi-joins — no collect, no driver state beyond a
    2-value convergence statistic per round). Lineage is cut every
    round with localCheckpoint so the plan does not grow with the
    iteration count.

    Returns (node, component) for every node appearing in ``pairs``,
    where component = the minimum node id of its cluster. Nodes not in
    any pair are absent (join back with a left join + coalesce).
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )

    def _stat(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["c"], row["h"])

    prev = _stat(edges)
    if prev[0] == 0:
        return edges.select(F.col("u").alias("node"), F.col("v").alias("component"))

    for _ in range(max_iters):
        # Large-star: key each undirected edge on BOTH endpoints; per key
        # u, link every strictly-larger neighbour to the minimum of the
        # neighbourhood (window min — no neighbour-list materialisation).
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        w = Window.partitionBy("u")
        lg = (
            sym.withColumn("m", F.least(F.col("u"), F.min("v").over(w)))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star: key each edge on its LARGER endpoint; link the key
        # and all its (smaller) neighbours to the neighbourhood minimum.
        e2 = lg.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        w2 = Window.partitionBy("u")
        sm = e2.withColumn("m", F.min("v").over(w2))
        new_edges = (
            sm.select(F.col("v").alias("n"), F.col("m"))
            .union(sm.select(F.col("u").alias("n"), F.col("m")).distinct())
            .where(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(storageLevel=CKPT_LEVEL)
        )
        cur = _stat(new_edges)
        edges = new_edges
        if cur == prev:
            # Fixpoint: the edge set is a star forest (node -> root).
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )

    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(edges.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


def cluster_assignments(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Per-row cluster assignment from a near-dup pair list: every row of
    ``df`` gets its connected-component id (singletons keep their own id),
    the cluster size, and an ``is_rep`` flag marking the one row per
    cluster (minimum id) a dedup pipeline would keep."""
    comp = connected_components(pairs, src=src, dst=dst)
    out = (
        df.select(F.col(id_col))
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return out.select(
        id_col,
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_rep"),
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """End-to-end near-dup clustering with the EXACT-FIRST contraction:
    collapse exact duplicates, run the near-dup pair operator on unique
    content only, resolve connected components on the contracted graph,
    then propagate cluster ids back through the exact-duplicate mapping.

    Why contract first: k exact copies of a document inflate its posting
    lists k× and its candidate pairs k² — on the 10×-replicated sf1
    corpus the raw-pairs path takes ~307 s vs ~10 s contracted (same
    clusters). Contraction is exact, not approximate: exact copies share
    every shingle, so jaccard(a, b) = jaccard(rep(a), rep(b)) and the
    component structure is preserved homomorphically; the cluster
    minimum equals the minimum over representative ids because reps are
    per-group minima.

    Returns (id, cluster_id, cluster_size, is_rep) for every row of df.
    """
    members, reps = exact_groups(fan_out(df), F.md5(F.col(text_col)), id_col)
    pairs = ngram_jaccard_pairs_reps(
        reps, text_col, id_col, n=n, threshold=threshold, max_doc_freq=max_doc_freq
    )
    comp = connected_components(pairs, "doc_a", "doc_b")
    out = members.join(comp, F.col("_rep") == F.col("node"), "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col("_rep")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id")
    return out.select(
        id_col,
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_rep"),
    )


def longest_common_span(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    min_span_tokens: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """:func:`longest_common_span_reps` under exact contraction
    (:func:`contracted_pairs`). Two identical documents match at every
    (i, j) with equal window CONTENT, so their pair carries
    n_shared = Σ cᵢ² over the window multiset (cᵢ = multiplicity;
    internally-repeated windows match off the zero diagonal too) and
    max_span = full token length (the zero diagonal is one unbroken run
    of all n_windows positions — no other diagonal can beat it). Σ cᵢ²
    is a per-row sorted-run fold: each element contributes 2·run − 1,
    summing runs to squares. Qualifies iff len ≥ min_span_tokens (raw
    emits the pair only then). k copies otherwise multiply posting
    lists k× and the diagonal-run window k² (measured 64 s → ~11 s at
    sf5/50×).
    """

    def diag_fn(reps: DataFrame) -> DataFrame:
        n_toks = F.size(F.split(F.col(text_col), " "))
        sorted_w = F.array_sort(
            F.transform(shingles(text_col, w), lambda g: F.xxhash64(g))
        )
        pair_state = F.named_struct(
            F.lit("prev"), F.lit(None).cast("long"),
            F.lit("run"), F.lit(0).cast("long"),
            F.lit("acc"), F.lit(0).cast("long"),
        )
        self_pairs = F.aggregate(
            sorted_w,
            pair_state,
            lambda acc, x: F.named_struct(
                F.lit("prev"), x,
                F.lit("run"),
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
                F.lit("acc"),
                acc["acc"]
                + F.lit(2)
                * F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                )
                - F.lit(1),
            ),
            lambda acc: acc["acc"],
        )
        return (
            reps.where(n_toks >= F.lit(max(min_span_tokens, w)))
            .select(
                F.col(id_col),
                self_pairs.cast("bigint").alias("n_shared_windows"),
                n_toks.cast("int").alias("max_span_tokens"),
            )
        )

    return contracted_pairs(
        fan_out(df),
        F.md5(F.col(text_col)),
        lambda reps: longest_common_span_reps(
            reps, text_col, id_col, w, min_span_tokens, max_doc_freq
        ),
        diag_fn,
        id_col,
    )


def longest_common_span_reps(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    min_span_tokens: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Longest shared CONSECUTIVE token span per document pair, on
    ``df`` as given (no exact contraction) — the cross-document
    substring-duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): near-
    dup METRICS like Jaccard miss a verbatim paragraph pasted into an
    otherwise-different document; a long common span catches exactly
    that.

    Suffix arrays (the paper's tool) are sequential; the distributed
    formulation here is positional shingle matching + diagonal run
    detection:

    1. ``w``-token window shingles WITH POSITIONS, md5-hashed to
       fixed-width join keys (same digest both engines — a collision
       would be identical cross-engine, and at 2^60 key space it is
       astronomically unlikely).
    2. Posting self-join on the span hash (doc_a < doc_b): each match is
       a dot on the (pos_a, pos_b) alignment matrix.
    3. Consecutive shared windows lie on one DIAGONAL (pos_a − pos_b
       constant) with pos_a stepping by 1 — the classic islands trick
       (pos_a − row_number per (pair, diagonal) groups each maximal run)
       turns run length into a count: a run of L matched windows is a
       common span of w + L − 1 tokens.

    Output: (doc_a, doc_b, n_shared_windows, max_span_tokens), filtered
    to pairs whose maximal span ≥ ``min_span_tokens``. One posting-list
    shuffle + one window — the jaccard plan shape plus a diagonal
    window; ``max_doc_freq`` bounds hot-window posting lists exactly as
    in :func:`ngram_jaccard_pairs`.
    """
    # Stage the tokenization in its OWN projection: HOF lambdas have no
    # CSE, so an inline split() subtree would re-tokenize the document
    # once PER WINDOW (measured 3.1 s → 0.6 s on the sf0.1 postings).
    toks = F.col("_toks")
    staged = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    spans = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (w - 1)),
            lambda i: F.array_join(F.slice(toks, i, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    posts = staged.select(
        F.col(id_col), F.posexplode(spans).alias("pos", "span")
    ).select(
        id_col,
        "pos",
        # 15 hex chars = 60 bits: fits BIGINT signed on both engines
        F.conv(F.substring(F.md5("span"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    if max_doc_freq is not None:
        hot = (
            posts.groupBy("h")
            .agg(F.countDistinct(id_col).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("h")
        )
        posts = posts.join(F.broadcast(hot), "h", "left_anti")
    # Both sides of the self-join reference the postings — materialize
    # them once (the window-string building is the expensive part;
    # recomputing it doubles the operator's cost).
    posts = posts.localCheckpoint(storageLevel=CKPT_LEVEL)
    a = posts.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"), "h"
    )
    b = posts.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pb"), "h"
    )
    matches = a.join(b, "h").where(F.col("doc_a") < F.col("doc_b"))
    run_w = Window.partitionBy(
        "doc_a", "doc_b", (F.col("pa") - F.col("pb"))
    ).orderBy("pa")
    runs = (
        matches.withColumn("_isl", F.col("pa") - F.row_number().over(run_w))
        .groupBy("doc_a", "doc_b", (F.col("pa") - F.col("pb")).alias("_diag"), "_isl")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.sum("_run").cast("bigint").alias("n_shared_windows"),
            (F.max("_run") + (w - 1)).cast("int").alias("max_span_tokens"),
        )
        .where(F.col("max_span_tokens") >= min_span_tokens)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`ngram_containment_pairs_reps` under exact contraction
    (:func:`contracted_pairs`): copies of a document contain each other
    fully, so the diagonal is (full set size, 1.0) —
    :func:`shingle_diagonal`."""
    return contracted_pairs(
        fan_out(df),
        F.md5(F.col(text_col)),
        lambda reps: ngram_containment_pairs_reps(reps, text_col, id_col, n, threshold),
        lambda reps: shingle_diagonal(reps, text_col, id_col, n, "containment"),
        id_col,
    )


def ngram_containment_pairs_reps(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs on ``df`` as given:
    max(|A∩B|/|A|, |A∩B|/|B|) = |A∩B| / min(|A|, |B|) ≥ threshold — the
    asymmetric near-dup measure that catches subset duplicates (a doc
    embedded verbatim inside a longer one), which Jaccard structurally
    misses: a 100-shingle doc contained in a 10 000-shingle doc has
    jaccard ≈ 0.01 but containment 1.0. Standard in training-data dedup
    for boilerplate wrappers and quote-expansion copies.

    Same inverted-index plan as :func:`ngram_jaccard_pairs_reps` (hashed
    posting self-join, checkpointed postings feeding both sides and the
    size aggregate) with the min-size denominator.
    """
    posts = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.transform(shingles(text_col, n), lambda g: F.xxhash64(g))
                )
            ).alias("sh"),
        )
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    a, b = posts.alias("a"), posts.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = posts.groupBy(id_col).agg(F.count(F.lit(1)).cast("int").alias("n_shingles"))
    return (
        shared.join(
            sizes.withColumnsRenamed({id_col: "doc_a", "n_shingles": "size_a"}), "doc_a"
        )
        .join(sizes.withColumnsRenamed({id_col: "doc_b", "n_shingles": "size_b"}), "doc_b")
        .withColumn(
            "containment",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("size_a", "size_b").cast("double"),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "containment")
    )


def fuzzy_levenshtein_pairs_reps(
    df: DataFrame,
    max_dist: int = 4,
    len_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocked edit-distance near-dup pairs on UNIQUE content — the
    record-linkage workhorse (typo-level duplicates that shingle
    Jaccard misses because a 1-char edit changes every overlapping
    shingle).

    Blocking (the scale contract — never all-pairs): candidates must
    share the first whitespace token AND sit within ``len_band`` of
    each other in length. The length band is an EQUI-join, not an
    inequality: the left side emits its floor(len/band) bucket, the
    right side emits buckets b-1, b, b+1 (a 3× bounded map-side
    explode), so the join stays hash-partitioned; the exact
    |len_a − len_b| ≤ band filter then trims the bucket slack. Pairs
    at distance 0 are excluded here — exact copies are the contraction
    layer's job (:func:`fuzzy_levenshtein_pairs`), which is what keeps
    k-copy corpora off the k² path.

    Levenshtein itself is Spark's built-in (JVM codegen; identical
    unit-cost DP as every engine's, so the oracle replays it exactly).
    Returns (doc_a, doc_b, dist) with doc_a < doc_b.
    """
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.split(F.col(text_col), " ")[0].alias("_blk"),
        F.length(text_col).alias("_len"),
    )
    a = base.select(
        F.col(id_col).alias("doc_a"),
        F.col("_t").alias("_ta"),
        "_blk",
        F.col("_len").alias("_la"),
        F.floor(F.col("_len") / len_band).alias("_bkt"),
    )
    b = base.select(
        F.col(id_col).alias("doc_b"),
        F.col("_t").alias("_tb"),
        "_blk",
        F.col("_len").alias("_lb"),
        F.explode(
            F.array(
                F.floor(F.col("_len") / len_band) - 1,
                F.floor(F.col("_len") / len_band),
                F.floor(F.col("_len") / len_band) + 1,
            )
        ).alias("_bkt"),
    )
    return (
        a.join(b, ["_blk", "_bkt"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= len_band)
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("_ta", "_tb").alias("dist"),
        )
        .where((F.col("dist") > 0) & (F.col("dist") <= max_dist))
    )


def fuzzy_levenshtein_pairs(
    df: DataFrame,
    max_dist: int = 4,
    len_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full-corpus fuzzy pairs: :func:`fuzzy_levenshtein_pairs_reps`
    under exact contraction (:func:`contracted_pairs`). Near-misses are
    computed once per unique text and fanned back out. The diagonal is
    empty: the raw operator would pair exact copies (same block and
    bucket) at distance 0, which it excludes by contract."""
    return contracted_pairs(
        fan_out(df),
        F.md5(F.col(text_col)),
        lambda reps: fuzzy_levenshtein_pairs_reps(
            reps, max_dist=max_dist, len_band=len_band,
            text_col=text_col, id_col=id_col,
        ),
        lambda reps: reps.select(F.col(id_col), F.lit(None).cast("int").alias("dist")).where(
            F.lit(False)
        ),
        id_col,
    )
