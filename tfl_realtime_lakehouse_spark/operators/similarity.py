"""Similarity search over embedding columns (``array<float>``).

Three tiers, by scale:

1. ``cosine`` / ``cosine_topk`` — built-in higher-order functions
   (``zip_with`` + ``aggregate``): exact, pure-JVM, right default when
   the query set is small (broadcast) and the corpus is scanned once.
2. ``neardup_pairs_numpy`` — Arrow-batched ``mapInPandas``: each batch
   does one float64 BLAS matmul against a broadcast matrix. Exact, and
   10-100× the HOF path when comparing against many vectors at once.
3. ``ivf_topk`` — IVF-style pruning: vectors are bucketed by a coarse
   cell id (here the corpus's cluster label as the cell assignment);
   queries probe only the nearest ``nprobe`` cells by centroid. This is
   the 100 TB shape: candidate generation is an equi-join on cell id,
   so work scales with probed cells, not corpus size.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL, fan_out


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _l2_normalize(mat):
    """Row-normalize a float matrix, guarding zero-norm rows (treated as
    norm 1, so they stay all-zero): a zero vector then scores 0 against
    everything — below any positive threshold — instead of emitting NaN
    rows plus a RuntimeWarning (warning-free determinism)."""
    import numpy as np

    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    mat /= norms
    return mat


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + left-fold aggregate (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = _as_double(a), _as_double(b)
    return dot(ad, bd) / (norm(ad) * norm(bd))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force top-k neighbours per query vector.

    The query side is broadcast (small by construction), so the corpus
    is scanned exactly once with no shuffle until the final per-query
    top-k (a partial TakeOrdered per partition under AQE). Scores are
    rounded to 6 dp to pin cross-engine determinism; ties break on id.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = fan_out(corpus).join(F.broadcast(q), F.col(query_id_col) != F.col(id_col)).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("_qvec"), F.col(vec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "score", "rnk")
    )


def copy_pair_scores(
    reps: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Diagonal of the cosine pair operators under exact contraction
    (``dedup.contracted_pairs`` keyed on the vector itself): two
    exactly-equal vectors score 1.0 — identical unit vectors dot to
    1 ± ulps and every pair operator here rounds to 6 decimals.
    Zero-norm vectors are left out, matching the raw path where they
    score 0 or NaN and fail every positive threshold."""
    sq_norm = F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    nonzero = reps.where(sq_norm > 0).select(id_col)
    # Semi-join, not a plain filter: joining the member pairs to a
    # filtered scan makes the optimizer inject a runtime bloom filter
    # (two extra jobs, measured +1.7 s cold JVM CPU at sf0.1).
    return reps.select(F.col(id_col), F.lit(1.0).alias("score")).join(
        nonzero, id_col, "left_semi"
    )


def neardup_pairs_numpy(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 1_000_000,
    on_oversize: str = "reroute",
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold, via blocked matmul.

    The corpus is collected once into a normalized float64 matrix and
    broadcast; each Arrow batch then computes ``batch @ matrix.T`` in
    BLAS. Exact (not LSH). This brute-force tier is ONLY for corpora
    whose matrix fits in executor memory (~1e6×64 ≈ 0.5 GB); the
    ``max_rows`` ceiling enforces that before any gather happens:

    - ``on_oversize="reroute"`` (default): oversize corpora go through
      :func:`hyperplane_lsh_pairs` — same output schema, bucketed
      candidate generation, no driver gather; high-recall approximate
      rather than exact (the only honest contract at that scale).
    - ``on_oversize="error"``: raise instead, for callers that require
      exactness and prefer to compose bucketing themselves.

    The guard costs one count() aggregate — O(metadata) with parquet
    statistics, negligible next to the matmul it protects.
    """
    import numpy as np

    spark = corpus.sparkSession
    n = corpus.count()
    if n > max_rows:
        if on_oversize == "reroute":
            return hyperplane_lsh_pairs(
                corpus,
                bits=None,  # auto-tune bucket width from n_rows (no extra job)
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
                n_rows=n,
            )
        raise ValueError(
            f"neardup_pairs_numpy: corpus has {n} rows > max_rows={max_rows}; "
            "the exact blocked-matmul tier would gather the whole corpus. "
            "Use hyperplane_lsh_pairs / ivf_topk, or raise max_rows if the "
            "matrix genuinely fits in memory."
        )
    rows = (
        corpus.select(id_col, vec_col).toPandas()
    )  # bounded by max_rows (checked above): one-time gather of the matrix
    ids = rows[id_col].to_numpy()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in rows[vec_col]])
    _l2_normalize(mat)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def block_similarity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids = b_ids.value
        all_mat = b_mat.value
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            _l2_normalize(q)
            sims = q @ all_mat.T
            qi, cj = np.nonzero(sims >= threshold)
            qa = pdf[id_col].to_numpy()[qi]
            cb = all_ids[cj]
            keep = qa < cb  # emit each unordered pair once
            yield pd.DataFrame(
                {
                    "vec_a": qa[keep],
                    "vec_b": cb[keep],
                    "score": sims[qi, cj][keep],
                }
            )

    scored = fan_out(corpus.select(id_col, vec_col)).mapInPandas(block_similarity, out_schema)
    return scored.select("vec_a", "vec_b", F.round("score", 6).alias("score"))


def blocked_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with NO driver gather — the
    fully-distributed tier above :func:`neardup_pairs_numpy`.

    Block plan: each vector hashes to one of ``n_blocks`` blocks; every
    unordered block pair {i, j} becomes one task that receives both
    blocks' vectors (via an equi-join on a small replicated block-pair
    relation) and BLAS-multiplies them executor-side in ``applyInPandas``.
    A vector pair lands in exactly one block-pair group, so no dedup
    pass is needed.

    Scale math: data is shuffled O(n · n_blocks) (each vector joins the
    ≤ n_blocks block-pairs containing its block), compute is the
    unavoidable exact O(n²/2) spread over n_blocks·(n_blocks+1)/2
    independent tasks, and per-task memory is 2·(n/n_blocks)·dims
    doubles — pick ``n_blocks`` so a block fits an executor core's
    memory. Same output contract as the other tiers.
    """
    import numpy as np

    spark = corpus.sparkSession
    # block assignment: stable hash of the id, uniform across blocks
    src = corpus.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v"),
        (F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))).alias("_blk"),
    )
    # tiny replicated relation: every unordered block pair {bi, bj}, and
    # which side each member block plays; bi == bj pairs carry one side.
    pair_rows = [
        (bi, bj, side)
        for bi in range(n_blocks)
        for bj in range(bi, n_blocks)
        for side in ([0] if bi == bj else [0, 1])
    ]
    sides = spark.createDataFrame(
        [
            ((bi if side == 0 else bj), bi, bj, side)
            for bi, bj, side in pair_rows
        ],
        "_blk int, _bi int, _bj int, _side int",
    )
    replicated = src.join(F.broadcast(sides), "_blk")  # sides is O(n_blocks²) rows

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    empty = pd.DataFrame(
        {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64"),
         "score": pd.Series(dtype="float64")}
    )

    def block_pair(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = keys
        left = pdf[pdf["_side"] == 0]
        if left.empty:
            return empty
        ids_l = left[id_col].to_numpy()
        mat_l = np.stack([np.asarray(v, dtype=np.float64) for v in left["_v"]])
        _l2_normalize(mat_l)
        if bi == bj:
            sims = mat_l @ mat_l.T
            ai, bk = np.nonzero(sims >= threshold)
            a, b = ids_l[ai], ids_l[bk]
        else:
            right = pdf[pdf["_side"] == 1]
            if right.empty:
                return empty
            ids_r = right[id_col].to_numpy()
            mat_r = np.stack([np.asarray(v, dtype=np.float64) for v in right["_v"]])
            _l2_normalize(mat_r)
            sims = mat_l @ mat_r.T
            ai, bk = np.nonzero(sims >= threshold)
            # cross-block: ids are unordered across blocks — normalize to
            # (min, max); every pair occurs exactly once, nothing to drop
            a = np.minimum(ids_l[ai], ids_r[bk])
            b = np.maximum(ids_l[ai], ids_r[bk])
            return pd.DataFrame({"vec_a": a, "vec_b": b, "score": sims[ai, bk]})
        keep = a < b  # same-block: drop self-pairs + one of each ordering
        return pd.DataFrame(
            {
                "vec_a": a[keep],
                "vec_b": b[keep],
                "score": sims[ai, bk][keep],
            }
        )

    scored = replicated.groupBy("_bi", "_bj").applyInPandas(block_pair, out_schema)
    return scored.select("vec_a", "vec_b", F.round("score", 6).alias("score"))


def hyperplane_lsh_pairs(
    corpus: DataFrame,
    tables: int = 16,
    bits: int | None = 4,
    threshold: float = 0.4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Random-hyperplane (sign) LSH near-neighbour pairs.

    Each of ``tables`` hash tables assigns a ``bits``-bit sign code from
    deterministic Gaussian hyperplanes (seeded — stable across runs and
    machines); vectors sharing a (table, code) bucket become candidates,
    and candidates are verified with exact cosine ≥ threshold. Recall
    for cosine s is 1-(1-p^bits)^tables with p = 1-acos(s)/π, so (bits,
    tables) tune the recall/cost point; ``bits`` should grow ~log2(n)
    so buckets stay bounded. Candidate generation is an equi-join on
    (table, code) — never O(n²).

    Codes are computed in one Arrow batch pass (BLAS matmul against the
    broadcast hyperplane matrix); verification reuses the same batched
    cosine path as :func:`neardup_pairs_numpy`, restricted to bucket
    neighbours.

    Regime guidance (the math is unforgiving): p(0.9)≈0.86 but
    p(0.4)≈0.63, so at high thresholds a handful of tables reach ≥0.9
    recall while t≈0.4 would need ~90 tables for the same — at low
    thresholds prefer the exact blocked-matmul tier
    (:func:`neardup_pairs_numpy`); reserve LSH for high-similarity
    dedup, where it is exponentially cheaper than any exact pass. The
    registered demo query runs at t=0.4 because that is the only regime
    with non-empty results on this corpus; its recall point is pinned
    by tests at sf0.01.
    """
    import math

    import numpy as np

    if bits is None:
        # auto-tune bucket width to corpus size: target ~16 vectors per
        # bucket so candidate generation stays ~O(n · tables · bucket).
        # Callers that already know n pass n_rows and skip the extra job.
        n = corpus.count() if n_rows is None else n_rows
        bits = min(16, max(4, round(math.log2(max(n, 32) / 16))))
    # The hyperplane matrix is generated INSIDE the Arrow batch, lazily,
    # from (seed, dims-of-first-row): RandomState(seed) is deterministic
    # wherever it runs, so every partition regenerates the identical
    # planes and the driver never pays a .first() probe job for dims
    # (previously this was an extra Spark job per call). Regeneration
    # cost is O(tables·bits·dims) floats per task — microseconds.
    # NOTE on real (non-synthetic) embeddings: dims are correlated, so
    # raw sign bits can be imbalanced and vectors pile into hot buckets
    # (quadratic candidate blowup). The fix is mean-centering the data
    # before projection (one 64-avg aggregation, broadcast the center).
    # This corpus is isotropic, so centering was measured to cost more
    # (extra job) than it saves — add it back when bucket-size skew
    # shows up in the candidate count.
    powers = 2 ** np.arange(bits)

    code_schema = T.StructType(
        [
            T.StructField("vec_id_", T.LongType()),
            T.StructField("tbl", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
        ]
    )

    def codes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = None
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if w is None:
                w = np.random.RandomState(seed).standard_normal(
                    (tables * bits, x.shape[1])
                )
            signs = (x @ w.T) > 0  # (n, tables*bits)
            ids = pdf[id_col].to_numpy()
            out_id, out_t, out_c = [], [], []
            for t in range(tables):
                block = signs[:, t * bits : (t + 1) * bits]
                c = (block * powers).sum(axis=1)
                out_id.append(ids)
                out_t.append(np.full(len(ids), t))
                out_c.append(c)
            yield pd.DataFrame(
                {
                    "vec_id_": np.concatenate(out_id),
                    "tbl": np.concatenate(out_t).astype("int32"),
                    "code": np.concatenate(out_c).astype("int32"),
                }
            )

    coded = fan_out(corpus.select(id_col, vec_col)).mapInPandas(codes, code_schema)
    a, b = coded.alias("a"), coded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vec_id_") < F.col("b.vec_id_")),
        )
        .select(
            F.col("a.vec_id_").alias("vec_a"), F.col("b.vec_id_").alias("vec_b")
        )
        .distinct()
    )
    # Rejoin vectors for verification with plain shuffle equi-joins on id.
    # The vector relation is the FULL corpus — a broadcast hint here would
    # ship every embedding to every executor and cap the operator at the
    # broadcast limit; the candidate side is the small one, and AQE turns
    # these into broadcast joins by itself whenever that is actually true.
    vecs = corpus.select(id_col, vec_col)
    paired = cands.join(
        vecs.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va")),
        "vec_a",
    ).join(
        vecs.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb")),
        "vec_b",
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            va = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["va"]])
            vb = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vb"]])
            _l2_normalize(va)
            _l2_normalize(vb)
            s = np.einsum("ij,ij->i", va, vb)
            keep = s >= threshold
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].to_numpy()[keep],
                    "vec_b": pdf["vec_b"].to_numpy()[keep],
                    "score": s[keep],
                }
            )

    return paired.mapInPandas(verify, out_schema).select(
        "vec_a", "vec_b", F.round("score", 6).alias("score")
    )


def label_centroids(
    corpus: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell centroid via posexplode + groupBy (distributed; no
    driver math). Output: cell, centroid array<double> ordered by pos."""
    exploded = corpus.select(
        F.col(cell_col), F.posexplode(_as_double(F.col(vec_col))).alias("pos", "v")
    )
    return (
        exploded.groupBy(cell_col, "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy(cell_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )


def kmeans_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared-L2) with one
    Arrow-batched BLAS pass: the k×dims centroid matrix is collected
    (bounded — it is the model, not the data) and broadcast; each batch
    computes ``-2·X@Cᵀ + |C|²`` and takes the row argmin. Zero shuffle,
    zero per-row Python, and — unlike the earlier broadcast-join +
    min_by formulation — no k× row explosion through interpreted HOF
    lambdas (measured 31 s → ~2 s for k=40 over 100 k×64 at sf5; the
    join plan's cost grows with k, this one's barely does). numpy
    argmin returns the FIRST minimum, so ties break on the lowest cell
    id, matching the min_by(struct(dist, cell)) order it replaces."""
    import numpy as np

    spark = corpus.sparkSession
    rows = sorted(
        centroids.select("cell", "centroid").collect(), key=lambda r: r["cell"]
    )
    cells = np.asarray([r["cell"] for r in rows], dtype=np.int64)
    cmat = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])
    b_cells = spark.sparkContext.broadcast(cells)
    b_cmat = spark.sparkContext.broadcast(cmat)
    b_cn = spark.sparkContext.broadcast((cmat * cmat).sum(axis=1))

    # Preserve the caller's id/cell types (string ids, long cells, …):
    # hardcoding Long/Integer here would make the Arrow conversion fail
    # for any corpus whose id column isn't a long.
    out_schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField(vec_col, corpus.schema[vec_col].dataType),
            T.StructField(cell_col, centroids.schema["cell"].dataType),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = b_cmat.value
        cn = b_cn.value
        cl = b_cells.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            # argmin_c |x-c|² = argmin_c (|c|² - 2·x·c); |x|² is constant per row
            d = cn[None, :] - 2.0 * (x @ cm.T)
            best = cl[np.argmin(d, axis=1)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    # int64 here; Arrow casts to whatever cell type the
                    # schema (derived from centroids) declares
                    cell_col: best,
                }
            )

    return fan_out(corpus.select(id_col, vec_col)).mapInPandas(assign, out_schema)


def kmeans_train(
    corpus: DataFrame,
    k: int = 10,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd iterations, pure DataFrame ops — the IVF
    training step when no cell assignment exists.

    Init: k seed vectors chosen by a deterministic hash order (spread,
    reproducible, no driver math). Each iteration: assign (broadcast-k
    argmin, no shuffle) → update (posexplode + two-level groupBy avg —
    one shuffle keyed by (cell, dim), same shape as
    :func:`label_centroids`). Convergence to a local optimum is
    monotone in within-cell variance; ``iters`` of 3-5 is the standard
    IVF budget since cells only need to be balanced, not optimal.
    Returns (cell, centroid array<double>).
    """
    corpus = fan_out(corpus)
    seeds = (
        # DISTINCT before seeding: identical vectors share a hash, so a
        # corpus with replicated rows would otherwise seed k copies of
        # one point — a degenerate single-cluster init (everything
        # assigns to cell 0 and no iteration can split it).
        corpus.select(F.col(vec_col))
        .distinct()
        .withColumn("_h", F.xxhash64(F.col(vec_col).cast("string")))
        .orderBy("_h")
        .limit(k)
        .withColumn(
            "cell",
            (F.row_number().over(Window.orderBy("_h")) - 1).cast("int"),
        )
        .select("cell", _as_double(F.col(vec_col)).alias("centroid"))
    )
    # Each iteration's centroid table is k rows — materialize it so
    # iteration i+1's assign does not re-execute iteration i's whole
    # lineage (without this the plan nests one full assign+update pass
    # per iteration and the loop cost grows superlinearly in iters).
    cents = seeds.localCheckpoint(storageLevel=CKPT_LEVEL)
    for _ in range(iters):
        assigned = kmeans_assign(corpus, cents, id_col, vec_col, cell_col="cell")
        cents = (
            label_centroids(assigned, cell_col="cell", vec_col=vec_col)
            .select("cell", "centroid")
            .localCheckpoint(storageLevel=CKPT_LEVEL)
        )
    return cents


def _sq_l2_6(a: Column, b: Column) -> Column:
    """6-dp-rounded squared L2 distance between two double arrays via a
    sequential zip_with left-fold — the SAME operation order DuckDB's
    ``LIST_SUM(LIST_TRANSFORM(...))`` evaluates, so the unrounded double
    is bit-identical across engines and the 6-dp round can't diverge."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def kmeans_assign_exact(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Cross-engine-REPLAYABLE nearest-centroid assignment: broadcast-k
    join, 6-dp-rounded squared-L2, ties to the lowest cell id via a
    map-side-combinable ``min(struct(dist, cell))``.

    This is the hash-checkable twin of :func:`kmeans_assign` (the BLAS
    tier): every arithmetic step (sequential fold, 6-dp round, struct
    min) has an exactly-equivalent ANSI/DuckDB form, so an oracle can
    replay the assignment bit-for-bit. Use it when the ASSIGNMENT
    ITSELF must be verifiable (recall evals, audits); use the BLAS tier
    when only downstream invariants matter. Cost: k× row expansion
    through codegen'd HOF lambdas — fine for the bounded k of a
    verification query, the BLAS tier wins for large k."""
    cents = centroids.select(
        F.col("cell").alias("_cc"), F.col("centroid").alias("_cv")
    )
    # EXACT-VECTOR CONTRACTION (r9, transparent): identical vectors get
    # identical (dist, cell) structs, so the k-way argmin runs once per
    # DISTINCT vector and copies pick their cell up through one
    # vector-keyed equi-join — k× fewer folds on duplicated corpora,
    # the same shuffle count on duplicate-free ones.
    src = corpus.select(id_col, _as_double(F.col(vec_col)).alias("_e"))
    best = (
        src.select("_e")
        .distinct()
        .join(F.broadcast(cents))
        .select(
            "_e",
            F.struct(
                _sq_l2_6(F.col("_e"), F.col("_cv")).alias("d"),
                F.col("_cc").alias("c"),
            ).alias("_s"),
        )
        .groupBy("_e")
        .agg(F.min("_s").alias("_s"))
        .select("_e", F.col("_s.c").alias(cell_col))
    )
    return src.join(best, "_e").select(id_col, cell_col)


def _dec25_guard(c):
    """decimal(38,12) partial sum → the decimal(25,12) operand of the
    (25,12)×(12,0) weighted multiply, GUARDED: with ANSI off an
    overflow past 1e13 silently becomes NULL and would corrupt the
    centroid / covariance instead of failing (r9 ADVICE). assert_true
    rides the value expression through coalesce (NULL-on-pass, so it
    can't be pruned), costing one comparison on the already-aggregated
    model-sized relation; an out-of-domain corpus now fails loudly.

    A NULL partial sum (a vector with NULL elements slipped past the
    caller's filter) is ALSO fatal — assert_true throws on NULL
    conditions too — but gets its OWN message via the leading isNotNull
    assert (r10 ADVICE: the overflow message misattributed the null
    case). Intentional: a silently-propagated NULL sum would zero out a
    centroid dimension downstream, which is worse than failing."""
    return F.coalesce(
        F.assert_true(
            c.isNotNull(),
            F.lit(
                "NULL partial sum: a vector with NULL elements reached the "
                "kmeans/pca exact trainer — filter null-element embeddings "
                "upstream (exact trainers require fully-populated vectors)"
            ),
        ).cast("decimal(25,12)"),
        F.assert_true(
            F.abs(c) < F.lit(10**13),
            F.lit(
                "decimal(25,12) operand overflow: |partial sum| >= 1e13 — "
                "corpus outside the documented kmeans/pca exact-sum domain"
            ),
        ).cast("decimal(25,12)"),
        c.cast("decimal(25,12)"),
    )


def kmeans_train_exact(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tag: str = "ivfx:",
) -> DataFrame:
    """Lloyd k-means whose EVERY step is SQL-replayable, so a DuckDB
    oracle can reproduce the trained cells bit-for-bit (the X194
    md5-seeded-literal discipline applied to iterative training — the
    missing piece that kept the IVF/PQ ANN tiers rows-only).

    - init: the k corpus vectors with the smallest
      ``(md5(tag || id), id)`` — a deterministic textual order both
      engines sort identically;
    - assign: :func:`kmeans_assign_exact` (6-dp squared-L2, id ties);
    - update: per-(cell, dim) mean with the sum pinned to
      decimal(38,12) BEFORE crossing rows (order-free, exact — the
      embedding_centroid_drift discipline), one double division;
    - empty cells carry their previous centroid forward (both engines
      via the same left-join + coalesce).

    Returns (cell int, centroid array<double>). O(k·d) driver state per
    round (the model), one (cell, dim)-keyed shuffle per update — the
    same scale shape as :func:`kmeans_train`; the decimal sum costs
    ~2× the plain double avg and buys cross-engine verifiability."""
    corpus = fan_out(corpus)
    # Seed selection is a global top-k by (md5(tag||id), id). A
    # row_number window over that order plans as Exchange(Single) +
    # full 1-task sort of the corpus (profiled: ~0.5-0.95 s per
    # training at sf0.1, ×5 trainings in the IVF-PQ eval); orderBy +
    # limit plans as TakeOrderedAndProject — per-partition partial
    # top-k in parallel, driver merges k rows. The k survivors (and
    # their cell numbering) are identical: (md5, id) is a total order
    # (ids unique), so top-k + re-rank ≡ rank-then-filter.
    topk = (
        corpus.select(
            id_col,
            _as_double(F.col(vec_col)).alias("centroid"),
            F.md5(
                F.concat(F.lit(tag), F.col(id_col).cast("string"))
            ).alias("_h"),
        )
        .orderBy("_h", id_col)
        .limit(k)
    )
    w = Window.orderBy("_h", F.col(id_col))
    seeds = (
        topk.withColumn("_r", F.row_number().over(w))
        .select((F.col("_r") - 1).cast("int").alias("cell"), "centroid")
    )
    cents = seeds.localCheckpoint(storageLevel=CKPT_LEVEL)
    # EXACT-VECTOR CONTRACTION (r9, transparent): byte-identical copies
    # share every assignment (same fold → same (dist, cell) struct) and
    # contribute cnt-weighted decimal sums that EQUAL summing the
    # copies, so the iteration runs over DISTINCT vectors — on the 50×
    # replicated sf5 corpus that is 50× fewer distance folds and a
    # 128 k-row update explode instead of 6.4 M. repartition(N, vec)
    # is the contraction shuffle AND the spread (the pca_cov_exact
    # AQE-coalesce lesson); the checkpoint is reused by every round.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    reps = (
        corpus.select(_as_double(F.col(vec_col)).alias("_e"))
        .repartition(par, F.col("_e"))
        .groupBy("_e")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_cnt"))
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    ex = reps.select("_e", "_cnt", F.posexplode("_e").alias("_dim", "_x"))
    for _ in range(iters):
        cc = cents.select(
            F.col("cell").alias("_cc"), F.col("centroid").alias("_cv")
        )
        assigned = (
            reps.join(F.broadcast(cc))
            .select(
                "_e",
                F.struct(
                    _sq_l2_6(F.col("_e"), F.col("_cv")).alias("d"),
                    F.col("_cc").alias("c"),
                ).alias("_s"),
            )
            .groupBy("_e")
            .agg(F.min("_s").alias("_s"))
            .select("_e", F.col("_s.c").alias("cell"))
        )
        # weighted update, the pca_cov_exact two-level trick: per-row
        # work stays a plain decimal cast-sum; the multiply runs on the
        # (cell, dim, multiplicity)-aggregated relation. Exactness:
        # Σ_copies cast(x) = Σ_cnt cnt·Σ_reps cast(x), and the member
        # count is Σ cnt — both identical to the uncontracted form.
        upd = (
            ex.join(F.broadcast(assigned), "_e")
            .groupBy("cell", "_dim", "_cnt")
            .agg(
                F.sum(F.col("_x").cast("decimal(38,12)")).alias("_s1"),
                F.count(F.lit(1)).alias("_n1"),
            )
            .groupBy("cell", "_dim")
            .agg(
                (
                    F.sum(
                        _dec25_guard(F.col("_s1"))
                        * F.col("_cnt").cast("decimal(12,0)")
                    ).cast("double")
                    / F.sum(F.col("_cnt") * F.col("_n1"))
                ).alias("_mu")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_dim", "_mu"))),
                    lambda s: s["_mu"],
                ).alias("_nc")
            )
        )
        cents = (
            cents.join(upd, "cell", "left")
            .select(
                "cell", F.coalesce(F.col("_nc"), F.col("centroid")).alias("centroid")
            )
            .localCheckpoint(storageLevel=CKPT_LEVEL)
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: probe only the ``nprobe`` cells whose
    centroids are closest to each query, then exact-score within them.

    Candidate generation is an equi-join on the cell id — at scale the
    corpus is stored partitioned by cell, making the probe a partition-
    pruned scan rather than a full pass.

    Cell assignment comes from the corpus's ``cell_col`` by default;
    pass ``centroids`` (cell, centroid — e.g. from :func:`kmeans_train`)
    to assign the corpus to trained cells instead (the real IVF build
    path when no natural partitioning exists)."""
    corpus = fan_out(corpus)
    if centroids is not None:
        corpus = kmeans_assign(corpus, centroids, id_col, vec_col, cell_col="cell")
        cell_col = "cell"
        cents = centroids
    else:
        cents = label_centroids(corpus, cell_col, vec_col)
    q = queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec"))
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.col("cdist").desc(), F.col(cell_col)
    )
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("cdist", cosine(F.col("_qvec"), F.col("centroid")))
        .withColumn("crnk", F.row_number().over(probe_w))
        .filter(F.col("crnk") <= nprobe)
        .select(query_id_col, "_qvec", cell_col)
    )
    scored = corpus.join(F.broadcast(probes), cell_col).filter(
        F.col(query_id_col) != F.col(id_col)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("_qvec"), F.col(vec_col)), 6).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization per embedding vector — the storage /
    ANN-index compression step of a large-scale vector pipeline (4×
    smaller than float32, 8× smaller than float64).

    Per vector: scale = 127 / max|x|, q_i = round(x_i · scale). All
    higher-order functions on the array column — per-row JVM work, zero
    shuffle, zero Python; at 100 TB this is a map-only stage that
    pipelines into whatever scan feeds it. Emits the quantized array,
    the scale, and the worst-case dequantization error (max |x - q/scale|,
    an order-independent reduction — deliberately not a float SUM, so
    the value is deterministic under any evaluation order).

    The scale is STAGED in its own projection before the per-element
    lambdas reference it: HOF lambdas are interpreted (no whole-stage
    codegen / subexpression elimination), so an inline scale subtree —
    itself an O(dims) array_max — would be re-evaluated per element,
    turning a linear pass into O(dims²) per row (measured 7× slower at
    the 20k×64 corpus).
    """
    v = _as_double(F.col(vec_col))
    staged = df.select(F.col(id_col), v.alias("_v")).select(
        id_col,
        "_v",
        (
            F.lit(127.0)
            / F.greatest(
                F.array_max(F.transform("_v", lambda x: F.abs(x))), F.lit(1e-30)
            )
        ).alias("scale"),
    )
    quantized = staged.select(
        id_col,
        "_v",
        "scale",
        F.transform("_v", lambda x: F.round(x * F.col("scale")).cast("int")).alias("q"),
    )
    return quantized.select(
        F.col(id_col),
        F.col("scale"),
        F.col("q"),
        F.array_max(
            F.zip_with("_v", "q", lambda a, b: F.abs(a - b.cast("double") / F.col("scale")))
        ).alias("max_abs_err"),
    )


# --------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half): per-subspace codebooks
# --------------------------------------------------------------------------


def _pq_blas_assign(subs: DataFrame, book_rows, id_col: str | None = None) -> DataFrame:
    """Per-subspace nearest-codeword assignment via one Arrow/BLAS pass:
    the m·codes codebook (bounded model state) is collected and
    broadcast; each batch groups rows by subspace and takes the argmin
    of ``|c|² − 2·x·c`` against that subspace's codeword matrix. numpy
    argmin = first minimum ⇒ lowest code id on exact ties, matching the
    array_position/min_by orders this replaces. Zero shuffle, and the
    cost barely grows with ``codes`` (the HOF formulation it replaces
    paid interpreted-lambda distance evaluation per codeword)."""
    import numpy as np

    spark = subs.sparkSession
    by_sub: dict[int, list] = {}
    for r in book_rows:
        by_sub.setdefault(int(r["sub"]), []).append(
            (int(r["code"]), np.asarray(r["centroid"], dtype=np.float64))
        )
    mats: dict[int, "np.ndarray"] = {}
    code_ids: dict[int, "np.ndarray"] = {}
    for sub, lst in by_sub.items():
        lst.sort(key=lambda t: t[0])
        code_ids[sub] = np.asarray([c for c, _ in lst], dtype=np.int64)
        mats[sub] = np.stack([v for _, v in lst])
    bc = spark.sparkContext.broadcast((mats, code_ids))

    # id type derived from the input, not hardcoded: string/int ids must
    # survive the round-trip (same latent-narrowing fix as kmeans_assign)
    fields = (
        [T.StructField(id_col, subs.schema[id_col].dataType)] if id_col else []
    ) + [
        T.StructField("sub", T.IntegerType()),
        T.StructField("code", T.IntegerType()),
        T.StructField("subvec", T.ArrayType(T.DoubleType())),
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        mats_, codes_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["subvec"]])
            subcol = pdf["sub"].to_numpy()
            out = np.empty(len(pdf), dtype=np.int64)
            for sub in np.unique(subcol):
                mask = subcol == sub
                cm = mats_[int(sub)]
                d = (cm * cm).sum(axis=1)[None, :] - 2.0 * (x[mask] @ cm.T)
                out[mask] = codes_[int(sub)][np.argmin(d, axis=1)]
            data = {
                "sub": subcol.astype("int32"),
                "code": out.astype("int32"),
                "subvec": pdf["subvec"],
            }
            if id_col:
                data = {id_col: pdf[id_col], **data}
            yield pd.DataFrame(data)

    return subs.mapInPandas(run, T.StructType(fields))


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train product-quantization codebooks: split each vector into ``m``
    contiguous subspaces and k-means each subspace with ``codes``
    centroids — all subspaces trained JOINTLY in one Lloyd loop.

    PQ is the compression half of IVF-PQ — the standard architecture at
    billion-vector scale: a vector becomes ``m`` small integers (here
    4×4 bits) instead of dims×4 bytes, and query scoring needs only a
    per-query lookup table over m·codes codeword distances. Returns
    (sub, code, centroid) — m·codes rows, broadcastable by construction.

    Joint training: the corpus explodes ONCE into (id, sub, subvec)
    rows, and every Lloyd iteration runs assign + update for all ``m``
    subspaces in ONE job. The codebook is O(m·codes·dims) — bounded and
    independent of corpus size — so between iterations it round-trips
    through the driver and re-enters the plan as a LITERAL nested array:
    assignment becomes a zero-shuffle map stage (HOF argmin over the
    literal codewords of the row's subspace) instead of a join +
    re-aggregation, and each iteration's only shuffle is the tiny
    (sub, code, dim) mean — map-side combined to ≤ m·codes·dims rows.
    The sequential per-subspace formulation (m independent
    ``kmeans_train`` calls) computes the same result but pays m× the
    scheduling (m·iters assign/update job pairs vs ``iters`` single
    jobs here; measured 14.7 s → ~6 s at m=8/sf0.1). The exploded
    relation is persisted for the life of the loop.
    """
    spark = corpus.sparkSession
    subs = fan_out(corpus).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    _as_double(F.col(vec_col)),
                    j * (F.size(vec_col) / m).cast("int") + 1,
                    (F.size(vec_col) / m).cast("int"),
                ),
            )
        ).alias("sub", "subvec"),
    ).persist()

    try:
        # Deterministic spread seeds, all subspaces in one pass: the
        # first `codes` sub-vectors per subspace in xxhash64 order (the
        # same hash-order device as kmeans_train, partitioned by sub).
        seed_w = Window.partitionBy("sub").orderBy("_h")
        seed_rows = (
            # DISTINCT per subspace before seeding (same degenerate-init
            # hazard as kmeans_train: replicated vectors would seed
            # duplicate codewords).
            subs.select("sub", "subvec")
            .distinct()
            .withColumn("_h", F.xxhash64(F.col("subvec").cast("string")))
            .withColumn("code", (F.row_number().over(seed_w) - 1).cast("int"))
            .filter(F.col("code") < codes)
            .select("sub", "code", F.col("subvec").alias("centroid"))
            .collect()
        )
        rows = seed_rows
        for _ in range(iters):
            # BLAS assignment against the bounded codebook (see
            # _pq_blas_assign); the update aggregation below is the only
            # shuffle per iteration, bounded at m·codes·dims rows.
            assigned = _pq_blas_assign(subs.select("sub", "subvec"), rows)
            rows = (
                assigned.select(
                    "sub",
                    "code",
                    F.posexplode("subvec").alias("dim", "x"),
                )
                .groupBy("sub", "code", "dim")
                .agg(F.avg("x").alias("v"))
                .groupBy("sub", "code")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "v"))),
                        lambda s: s["v"],
                    ).alias("centroid")
                )
                .collect()  # ≤ m·codes rows — the bounded driver round-trip
            )
            # Dense renumbering per subspace (labels are arbitrary
            # during training): a codeword that loses every member
            # drops out, and the ADC lookup tables downstream index
            # codes positionally — sparse labels would corrupt them.
            by_sub_rows: dict[int, list] = {}
            for r in rows:
                by_sub_rows.setdefault(int(r["sub"]), []).append(r)
            rows = [
                {"sub": sub, "code": i, "centroid": r["centroid"]}
                for sub, lst in sorted(by_sub_rows.items())
                for i, r in enumerate(sorted(lst, key=lambda r: r["code"]))
            ]
        return spark.createDataFrame(
            [(r["sub"], r["code"], [float(x) for x in r["centroid"]]) for r in rows],
            "sub int, code int, centroid array<double>",
        )
    finally:
        subs.unpersist()


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest codewords:
    explode to (vec, sub) sub-vectors, broadcast-join the m·codes
    codebook, ``min_by`` argmin per (vec, sub), re-assemble the code
    array ordered by subspace. One shuffle keyed on the vector id."""
    subs = fan_out(corpus).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    _as_double(F.col(vec_col)),
                    j * (F.size(vec_col) / m).cast("int") + 1,
                    (F.size(vec_col) / m).cast("int"),
                ),
            )
        ).alias("sub", "subvec"),
    )
    assigned = _pq_blas_assign(
        subs, codebooks.select("sub", "code", "centroid").collect(), id_col=id_col
    )
    return assigned.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))), lambda s: s["code"]
        ).alias("codes")
    )


def pq_topk(
    corpus_codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via asymmetric distance computation (ADC):
    per query build the m×codes lookup table of squared distances from
    the query's sub-vectors to every codeword; a corpus vector's
    distance is then the sum of m table lookups on its codes.

    Scale shape: the LUTs are (n_queries · m · codes) values — tiny —
    broadcast; the corpus side is a map-only pass over the code arrays
    (O(m) per row, no decompression), followed by the per-query top-k.
    """
    qsubs = queries.select(
        F.col(query_id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    _as_double(F.col(vec_col)),
                    j * (F.size(vec_col) / m).cast("int") + 1,
                    (F.size(vec_col) / m).cast("int"),
                ),
            )
        ).alias("sub", "subvec"),
    )
    # LUT rows: (query, sub, code, d2)
    lut = qsubs.join(F.broadcast(codebooks), "sub").select(
        query_id_col,
        "sub",
        "code",
        F.aggregate(
            F.zip_with("subvec", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("d2"),
    )
    # nested per-query LUT: array[sub][code] -> d2 (subspaces and codes
    # sorted positionally so element_at indexing is well-defined)
    lut_nested = (
        lut.groupBy(query_id_col, "sub")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "d2"))), lambda s: s["d2"]
            ).alias("row")
        )
        .groupBy(query_id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "row"))), lambda s: s["row"]
            ).alias("lut")
        )
    )
    scored = corpus_codes.crossJoin(F.broadcast(lut_nested)).where(
        F.col(query_id_col) != F.col(id_col)
    ).select(
        query_id_col,
        id_col,
        F.round(
            F.aggregate(
                F.zip_with(
                    "codes",
                    "lut",
                    lambda c, row: F.element_at(row, c.cast("int") + 1),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("adc_dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy("adc_dist", id_col)
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int | None = 10,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 2500,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means-cluster the embedding space, then inside
    each cluster greedily prune vectors whose cosine to an already-kept
    lower-id vector clears ``threshold``. Near-duplicate SEMANTICS
    (paraphrases, boilerplate rewrites) collapse to one representative
    even when their text differs — the step after exact and n-gram
    dedup in a curation pipeline.

    Scale shape — the whole point of the clustering: the quadratic is
    bounded per cluster, O(Σ|cᵢ|²) ≪ O(n²), and each cluster is one
    independent ``applyInPandas`` task (grouped BLAS matmul + a greedy
    pass). k controls the memory/recall trade: larger k → smaller
    tasks, but near-dups straddling a cluster boundary are missed —
    the documented SemDeDup approximation. Determinism: hash-seeded
    k-means init, greedy order = ascending id.

    Output: (id, cell, keep, pruned_by) — ``pruned_by`` names the kept
    vector that shadowed a pruned one (null for keepers).
    """
    import numpy as np

    if k is None:
        # Auto-tune k to the corpus: the per-cluster task is O(|c|²) in
        # both memory (the sims matrix) and compute, so k must GROW with
        # n to keep |c| ≈ target_cell_size — exactly how SemDeDup runs
        # at web scale (k in the tens of thousands). One count() job.
        n = corpus.count()
        k = max(8, min(65536, n // target_cell_size))
    cents = kmeans_train(corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    assigned = kmeans_assign(corpus, cents, id_col, vec_col, cell_col="cell")

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("keep", T.IntegerType()),
            T.StructField("pruned_by", T.LongType()),
        ]
    )

    def prune(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (cell,) = keys
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0  # zero vectors never clear the threshold
        mat = mat / norms
        sims = mat @ mat.T
        n = len(ids)
        keep = np.ones(n, dtype=bool)
        pruned_by = np.full(n, -1, dtype=np.int64)
        for i in range(n):
            if not keep[i]:
                continue
            # prune every LATER still-kept vector this keeper shadows
            shadowed = (sims[i, i + 1 :] >= threshold) & keep[i + 1 :]
            keep[i + 1 :][shadowed] = False
            pruned_by[i + 1 :][shadowed] = ids[i]
        return pd.DataFrame(
            {
                id_col: ids,
                "cell": np.full(n, cell, dtype="int32"),
                "keep": keep.astype("int32"),
                "pruned_by": pd.array(
                    [None if p < 0 else int(p) for p in pruned_by], dtype="Int64"
                ),
            }
        )

    return assigned.groupBy("cell").applyInPandas(prune, out_schema)


def semantic_dedup_exact(
    corpus: DataFrame,
    k: int = 4,
    iters: int = 1,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tag: str = "sdd:",
) -> DataFrame:
    """Cross-engine-REPLAYABLE SemDeDup: the hash-checkable twin of
    :func:`semantic_dedup` (which trains with the BLAS k-means tier and
    greedy-prunes over unrounded float64 sims — correct, but not
    SQL-replayable). Every step here has an exactly-equivalent DuckDB
    form, so an oracle can replay the WHOLE pipeline bit-for-bit:

    - cells: :func:`kmeans_train_exact` (md5-seeded init, 6-dp
      squared-L2 assignment with id ties, decimal centroid sums) +
      :func:`kmeans_assign_exact`;
    - edge graph: within-cell pair cosines computed JVM-SIDE and
      rounded at 6 dp BEFORE the greedy (the X96 MMR discipline — the
      Python worker never produces a float the oracle can't reproduce),
      kept only where sim ≥ threshold;
    - greedy: ascending-id pass per cell — i is pruned iff an
      already-KEPT j < i has sim(j, i) ≥ threshold, pruned_by = the
      lowest such keeper. Equivalently (what the oracle unrolls as a
      bounded peeling fixpoint): keepers are the lexicographically
      first maximal independent set of the threshold graph, and
      pruned_by = min kept earlier neighbor.

    EXACT-VECTOR CONTRACTION (the X2/X47 exact-first discipline): the
    threshold graph is content-pure, and byte-identical copies always
    collapse onto their minimum-id copy (cos(v, v) rounds to 1.0 ≥ any
    threshold ≤ 0.999999 — asserted), so the O(|cell|²) pair scan and
    the greedy run over DISTINCT vectors only; copies expand afterward
    with keep = 0 and pruned_by = their representative (if kept) or
    its pruner. On a 50×-replicated corpus that is 2500× fewer pair
    cosines for a bit-identical result.

    Fixed k by design: this is the VERIFICATION tier (the oracle
    unrolls exactly k cells and a fixed peeling depth); production
    SemDeDup auto-tunes k via :func:`semantic_dedup`'s
    target_cell_size. Output: (id, cell, keep, pruned_by)."""
    if not threshold <= 0.999999:
        raise ValueError(
            "semantic_dedup_exact requires threshold <= 0.999999: the "
            "copy-contraction relies on identical vectors shadowing "
            "each other at 6-dp rounding"
        )
    corpus = fan_out(corpus)
    cents = kmeans_train_exact(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col, tag=tag
    )
    src = corpus.select(id_col, _as_double(F.col(vec_col)).alias("_e"))
    # content-pure cell per DISTINCT vector (the kmeans_assign_exact
    # argmin, kept here so the same relation feeds reps AND edges)
    cc = cents.select(F.col("cell").alias("_cc"), F.col("centroid").alias("_cv"))
    dv_cell = (
        src.select("_e")
        .distinct()
        .join(F.broadcast(cc))
        .select(
            "_e",
            F.struct(
                _sq_l2_6(F.col("_e"), F.col("_cv")).alias("d"),
                F.col("_cc").alias("c"),
            ).alias("_s"),
        )
        .groupBy("_e")
        .agg(F.min("_s").alias("_s"))
        .select("_e", F.col("_s.c").alias("cell"))
    )
    # representative = min id per distinct vector; members carry their rep
    members = (
        src.join(dv_cell, "_e")
        .groupBy("_e", "cell")
        .agg(
            F.min(F.col(id_col)).alias("rep_id"),
            F.collect_list(F.col(id_col)).alias("_ids"),
        )
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    reps = members.select("cell", "rep_id", "_e")
    # SALTED pair scan (guide §2.5): the join key has only k distinct
    # values, so the quadratic within-cell cosine pass would land on k
    # shuffle partitions (measured: ONE 13.9 s two-task job at sf0.1,
    # 30 of 32 cores idle). Deterministic salt = pmod(xxhash64(_b), P)
    # on the b side; the a side is replicated P ways via a broadcast
    # range so every (a, b) pair still meets exactly once — now spread
    # over k·P keys. P scales with the cluster (defaultParallelism),
    # and the replication cost (P·|reps| skinny rows) is dwarfed by the
    # |cell|²/P quadratic work each task actually does.
    n_salt = reps.sparkSession.sparkContext.defaultParallelism
    salt = reps.sparkSession.range(n_salt).select(
        F.col("id").cast("int").alias("_sp")
    )
    # repartition-BY-NUM (not plain join shuffles): the pair scan is
    # byte-light but compute-dense, so AQE's size-based coalescing
    # would re-merge the salted partitions into 1-2 tasks (measured:
    # the salt alone still ran as ONE 12 s task). An explicit
    # numPartitions is exempt from AQE coalescing and the join reuses
    # the partitioning, so no extra exchange.
    ra = (
        reps.select("cell", F.col("rep_id").alias("_a"), F.col("_e").alias("_ea"))
        .join(F.broadcast(salt))
        .repartition(n_salt, "cell", "_sp")
    )
    rb = reps.select(
        "cell", F.col("rep_id").alias("_b"), F.col("_e").alias("_eb")
    ).withColumn(
        "_sp", F.pmod(F.xxhash64(F.col("_b")), F.lit(n_salt)).cast("int")
    ).repartition(n_salt, "cell", "_sp")
    edges = (
        ra.join(rb, ["cell", "_sp"])
        .where(F.col("_a") < F.col("_b"))
        .where(F.round(cosine(F.col("_ea"), F.col("_eb")), 6) >= F.lit(threshold))
        .select("cell", "_a", "_b")
        # bounded (threshold-clearing rep pairs only); the eager cut also
        # makes the cogroup sides distinct relations (the X96 idiom)
        .localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
    )
    mem_rows = members.select(
        "cell", "rep_id", F.explode("_ids").alias(id_col)
    )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("keep", T.IntegerType()),
            T.StructField("pruned_by", T.LongType()),
        ]
    )

    def prune(keys: tuple, mpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        (cell,) = keys
        # greedy over representatives, ascending id (move-for-move what
        # the oracle's peeling fixpoint computes)
        rep_ids = sorted(mpdf["rep_id"].unique())
        earlier: dict[int, list[int]] = {int(r): [] for r in rep_ids}
        for a, b in zip(epdf["_a"], epdf["_b"]):
            earlier[int(b)].append(int(a))
        kept: set[int] = set()
        pruned_by: dict[int, int] = {}
        for r in rep_ids:
            shadow = [a for a in earlier[int(r)] if a in kept]
            if shadow:
                pruned_by[int(r)] = min(shadow)
            else:
                kept.add(int(r))
        out_id, out_keep, out_pb = [], [], []
        for vid, rep in zip(mpdf[id_col], mpdf["rep_id"]):
            vid, rep = int(vid), int(rep)
            if vid == rep:
                out_id.append(vid)
                out_keep.append(1 if rep in kept else 0)
                out_pb.append(None if rep in kept else pruned_by[rep])
            else:
                # copy: shadowed by its rep (kept) or the rep's pruner
                out_id.append(vid)
                out_keep.append(0)
                out_pb.append(rep if rep in kept else pruned_by[rep])
        return pd.DataFrame(
            {
                id_col: out_id,
                "cell": pd.array([cell] * len(out_id), dtype="int32"),
                "keep": pd.array(out_keep, dtype="int32"),
                "pruned_by": pd.array(out_pb, dtype="Int64"),
            }
        )

    return mem_rows.groupBy("cell").cogroup(edges.groupBy("cell")).applyInPandas(
        prune, out_schema
    )


def ivfpq_build(
    corpus: DataFrame,
    n_cells: int = 8,
    m: int = 4,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build the full IVF-PQ index (Jégou et al. 2011, the
    billion-vector standard): coarse k-means cells + product-quantized
    RESIDUALS (x − centroid of its cell). Returns (cells, codebooks,
    coded) where ``coded`` is (id, cell, codes) — the index a real
    deployment persists partitioned by cell.

    Residual quantization is what makes the composition better than
    either half alone: residuals are centered near zero with far less
    variance than raw vectors, so the same bit budget quantizes them
    much more accurately. All stages reuse the engine's pieces:
    distributed Lloyd (kmeans_train), BLAS cell assign (kmeans_assign),
    per-subspace PQ on the residual relation (pq_train/_pq_blas_assign).
    """
    cells = kmeans_train(corpus, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col)
    assigned = kmeans_assign(corpus, cells, id_col, vec_col, cell_col="cell")
    # residual = x - centroid[cell], computed JVM-side against the
    # broadcast centroid table (bounded model state)
    resid = (
        assigned.join(F.broadcast(cells), "cell")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.zip_with(
                _as_double(F.col(vec_col)), F.col("centroid"), lambda x, c: x - c
            ).alias("residual"),
        )
        .localCheckpoint(storageLevel=CKPT_LEVEL)  # feeds PQ training AND encoding
    )
    books = pq_train(resid, m=m, codes=codes, iters=iters, id_col=id_col, vec_col="residual")
    coded = pq_encode(resid, books, m=m, id_col=id_col, vec_col="residual").join(
        resid.select(id_col, "cell"), id_col
    )
    return cells, books, coded


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    m: int = 4,
    codes: int = 16,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ approximate top-k: probe the ``nprobe`` nearest cells per
    query, score candidates by ADC over RESIDUAL lookup tables built
    against the query's residual in each probed cell.

    Scale shape: candidate generation is the IVF equi-join on the cell
    id (partition-prunable when the index is stored partitioned by
    cell); scoring is O(m) table lookups per candidate — no vector
    decompression, no full-corpus pass. The per-(query, cell) LUTs are
    (nprobe · m · codes) doubles — broadcast-sized by construction.

    This convenience form builds + probes in one call (an index-build
    DEMO); a deployment builds once with :func:`ivfpq_persist` and
    serves queries through :func:`ivfpq_probe` against the persisted,
    cell-partitioned index.
    """
    cells, books, coded = ivfpq_build(
        corpus, n_cells=n_cells, m=m, codes=codes, id_col=id_col, vec_col=vec_col
    )
    return ivfpq_probe(
        cells, books, coded, queries, k=k, nprobe=nprobe, m=m,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def ivfpq_probe(
    cells: DataFrame,
    books: DataFrame,
    coded: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe-only half of IVF-PQ: rank the ``nprobe`` nearest cells per
    query, build per-(query, cell) residual ADC lookup tables, and score
    ONLY the candidates in probed cells via the cell equi-join. The
    query cost a deployment actually pays per batch — the trained model
    (cells + books) and the coded corpus come in as relations, typically
    read back from :func:`ivfpq_persist`'s cell-partitioned layout where
    the candidate join prunes to the probed cells' partitions."""
    q = queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv"))
    # nearest nprobe cells per query by L2 to the coarse centroid
    qc = q.join(F.broadcast(cells)).select(
        query_id_col,
        "_qv",
        "cell",
        "centroid",
        F.aggregate(
            F.zip_with(_as_double(F.col("_qv")), F.col("centroid"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("_cd"),
    )
    probe_w = Window.partitionBy(query_id_col).orderBy("_cd", "cell")
    probes = (
        qc.withColumn("_rk", F.row_number().over(probe_w))
        .where(F.col("_rk") <= nprobe)
        .select(
            query_id_col,
            "cell",
            F.zip_with(
                _as_double(F.col("_qv")), F.col("centroid"), lambda x, c: x - c
            ).alias("_qresid"),
        )
    )
    # per-(query, cell) residual LUTs: distance from the query residual's
    # sub-vector to every codeword — same shape as pq_topk's LUT build,
    # keyed additionally by cell
    qsubs = probes.select(
        query_id_col,
        "cell",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    F.col("_qresid"),
                    j * (F.size("_qresid") / m).cast("int") + 1,
                    (F.size("_qresid") / m).cast("int"),
                ),
            )
        ).alias("sub", "subvec"),
    )
    lut = qsubs.join(F.broadcast(books), "sub").select(
        query_id_col,
        "cell",
        "sub",
        "code",
        F.aggregate(
            F.zip_with("subvec", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("d2"),
    )
    lut_nested = (
        lut.groupBy(query_id_col, "cell", "sub")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "d2"))), lambda s: s["d2"]
            ).alias("row")
        )
        .groupBy(query_id_col, "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "row"))), lambda s: s["row"]
            ).alias("lut")
        )
    )
    # candidate generation: cell equi-join (IVF pruning), then ADC
    scored = (
        coded.join(F.broadcast(lut_nested), "cell")
        .where(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                F.aggregate(
                    F.zip_with(
                        "codes",
                        "lut",
                        lambda c, row: F.element_at(row, c.cast("int") + 1),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy("adc_dist", id_col)
    return scored.withColumn("rnk", F.row_number().over(w).cast("int")).where(
        F.col("rnk") <= k
    )


def ivfpq_persist(
    corpus: DataFrame,
    index_dir: str,
    n_cells: int = 8,
    m: int = 4,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build the IVF-PQ index once and persist it for probe-many serving:
    ``coded`` written hive-partitioned BY CELL (so a probe's cell
    equi-join becomes a partition-pruned scan of nprobe directories, not
    a full index pass), plus the bounded model state (coarse centroids,
    PQ codebooks) as two small side tables. Build is staged into a
    temp dir and atomically renamed in, so concurrent builders can race
    harmlessly (first rename wins, losers discard)."""
    import os
    import shutil

    spark = corpus.sparkSession
    tmp = f"{index_dir.rstrip('/')}.tmp-{os.getpid()}"
    cells, books, coded = ivfpq_build(
        corpus, n_cells=n_cells, m=m, codes=codes, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    # one file per cell: repartition on the partition column co-locates
    # each cell's codes before the partitioned write
    coded.repartition(F.col("cell")).write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(os.path.join(tmp, "coded"))
    cells.write.mode("overwrite").parquet(os.path.join(tmp, "cells"))
    books.write.mode("overwrite").parquet(os.path.join(tmp, "books"))
    with open(os.path.join(tmp, "_META"), "w") as f:
        f.write(f"m={m}\n")
    try:
        os.rename(tmp, index_dir)
    except OSError:
        # another builder won the race; its committed index is equivalent
        shutil.rmtree(tmp, ignore_errors=True)


def read_ivfpq_index(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Load a persisted IVF-PQ index: (cells, books, coded, m). ``coded``
    keeps ``cell`` as a hive partition column — filters/joins on it
    prune at the directory level."""
    import os

    with open(os.path.join(index_dir, "_META")) as f:
        meta = dict(line.strip().split("=", 1) for line in f if "=" in line)
    cells = spark.read.parquet(os.path.join(index_dir, "cells"))
    books = spark.read.parquet(os.path.join(index_dir, "books"))
    coded = spark.read.parquet(os.path.join(index_dir, "coded"))
    return cells, books, coded, int(meta["m"])


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    k: int,
    tag: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction by a seeded ±1
    sign matrix (the dense-sign variant of Achlioptas 2003): y_j =
    (1/√k)·Σ_i x_i·s(i,j), s(i,j) = ±1 derived from md5("tag:j:i") —
    the engine's cross-engine hash family, so an oracle can rebuild
    the exact matrix in SQL and a pipeline can rebuild it years later
    from the tag alone (no persisted model artifact to lose).

    Scale shape: the sign matrix is MODEL state (k·dims scalars,
    corpus-independent) — materialized driver-side from the hash
    recipe (the BLAS-for-bounded-model-state rule) and baked into the
    plan as k literal arrays, so the whole projection is a ZERO-
    SHUFFLE map: per row, k zip_with/aggregate folds over the vector.
    Products accumulate as decimal(27,12) — exact 12-dp integers, so
    the left fold equals ANY summation order and the SQL oracle's
    plain decimal SUM reproduces it bit-for-bit. (The first cut was
    posexplode → broadcast sign join → groupBy: same answer, but
    25M exploded rows and an exchange — 12.8 s vs 2.1 s at sf1 for
    50 k vectors. Model-sized state does not belong in a join.)

    Returns (id_col, y0..y{k-1}) with each projection rounded to 6 dp.
    """
    import hashlib

    def sign(j: int, i: int) -> float:
        h = hashlib.md5(f"{tag}:{j}:{i}".encode()).hexdigest()
        return 1.0 - 2 * (int(h[:2], 16) % 2)

    scale = 1.0 / (k**0.5)
    dec = "decimal(27,12)"
    outs = []
    for j in range(k):
        signs = F.array(*[F.lit(sign(j, i)) for i in range(dims)])
        prods = F.zip_with(
            F.col(vec_col), signs, lambda x, s: (x.cast("double") * s).cast(dec)
        )
        acc = F.aggregate(
            prods, F.lit(0).cast(dec), lambda a, b: (a + b).cast(dec)
        )
        outs.append(
            F.round(acc.cast("double") * F.lit(scale), 6).alias(f"y{j}")
        )
    return fan_out(df).select(id_col, *outs)

def mmr_select(
    candidates: DataFrame,
    pair_sims: DataFrame,
    k: int = 8,
    lam: float = 0.7,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k selection (Carbonell &
    Goldstein 1998) — the diversity-aware re-ranking used to pick varied
    training examples / retrieval results.

    ``candidates``: (query_id, id, rel) — the per-query candidate pool,
    bounded by an upstream top-N (the scale contract: per-group state is
    O(N), never corpus-sized). ``pair_sims``: (query_id, a, b, sim) with
    BOTH orientations of every candidate pair. Step 1 takes the argmax
    of rel; each later step re-scores the remaining pool as
    ``lam·rel − (1−lam)·max(sim to selected)`` and takes the argmax,
    ties broken on id.

    Execution: a cogrouped ``applyInPandas`` — the greedy is inherently
    sequential PER QUERY but embarrassingly parallel ACROSS queries, so
    one cogroup shuffle lands each query's bounded (N candidates, N²
    pair sims) state in a single Arrow batch and the k rounds run as an
    in-memory loop. (A DataFrame-unrolled variant — k rounds of
    join + window argmax + localCheckpoint, the bfs_khop pattern — is
    semantically identical but pays ~3 scheduler jobs per round; the
    cogroup form is one job at any query count.) Determinism: rel/sim
    arrive pre-rounded at 6 dp, and the python float64 MMR expression
    ``lam*rel - (1-lam)*mx`` is the same IEEE tree the SQL oracle
    computes, so argmax decisions replay move-for-move; ties break on
    id. Output schema types are derived from the input (no hardcoded
    id dtype).
    """
    qt = candidates.schema[query_id_col].dataType
    it = candidates.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, qt),
            T.StructField(id_col, it),
            T.StructField("step", T.IntegerType()),
        ]
    )

    def greedy(cand_pdf: pd.DataFrame, ps_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=[query_id_col, id_col, "step"])
        qid = cand_pdf[query_id_col].iloc[0]
        rel = dict(zip(cand_pdf[id_col], cand_pdf["rel"]))
        sims: dict = {}
        for a, b, s in zip(ps_pdf["a"], ps_pdf["b"], ps_pdf["sim"]):
            sims.setdefault(a, {})[b] = s
        # step 1: argmax rel, ties on id
        first = min(rel, key=lambda c: (-rel[c], c))
        selected = [first]
        mx = {c: d.get(first, None) for c, d in sims.items() if c != first}
        for _ in range(2, k + 1):
            pool = [
                c
                for c in rel
                if c not in selected and mx.get(c) is not None
            ]
            if not pool:
                break
            pick = min(
                pool, key=lambda c: (-(lam * rel[c] - (1.0 - lam) * mx[c]), c)
            )
            selected.append(pick)
            for c in list(mx):
                s = sims.get(c, {}).get(pick)
                if s is not None and (mx[c] is None or s > mx[c]):
                    mx[c] = s
        return pd.DataFrame(
            {
                query_id_col: [qid] * len(selected),
                id_col: selected,
                "step": range(1, len(selected) + 1),
            }
        )

    return (
        candidates.groupBy(query_id_col)
        .cogroup(pair_sims.groupBy(query_id_col))
        .applyInPandas(lambda l, r: greedy(l, r), schema=out_schema)
    )


def kcenter_select(
    corpus: DataFrame,
    k: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center / farthest-point-traversal coreset selection
    (Gonzalez 1985) — picks k maximally-spread vectors, the classic
    2-approximation used for corpus coresets and k-means++-style seeding.

    Seed = min id (deterministic). Each round keeps a per-vector running
    ``mind`` = min cosine-distance to the chosen centers, updated
    incrementally against ONLY the newest center (a 1-row broadcast
    join + one HOF map over the corpus — no k×corpus recompute), then
    takes argmax(mind) via a single ``max(struct(mind, -id))`` hash
    aggregate: no global sort, ties on smaller id. k rounds ⇒ k corpus
    scans of the checkpointed (id, vec, mind) relation — the textbook
    distributed FPT shape. Distances are rounded at 6 dp before every
    comparison, so selection replays exactly in the SQL oracle.

    Returns (step, id, sel_dist): sel_dist is the chosen point's
    distance to the previously-selected set (0.0 for the seed) — the
    monotone non-increasing coverage-radius sequence.
    """
    first = corpus.select(F.min(id_col).alias("_cid"))
    # Initial mind: distance of every non-seed vector to the seed.
    seed_vec = corpus.join(F.broadcast(first), F.col(id_col) == F.col("_cid")).select(
        F.col(vec_col).alias("_cvec"), F.col("_cid")
    )
    cur = (
        corpus.crossJoin(F.broadcast(seed_vec))
        .select(
            id_col,
            vec_col,
            F.round(F.lit(1.0) - cosine(F.col(vec_col), F.col("_cvec")), 6).alias(
                "mind"
            ),
            F.col("_cid"),
        )
        .where(F.col(id_col) != F.col("_cid"))
        .drop("_cid")
        .localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
    )
    sel = first.select(
        F.lit(1).alias("step"), F.col("_cid").alias(id_col), F.lit(0.0).alias("sel_dist")
    ).localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
    for i in range(2, k + 1):
        pick = cur.agg(
            F.max(F.struct(F.col("mind"), (-F.col(id_col)).alias("_nid"))).alias("m")
        ).select(
            F.lit(i).alias("step"),
            (-F.col("m._nid")).alias(id_col),
            F.col("m.mind").alias("sel_dist"),
        )
        sel = sel.unionAll(pick).localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
        if i == k:
            break
        new_center = cur.join(
            sel.where(F.col("step") == i).select(id_col), id_col
        ).select(F.col(vec_col).alias("_cvec"), F.col(id_col).alias("_cid"))
        cur = (
            cur.crossJoin(F.broadcast(new_center))
            .where(F.col(id_col) != F.col("_cid"))
            .select(
                id_col,
                vec_col,
                F.least(
                    F.col("mind"),
                    F.round(
                        F.lit(1.0) - cosine(F.col(vec_col), F.col("_cvec")), 6
                    ),
                ).alias("mind"),
            )
            .localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
        )
    return sel


def pca_cov_exact(corpus: DataFrame, vec_col: str = "embedding", dims: int = 64):
    """Decimal-exact covariance: the cross-engine-deterministic input
    the verifiable PCA tier (:func:`pca_train_iter`) needs.

    Summing float64 partials is order-variant at the last ulp, which a
    near-degenerate spectrum amplifies into O(ulp/gap) basis rotation
    (measured on this corpus: adjacent eigenvalue ratios ≈ 0.99). This
    covariance instead stages every product xᵢ·xⱼ in double (one IEEE
    multiply) and sums as DECIMAL(38,12) — exact, order-free,
    bit-identical in any engine. Plan: one nested-transform HOF emits
    the count marker, the d mean entries and the d² products per
    distinct vector, and ONE map-side-combined hash agg folds them onto
    1 + d + d² keys — the shuffle carries partitions·d² decimal rows,
    never corpus-sized. The d²-per-row map-side expansion is the price
    of exactness.

    Returns (n, mean: list, cov: list[list]) with mean/cov derived by
    the pinned tree  meanᵢ = dbl(Sᵢ)/n,  covᵢⱼ = dbl(Sxxᵢⱼ)/n − mᵢ·mⱼ
    (each decimal→double cast correctly rounded, each op one rounding).

    NULL-vector contract (r9 ADVICE, made explicit): rows with a NULL
    ``vec_col`` are EXCLUDED from n, mean, and cov — filtered here at
    the input, not dropped implicitly by the exploded count marker (n
    is derived from position 0 of the concat/posexplode, which a null
    vector would silently vanish from; the filter makes the contract
    visible and keeps n ≡ marker-sum by construction).
    """
    corpus = corpus.where(F.col(vec_col).isNotNull())
    xd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    # EXACT-VECTOR CONTRACTION (the dedup.exact_groups idea applied to
    # moments): k byte-identical copies of a vector
    # contribute k·x and k·xᵢxⱼ, and decimal arithmetic makes the
    # weighted sum EXACTLY equal to summing the copies (cnt·cast(v) is
    # exact in decimal — unlike float weighting), so the d²-per-row
    # expansion runs once per DISTINCT vector. On the 50× replicated
    # sf5 corpus that is 50× less map-side hashing for the same
    # bit-identical result; the oracle keeps the per-row SUM form.
    # ONE user exchange does contraction AND spread: repartition(N, vec)
    # hash-distributes by vector, the groupBy then aggregates IN PLACE
    # (partitioning already satisfies it — no second exchange), and AQE
    # never coalesces a user-specified repartition, so the d²-per-row
    # expansion keeps all N partitions. The two obvious alternatives
    # both lost: plain groupBy output gets AQE-coalesced to ONE
    # partition (2000 rows reads as "nothing to parallelize" — the
    # expansion then ran single-threaded, 12.6 s vs 2.4 s at sf0.1),
    # and groupBy + round-robin repartition pays a second exchange plus
    # per-leg recomputation. Decimal sums are order-free, so the
    # distribution never changes the result.
    src = (
        corpus.select(vec_col)
        .repartition(
            corpus.sparkSession.sparkContext.defaultParallelism,
            F.col(vec_col),
        )
        .groupBy(vec_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("_cnt"))
    )
    # ONE fused pass for count + mean sums + all d² products: position
    # 0 is a 1.0 count marker, [1, d] the mean entries, [d+1, d+d²] the
    # products as ONE nested-transform/flatten HOF — no self-join (the
    # r4 bench lesson: the join formulation cost 11.5 s at sf0.1) and
    # no per-leg jobs (the r9 lesson: separate ms/xx/count jobs each
    # re-ran the contraction lineage, tripling the fixed cost). The
    # double multiply xᵢ·xⱼ and the decimal cast stay bit-identical to
    # the oracle's per-row formulation, so the oracle needn't mirror
    # the plan — only the expression tree, which is unchanged.
    prods = F.flatten(
        F.transform(xd, lambda xi: F.transform(xd, lambda xj: xi * xj))
    )
    combo = F.concat(F.array(F.lit(1.0)), xd, prods)
    # Weighting trick: cnt·cast(v) per exploded row would put a slow
    # BigDecimal multiply in the hot loop (measured 5× the cast-sum at
    # sf0.1). Instead group by (p, cnt) with the SAME per-row cast-sum
    # as before, then apply the weight on the aggregated relation —
    # ≤ (1+d+d²)·|distinct multiplicities| rows, model-sized.
    # Σ_vec cnt·cast(v) = Σ_cnt cnt·Σ_vec cast(v): decimal-exact.
    # Operand widths (25,12)×(12,0) → decimal(38,12) with NO precision
    # cap (a cap would silently drop scale to 6): exact while
    # |partial sum| < 10¹³ and multiplicity < 10¹² — both satisfied at
    # any conceivable corpus (|x| < 10 here).
    agg = (
        src.select("_cnt", F.posexplode(combo).alias("p", "v"))
        .groupBy("p", "_cnt")
        .agg(F.sum(F.col("v").cast("decimal(38,12)")).alias("s1"))
        .groupBy("p")
        .agg(
            F.sum(
                _dec25_guard(F.col("s1"))
                * F.col("_cnt").cast("decimal(12,0)")
            ).alias("s")
        )
    )
    vals = {r["p"]: r["s"] for r in agg.collect()}  # 1+d+d² driver rows
    n = int(vals[0])  # decimal count marker sum — exact
    nd = float(n)
    mean = [float(vals[1 + i]) / nd for i in range(dims)]
    cov = [[0.0] * dims for _ in range(dims)]
    for i in range(dims):
        for j in range(dims):
            cov[i][j] = (
                float(vals[1 + dims + i * dims + j]) / nd - mean[i] * mean[j]
            )
    return n, mean, cov


def _fold0(vals):
    """Left fold seeded at 0.0 — the shared scalar-sum tree: identical
    to Spark's F.aggregate(…, lit(0.0), +) and the oracle's
    list_reduce(list_prepend(0.0, …)) (0.0 + x is exact, so the seed
    never perturbs the sum)."""
    acc = 0.0
    for v in vals:
        acc = acc + v
    return acc


def pca_train_iter(
    corpus: DataFrame,
    k: int = 4,
    rounds: int = 12,
    vec_col: str = "embedding",
    dims: int = 64,
):
    """The VERIFIABLE PCA tier: fixed-round orthogonal iteration on the
    decimal-exact covariance, using ONLY +,−,×,÷,√ — every op IEEE
    correctly rounded, so the whole recurrence is bit-replayable by a
    SQL engine (the kcore/HITS bounded-rounds discipline applied to an
    eigenproblem).

    Why not oracle-ize eigh: LAPACK's tridiagonal-QR iteration is not
    replayable in SQL, and with this corpus's near-flat spectrum
    (adjacent ratios ≈ 0.99, measured) the eigenbasis map has condition
    ~1/gap — a 1-ulp covariance difference legally rotates the basis in
    the 6th decimal. No cross-engine hash can survive that; COVERAGE.md
    carries the full argument. Fixed-round iteration sidesteps both:
    convergence toward the eigenbasis is a PROPERTY (pinned by the
    anisotropic-fixture pytest, where gaps are real), while the
    registered result is the exact recurrence output — deterministic in
    any engine.

    Recurrence per round: Z = C·Q (left folds seeded 0.0, j ascending),
    then modified Gram-Schmidt column-by-column (projection fold,
    sequential subtraction wᵢ − r·gᵢ, norm = √fold(w²), divide).
    Start Q⁰ = [e₀ … e_{k−1}]. After the last round: sign convention —
    the largest-|coefficient| entry (ties → earlier index) is made
    positive, so the output is unique. Driver state O(d²); rounds·k·d²
    flops driver-side — model-sized, corpus-independent.

    Returns (mean, comps) with comps as k rows of d (column c of the
    final Q, sign-fixed).
    """
    _, mean, cov = pca_cov_exact(corpus, vec_col=vec_col, dims=dims)
    q = [[1.0 if i == c else 0.0 for c in range(k)] for i in range(dims)]
    for _ in range(rounds):
        z = [
            [_fold0([cov[i][j] * q[j][c] for j in range(dims)]) for c in range(k)]
            for i in range(dims)
        ]
        g: list[list[float]] = []  # g[c][i]
        for c in range(k):
            w = [z[i][c] for i in range(dims)]
            for p in range(c):
                r = _fold0([g[p][i] * w[i] for i in range(dims)])
                w = [w[i] - r * g[p][i] for i in range(dims)]
            # math.sqrt, not **0.5: IEEE 754 guarantees correct rounding
            # for sqrt but not pow, and the oracle replays SQRT() — the
            # bit-exact cross-engine contract is +,−,×,÷,√ only.
            nrm = math.sqrt(_fold0([w[i] * w[i] for i in range(dims)]))
            g.append([w[i] / nrm for i in range(dims)])
        q = [[g[c][i] for c in range(k)] for i in range(dims)]
    comps = []
    for c in range(k):
        col = [q[i][c] for i in range(dims)]
        best = min(range(dims), key=lambda i: (-abs(col[i]), i))
        s = -1.0 if col[best] < 0.0 else 1.0
        comps.append([v * s for v in col])
    return mean, comps


def pca_project_fold(
    corpus: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fold-exact JVM projection: pc_c = fold₀((xᵢ − mᵢ)·qᵢ_c), built
    from zip_with + aggregate HOFs over the literal basis — whole-stage
    codegen, zero Python, and the SAME expression tree the oracle's
    ordered list_reduce replays. Map-only, zero shuffle."""
    xd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    m_lit = F.array(*[F.lit(float(v)) for v in mean])
    cols = [F.col(id_col)]
    for c, comp in enumerate(components):
        q_lit = F.array(*[F.lit(float(v)) for v in comp])
        centered = F.zip_with(xd, m_lit, lambda x, m: x - m)
        prods = F.zip_with(centered, q_lit, lambda x, w: x * w)
        pc = F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)
        cols.append(F.round(pc, 6).alias(f"pc{c}"))
    return corpus.select(*cols)


def rademacher_signs(tag: str, table: int, bit: int, dims: int):
    """The md5-family ±1 plane row shared by operator and oracle:
    s(i) = +1 iff the first md5 byte of "tag:table:bit:i" is even —
    the random_projection (X63) recipe, so an oracle can rebuild the
    exact hyperplanes in SQL and a pipeline can rebuild them years
    later from the tag alone."""
    import hashlib

    return [
        1.0 - 2 * (int(hashlib.md5(f"{tag}:{table}:{bit}:{i}".encode()).hexdigest()[:2], 16) % 2)
        for i in range(dims)
    ]


def rademacher_codes(
    corpus: DataFrame,
    tables: int = 16,
    bits: int = 8,
    tag: str = "rlsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """The (_cid, tbl, code) sign-LSH code frame for the md5-seeded
    Rademacher plane family: one Arrow-batch BLAS matmul computes all
    tables·bits dot signs per vector (planes regenerated in-batch from
    the tag — model-sized, never shipped), melted to one row per
    (vector, table). Map-only, zero shuffle; shared by
    :func:`rademacher_lsh_pairs` (bucket equi-join candidates) and the
    wave-9 bucket-balance audit (index-health readout)."""
    import numpy as np

    w = np.asarray(
        [
            rademacher_signs(tag, t, b, dims)
            for t in range(tables)
            for b in range(bits)
        ],
        dtype=np.float64,
    )  # (tables·bits, dims)
    spark = corpus.sparkSession
    b_w = spark.sparkContext.broadcast(w)
    powers = [1 << b for b in range(bits)]

    code_schema = T.StructType(
        [
            T.StructField("_cid", corpus.schema[id_col].dataType),
            T.StructField("tbl", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
        ]
    )

    def codes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ww = b_w.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            dots = x @ ww.T  # (n, tables·bits)
            bits_m = (dots >= 0).astype(np.int64).reshape(len(x), tables, bits)
            code_m = (bits_m * np.asarray(powers)).sum(axis=2)  # (n, tables)
            ids = np.repeat(pdf[id_col].to_numpy(), tables)
            yield pd.DataFrame(
                {
                    "_cid": ids,
                    "tbl": np.tile(np.arange(tables), len(x)),
                    "code": code_m.ravel(),
                }
            )

    return fan_out(corpus.select(id_col, vec_col)).mapInPandas(codes, code_schema)


def rademacher_lsh_pairs(
    corpus: DataFrame,
    tables: int = 16,
    bits: int = 8,
    threshold: float = 0.4,
    tag: str = "rlsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Sign-LSH near-dup pairs with md5-seeded RADEMACHER (±1) planes —
    the cross-engine-VERIFIABLE member of the ANN family.

    The Gaussian tier (:func:`hyperplane_lsh_pairs`) draws planes from
    numpy's RNG, which no SQL engine can replay, so its driver check is
    rows-only. Rademacher planes from the md5 hash family (the X63
    random-projection recipe) are rebuildable as SQL literals, which
    makes every stage — codes, buckets, candidates, verified cosines —
    hash-checkable against DuckDB. Sign-LSH theory is unchanged
    (±1 projections are a valid cosine LSH family on isotropic data;
    same p = 1 − acos(s)/π collision rate).

    Plan: one Arrow-batch BLAS matmul computes all tables·bits dots per
    vector (planes regenerated in-batch from the tag — model-sized,
    never shipped); codes melt to (id, tbl, code) rows; candidates are
    the bucket equi-join (never O(n²)); verification joins the two
    vectors by id (plain shuffle joins, no corpus broadcast) and
    row-wise BLAS-cosines each candidate, emitting pairs ≥ threshold
    rounded at 6 dp. Sign decisions compare a BLAS dot against the
    oracle's LIST_SUM — different association, same sign unless the
    true dot lies within ~1 ulp of zero (probability ~1e-13 per
    decision; the same negligible-collision argument as the 64-bit
    shingle hashes).
    """
    cd = rademacher_codes(
        corpus, tables=tables, bits=bits, tag=tag, id_col=id_col,
        vec_col=vec_col, dims=dims,
    )
    a = cd.select(F.col("_cid").alias("ida"), "tbl", "code")
    b = cd.select(F.col("_cid").alias("idb"), "tbl", "code")
    cand = (
        a.join(b, ["tbl", "code"])
        .where(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )
    va = corpus.select(F.col(id_col).alias("ida"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("idb"), F.col(vec_col).alias("_vb"))
    joined = cand.join(va, "ida").join(vb, "idb")

    # Verify with the SQL HOF cosine() (same left-fold dot/(norm·norm)
    # expression tree the oracle's LIST_SUM fold replays) rather than a
    # numpy normalize-then-einsum — the sign decisions AND the emitted
    # 6-dp score now share one IEEE association with the oracle, so the
    # hash check covers the score with no rounding-boundary caveat.
    # Codegen'd JVM expression; no Python stage in the verify path.
    return (
        joined.select(
            F.col("ida").alias("vec_a"),
            F.col("idb").alias("vec_b"),
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )
