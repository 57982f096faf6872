"""Embedding similarity-search + multimodal queries over `embeddings` /
`documents`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators import dedup as D
from tfl_realtime_lakehouse_spark.operators import multimodal as M
from tfl_realtime_lakehouse_spark.operators import similarity as S
from tfl_realtime_lakehouse_spark.queries.registry import register, table
from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL

_COSINE_DOUBLE = """
    LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
    / (SQRT(LIST_SUM(LIST_TRANSFORM({a}, x -> x::DOUBLE * x::DOUBLE)))
       * SQRT(LIST_SUM(LIST_TRANSFORM({b}, x -> x::DOUBLE * x::DOUBLE))))
"""


@register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND({_COSINE_DOUBLE.format(a="q.qe", b="e.embedding")}, 6) AS score
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT query_id, vec_id, score, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 10
    """,
    doc="Brute-force exact cosine top-k (baseline ANN tier): broadcast "
    "query set, single corpus scan, zip_with/aggregate HOF dot product.",
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.cosine_topk(emb, queries, k=10)
    return out.withColumn("rnk", F.col("rnk").cast("int"))


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_COSINE_DOUBLE.format(a="a.embedding", b="b.embedding")}, 6) AS score
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COSINE_DOUBLE.format(a="a.embedding", b="b.embedding")} >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs via Arrow-batched blocked "
    "matmul (mapInPandas + BLAS) — the vectorized exact tier.",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # Exact contraction on ARRAY-equal vectors: the matmul tier sees one
    # representative per identical vector; copies expand back through
    # joins (k copies otherwise cost k^2 dot products).
    return D.contracted_pairs(
        emb,
        F.col("embedding"),
        lambda reps: S.neardup_pairs_numpy(reps, threshold=0.4),
        S.copy_pair_scores,
        "vec_id",
        ("vec_a", "vec_b"),
    )


@register(
    "embedding_neardup_docs_bridge",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_COSINE_DOUBLE.format(a="a.embedding", b="b.embedding")}, 6) AS score,
           da.lang AS lang_a, db.lang AS lang_b,
           (da.source = db.source) AS same_source
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    JOIN documents da ON da.doc_id = a.vec_id
    JOIN documents db ON db.doc_id = b.vec_id
    WHERE {_COSINE_DOUBLE.format(a="a.embedding", b="b.embedding")} >= 0.4
    """,
    doc="Cross-modal enrichment: embedding near-dup pairs joined back to "
    "document metadata on both sides (vec_id aligns with doc_id in this "
    "corpus) — the 'which texts are semantic dups, and do they come from "
    "the same source' step of a dedup pipeline. Pair generation uses the "
    "fully-distributed block plan; the metadata joins are plain equi-joins "
    "AQE can broadcast.",
)
def embedding_neardup_docs_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    pairs = embedding_neardup_blocked(spark, sf_dir)
    return (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("vec_a"),
                F.col("lang").alias("lang_a"),
                F.col("source").alias("source_a"),
            ),
            "vec_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("vec_b"),
                F.col("lang").alias("lang_b"),
                F.col("source").alias("source_b"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            "score",
            "lang_a",
            "lang_b",
            (F.col("source_a") == F.col("source_b")).alias("same_source"),
        )
    )


@register(
    "embedding_neardup_blocked",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_COSINE_DOUBLE.format(a="a.embedding", b="b.embedding")}, 6) AS score
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COSINE_DOUBLE.format(a="a.embedding", b="b.embedding")} >= 0.4
    """,
    doc="Exact near-dup pairs via the fully-distributed block-pair plan "
    "(operators/similarity.py:blocked_neardup_pairs): no driver gather, "
    "per-block-pair BLAS in applyInPandas — the 100 TB exact tier.",
)
def embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # exact-contraction first (see embedding_neardup_pairs): the block
    # plan runs on distinct vectors, copies expand back through joins
    # (k byte-identical copies otherwise cost k^2 dot products; the
    # sf1->sf5 sweep measured alpha=2.82 / 206 s uncontracted on the
    # 50x corpus)
    return D.contracted_pairs(
        emb,
        F.col("embedding"),
        lambda reps: S.blocked_neardup_pairs(reps, threshold=0.4, n_blocks=8),
        S.copy_pair_scores,
        "vec_id",
        ("vec_a", "vec_b"),
    )


@register(
    "embedding_ann_ivf",
    oracle=None,  # approximate by design (probes 3 of 10 cells) →
    # rows-only check; recall vs exact top-k asserted in tests.
    doc="IVF-style ANN: probe the nprobe nearest label-cells by "
    "centroid, exact-score within. The 100 TB scale path: candidate "
    "generation is an equi-join on the cell id.",
)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivf_topk(emb, queries, k=5, nprobe=3)


@register(
    "embedding_ann_ivf_trained",
    oracle=None,  # approximate by design; invariants pinned by pytest
    doc="IVF over TRAINED cells: distributed Lloyd k-means "
    "(operators/similarity.py:kmeans_train — hash-seeded init, "
    "broadcast-k argmin assign with map-side-combinable min_by, "
    "posexplode-groupBy centroid update), then nprobe cell probing. "
    "The real IVF build path when no natural partitioning exists; "
    "full-probe ≡ brute-force is pytest-pinned.",
)
def embedding_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cents = S.kmeans_train(emb, k=8, iters=2)
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivf_topk(emb, queries, k=5, nprobe=3, centroids=cents)


@register(
    "embedding_ann_lsh",
    oracle=None,  # probabilistic recall by design (sign-LSH); precision
    # is exact (verified cosine) and recall vs the exact pairs is
    # asserted in tests/test_operators.py.
    doc="Random-hyperplane LSH near-neighbour pairs (16 tables, code "
    "width auto-tuned to corpus size, exact-cosine verified): the "
    "bucketed scale path for embedding near-dup at corpus sizes where "
    "O(n²) is impossible.",
)
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return S.hyperplane_lsh_pairs(emb, tables=16, bits=None, threshold=0.4)


@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           MD5(text) AS payload_digest
    FROM documents
    """,
    doc="Multimodal plumbing: opaque binary payload + typed metadata "
    "(byte length, content digest). Decode kernels are stubbed; the "
    "Spark-side schema/batch plumbing is real (operators/multimodal.py).",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = M.documents_as_assets(table(spark, sf_dir, "documents"))
    feats = M.extract_features(assets)
    return feats.select("asset_id", "n_bytes", "payload_digest")


@register(
    "multimodal_decode_dims",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
               AS img_format,
           CAST(8 + doc_id % 21 AS INTEGER) AS width,
           CAST(8 + doc_id % 13 AS INTEGER) AS height
    FROM documents
    """,
    doc="REAL image metadata decode, end-to-end: synthesize valid "
    "PNG/JPEG/GIF payloads with dims planted from doc_id "
    "(operators/multimodal.py:synth_image_assets), then header-parse the "
    "bytes back with pure-struct parsing (parse_image_dims) over Arrow "
    "batches. The oracle recomputes the planted dims from id arithmetic, "
    "so a hash match proves the parser recovered them from the payloads.",
)
def multimodal_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = M.synth_image_assets(table(spark, sf_dir, "documents"))
    return M.decode_image_meta(assets).select(
        "asset_id", "img_format", "width", "height"
    )


@register(
    "multimodal_resize_plan",
    oracle="""
    WITH meta AS (
      SELECT doc_id AS asset_id,
             CAST(8 + doc_id % 21 AS DOUBLE) AS w,
             CAST(8 + doc_id % 13 AS DOUBLE) AS h
      FROM documents
    )
    SELECT asset_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           ROUND(LEAST(16.0 / w, 16.0 / h, 1.0), 8) AS scale,
           CAST(GREATEST(1, FLOOR(w * LEAST(16.0 / w, 16.0 / h, 1.0))) AS INTEGER)
               AS target_w,
           CAST(GREATEST(1, FLOOR(h * LEAST(16.0 / w, 16.0 / h, 1.0))) AS INTEGER)
               AS target_h
    FROM meta
    """,
    doc="Aspect-preserving resize planning over REAL header-decoded "
    "dims: synthesize valid image payloads (dims planted from doc_id), "
    "header-parse them back, then compute the 16x16-box fit (shared "
    "scale, no upscale, 1-px floor) as pure JVM arithmetic. The oracle "
    "recomputes the whole chain from id arithmetic, so a hash match "
    "proves decode -> plan end-to-end. The pixel resample kernel itself "
    "is the stub boundary (no imaging libs in env).",
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = M.synth_image_assets(table(spark, sf_dir, "documents"))
    meta = M.decode_image_meta(assets)
    return M.resize_plan(meta, max_width=16, max_height=16).select(
        "asset_id", "width", "height", "scale", "target_w", "target_h"
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH vids AS (
      SELECT doc_id AS asset_id,
             1000 + (doc_id % 40) * 500 AS duration_ms
      FROM documents
    )
    SELECT asset_id,
           CAST(ts // 750 AS INTEGER) AS frame_idx,
           CAST(ts AS BIGINT) AS frame_ts_ms
    FROM vids, UNNEST(GENERATE_SERIES(0, duration_ms - 1, 750)) AS t(ts)
    """,
    doc="Uniform video frame-sampling plan: explode each asset into one "
    "work item per sampled timestamp (every 750 ms over a duration "
    "planted from doc_id) — per-video work becomes per-frame work that "
    "distributes evenly regardless of clip length. Frame extraction at "
    "the timestamps is the documented decoder stub boundary; the "
    "fan-out plumbing is real and oracle-checked.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    vids = docs.select(
        F.col("doc_id").alias("asset_id"),
        (F.lit(1000) + (F.col("doc_id") % 40) * 500).alias("duration_ms"),
    )
    return M.frame_sample_plan(vids, interval_ms=750)


@register(
    "scalar_arrays",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS INTEGER) AS dims,
           CAST(embedding[1] AS DOUBLE) AS first_dim,
           ROUND(LIST_SUM(LIST_TRANSFORM(embedding[1:4], x -> CAST(x AS DOUBLE))), 8) AS head4_sum,
           CAST(LIST_MAX(embedding) AS DOUBLE) AS max_dim,
           CAST(LIST_MIN(embedding) AS DOUBLE) AS min_dim,
           LIST_CONTAINS(LIST_TRANSFORM(embedding, x -> x > 0.3), TRUE) AS any_big
    FROM embeddings
    """,
    doc="Array (higher-order) function battery over the embedding "
    "column: size, index, slice, min/max, existential predicate.",
)
def scalar_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dims"),
        F.element_at("embedding", 1).cast("double").alias("first_dim"),
        # slice exercised, but emitted as a folded scalar: nested-array
        # output columns stringify differently across engines (numpy
        # array vs list repr) and are hash-hostile.
        F.round(
            F.aggregate(
                F.transform(F.slice("embedding", 1, 4), lambda x: x.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            8,
        ).alias("head4_sum"),
        F.array_max("embedding").cast("double").alias("max_dim"),
        F.array_min("embedding").cast("double").alias("min_dim"),
        F.exists("embedding", lambda x: x > 0.3).alias("any_big"),
    )


@register(
    "scalar_posexplode",
    oracle="""
    SELECT vec_id,
           CAST(GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS INTEGER) AS pos,
           UNNEST(embedding) AS val
    FROM embeddings WHERE vec_id < 20
    """,
    doc="posexplode (flatten with ordinality) over the embedding column.",
)
def scalar_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    return emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))


@register(
    "embedding_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             127.0 / GREATEST(LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))), 1e-30) AS scale
      FROM v
    ), q AS (
      SELECT vec_id, v, scale,
             LIST_TRANSFORM(v, x -> CAST(ROUND(x * scale) AS INTEGER)) AS q
      FROM s
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
           q[1] AS q0, q[2] AS q1, q[3] AS q2, q[4] AS q3,
           ROUND(LIST_MAX(LIST_TRANSFORM(RANGE(1, LEN(v) + 1),
                 i -> ABS(v[i] - q[i]::DOUBLE / scale))), 9) AS max_abs_err
    FROM q
    """,
    doc="Symmetric int8 embedding quantization (scale = 127/max|x|): the "
    "vector-store compression step, pure HOF map-only stage — zero "
    "shuffle, zero Python. Emits scale, leading quantized values, and "
    "the worst-case dequantization error (a MAX reduction, chosen over "
    "a float SUM so the result is evaluation-order deterministic).",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = table(spark, sf_dir, "embeddings")
    out = S.quantize_embeddings(vecs)
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.element_at("q", 1).alias("q0"),
        F.element_at("q", 2).alias("q1"),
        F.element_at("q", 3).alias("q2"),
        F.element_at("q", 4).alias("q3"),
        F.round("max_abs_err", 9).alias("max_abs_err"),
    )


@register(
    "embedding_ann_pq",
    oracle=None,  # PQ is lossy by design (rows-only check); the ADC math
    # is pinned exactly in tests/test_operators.py against a numpy
    # recompute from the trained codebooks, and recall against exact L2
    # top-k is floor-asserted there.
    doc="Product-quantization ANN (the compression half of IVF-PQ, the "
    "billion-vector standard): per-subspace k-means codebooks (8 sub x "
    "16 codes) trained JOINTLY in one distributed Lloyd loop (the "
    "codebook is bounded O(m·codes) state, so assignment is a zero-"
    "shuffle literal-argmin map — m× fewer corpus passes than per-"
    "subspace training), corpus encoded to 8 small ints per vector, "
    "queries scored via broadcast ADC lookup tables — a map-only O(m) "
    "pass over the codes, no decompression.",
)
def embedding_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    books = S.pq_train(emb, m=8, codes=16, iters=2)
    # Materialize the code table: pq_topk's scoring plan would otherwise
    # re-run the whole encode (explode + argmin + reassemble) inside its
    # own lineage. At scale this is the persisted IVF-PQ index anyway.
    codes = S.pq_encode(emb, books, m=8).localCheckpoint(storageLevel=CKPT_LEVEL)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.pq_topk(codes, books, queries, k=10, m=8)


@register(
    "multimodal_audio_meta",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                ELSE 44100 END AS INTEGER) AS sample_rate,
           CAST(1 + doc_id % 2 AS INTEGER) AS channels,
           CAST(16 AS INTEGER) AS bits,
           CAST(100 + doc_id % 900 AS BIGINT) AS n_frames,
           CAST(100 + doc_id % 900 AS DOUBLE) * 1000.0
             / CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    ELSE 44100 END AS DOUBLE) AS duration_ms
    FROM documents
    """,
    doc="REAL audio metadata decode, end-to-end: synthesize valid PCM "
    "WAV containers with (rate, channels, frames) planted from doc_id "
    "(operators/multimodal.py:synth_audio_assets), then chunk-walk the "
    "RIFF bytes back (parse_wav_meta) over Arrow batches — no audio "
    "libraries. The oracle recomputes the planted parameters from id "
    "arithmetic; duration_ms is one IEEE division on both engines.",
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = M.synth_audio_assets(table(spark, sf_dir, "documents"))
    return M.decode_audio_meta(assets)


@register(
    "semantic_dedup_prune",
    oracle=None,  # k-means is iterative (not SQL-expressible); the
    # greedy prune rule is pinned exactly against a numpy recompute in
    # tests/test_operators.py, plus invariants: every pruned vector
    # names a kept lower-id pruner with cosine >= threshold.
    doc="SemDeDup semantic deduplication (Abbas et al. 2023): k-means "
    "cluster the embedding space (distributed Lloyd, hash-seeded), then "
    "greedily prune near-identical vectors within each cluster (cosine "
    ">= 0.95 to a kept lower-id vector). The quadratic is bounded per "
    "cluster — O(sum c_i^2), each cluster one applyInPandas BLAS task — "
    "which is the whole point of the clustering at 100 TB. "
    "operators/similarity.py:semantic_dedup.",
)
def semantic_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # k auto-scales to ~2500-vector cells (the per-cluster task is
    # O(|c|^2)); at sf0.01's 500 vectors that floors to k=8.
    return S.semantic_dedup(emb, k=None, iters=2, threshold=0.95)


@register(
    "multimodal_video_meta",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                ELSE 90000 END AS INTEGER) AS timescale,
           CAST(1000 + doc_id % 9000 AS BIGINT) AS duration_ticks,
           CAST(1 + doc_id % 3 AS INTEGER) AS n_tracks,
           CAST(1000 + doc_id % 9000 AS DOUBLE) * 1000.0
             / CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                    ELSE 90000 END AS DOUBLE) AS duration_ms
    FROM documents
    """,
    doc="REAL video metadata decode, end-to-end (the third leg of the "
    "image/audio/video decode triple): synthesize valid ISO-BMFF (MP4) "
    "skeletons with (timescale, duration, tracks) planted from doc_id "
    "(operators/multimodal.py:synth_video_assets), then box-walk the "
    "bytes back (parse_mp4_meta: ftyp check, moov/mvhd v0+v1, trak "
    "count) over Arrow batches — no media libraries. The oracle "
    "recomputes the planted parameters from id arithmetic.",
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = M.synth_video_assets(table(spark, sf_dir, "documents"))
    return M.decode_video_meta(assets)


@register(
    "embedding_ann_ivfpq",
    oracle=None,  # doubly-approximate by design (cell pruning + lossy
    # residual codes); recall vs exact L2 top-k is floor-asserted in
    # tests/test_operators.py, which also pins that residual-PQ ADC
    # beats raw-vector PQ ADC on rank agreement.
    doc="IVF-PQ, the full billion-vector architecture (Jegou et al. "
    "2011): coarse k-means cells + product-quantized RESIDUALS "
    "(x - centroid), queried by probing nprobe cells and ADC-scoring "
    "candidates against per-(query, cell) residual lookup tables — "
    "candidate generation is a partition-prunable cell equi-join, "
    "scoring is O(m) table lookups per candidate with no vector "
    "decompression. operators/similarity.py:ivfpq_build/ivfpq_topk.",
)
def embedding_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select("vec_id", "embedding")
    return S.ivfpq_topk(emb, queries, k=10, n_cells=8, m=8, codes=16, nprobe=3)


@register(
    "embedding_ann_ivfpq_probe",
    oracle=None,  # approximate by design (cell pruning + lossy residual
    # codes); probe output is deterministic given the persisted index,
    # and build≡probe-path equivalence is pinned in tests.
    doc="IVF-PQ PROBE against a PERSISTED index — what a deployment pays "
    "per query batch, with the one-time build amortized out (the build "
    "demo lives in embedding_ann_ivfpq). The index (coded corpus "
    "hive-partitioned BY CELL + coarse centroids + PQ codebooks) is "
    "built once per scale factor into the gitignored warehouse dir via "
    "operators/similarity.py:ivfpq_persist (atomic rename, concurrent "
    "builders race harmlessly); the probe then ranks nprobe cells per "
    "query, builds broadcast residual ADC LUTs, and scores candidates "
    "through the cell equi-join — which prunes to the probed cells' "
    "partitions at the directory level instead of scanning the index.",
)
def embedding_ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = ivfpq_index_dir(sf_dir)
    if not os.path.exists(os.path.join(index_dir, "_META")):
        S.ivfpq_persist(
            table(spark, sf_dir, "embeddings"),
            index_dir,
            n_cells=8,
            m=8,
            codes=16,
        )
    cells, books, coded, m = S.read_ivfpq_index(spark, index_dir)
    queries = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5).select(
        "vec_id", "embedding"
    )
    return S.ivfpq_probe(cells, books, coded, queries, k=10, nprobe=3, m=m)


def ivfpq_index_dir(sf_dir: str) -> str:
    """The persisted IVF-PQ index of ``sf_dir``'s corpus:
    ``spark-warehouse/ivfpq_index/<scale-factor dir name>`` inside this
    checkout (gitignored), so two checkouts never share an index."""
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    sf_name = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(repo_root, "spark-warehouse", "ivfpq_index", sf_name)


_GRADIENT_PARAMS = """
      SELECT doc_id,
             32 + (doc_id % 4) * 8 AS w,
             32 + ((doc_id // 4) % 4) * 8 AS h,
             doc_id % 128 AS base
      FROM documents WHERE doc_id % 5 = 0
"""


@register(
    "multimodal_pixel_stats",
    oracle=f"""
    WITH p AS ({_GRADIENT_PARAMS}),
    px AS (
      SELECT doc_id, w, h,
             FLATTEN(LIST_TRANSFORM(RANGE(h), y ->
               LIST_TRANSFORM(RANGE(w), x -> (base + 3*x + 7*y) % 256))) AS v
      FROM p
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(LIST_SUM(v) AS BIGINT) AS px_sum,
           CAST(LIST_SUM(v) AS DOUBLE) / (w * h) AS px_mean,
           CAST(LIST_MIN(v) AS INTEGER) AS px_min,
           CAST(LIST_MAX(v) AS INTEGER) AS px_max
    FROM px
    """,
    doc="REAL PNG pixel decode, end-to-end and hash-checked: synthesize "
    "valid gradient PNGs (pixel(x,y) = (base+3x+7y) mod 256 planted "
    "from doc_id), zlib-inflate + un-filter the actual bytes back to "
    "the pixel matrix with the pure-stdlib decoder "
    "(operators/multimodal.py:decode_png_pixels — all five PNG scanline "
    "filters, no imaging libraries), and reduce exact integer "
    "sum/min/max per asset. The oracle recomputes the planted gradient "
    "arithmetically, so a single flipped bit anywhere in the "
    "compress→decompress→unfilter chain fails the hash match. "
    "Content-addressed decode (r5): byte-identical payloads decode "
    "once (md5 contraction + stats join-back) — the shape media "
    "corpora need at scale.",
)
def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return M.pixel_stats(M.synth_gradient_assets(docs))


@register(
    "multimodal_jpeg_pixel_stats",
    oracle=f"""
    WITH p AS ({_GRADIENT_PARAMS}),
    tiles AS (
      SELECT doc_id, w, h,
             FLATTEN(LIST_TRANSFORM(RANGE(h // 8), ty ->
               LIST_TRANSFORM(RANGE(w // 8), tx ->
                 (base + 11*tx + 5*ty) % 256))) AS v
      FROM p
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(64 * LIST_SUM(v) AS BIGINT) AS px_sum,
           CAST(64 * LIST_SUM(v) AS DOUBLE) / (w * h) AS px_mean,
           CAST(LIST_MIN(v) AS INTEGER) AS px_min,
           CAST(LIST_MAX(v) AS INTEGER) AS px_max
    FROM tiles
    """,
    doc="REAL baseline-JPEG pixel decode, end-to-end and hash-checked: "
    "synthesize fully-valid JPEGs whose 8x8 tiles follow the planted "
    "gradient tile(tx,ty) = (base+11tx+5ty) mod 256 (flat tiles are "
    "DC-only DCT blocks, so the all-ones-quant encode->decode chain is "
    "EXACT, not tolerance-based), decode the actual bytes back through "
    "the pure-stdlib codec (operators/jpeg.py: canonical Huffman "
    "entropy decode with byte-stuffing, dequantize+dezigzag, float64 "
    "matrix IDCT — no imaging libraries), and reduce exact integer "
    "sum/min/max per asset. The oracle recomputes the planted tile "
    "arithmetic, so a single flipped bit anywhere in the "
    "Huffman->IDCT->levelshift chain fails the hash match. The JPEG "
    "leg of the multimodal family (PNG: multimodal_pixel_stats); "
    "Content-addressed decode (r5): byte-identical payloads decode "
    "once (md5 contraction + stats join-back) — the shape media "
    "corpora need at scale.",
)
def multimodal_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return M.pixel_stats(M.synth_jpeg_gradient_assets(docs))


@register(
    "multimodal_gif_pixel_stats",
    oracle=f"""
    WITH p AS ({_GRADIENT_PARAMS}),
    px AS (
      SELECT doc_id, w, h,
             FLATTEN(LIST_TRANSFORM(RANGE(h), y ->
               LIST_TRANSFORM(RANGE(w), x -> (base + 3*x + 7*y) % 256))) AS v
      FROM p
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(LIST_SUM(v) AS BIGINT) AS px_sum,
           CAST(LIST_SUM(v) AS DOUBLE) / (w * h) AS px_mean,
           CAST(LIST_MIN(v) AS INTEGER) AS px_min,
           CAST(LIST_MAX(v) AS INTEGER) AS px_max
    FROM px
    """,
    doc="REAL GIF pixel decode, end-to-end and hash-checked: synthesize "
    "fully-valid GIF89a files whose indexed pixels follow the SAME "
    "planted gradient as the PNG fixture (GIF is palette-indexed and "
    "lossless, so the identical oracle arithmetic applies verbatim), "
    "compress them with a real LZW encoder and decode the actual bytes "
    "back through the pure-stdlib variable-code-size LZW decoder "
    "(operators/gif.py — dictionary growth to 4096, clear/EOI codes, "
    "the code-size-increment lag rule, palette mapping), then reduce "
    "exact integer sum/min/max per asset. A single flipped bit in the "
    "LZW chain fails the hash match. Completes the image-codec "
    "triple (PNG/JPEG/GIF) — no multimodal pixel stub remains. "
    "Content-addressed decode (r5): byte-identical payloads decode "
    "once (md5 contraction + stats join-back) — the shape media "
    "corpora need at scale.",
)
def multimodal_gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return M.pixel_stats(M.synth_gif_gradient_assets(docs))


@register(
    "multimodal_phash_neardup",
    oracle=f"""
    WITH p AS ({_GRADIENT_PARAMS}),
    samp AS (
      SELECT doc_id,
             FLATTEN(LIST_TRANSFORM(RANGE(8), j ->
               LIST_TRANSFORM(RANGE(8), i ->
                 (base + 3*((i*w)//8) + 7*((j*h)//8)) % 256))) AS s
      FROM p
    ),
    sigs AS (
      SELECT doc_id,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(64), k ->
               CASE WHEN s[k+1] > m THEN
                 CASE WHEN k = 63 THEN -9223372036854775808
                      ELSE (CAST(1 AS BIGINT) << k) END
               ELSE 0 END)) AS BIGINT) AS sig
      FROM (SELECT doc_id, s, LIST_SUM(s) / 64.0 AS m FROM samp) t
    ),
    chunked AS (
      SELECT doc_id, sig, c.c AS chunk_id, (sig >> (c.c * 16)) & 65535 AS chunk
      FROM sigs, (SELECT UNNEST(RANGE(4)) AS c) c
    )
    SELECT DISTINCT a.doc_id AS asset_a, b.doc_id AS asset_b,
           CAST(BIT_COUNT(XOR(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM chunked a JOIN chunked b
      ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.sig, b.sig)) <= 10
    """,
    doc="Perceptual-hash image near-dup over REAL decoded pixels: 64-bit "
    "average-hash (8x8 grid point samples vs their mean, "
    "operators/multimodal.py:ahash64) from the pure-stdlib PNG decode, "
    "then the generic pigeonhole Hamming chunk join "
    "(operators/dedup.py:hamming_near_pairs — shared with SimHash) at "
    "distance <= 10. The oracle recomputes the hash bits from the "
    "planted gradient arithmetic, so both the pixel decode AND the "
    "fingerprint/join machinery are hash-checked. The image leg of the "
    "dedup family: same candidate-generation scale shape as SimHash "
    "(per-chunk equi-joins, never n^2).",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sigs = M.ahash64(M.synth_gradient_assets(docs))
    # signature-level exact-contraction: byte-identical assets hash to
    # the same 64-bit sig and otherwise cost k^2 in every chunk bucket
    # (sf1->sf5 sweep: alpha=1.58 / 129 s uncontracted on the 50x corpus);
    # copies share every chunk, so the diagonal is Hamming 0
    pairs = D.contracted_pairs(
        sigs,
        F.col("phash"),
        lambda reps: D.hamming_near_pairs(
            reps, sig_col="phash", id_col="asset_id", max_hamming=10,
            blocks=4, total_bits=64,
        ),
        lambda reps: reps.select("asset_id", F.lit(0).cast("int").alias("hamming")),
        "asset_id",
    )
    return pairs.select(
        F.col("doc_a").alias("asset_a"),
        F.col("doc_b").alias("asset_b"),
        "hamming",
    )


@register(
    "spatial_grid_eps_join",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(SQRT(
             (CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))
             * (CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))
             + (CAST(a.embedding[2] AS DOUBLE) - CAST(b.embedding[2] AS DOUBLE))
             * (CAST(a.embedding[2] AS DOUBLE) - CAST(b.embedding[2] AS DOUBLE))
           ), 6) AS dist
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE (CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))
          * (CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))
          + (CAST(a.embedding[2] AS DOUBLE) - CAST(b.embedding[2] AS DOUBLE))
          * (CAST(a.embedding[2] AS DOUBLE) - CAST(b.embedding[2] AS DOUBLE))
          <= 0.0001
    """,
    doc="Spatial ε-neighborhood self-join (operators/spatial.py:"
    "grid_eps_join): all point pairs within euclidean ε=0.01 in the "
    "plane spanned by embedding dims 0/1 (float32 widened to double "
    "before ANY arithmetic, both engines). The grid-cell plan — "
    "FLOOR(coord/ε) cells, left side exploded to its 3×3 neighborhood "
    "map-side, one equi-join on (cell_x, cell_y) — is the distributed "
    "spatial-join shape (DBSCAN-MR / GeoSpark): shuffle keyed by cell "
    "id, candidate work density-quadratic instead of corpus-quadratic, "
    "AQE skew-split on dense cells. The oracle brute-forces the cross "
    "join, so the grid plan's exactly-once pair discovery is what the "
    "hash check proves.",
)
def spatial_grid_eps_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.spatial import grid_eps_join

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].alias("x"),
        F.col("embedding")[1].alias("y"),
    )
    return grid_eps_join(emb, "vec_id", "x", "y", eps=0.01)


def _rp_oracle(k: int = 8, dims: int = 64) -> str:
    """Sparse-sign random projection rebuilt entirely in DuckDB SQL:
    the md5-derived sign matrix, the decimal(27,12)-exact accumulation
    and the 1/sqrt(k) scaling mirror operators/similarity.py:
    random_projection term-for-term."""
    scale = repr(1.0 / (k**0.5))
    outs = ",\n           ".join(
        f"ROUND(CAST(MAX(CASE WHEN j = {jj} THEN acc END) AS DOUBLE)"
        f" * {scale}, 6) AS y{jj}"
        for jj in range(k)
    )
    return f"""
    WITH js AS (SELECT UNNEST(RANGE({k})) AS j),
    dims AS (SELECT UNNEST(RANGE({dims})) AS i),
    signs AS (
      SELECT j, i,
             CAST(1 - 2 * (('0x' || SUBSTR(MD5('rp:' || j || ':' || i), 1, 2))::INT % 2)
                  AS DOUBLE) AS s
      FROM js CROSS JOIN dims
    ),
    ex AS (
      SELECT vec_id, d.i AS i, CAST(embedding[d.i + 1] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN dims d
    ),
    acc AS (
      SELECT vec_id, s.j AS j,
             SUM(CAST(ex.x * s.s AS DECIMAL(27,12))) AS acc
      FROM ex JOIN signs s ON s.i = ex.i
      GROUP BY 1, 2
    )
    SELECT vec_id,
           {outs}
    FROM acc GROUP BY vec_id
    """


@register(
    "embedding_random_projection",
    oracle=_rp_oracle(k=8, dims=64),
    doc="Johnson-Lindenstrauss random projection 64→8 dims "
    "(operators/similarity.py:random_projection, Achlioptas-style ±1 "
    "signs): the dimensionality-reduction front-end for cheap ANN / "
    "clustering passes. The sign matrix is seeded from the engine's "
    "cross-engine md5 family — model state of k·dims rows that any "
    "engine (here: the DuckDB oracle) can re-derive from the tag "
    "alone, no persisted artifact. Data-side plan: the sign matrix is "
    "baked into the plan as k literal arrays and each projection is "
    "one zip_with/aggregate decimal fold per row — a ZERO-SHUFFLE map "
    "(plan-pinned; 12.8→2.1 s at sf1 vs the posexplode+join first "
    "cut). Products accumulate as decimal(27,12), so the fold equals "
    "any summation order and the oracle's plain decimal SUM "
    "hash-matches bit-for-bit.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return S.random_projection(emb, "vec_id", "embedding", dims=64, k=8)


@register(
    "knn_label_vote",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS true_label
               FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 10000),
    c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 50 <> 0),
    scored AS (
      SELECT q.query_id, q.true_label, c.label,
             ROUND({_COSINE_DOUBLE.format(a="q.qe", b="c.embedding")}, 6) AS score,
             c.vec_id
      FROM q CROSS JOIN c
    ),
    ranked AS (
      SELECT query_id, true_label, label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rnk
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, label, COUNT(*) AS votes
      FROM ranked WHERE rnk <= 5 GROUP BY 1, 2, 3
    )
    SELECT query_id, CAST(true_label AS INTEGER) AS true_label,
           CAST(label AS INTEGER) AS pred_label, CAST(votes AS BIGINT) AS votes
    FROM (SELECT votes.*,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY votes DESC, label) AS vr
          FROM votes)
    WHERE vr = 1
    """,
    doc="KNN classification join: every held-out query vector "
    "(vec_id % 50 = 0) gets the majority label of its 5 exact "
    "nearest cosine neighbors in the rest of the corpus (vote ties → "
    "smallest label; neighbor rank ties → smallest id, pinned by "
    "rounding scores to 6 dp BEFORE ranking in both engines). The "
    "label-transfer primitive of semi-supervised curation — score a "
    "small labeled seed set's neighborhoods to propagate labels. "
    "Plan: broadcast query set, one corpus scan, per-query top-k "
    "window, then a bounded (queries x labels) vote aggregation; the "
    "expensive leg swaps to any of the engine's ANN tiers unchanged.",
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # the seed set is CAPPED (inert at the driver SFs, where every
    # vec_id < 10000): a label-propagation seed set is fixed-size in
    # practice, and an uncapped %-of-corpus rule makes the scoring leg
    # quadratic in the corpus (measured alpha=2.04 on the sf1->sf5
    # sweep; 235 s at sf5). With the cap the leg is |seed| x corpus.
    queries = emb.where((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 10000))
    corpus = emb.where(F.col("vec_id") % 50 != 0)
    nn = S.cosine_topk(corpus, queries, k=5)
    labeled = nn.join(
        emb.select("vec_id", "label"), "vec_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.col("label"))
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .where("vr = 1")
        .join(truth, "query_id")
        .select(
            "query_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.col("label").cast("int").alias("pred_label"),
            F.col("votes").cast("bigint").alias("votes"),
        )
    )


@register(
    "multimodal_audio_frames",
    oracle="""
    WITH a AS (
      SELECT doc_id AS asset_id, 160 + doc_id % 160 AS nf
      FROM documents WHERE doc_id % 4 = 0
    ),
    fr AS (
      SELECT asset_id, UNNEST(RANGE(nf // 80)) AS frame_id FROM a
    ),
    t AS (
      SELECT asset_id, frame_id, UNNEST(RANGE(80)) AS i FROM fr
    ),
    s AS (
      SELECT asset_id, frame_id,
             ((asset_id * 31 + (frame_id * 80 + i) * 7) % 2048) - 1024 AS v
      FROM t
    )
    SELECT asset_id, CAST(frame_id AS INTEGER) AS frame_id,
           CAST(80 AS INTEGER) AS n_samples,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           ROUND(SQRT(SUM(v * v) / 80.0), 6) AS rms
    FROM s GROUP BY 1, 2
    """,
    doc="REAL audio feature extraction (operators/multimodal.py:"
    "audio_frame_rms): synthesize valid mono 16-bit WAVs whose PCM is "
    "a planted integer waveform, decode the actual sample bytes back "
    "out of the RIFF container (pure struct + numpy, no audio "
    "libraries), and emit per-80-sample-frame RMS energy — the "
    "VAD/loudness primitive of audio curation. Exact int64 sums of "
    "squares + one IEEE sqrt per frame, so the oracle re-derives "
    "every feature from id arithmetic alone and the whole decode "
    "chain is hash-checked (the audio twin of multimodal_pixel_stats). "
    "Corrupt payloads yield zero rows, not task failures.",
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    assets = M.synth_tone_assets(docs)
    return M.audio_frame_rms(assets, frame_len=80)


def _mmr_oracle(k: int = 8, n_cand: int = 20, lam: float = 0.7) -> str:
    """Unrolled greedy MMR in DuckDB SQL mirroring operators/similarity.py:
    mmr_select step-for-step (argmax of lam·rel − (1−lam)·max-sim-to-
    selected per round) over the same rounded-at-6dp cosine inputs."""
    cos_q = _COSINE_DOUBLE.format(a="q.qe", b="e.embedding")
    cos_p = _COSINE_DOUBLE.format(a="ex.embedding", b="ey.embedding")
    steps = []
    prev = "sel1"
    for i in range(2, k + 1):
        steps.append(f"""
    mx{i} AS MATERIALIZED (
      SELECT ps.query_id, ps.a AS vec_id, MAX(ps.sim) AS mx
      FROM ps JOIN {prev} s ON s.query_id = ps.query_id AND s.vec_id = ps.b
      GROUP BY 1, 2
    ),
    pick{i} AS MATERIALIZED (
      SELECT query_id, vec_id, {i} AS step FROM (
        SELECT c.query_id, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY c.query_id
                                  ORDER BY {lam} * c.rel - {1.0 - lam} * m.mx DESC,
                                           c.vec_id) AS rn
        FROM cand c JOIN mx{i} m
          ON m.query_id = c.query_id AND m.vec_id = c.vec_id
        LEFT JOIN {prev} s
          ON s.query_id = c.query_id AND s.vec_id = c.vec_id
        WHERE s.vec_id IS NULL)
      WHERE rn = 1
    ),
    sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{i})""")
        prev = f"sel{i}"
    return f"""
    WITH q AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 3),
    scored AS MATERIALIZED (
      SELECT q.query_id, e.vec_id, ROUND({cos_q}, 6) AS rel
      FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id
    ),
    cand AS MATERIALIZED (
      SELECT query_id, vec_id, rel FROM (
        SELECT scored.*,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id) AS rnk
        FROM scored)
      WHERE rnk <= {n_cand}
    ),
    ps AS MATERIALIZED (
      SELECT x.query_id, x.vec_id AS a, y.vec_id AS b,
             ROUND({cos_p}, 6) AS sim
      FROM cand x
      JOIN cand y ON x.query_id = y.query_id AND x.vec_id != y.vec_id
      JOIN embeddings ex ON ex.vec_id = x.vec_id
      JOIN embeddings ey ON ey.vec_id = y.vec_id
    ),
    sel1 AS MATERIALIZED (
      SELECT query_id, vec_id, 1 AS step FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id) AS rn
        FROM cand)
      WHERE rn = 1
    ),
    {",".join(steps)}
    SELECT s.query_id, s.vec_id, CAST(s.step AS INTEGER) AS step,
           c.rel AS relevance
    FROM {prev} s JOIN cand c
      ON c.query_id = s.query_id AND c.vec_id = s.vec_id
    """


@register(
    "embedding_mmr_select",
    oracle=_mmr_oracle(),
    doc="Maximal Marginal Relevance diverse top-8 per query: cosine "
    "top-20 candidate pools (broadcast queries, one corpus scan), "
    "candidate-pair cosines from two bounded self-joins, then the "
    "greedy lam·rel − (1−lam)·max-sim-to-selected argmax unrolled "
    "into the plan — the diversity-aware sampling primitive for "
    "picking varied training examples. Every post-candidate relation "
    "is O(|queries|·20): the greedy never touches the corpus again, "
    "so the 100 TB cost is exactly one top-k scan. Hash-green "
    "determinism for an 8-round iterative algorithm: rel and sim are "
    "rounded at 6 dp BEFORE selection, the MMR score is one fixed "
    "double tree, and the full greedy is replayed move-for-move in "
    "the unrolled SQL oracle (same pattern as the BFS oracle).",
)
def embedding_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    # Bounded |queries|·20-row relation; the lineage cut both avoids
    # re-running the top-k scan for the pair join / greedy / final join
    # and disambiguates the sel↔cand self-join below.
    cand = (
        S.cosine_topk(emb, queries, k=20)
        .select("query_id", "vec_id", F.col("score").alias("rel"))
        .localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
    )
    e_x = emb.select(F.col("vec_id").alias("_xid"), F.col("embedding").alias("_xe"))
    e_y = emb.select(F.col("vec_id").alias("_yid"), F.col("embedding").alias("_ye"))
    cx = cand.select("query_id", F.col("vec_id").alias("a"))
    cy = cand.select("query_id", F.col("vec_id").alias("b"))
    ps = (
        cx.join(cy, "query_id")
        .where(F.col("a") != F.col("b"))
        .join(F.broadcast(e_x), F.col("a") == F.col("_xid"))
        .join(F.broadcast(e_y), F.col("b") == F.col("_yid"))
        .select(
            "query_id",
            "a",
            "b",
            F.round(S.cosine(F.col("_xe"), F.col("_ye")), 6).alias("sim"),
        )
        .localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)  # bounded N²·|queries| pairs; cuts the
        # shared cand lineage so the cogroup sides are distinct relations
    )
    sel = S.mmr_select(cand, ps, k=8, lam=0.7)
    return sel.join(cand, ["query_id", "vec_id"]).select(
        "query_id",
        "vec_id",
        F.col("step").cast("int").alias("step"),
        F.col("rel").alias("relevance"),
    )


def _kcenter_oracle(k: int = 6) -> str:
    """Unrolled greedy k-center in DuckDB SQL mirroring
    operators/similarity.py: kcenter_select round-for-round (incremental
    LEAST() min-distance update against only the newest center, argmax
    with id tiebreak) over the same rounded-at-6dp cosine distances."""
    cos = _COSINE_DOUBLE.format(a="e.embedding", b="s.embedding")
    parts = ["""
    WITH c1 AS MATERIALIZED (SELECT MIN(vec_id) AS cid FROM embeddings),
    m1 AS MATERIALIZED (
      SELECT e.vec_id, e.embedding,
             ROUND(1.0::DOUBLE - ({cos}), 6) AS mind
      FROM embeddings e,
           (SELECT e2.embedding FROM embeddings e2
            JOIN c1 ON e2.vec_id = c1.cid) s
      WHERE e.vec_id != (SELECT cid FROM c1)
    )""".format(cos=cos)]
    selects = ["SELECT 1 AS step, cid AS vec_id, 0.0::DOUBLE AS sel_dist FROM c1"]
    prev_m = "m1"
    for i in range(2, k + 1):
        parts.append(f"""
    p{i} AS MATERIALIZED (
      SELECT vec_id, mind FROM {prev_m} ORDER BY mind DESC, vec_id LIMIT 1
    )""")
        selects.append(f"SELECT {i} AS step, vec_id, mind AS sel_dist FROM p{i}")
        if i < k:
            parts.append(f"""
    m{i} AS MATERIALIZED (
      SELECT e.vec_id, e.embedding,
             LEAST(e.mind, ROUND(1.0::DOUBLE - ({cos}), 6)) AS mind
      FROM {prev_m} e,
           (SELECT mm.embedding FROM {prev_m} mm
            JOIN p{i} ON mm.vec_id = p{i}.vec_id) s
      WHERE e.vec_id != (SELECT vec_id FROM p{i})
    )""")
            prev_m = f"m{i}"
    return (
        ",".join(parts)
        + "\n    SELECT step, vec_id, ROUND(sel_dist, 6) AS sel_dist FROM ("
        + " UNION ALL ".join(selects)
        + ")"
    )


@register(
    "embedding_kcenter_coreset",
    oracle=_kcenter_oracle(),
    doc="Greedy k-center / farthest-point coreset (Gonzalez 2-approx): "
    "6 maximally-spread vectors selected by incremental farthest-point "
    "traversal — the coverage-driven subset-selection primitive for "
    "coresets and seeding. Scale shape: each round is ONE corpus map "
    "(update running min-distance against only the newest 1-row "
    "broadcast center) plus ONE hash-aggregate argmax "
    "(max(struct(mind, −id)) — no global sort), with a lineage cut "
    "per round; cost is k corpus scans regardless of corpus size. "
    "Distances round at 6 dp BEFORE every comparison so the greedy "
    "replays move-for-move in the unrolled MATERIALIZED-CTE oracle; "
    "argmax ties break on smaller id in both engines. Output is the "
    "(step, center, sel_dist) sequence — sel_dist is the monotone "
    "non-increasing coverage radius.",
)
def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = S.kcenter_select(emb, k=6)
    return out.select(
        F.col("step").cast("int").alias("step"),
        "vec_id",
        F.round("sel_dist", 6).alias("sel_dist"),
    )


@register(
    "multimodal_tile_plan",
    oracle="""
    WITH meta AS (
      SELECT doc_id AS asset_id,
             CAST(8 + doc_id % 21 AS INTEGER) AS w,
             CAST(8 + doc_id % 13 AS INTEGER) AS h
      FROM documents
    ),
    tiles AS (
      SELECT m.asset_id, m.w, m.h, tx.tx, ty.ty
      FROM meta m,
           LATERAL (SELECT UNNEST(RANGE(0, CAST(CEIL(m.w / 8.0) AS INTEGER))) AS tx) tx,
           LATERAL (SELECT UNNEST(RANGE(0, CAST(CEIL(m.h / 8.0) AS INTEGER))) AS ty) ty
    )
    SELECT asset_id, CAST(tx AS INTEGER) AS tile_x, CAST(ty AS INTEGER) AS tile_y,
           CAST(tx * 8 AS INTEGER) AS x0, CAST(ty * 8 AS INTEGER) AS y0,
           CAST(LEAST(8, w - tx * 8) AS INTEGER) AS tile_w,
           CAST(LEAST(8, h - ty * 8) AS INTEGER) AS tile_h
    FROM tiles
    """,
    doc="ViT-style patch/tile extraction plan over REAL header-decoded "
    "image dims: each asset's 8×8 tile grid (ceil-division edge tiles "
    "clipped to the image) is produced by two bounded map-side "
    "sequence-explodes — ≤ ceil(w/8)·ceil(h/8) rows per asset, "
    "output-sized, zero shuffle, the preprocessing manifest a vision "
    "training pipeline hands to its crop workers. Dims come from the "
    "pure-struct image parser (the oracle recomputes the planted "
    "values from id arithmetic, so a hash match again proves the "
    "parser); all-integer arithmetic.",
)
def multimodal_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = M.synth_image_assets(table(spark, sf_dir, "documents"))
    meta = M.decode_image_meta(assets).select("asset_id", "width", "height")
    tiled = meta.select(
        "asset_id",
        "width",
        "height",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.col("width") / 8.0).cast("int") - 1)
        ).alias("tx"),
    ).select(
        "asset_id",
        "width",
        "height",
        "tx",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.col("height") / 8.0).cast("int") - 1)
        ).alias("ty"),
    )
    return tiled.select(
        "asset_id",
        F.col("tx").cast("int").alias("tile_x"),
        F.col("ty").cast("int").alias("tile_y"),
        (F.col("tx") * 8).cast("int").alias("x0"),
        (F.col("ty") * 8).cast("int").alias("y0"),
        F.least(F.lit(8), F.col("width") - F.col("tx") * 8).cast("int").alias("tile_w"),
        F.least(F.lit(8), F.col("height") - F.col("ty") * 8).cast("int").alias("tile_h"),
    )


def _pca_iter_oracle_sql(k: int = 4, rounds: int = 12, dims: int = 64) -> str:
    """DuckDB replay of the verifiable PCA tier (:func:`operators.
    similarity.pca_train_iter`): decimal-exact covariance, then the
    fixed-round orthogonal iteration unrolled CTE-by-CTE — every op is
    +,−,×,÷,√ (all IEEE correctly rounded) and every scalar sum is the
    SAME 0.0-seeded ascending-index left fold the driver computes, so
    the basis and the 6-dp projections are bit-identical cross-engine.
    MATERIALIZED throughout (the BPE-oracle lesson: doubly-referenced
    CTE chains inline exponentially otherwise)."""

    def fold(expr: str, order: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, list({expr} "
            f"ORDER BY {order})), (a, b) -> a + b)"
        )

    parts = [
        f"""
    ex AS MATERIALIZED (
      SELECT vec_id AS _rid, t.i - 1 AS i, embedding[t.i]::DOUBLE AS x
      FROM embeddings, UNNEST(range(1, {dims + 1})) t(i)),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM embeddings),
    ms AS MATERIALIZED (
      SELECT i, SUM(CAST(x AS DECIMAL(38,12))) AS s FROM ex GROUP BY i),
    mean AS MATERIALIZED (
      SELECT i, CAST(s AS DOUBLE) / nd AS v FROM ms CROSS JOIN nn),
    xx AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, SUM(CAST(a.x * b.x AS DECIMAL(38,12))) AS s
      FROM ex a JOIN ex b USING (_rid) GROUP BY a.i, b.i),
    cov AS MATERIALIZED (
      SELECT xx.i, xx.j, CAST(xx.s AS DOUBLE) / nd - ma.v * mb.v AS v
      FROM xx CROSS JOIN nn
      JOIN mean ma ON ma.i = xx.i JOIN mean mb ON mb.i = xx.j),
    q0 AS MATERIALIZED (
      SELECT i.i, k.k,
             CASE WHEN i.i = k.k THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS v
      FROM (SELECT UNNEST(range(0, {dims})) AS i) i,
           (SELECT UNNEST(range(0, {k})) AS k) k)"""
    ]
    for r in range(rounds):
        parts.append(
            f"""
    z{r} AS MATERIALIZED (
      SELECT c.i AS i, q.k AS k, {fold("c.v * q.v", "c.j")} AS v
      FROM cov c JOIN q{r} q ON c.j = q.i GROUP BY c.i, q.k)"""
        )
        for c in range(k):
            prev = f"(SELECT i, v FROM z{r} WHERE k = {c})"
            for p in range(c):
                nxt = f"w{r}_{c}_{p}"
                parts.append(
                    f"""
    {nxt} AS MATERIALIZED (
      SELECT w.i, w.v - (
        SELECT {fold("g.v * w2.v", "g.i")}
        FROM g{r}_{p} g JOIN {prev} w2 ON w2.i = g.i) * g.v AS v
      FROM {prev} w JOIN g{r}_{p} g USING (i))"""
                )
                prev = nxt
            parts.append(
                f"""
    g{r}_{c} AS MATERIALIZED (
      SELECT w.i, w.v / (
        SELECT sqrt({fold("v * v", "i")}) FROM {prev}) AS v
      FROM {prev} w)"""
            )
        union = " UNION ALL ".join(
            f"SELECT i, {c} AS k, v FROM g{r}_{c}" for c in range(k)
        )
        parts.append(f"q{r + 1} AS MATERIALIZED ({union})")
    qf = f"q{rounds}"
    signs = " ".join(
        f"WHEN {c} THEN (SELECT CASE WHEN ("
        f"SELECT v FROM {qf} WHERE k = {c} ORDER BY abs(v) DESC, i LIMIT 1"
        f") < 0.0 THEN -1.0::DOUBLE ELSE 1.0::DOUBLE END)"
        for c in range(k)
    )
    parts.append(
        f"""
    qs AS MATERIALIZED (
      SELECT i, k, v * (CASE k {signs} END) AS v FROM {qf})"""
    )
    parts.append(
        """
    ctr AS MATERIALIZED (
      SELECT ex._rid AS vec_id, ex.i, ex.x - m.v AS cx
      FROM ex JOIN mean m USING (i))"""
    )
    parts.append(
        f"""
    pc AS MATERIALIZED (
      SELECT ctr.vec_id, q.k, {fold("ctr.cx * q.v", "ctr.i")} AS v
      FROM ctr JOIN qs q ON q.i = ctr.i GROUP BY ctr.vec_id, q.k)"""
    )
    pivots = ",\n           ".join(
        f"ROUND(MAX(CASE WHEN k = {c} THEN v END), 6) AS pc{c}"
        for c in range(k)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT vec_id,
           {pivots}
    FROM pc GROUP BY vec_id
    """
    )


@register(
    "embedding_pca_project",
    oracle=_pca_iter_oracle_sql(k=4, rounds=12),
    doc="PCA dimensionality reduction (top-4 components) — the "
    "VERIFIABLE tier (r4): decimal-exact covariance (posexplode + "
    "d²-key map-side-combined decimal sums — shuffle is partitions·d² "
    "rows, never corpus-sized) feeding a fixed-round (12) orthogonal "
    "iteration with modified Gram-Schmidt on the driver's 64×64 "
    "matrix — only +,−,×,÷,√, all IEEE correctly rounded, so the "
    "oracle replays the recurrence bit-exactly (the kcore/HITS "
    "bounded-rounds discipline applied to an eigenproblem; eigh "
    "itself is cross-engine-unverifiable — see COVERAGE.md). "
    "Convergence to the true eigenbasis is pinned by the anisotropic-"
    "fixture pytest; sign convention (largest-|coeff| positive, ties "
    "to earlier index) keeps the basis unique. Projection is a "
    "fold-exact zip_with/aggregate HOF — map-only, codegen, zero "
    "Python. Output flattens pc0..pc3 rounded at 6 dp.",
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    mean, comps = S.pca_train_iter(emb, k=4, rounds=12)
    return S.pca_project_fold(emb, mean, comps)


def _rademacher_codes_sql(tables: int = 16, bits: int = 8, dims: int = 64) -> str:
    """SQL select body rebuilding the md5-seeded Rademacher sign-LSH
    codes (vec_id, tbl, code) over a CTE named ``sample`` with columns
    (vec_id, embedding): per (table, bit) plane the ±1 pattern is
    re-derived HERE from the same md5 recipe and baked in as
    positive/negative index lists. Shared by the LSH-pair oracle and
    the ANN recall-eval oracle (wave8)."""
    from tfl_realtime_lakehouse_spark.operators.similarity import rademacher_signs

    tbl_selects = []
    for t in range(tables):
        bit_terms = []
        for b in range(bits):
            signs = rademacher_signs("rlsh", t, b, dims)
            pos = [str(i + 1) for i, s in enumerate(signs) if s > 0]
            neg = [str(i + 1) for i, s in enumerate(signs) if s < 0]
            pos_sum = (
                f"LIST_SUM(LIST_TRANSFORM([{','.join(pos)}], i -> embedding[i]::DOUBLE))"
                if pos
                else "0.0::DOUBLE"
            )
            neg_sum = (
                f"LIST_SUM(LIST_TRANSFORM([{','.join(neg)}], i -> embedding[i]::DOUBLE))"
                if neg
                else "0.0::DOUBLE"
            )
            bit_terms.append(
                f"CASE WHEN ({pos_sum}) - ({neg_sum}) >= 0.0::DOUBLE"
                f" THEN {1 << b} ELSE 0 END"
            )
        tbl_selects.append(
            f"SELECT vec_id, {t} AS tbl, CAST({' + '.join(bit_terms)} AS INTEGER)"
            f" AS code FROM sample"
        )
    return "\n      UNION ALL\n      ".join(tbl_selects)


def _rademacher_lsh_oracle(tables: int = 16, bits: int = 8, dims: int = 64) -> str:
    """DuckDB replica of the md5-seeded Rademacher sign-LSH pipeline:
    per (table, bit) plane the ±1 pattern is re-derived HERE from the
    same md5 recipe and baked in as positive/negative index lists, so
    codes, buckets, candidates and the verified cosines are all
    recomputed from scratch — a hash match proves the whole ANN
    pipeline end-to-end (the X63 sign-matrix discipline applied to
    LSH)."""
    cos = _COSINE_DOUBLE.format(a="ea.embedding", b="eb.embedding")
    codes_sql = _rademacher_codes_sql(tables, bits, dims)
    return f"""
    WITH sample AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
    ),
    codes AS MATERIALIZED (
      {codes_sql}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM codes a JOIN codes b
        ON a.tbl = b.tbl AND a.code = b.code AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, ROUND({cos}, 6) AS score
    FROM cand c
    JOIN sample ea ON ea.vec_id = c.vec_a
    JOIN sample eb ON eb.vec_id = c.vec_b
    WHERE ROUND({cos}, 6) >= 0.4
    """


@register(
    "embedding_ann_lsh_verified",
    oracle=_rademacher_lsh_oracle(),
    doc="Sign-LSH near-dup pairs with md5-seeded Rademacher planes — "
    "the HASH-GREEN member of the ANN family (the Gaussian tier's "
    "RNG planes are not SQL-replayable, so it can only be checked "
    "rows-only; ±1 planes from the X63 md5 recipe let DuckDB rebuild "
    "codes, buckets, candidates and verified cosines from scratch). "
    "Run on the %4-sampled corpus with fixed (16 tables, 8 bits): at "
    "t=0.4 the collision math (p=1−acos(s)/π) gives ~0.3 recall — "
    "the docstring's regime lesson that low-threshold LSH trades "
    "recall for its exponential cost advantage; precision is exact "
    "(every emitted pair passes the cosine verify). One BLAS batch "
    "pass for all 128 sign bits, bucket equi-join candidates, "
    "shuffle-join + row-wise BLAS verify — no corpus broadcast, no "
    "O(n²) stage.",
)
def embedding_ann_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 4 == 0)
    return S.rademacher_lsh_pairs(emb, tables=16, bits=8, threshold=0.4)


@register(
    "vl_training_export_manifest",
    oracle="""
    WITH meta AS (
      SELECT doc_id AS asset_id,
             CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
               AS img_format,
             CAST(8 + doc_id % 21 AS INTEGER) AS width,
             CAST(8 + doc_id % 13 AS INTEGER) AS height
      FROM documents
    ),
    txt AS (
      SELECT doc_id, lang, n_chars,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    paired AS (
      SELECT t.doc_id, t.lang, t.n_tokens,
             m.img_format, m.width, m.height,
             CAST(t.n_chars + 64 AS BIGINT) AS sample_bytes,
             ('0x' || SUBSTR(MD5(CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS b
      FROM txt t JOIN meta m ON m.asset_id = t.doc_id
      WHERE t.n_tokens >= 32 AND m.width >= 12 AND m.height >= 12
    ),
    manifest AS (
      SELECT doc_id, lang, n_tokens, img_format, width, height,
             CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                  ELSE 'test' END AS split,
             SUM(sample_bytes) OVER (
               PARTITION BY CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                                 ELSE 'test' END, lang
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sample_bytes
      FROM paired
    )
    SELECT doc_id, lang, n_tokens, img_format,
           CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
           split,
           CAST(FLOOR(CAST(cum - sample_bytes AS DOUBLE) / 262144.0) AS BIGINT)
             AS shard_id
    FROM manifest
    """,
    doc="Vision-language training-export manifest — the LAION-style "
    "end-to-end composition: text docs pair 1:1 with their (REAL "
    "header-decoded) image assets, quality-gate on token count and "
    "minimum resolution, split content-addressably (90/5/5 md5 "
    "family — engine/run/repartition-stable), and pack into ~256 KiB "
    "tar shards per (split, lang) via the byte-cumsum shard "
    "assignment (X94) — keys that bound every window partition. One "
    "scan of each side, one equi-join, one windowed cumsum; image "
    "dims in the output prove the decode ran (the oracle replants "
    "them from id arithmetic).",
)
def vl_training_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    assets = M.synth_image_assets(docs)
    meta = M.decode_image_meta(assets).select(
        F.col("asset_id").alias("doc_id"), "img_format", "width", "height"
    )
    txt = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    split_b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    paired = (
        txt.join(meta, "doc_id")
        .where(
            (F.col("n_tokens") >= 32) & (F.col("width") >= 12) & (F.col("height") >= 12)
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "img_format",
            "width",
            "height",
            (F.col("n_chars") + F.lit(64)).cast("bigint").alias("sample_bytes"),
            F.when(split_b < 90, "train")
            .when(split_b < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
    )
    w = (
        Window.partitionBy("split", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("sample_bytes").over(w)
    return paired.select(
        "doc_id",
        "lang",
        "n_tokens",
        "img_format",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "split",
        F.floor((cum - F.col("sample_bytes")).cast("double") / F.lit(262144.0))
        .cast("bigint")
        .alias("shard_id"),
    )


@register(
    "multimodal_audio_dedup",
    oracle="""
    WITH a AS (
      SELECT doc_id AS asset_id, doc_id % 16 AS ck,
             160 + (doc_id % 16) % 160 AS nf
      FROM documents WHERE doc_id % 4 = 0
    ),
    fr AS (SELECT asset_id, ck, UNNEST(RANGE(nf // 80)) AS frame_id FROM a),
    t AS (SELECT asset_id, ck, frame_id, UNNEST(RANGE(80)) AS i FROM fr),
    s AS (
      SELECT asset_id, frame_id,
             ((ck * 31 + (frame_id * 80 + i) * 7) % 2048) - 1024 AS v
      FROM t
    ),
    frames AS (
      SELECT asset_id, frame_id, SUM(v * v) AS sum_sq
      FROM s GROUP BY 1, 2
    ),
    fp AS (
      SELECT asset_id,
             MD5(STRING_AGG(CAST(sum_sq AS VARCHAR), ':'
                            ORDER BY frame_id)) AS fingerprint
      FROM frames GROUP BY 1
    ),
    grp AS (
      SELECT fingerprint, COUNT(*) AS group_size,
             MIN(asset_id) AS rep_asset
      FROM fp GROUP BY 1 HAVING COUNT(*) >= 2
    )
    SELECT fp.asset_id, fp.fingerprint,
           CAST(grp.group_size AS BIGINT) AS group_size,
           grp.rep_asset
    FROM fp JOIN grp USING (fingerprint)
    """,
    doc="Audio duplicate detection by acoustic fingerprint: synthesize "
    "WAVs whose PCM is planted from doc_id % 16 (congruent assets = "
    "byte-identical recordings under different ids), decode the REAL "
    "sample bytes back out of the RIFF container, fingerprint each "
    "asset as md5 over its ordered integer frame-energy sequence "
    "(sum-of-squares — int64-exact, no float in the digest), and "
    "group fingerprints with ≥2 members — the energy-profile tier "
    "of audio dedup (the audio sibling of the aHash image near-dup, "
    "X57). A hash match proves decode → framing → energy → digest "
    "end-to-end, since the oracle replants everything from id "
    "arithmetic. One frame aggregate + one per-asset fold + one "
    "fingerprint groupBy, all key-partitioned.",
)
def multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    assets = M.synth_tone_assets(docs, content_mod=16)
    frames = M.audio_frame_rms(assets, frame_len=80)
    fp = frames.groupBy("asset_id").agg(
        F.md5(
            F.concat_ws(
                ":",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("frame_id", "sum_sq"))),
                    lambda s: s["sum_sq"].cast("string"),
                ),
            )
        ).alias("fingerprint")
    )
    grp = (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("asset_id").alias("rep_asset"),
        )
        .where(F.col("group_size") >= 2)
    )
    return fp.join(grp, "fingerprint").select(
        "asset_id",
        "fingerprint",
        F.col("group_size").cast("bigint").alias("group_size"),
        "rep_asset",
    )


@register(
    "embedding_ood_outliers",
    oracle="""
    WITH dims AS (
      SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS x
      FROM embeddings, LATERAL (SELECT UNNEST(RANGE(1, 65)) AS i)
    ),
    stats AS (
      SELECT dim,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(27, 12))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(x AS DECIMAL(27, 12))
                      * CAST(x AS DECIMAL(27, 12))) AS DOUBLE) AS s2
      FROM dims GROUP BY 1
    ),
    z AS (
      SELECT d.vec_id,
             CAST(
               ((d.x * st.n - st.s1) * (d.x * st.n - st.s1))
               / (st.n * (st.n * st.s2 - st.s1 * st.s1))
             AS DECIMAL(27, 12)) AS z2
      FROM dims d JOIN stats st USING (dim)
    ),
    scored AS (
      SELECT vec_id, ROUND(CAST(SUM(z2) AS DOUBLE), 6) AS ood_score
      FROM z GROUP BY 1
    )
    SELECT vec_id, ood_score, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT t.*, ROW_NUMBER() OVER (ORDER BY ood_score DESC, vec_id) AS rnk
          FROM (SELECT * FROM scored
                ORDER BY ood_score DESC, vec_id LIMIT 20) t)
    """,
    doc="Embedding out-of-distribution scoring: per-dimension "
    "standardized squared deviation summed across dims (diagonal "
    "Mahalanobis) — the cheap OOD screen that flags corrupt or "
    "out-of-domain vectors before they poison ANN indexes or "
    "training batches. Per-dim sufficient statistics from one "
    "posexplode aggregate (64·|corpus| rows → 64 stat rows — "
    "model-sized, broadcast back); z² terms use the X102 "
    "division-late expanded form ((x·n−S1)²/(n·(nS2−S1²))) over "
    "decimal-exact sums and are THEMSELVES decimal-cast before the "
    "per-vector sum (64-term float sums reassociate; decimal "
    "addition does not). Top-20 via TakeOrdered, ties on vec_id.",
)
def embedding_ood_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VECTOR-CONTRACTED (r5): the per-dim moments weight each distinct
    # vector by its copy count (decimal x integer — exact, identical to
    # raw accumulation) and the z-score fold runs once per distinct
    # vector; copies inherit their representative's score through an
    # exact array-equality join before the global top-20.
    emb = table(spark, sf_dir, "embeddings")
    reps = emb.groupBy("embedding").agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("m")
    )
    dims = reps.select(
        "embedding", "m", F.posexplode(F.col("embedding"))
    ).select(
        "embedding",
        "m",
        F.col("pos").alias("dim"),
        F.col("col").cast("double").alias("x"),
    )
    xd = F.col("x").cast("decimal(27,12)")
    # (xd*xd) lands on decimal(38,7); multiplying that by m would clip
    # the scale to 6 (38+10+1 > 38) and shift the 6-dp output. Casting
    # the square to decimal(27,7) first is exact (|x²| ≤ 1) and leaves
    # room for the multiplicity without any scale loss — the weighted
    # sum then equals raw per-copy accumulation bit-for-bit.
    stats = dims.groupBy("dim").agg(
        F.sum("m").cast("double").alias("n"),
        F.sum(xd * F.col("m")).cast("double").alias("s1"),
        F.sum((xd * xd).cast("decimal(27,7)") * F.col("m"))
        .cast("double")
        .alias("s2"),
    )
    dev = F.col("x") * F.col("n") - F.col("s1")
    z = dims.join(F.broadcast(stats), "dim").select(
        "embedding",
        (
            (dev * dev)
            / (F.col("n") * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")))
        )
        .cast("decimal(27,12)")
        .alias("z2"),
    )
    rep_scored = z.groupBy("embedding").agg(
        F.round(F.sum("z2").cast("double"), 6).alias("ood_score")
    )
    scored = emb.select("vec_id", "embedding").join(
        rep_scored, "embedding"
    ).select("vec_id", "ood_score")
    top = scored.orderBy(F.col("ood_score").desc(), "vec_id").limit(20)
    w = Window.orderBy(F.col("ood_score").desc(), "vec_id")
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "ood_score", F.col("rnk").cast("int").alias("rnk")
    )


@register(
    "retrieval_rrf_fusion",
    oracle=f"""
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
    ), bm25 AS (
      SELECT p.doc_id,
             ROUND(CAST(SUM(CAST(
               LN(1.0::DOUBLE + (s.n_docs - d.df_t + 0.5::DOUBLE) / (d.df_t + 0.5::DOUBLE))
               * (p.tf * 2.2::DOUBLE)
                 / (p.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * p.dl / s.avgdl))
             AS DECIMAL(27,12))) AS DOUBLE), 6) AS score
      FROM postings p JOIN dfreq d USING (term) CROSS JOIN stats s
      GROUP BY p.doc_id
    ), bm25_top AS (
      SELECT doc_id, score FROM bm25 ORDER BY score DESC, doc_id LIMIT 200
    ), bm25_rank AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
                 AS r_bm25
      FROM bm25_top
    ), q AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), cos AS (
      SELECT e.vec_id,
             ROUND({_COSINE_DOUBLE.format(a="q.qe", b="e.embedding")}, 6)
                 AS score
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
    ), cos_top AS (
      SELECT vec_id, score FROM cos ORDER BY score DESC, vec_id LIMIT 200
    ), cos_rank AS (
      SELECT vec_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS INTEGER)
                 AS r_cos
      FROM cos_top
    ), fused AS (
      SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id, b.r_bm25, c.r_cos,
             COALESCE(1.0::DOUBLE / (60 + b.r_bm25), 0.0::DOUBLE)
             + COALESCE(1.0::DOUBLE / (60 + c.r_cos), 0.0::DOUBLE) AS rrf
      FROM bm25_rank b FULL OUTER JOIN cos_rank c ON b.doc_id = c.vec_id
    )
    SELECT doc_id, r_bm25, r_cos, rrf,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER)
               AS fused_rank
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 50
    """,
    doc="Reciprocal-rank fusion of two retrieval legs — the standard "
    "hybrid-search combiner (Cormack et al. 2009: rrf = Σ 1/(60+r)) "
    "for lexical BM25 + dense cosine: each leg is CAPPED to its "
    "top-200 candidates first (orderBy+limit compiles to TakeOrdered "
    "— per-partition top-k merged on the driver, never a global "
    "sort-shuffle of the corpus; ranking whole corpora through a "
    "single-partition window is the anti-pattern this query "
    "deliberately avoids, and capped candidate lists are how real "
    "hybrid search fuses anyway), then ranks the 200-row list on "
    "6-dp-rounded scores with id tie-breaks (deterministic integer "
    "ranks), ids align on doc_id = vec_id, and the fused score is a "
    "fixed-order two-term sum of correctly-rounded IEEE divisions — "
    "exact double equality cross-engine, no output rounding needed. "
    "Each leg is the already-verified plan (posting-filtered BM25, "
    "broadcast-query cosine scan); fusion adds one full-outer join "
    "on bounded lists and a top-50.",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import text as X

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    bm25 = X.bm25_scores(docs, query_terms=["spark", "join", "window"])
    bm25_top = bm25.orderBy(F.col("score").desc(), "doc_id").limit(200)
    w_b = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    bm25_rank = bm25_top.select(
        "doc_id", F.row_number().over(w_b).cast("int").alias("r_bm25")
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_qvec")
    )
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(S.cosine(F.col("_qvec"), F.col("embedding")), 6).alias(
                "score"
            ),
        )
    )
    cos_top = cos.orderBy(F.col("score").desc(), "vec_id").limit(200)
    w_c = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    cos_rank = cos_top.select(
        "vec_id", F.row_number().over(w_c).cast("int").alias("r_cos")
    )
    fused = (
        bm25_rank.join(
            cos_rank, bm25_rank["doc_id"] == cos_rank["vec_id"], "full_outer"
        )
        .select(
            F.coalesce("doc_id", "vec_id").alias("doc_id"),
            "r_bm25",
            "r_cos",
            (
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_bm25")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_cos")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    w_f = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f).cast("int"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(50)
    )


@register(
    "embedding_matryoshka_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      WHERE vec_id < 5
    ),
    dims AS (SELECT UNNEST([8, 16, 32]) AS d),
    pairs AS (
      SELECT q.query_id, e.vec_id, d.d,
             ROUND({_COSINE_DOUBLE.format(a="q.qe", b="e.embedding")}, 6)
                 AS cos_full,
             ROUND({_COSINE_DOUBLE.format(a="(q.qe[1:d.d])", b="(e.embedding[1:d.d])")}, 6)
                 AS cos_prefix
      FROM q CROSS JOIN embeddings e CROSS JOIN dims d
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, CAST(d AS INTEGER) AS prefix_dim,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(ABS(cos_prefix - cos_full)
                 AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6)
               AS mean_abs_delta,
           ROUND(MAX(ABS(cos_prefix - cos_full)), 6) AS max_abs_delta
    FROM pairs GROUP BY query_id, d
    """,
    doc="Matryoshka-representation evaluation (Kusupati et al. 2022): "
    "how much cosine similarity degrades when embeddings are "
    "truncated to prefix dims 8/16/32 vs the full 64 — the decision "
    "input for storing short prefixes in the hot ANN tier and "
    "re-scoring with full vectors. Per-pair deltas compute on "
    "6-dp-rounded cosines (both folds share one IEEE tree), then "
    "aggregate as exact decimals (order-free) with one final "
    "division; max over rounded values is order-free by definition. "
    "Content-contracted (r6): one corpus groupBy collapses "
    "byte-identical vectors, each distinct vector scores once per "
    "(query, dim) weighted by exact-decimal multiplicity, and the "
    "per-query self-exclusion is one expression (m−1 iff group "
    "content = query vector) — then a 15-key agg; the 100 TB shape "
    "for the content-duplicated corpora this eval runs on.",
)
def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CONTENT-CONTRACTED (r6, closing the r5 deferral): byte-identical
    # embeddings score ONCE against each query. The self-exclusion the
    # r5 sketch worried about is one expression, not bookkeeping state:
    # pair multiplicity for (query q, content group g) is m(g) minus 1
    # exactly when g's content equals q's own vector (the raw plan
    # excludes only vec_id == query_id, and that row's content is by
    # definition q's vector). Per-group deltas are weighted by that
    # effective multiplicity as exact decimals (decimal × int is exact,
    # decimal addition order-free), so n_pairs / mean / max are
    # bit-identical to the raw per-copy plan — pinned by the
    # duplicated-fixture differential pytest the other contractions
    # carry. At sf5's 50×-duplicated corpus the 750 k-pair 4-fold
    # cosine shrinks to distinct-vectors × 5 queries × 3 dims.
    emb = table(spark, sf_dir, "embeddings")
    reps = emb.groupBy("embedding").agg(
        F.count(F.lit(1)).cast("int").alias("m")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
    )
    dims = spark.createDataFrame([(8,), (16,), (32,)], "d int")
    # cos_full is d-independent: compute it ONCE per (query, content)
    # pair BEFORE the dims fan-out (same expression tree on the same
    # inputs, so the emitted value is bit-identical to evaluating it
    # after the crossJoin — r5 hoist cuts the full-width folds 3×).
    pairs = (
        reps.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "_qvec",
            "embedding",
            (
                F.col("m")
                - F.when(
                    F.col("embedding") == F.col("_qvec"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("m_eff"),
            F.round(S.cosine(F.col("_qvec"), F.col("embedding")), 6).alias(
                "cos_full"
            ),
        )
        # a group whose only member was the query row itself contributes
        # no pairs (and must not feed the max)
        .where(F.col("m_eff") > 0)
        .crossJoin(F.broadcast(dims))
        .select(
            "query_id",
            "d",
            "m_eff",
            "cos_full",
            F.round(
                S.cosine(
                    F.slice(F.col("_qvec"), 1, F.col("d")),
                    F.slice(F.col("embedding"), 1, F.col("d")),
                ),
                6,
            ).alias("cos_prefix"),
        )
    )
    delta = F.abs(F.col("cos_prefix") - F.col("cos_full"))
    return pairs.groupBy(
        "query_id", F.col("d").cast("int").alias("prefix_dim")
    ).agg(
        F.sum("m_eff").cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(delta.cast("decimal(27,12)") * F.col("m_eff")).cast(
                "double"
            )
            / F.sum("m_eff"),
            6,
        ).alias("mean_abs_delta"),
        F.round(F.max(delta), 6).alias("max_abs_delta"),
    )


# The DuckDB oracle's label-ordered left fold is unrolled to a fixed
# width, so it silently DROPS class terms beyond _FISHER_MAX_LABELS.
# Both sides guard it: the fold width is generated from this one
# constant, and the Spark plan embeds an assert_true(k <= max) that
# fails the query loudly if a corpus ever carries more distinct labels
# (ADVICE r5: a label-cardinality change must not silently diverge).
_FISHER_MAX_LABELS = 10
_FISHER_FOLD = " + ".join(
    f"COALESCE(terms[{i}], 0.0)" for i in range(1, _FISHER_MAX_LABELS + 1)
)


@register(
    "embedding_fisher_separability",
    oracle=f"""
    WITH ex AS (
      SELECT label,
             CAST(GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS INTEGER) AS j,
             CAST(UNNEST(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    c AS (
      SELECT label, j, CAST(COUNT(*) AS BIGINT) AS n_c,
             SUM(CAST(x AS DECIMAL(38,12))) AS s_c,
             SUM(CAST(x * x AS DECIMAL(38,12))) AS q_c
      FROM ex GROUP BY label, j
    ),
    d AS (
      SELECT j, CAST(SUM(n_c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(s_c) AS DECIMAL(38,12)) AS s,
             CAST(SUM(q_c) AS DECIMAL(38,12)) AS q,
             LIST(CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE)
                  / CAST(n_c AS DOUBLE) ORDER BY label) AS terms
      FROM c GROUP BY j
    ),
    r AS (
      SELECT j, n, k,
             ({_FISHER_FOLD}) AS cls_ss,
             CAST(q AS DOUBLE) AS q_d, CAST(s AS DOUBLE) AS s_d
      FROM d
    )
    SELECT j, n, k,
           ROUND(cls_ss - s_d * s_d / CAST(n AS DOUBLE), 6) AS between_ss,
           ROUND(q_d - cls_ss, 6) AS within_ss,
           CASE WHEN q_d - cls_ss > 0.0 AND k > 1 THEN
             ROUND(((cls_ss - s_d * s_d / CAST(n AS DOUBLE))
                    / CAST(k - 1 AS DOUBLE))
                   / ((q_d - cls_ss) / CAST(n - k AS DOUBLE)), 6)
           END AS fisher_f
    FROM r
    """,
    doc="Per-dimension Fisher separability (one-way-ANOVA F) of the "
    "labeled embedding space — the probe-your-representation step "
    "before trusting embeddings for classification or semantic dedup: "
    "between-class vs within-class variance per coordinate, high F = "
    "the dimension carries label signal. Two aggregations only: "
    "per-(label,dim) count/sum/sum-of-squares with DECIMAL(38,12) "
    "exact accumulation (order-free across partitions — the "
    "repo-wide discipline), then a per-dim combine whose only "
    "float-ordered reduction (the sum of per-class sum-sq/n terms) "
    "runs as a LABEL-ORDERED left fold — array_sort(collect_list) + "
    "aggregate() in Spark, LIST(... ORDER BY label) + an explicit "
    "10-term left-associated sum in DuckDB — the identical IEEE "
    "tree, so cross-engine hashes match bit-for-bit. Key space is "
    "|labels|x|dims| (data-independent): the 100 TB plan is two "
    "map-side-combined scans, no O(n) state anywhere.",
)
def embedding_fisher_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VECTOR-CONTRACTED (r5, the OOD discipline): per-(label, dim)
    # moments weight each distinct (vector, label) row by its copy
    # count — per-term decimal casts are taken BEFORE the multiplicity
    # multiply (decimal(38,12) x int stays exact at these magnitudes),
    # so the sums equal raw per-copy accumulation bit-for-bit and the
    # 16M-row explode shrinks to the distinct-vector count x dims.
    emb = table(spark, sf_dir, "embeddings")
    reps = emb.groupBy("embedding", "label").agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("m")
    )
    ex = reps.select(
        "label", "m", F.posexplode("embedding").alias("j", "x0")
    ).select("label", "m", "j", F.col("x0").cast("double").alias("x"))
    c = ex.groupBy("label", "j").agg(
        F.sum("m").cast("bigint").alias("n_c"),
        F.sum(
            (F.col("x").cast("decimal(27,12)") * F.col("m")).cast(
                "decimal(38,12)"
            )
        ).alias("s_c"),
        F.sum(
            ((F.col("x") * F.col("x")).cast("decimal(27,12)") * F.col("m")).cast(
                "decimal(38,12)"
            )
        ).alias("q_c"),
    )
    term = (
        F.col("s_c").cast("double")
        * F.col("s_c").cast("double")
        / F.col("n_c").cast("double")
    )
    d = c.groupBy("j").agg(
        F.sum("n_c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s_c").cast("decimal(38,12)").alias("s"),
        F.sum("q_c").cast("decimal(38,12)").alias("q"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("label"), term.alias("t")))
            ),
            F.lit(0.0),
            lambda acc, e: acc + e["t"],
        ).alias("cls_ss"),
    )
    q_d = F.col("q").cast("double")
    s_d = F.col("s").cast("double")
    n_d = F.col("n").cast("double")
    between = F.col("cls_ss") - s_d * s_d / n_d
    within = q_d - F.col("cls_ss")
    # Loud guard (not silent divergence): the oracle's unrolled fold
    # covers exactly _FISHER_MAX_LABELS class terms. assert_true yields
    # NULL when the invariant holds, so the when() passes k through
    # unchanged; a wider corpus fails the job with a clear message.
    # assert_true returns NULL when the invariant holds, so
    # coalesce(assert_true(...), 0) is always 0 on valid corpora and
    # k + 0 == k bit-for-bit; the addition keeps the guard inside the
    # projected expression tree where column pruning can't drop it.
    k_guarded = (
        F.col("k")
        + F.coalesce(
            F.assert_true(
                F.col("k") <= F.lit(_FISHER_MAX_LABELS),
                F.concat(
                    F.lit("embedding_fisher_separability: label cardinality "),
                    F.col("k").cast("string"),
                    F.lit(
                        f" exceeds the oracle's {_FISHER_MAX_LABELS}-term fold"
                    ),
                ),
            ).cast("bigint"),
            F.lit(0).cast("bigint"),
        )
    ).cast("bigint").alias("k")
    return d.select(
        "j",
        "n",
        k_guarded,
        F.round(between, 6).alias("between_ss"),
        F.round(within, 6).alias("within_ss"),
        F.when(
            (within > 0.0) & (F.col("k") > 1),
            F.round(
                (between / (F.col("k") - 1).cast("double"))
                / (within / (F.col("n") - F.col("k")).cast("double")),
                6,
            ),
        ).alias("fisher_f"),
    )
