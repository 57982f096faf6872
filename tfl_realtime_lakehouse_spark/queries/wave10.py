"""Round-9 extension wave: oracle-backed quality records for the
trained ANN tiers — the r8 verdict's ask #2.

The blocker that kept ``embedding_ann_ivf`` / ``embedding_ann_pq`` /
``embedding_ann_ivfpq{,_probe}`` rows-only was never the recall join
(X202 settled that recipe); it was that their k-means training is
iterative and was not SQL-replayable. ``kmeans_train_exact``
(operators/similarity.py) closes that: md5-seeded init, 6-dp-rounded
squared-L2 assignment with id ties, decimal(38,12) per-(cell, dim)
centroid sums — every step has an exactly-equivalent DuckDB form, so
the oracles here unroll the SAME fixed number of Lloyd rounds in SQL
and the ENTIRE pipeline (train → assign → probe → rank → recall)
hash-checks cross-engine.

- ``embedding_ann_ivf_recall_eval`` — recall@10 of nprobe-of-k IVF cell
  probing against exact L2 top-k, per query (X215).
- ``embedding_ann_pq_recall_eval`` — recall@10 of PQ ADC scoring
  (per-subspace codebooks from the same exact trainer) against exact
  L2 top-k, per query (X216).

Plus the WebDataset tar-shard export/manifest
(``docs_tar_shard_manifest``, X220) — a real POSIX-ustar writer and
parser, stdlib-tarfile-interoperable.

Shared determinism discipline (registry.py docstring): distances are
sequential double folds rounded at 6 dp with id tiebreaks; cross-row
float sums pin to decimal(38,12); counts stay integer end to end.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.queries.registry import register, table
from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL

# ---------------------------------------------------------------------------
# X215 — IVF recall@k with SQL-replayable k-means training
# ---------------------------------------------------------------------------

_D = 64  # embedding dims (asserted by the corpus schema)


def _dist_sql(a: str, b: str, d: int = _D) -> str:
    """6-dp-rounded squared L2 between two DOUBLE lists — the DuckDB
    twin of operators/similarity._sq_l2_6 (same sequential fold)."""
    return (
        f"ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, {d + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
    )


def _kmeans_ctes(
    k: int,
    iters: int,
    tag: str = "ivfx:",
    pfx: str = "",
    d: int = _D,
    lo: int | None = None,
    hi: int | None = None,
    rel: str = "embeddings",
    col: str = "embedding",
) -> str:
    """Unrolled Lloyd rounds as CTEs: {pfx}c0 (md5-seeded) …
    {pfx}c{iters}, plus the {pfx}ex / {pfx}exd scans. Mirrors
    kmeans_train_exact step for step; `{pfx}mem` is the final
    assignment under {pfx}c{iters}. With lo/hi (1-based inclusive, the
    DuckDB slice convention) the training runs on that subspace of the
    embedding — the PQ per-subspace form. rel/col point the scans at
    any (vec_id, vector) relation — e.g. the IVF-PQ residual CTE
    (X224) or a filtered subsample — instead of the embeddings table."""
    src = col if lo is None else f"{col}[{lo}:{hi}]"
    dist = _dist_sql("a.e", "c.c", d)
    parts = [
        f"""{pfx}ex AS MATERIALIZED (
      SELECT vec_id, LIST_TRANSFORM({src}, x -> x::DOUBLE) AS e
      FROM {rel}
    ),
    {pfx}exd AS MATERIALIZED (
      SELECT vec_id, CAST(GENERATE_SUBSCRIPTS({src}, 1) AS INTEGER) AS dim,
             CAST(UNNEST({src}) AS DOUBLE) AS x
      FROM {rel}
    ),
    {pfx}c0 AS (
      SELECT CAST(r - 1 AS INTEGER) AS cell, e AS c FROM (
        SELECT e, ROW_NUMBER() OVER (
                 ORDER BY MD5('{tag}' || CAST(vec_id AS VARCHAR)), vec_id) AS r
        FROM {pfx}ex) WHERE r <= {k}
    )"""
    ]
    for i in range(iters):
        parts.append(
            f"""{pfx}a{i} AS (
      SELECT vec_id, cell FROM (
        SELECT a.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY {dist}, c.cell) AS rn
        FROM {pfx}ex a CROSS JOIN {pfx}c{i} c) WHERE rn = 1
    ),
    {pfx}u{i} AS (
      SELECT a.cell, t.dim,
             CAST(SUM(CAST(t.x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mu
      FROM {pfx}a{i} a JOIN {pfx}exd t ON t.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    {pfx}c{i + 1} AS (
      SELECT p.cell, COALESCE(n.c, p.c) AS c
      FROM {pfx}c{i} p LEFT JOIN (
        SELECT cell, LIST(mu ORDER BY dim) AS c FROM {pfx}u{i} GROUP BY 1) n
      USING (cell)
    )"""
        )
    parts.append(
        f"""{pfx}mem AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT a.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY {dist}, c.cell) AS rn
        FROM {pfx}ex a CROSS JOIN {pfx}c{iters} c) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)


_RECALL_TAIL = """j AS (
      SELECT COALESCE(e.query_id, a.query_id) AS query_id,
             e.query_id IS NOT NULL AS in_e,
             a.query_id IS NOT NULL AS in_a
      FROM exact e FULL OUTER JOIN approx a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN in_e THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_approx,
           CAST(SUM(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) AS BIGINT)
             AS n_common,
           ROUND(CAST(SUM(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN in_e THEN 1 ELSE 0 END) AS DOUBLE), 6)
             AS recall_at_k
    FROM j GROUP BY query_id"""


def _ivf_recall_oracle(
    k_cells: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    topk: int = 10,
    nq: int = 20,
) -> str:
    qdist_c = _dist_sql("q.qe", "c.c")
    qdist_b = _dist_sql("q.qe", "b.e")
    return f"""
    WITH {_kmeans_ctes(k_cells, iters)},
    q AS MATERIALIZED (
      SELECT vec_id AS query_id, e AS qe FROM ex WHERE vec_id < {nq}
    ),
    probe AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY {qdist_c}, c.cell) AS rn
        FROM q CROSS JOIN c{iters} c) WHERE rn <= {nprobe}
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, m.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY {qdist_b}, m.vec_id) AS rn
        FROM probe p
        JOIN q ON q.query_id = p.query_id
        JOIN mem m ON m.cell = p.cell
        JOIN ex b ON b.vec_id = m.vec_id
        WHERE m.vec_id != p.query_id) WHERE rn <= {topk}
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, b.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY {qdist_b}, b.vec_id) AS rn
        FROM q CROSS JOIN ex b
        WHERE b.vec_id != q.query_id) WHERE rn <= {topk}
    ),
    {_RECALL_TAIL}
    """


@register(
    "embedding_ann_ivf_recall_eval",
    oracle=_ivf_recall_oracle(k_cells=8, iters=2, nprobe=2, topk=10, nq=20),
    doc="Oracle-backed recall@10 for the TRAINED IVF tier — the record "
    "the r8 verdict asked for: the rows-only embedding_ann_ivf family "
    "now has a hash-green quality number the way sign-LSH got one in "
    "X202. k=8 cells trained with kmeans_train_exact (2 Lloyd rounds, "
    "md5-seeded init, 6-dp squared-L2 assignment with id ties, "
    "decimal(38,12) centroid sums — every step SQL-replayable, so the "
    "oracle unrolls the SAME training in CTEs and the WHOLE pipeline "
    "train → member assignment → nprobe=2 cell probing → candidate "
    "top-10 → full-outer recall join hash-checks against DuckDB. Both "
    "legs rank on the (6-dp L2, id) total order so ties can't "
    "diverge. Scale shape: training is k-bounded broadcast argmin + "
    "one (cell, dim)-keyed shuffle per round; the probe leg is a cell "
    "equi-join (candidates only, never a scan); the exact leg "
    "broadcasts the bounded query set — one corpus scan; the compare "
    "is output-sized (≤ q·k rows per side).",
)
def embedding_ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import similarity as S

    K_CELLS, ITERS, NPROBE, TOPK, NQ = 8, 2, 2, 10, 20
    emb = table(spark, sf_dir, "embeddings")
    cents = S.kmeans_train_exact(emb, k=K_CELLS, iters=ITERS)
    mem = S.kmeans_assign_exact(emb, cents)
    embd = emb.select("vec_id", S._as_double(F.col("embedding")).alias("e"))
    q = embd.where(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    probe = (
        q.join(F.broadcast(cents))
        .select(
            "query_id",
            "cell",
            S._sq_l2_6(F.col("qe"), F.col("centroid")).alias("d"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d", "cell")
            ),
        )
        .where(F.col("rn") <= NPROBE)
        .select("query_id", "cell")
    )
    # EXACT-VECTOR CONTRACTION of the eval legs (r9 second pass):
    # distances are content-pure, so the per-(query, DISTINCT vector)
    # table D is folded once (q·|distinct| folds — 40 k at sf5 instead
    # of the 2.5 M per-copy folds the first shape paid) and copies
    # pick their distance up through one skinny vector-keyed join;
    # identical arrays fold to identical doubles, so the (d, vec_id)
    # rankings — and the hash — are untouched.
    dv = embd.select("e").distinct()
    D = dv.join(F.broadcast(q)).select(
        "query_id", "e", S._sq_l2_6(F.col("qe"), F.col("e")).alias("d")
    )
    scored = (
        embd.join(D, "e")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "d")
        .localCheckpoint(storageLevel=CKPT_LEVEL)  # exact + cand legs
    )
    wk = Window.partitionBy("query_id").orderBy("d", "vec_id")
    cand = probe.join(mem, "cell").select("query_id", "vec_id")
    approx = (
        scored.join(cand, ["query_id", "vec_id"])
        .withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= TOPK)
        .select("query_id", "vec_id")
    )
    exact = (
        scored.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= TOPK)
        .select("query_id", "vec_id")
    )
    return _recall_fold(exact, approx)


def _recall_fold(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@k from the two (query_id, vec_id) top-k legs —
    the X202 full-outer-join fold, shared by the wave-10 evals."""
    e = exact.withColumn("_e", F.lit(1))
    a = approx.withColumn("_a", F.lit(1))
    both = e.join(a, ["query_id", "vec_id"], "full_outer")
    n_common = F.sum(
        F.when(F.col("_e").isNotNull() & F.col("_a").isNotNull(), 1).otherwise(0)
    )
    return (
        both.groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("_e").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_exact"),
            F.sum(F.when(F.col("_a").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_approx"),
            n_common.cast("bigint").alias("n_common"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_approx",
            "n_common",
            F.round(
                F.col("n_common").cast("double") / F.col("n_exact").cast("double"),
                6,
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# X216 — PQ ADC recall@k with SQL-replayable per-subspace codebooks
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUB_D = _D // _PQ_M  # dims per subspace
_PQ_CODES = 16
_PQ_ITERS = 1


def _pq_recall_oracle(topk: int = 10, nq: int = 20) -> str:
    m, sd, codes, iters = _PQ_M, _PQ_SUB_D, _PQ_CODES, _PQ_ITERS
    blocks, lut_parts, score_parts = [], [], []
    for s in range(m):
        lo, hi = s * sd + 1, (s + 1) * sd
        blocks.append(
            _kmeans_ctes(codes, iters, tag=f"pq{s}:", pfx=f"s{s}", d=sd, lo=lo, hi=hi)
        )
        qdist = _dist_sql("q.e", "c.c", sd)
        lut_parts.append(
            f"""s{s}lut AS (
      SELECT q.vec_id AS query_id, c.cell, {qdist} AS d6
      FROM (SELECT vec_id, e FROM s{s}ex WHERE vec_id < {nq}) q
      CROSS JOIN s{s}c{iters} c
    )"""
        )
        score_parts.append(
            f"""SELECT l.query_id, mm.vec_id, CAST(l.d6 AS DECIMAL(18,6)) AS dd
      FROM s{s}mem mm JOIN s{s}lut l ON l.cell = mm.cell"""
        )
    qdist_b = _dist_sql("q.qe", "b.e", _D)
    union = "\n      UNION ALL\n      ".join(score_parts)
    blocks_sql = ",\n    ".join(blocks)
    luts_sql = ",\n    ".join(lut_parts)
    return f"""
    WITH {blocks_sql},
    {luts_sql},
    fex AS MATERIALIZED (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> x::DOUBLE) AS e
      FROM embeddings
    ),
    q AS MATERIALIZED (
      SELECT vec_id AS query_id, e AS qe FROM fex WHERE vec_id < {nq}
    ),
    score AS (
      SELECT query_id, vec_id, SUM(dd) AS adc FROM (
      {union}
      ) WHERE vec_id != query_id GROUP BY 1, 2
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc, vec_id) AS rn
        FROM score) WHERE rn <= {topk}
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, b.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY {qdist_b}, b.vec_id) AS rn
        FROM q CROSS JOIN fex b
        WHERE b.vec_id != q.query_id) WHERE rn <= {topk}
    ),
    {_RECALL_TAIL}
    """


@register(
    "embedding_ann_pq_recall_eval",
    oracle=_pq_recall_oracle(topk=10, nq=20),
    doc="Oracle-backed recall@10 for the PRODUCT-QUANTIZATION tier — "
    "the compression half of IVF-PQ gets the same hash-green quality "
    "record X215 gave the coarse-cell half. 4 subspaces × 16 dims, "
    "16-code codebooks each trained with kmeans_train_exact (1 Lloyd "
    "round, per-subspace md5 seed tags), corpus encoded by the exact "
    "assigner, queries scored by ADC: per-(query, subspace, code) "
    "6-dp L2 lookup tables, candidate distance = Σ over subspaces of "
    "the LUT entry PINNED TO DECIMAL(18,6) before the cross-row sum "
    "(4-term float sums are order-ambiguous between engines; exact "
    "decimals are not), ranked on (adc, id) against exact full-vector "
    "L2 top-10. Scale shape: codebooks are O(m·codes) model state; "
    "encoding is a broadcast argmin per subspace; ADC scoring is the "
    "LUT equi-join on (subspace, code) + one (query, vec)-keyed sum — "
    "never touches raw vectors after encoding, which is the entire "
    "point of PQ at 100 TB. (Absolute recall is LOW on this corpus "
    "(~0.13 mean at sf0.01) and that is the CORRECT measurement: the "
    "synthetic embeddings are near-uniform, and 16-bit ADC on "
    "unclustered data carries little rank signal — the operating "
    "regime the eval exists to expose; production IVF-PQ recall "
    "claims assume clustered corpora.)",
)
def embedding_ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import similarity as S

    m, sd, codes, iters = _PQ_M, _PQ_SUB_D, _PQ_CODES, _PQ_ITERS
    TOPK, NQ = 10, 20
    emb = table(spark, sf_dir, "embeddings")
    embd = emb.select("vec_id", S._as_double(F.col("embedding")).alias("e"))
    q = embd.where(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    # EXACT-VECTOR CONTRACTION of the eval legs (r9 second pass, the
    # X215 discipline): a full vector determines all m codes, so codes,
    # LUT lookups, and the decimal ADC fold run per DISTINCT vector
    # (q·|distinct|·m skinny rows instead of the q·|corpus|·m shuffle
    # the first shape paid); copies pick their ADC up through one
    # vector-keyed join, and slicing the double array equals casting
    # the float slice, so every distance is bit-identical.
    dv = embd.select("e").distinct().localCheckpoint(storageLevel=CKPT_LEVEL)

    def build_part(s: int) -> DataFrame:
        sub = emb.select(
            "vec_id", F.slice("embedding", s * sd + 1, sd).alias("embedding")
        )
        books = S.kmeans_train_exact(
            sub, k=codes, iters=iters, tag=f"pq{s}:"
        )
        sub_dv = dv.select("e", F.slice("e", s * sd + 1, sd).alias("se"))
        cc = books.select(
            F.col("cell").alias("_cc"), F.col("centroid").alias("_cv")
        )
        assigned_dv = (
            sub_dv.join(F.broadcast(cc))
            .select(
                "e",
                F.struct(
                    S._sq_l2_6(F.col("se"), F.col("_cv")).alias("d"),
                    F.col("_cc").alias("c"),
                ).alias("_s"),
            )
            .groupBy("e")
            .agg(F.min("_s").alias("_s"))
            .select("e", F.col("_s.c").alias("cell"))
        )
        qsub = q.select(
            "query_id", F.slice("qe", s * sd + 1, sd).alias("qse")
        )
        lut = qsub.join(F.broadcast(books)).select(
            "query_id",
            "cell",
            S._sq_l2_6(F.col("qse"), F.col("centroid")).alias("d6"),
        )
        return assigned_dv.join(F.broadcast(lut), "cell").select(
            "query_id",
            "e",
            F.col("d6").cast("decimal(18,6)").alias("dd"),
        )

    # The four subspace codebook trainings are INDEPENDENT and the
    # stage is job-count-bound (Lloyd checkpoints dominate, not data) —
    # submit them concurrently, the X224 discipline backported.
    # Determinism untouched: each training is self-contained and
    # md5-tag-seeded. inheritable_thread_target keeps job-group /
    # scheduler-pool attribution intact in the pool threads (r10
    # ADVICE).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=m) as pool:
        parts = list(pool.map(inheritable_thread_target(spark)(build_part), range(m)))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionAll(p)
    adc_dv = allp.groupBy("query_id", "e").agg(F.sum("dd").alias("adc"))
    score = (
        embd.join(adc_dv, "e")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "adc")
    )
    approx = (
        score.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("adc", "vec_id")
            ),
        )
        .where(F.col("rn") <= TOPK)
        .select("query_id", "vec_id")
    )
    D = dv.join(F.broadcast(q)).select(
        "query_id", "e", S._sq_l2_6(F.col("qe"), F.col("e")).alias("d")
    )
    wk = Window.partitionBy("query_id").orderBy("d", "vec_id")
    exact = (
        embd.join(D, "e")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "d")
        .withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= TOPK)
        .select("query_id", "vec_id")
    )
    return _recall_fold(exact, approx)


# ---------------------------------------------------------------------------
# X220 — WebDataset-style tar shard manifest (real ustar writer+parser)
# ---------------------------------------------------------------------------

_TAR_ORACLE = """
    WITH m AS (
      SELECT CAST(doc_id // 16 AS BIGINT) AS shard_id, doc_id,
             OCTET_LENGTH(ENCODE(COALESCE(text, ''))) AS sz
      FROM documents
    ),
    o AS (
      SELECT shard_id, doc_id, sz,
             COALESCE(SUM(512 + CAST(CEIL(sz / 512.0) AS BIGINT) * 512) OVER (
               PARTITION BY shard_id ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM m
    )
    SELECT shard_id,
           'doc' || LPAD(CAST(doc_id AS VARCHAR), 8, '0') || '.txt' AS member,
           CAST(sz AS BIGINT) AS n_bytes,
           CAST(prior AS BIGINT) AS offset,
           TRUE AS cksum_ok
    FROM o
"""


@register(
    "docs_tar_shard_manifest",
    oracle=_TAR_ORACLE,
    doc="WebDataset-style tar shard export + random-access manifest — "
    "the container format LLM training loaders actually consume: the "
    "documents table is packed into 16-doc tar shards by a REAL "
    "POSIX-ustar writer (512-byte blocks, octal fields, the spaces-"
    "then-store header checksum — stdlib-tarfile-interoperable, no "
    "tar library), then the shards are block-walked BACK by a real "
    "parser emitting (member, size, header offset, checksum-verified) "
    "— the index a loader needs to fetch one document from a multi-GB "
    "shard without scanning it. The oracle replays the byte layout "
    "arithmetically: utf-8 payload length and the 512-aligned prefix "
    "sum over the shard's doc_id order, plus cksum_ok = TRUE — so a "
    "single flipped byte in writer OR parser breaks the hash. Null "
    "text packs as an empty member (it must survive the round trip, "
    "not vanish). Scale: the shard is the parallelism unit on both "
    "legs (one applyInPandas task per shard, map-only parse); at "
    "100 TB the same plan writes shards to object storage via "
    "foreachBatch and keeps the manifest as the index table.",
)
def docs_tar_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import multimodal as M

    shards = M.synth_tar_shards(table(spark, sf_dir, "documents"))
    return M.parse_tar_manifest(shards)


# ---------------------------------------------------------------------------
# X221 — nDCG@10 for the ANN ranking (ORDER quality, not just set overlap)
# ---------------------------------------------------------------------------

_NDCG_K = 10
# positional discounts 1/ln(pos+1) BAKED as 9-dp literals: zero runtime
# logarithms, so no cross-engine libm question can ever touch the hash
_NDCG_W = [round(1.0 / math.log(p + 1), 9) for p in range(1, _NDCG_K + 1)]


def _ndcg_oracle(k: int = _NDCG_K, nq: int = 20) -> str:
    from tfl_realtime_lakehouse_spark.queries.vector_queries import (
        _COSINE_DOUBLE,
        _rademacher_codes_sql,
    )

    cos = _COSINE_DOUBLE.format(a="ea.embedding", b="eb.embedding")
    w_case = " ".join(
        f"WHEN {p + 1} THEN CAST({_NDCG_W[p]} AS DECIMAL(12,9))"
        for p in range(k)
    )
    return f"""
    WITH sample AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
    ),
    codes AS MATERIALIZED (
      {_rademacher_codes_sql(16, 8, 64)}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM codes a JOIN codes b
        ON a.tbl = b.tbl AND a.code = b.code AND a.vec_id < b.vec_id
    ),
    qc AS (
      SELECT vec_a AS query_id, vec_b AS vec_id FROM cand WHERE vec_a < {nq}
      UNION ALL
      SELECT vec_b, vec_a FROM cand WHERE vec_b < {nq}
    ),
    approx AS (
      SELECT query_id, vec_id, rnk AS pos FROM (
        SELECT qc.query_id, qc.vec_id,
               ROW_NUMBER() OVER (PARTITION BY qc.query_id
                 ORDER BY ROUND({cos}, 6) DESC, qc.vec_id) AS rnk
        FROM qc
        JOIN sample ea ON ea.vec_id = qc.query_id
        JOIN sample eb ON eb.vec_id = qc.vec_id
      ) WHERE rnk <= {k}
    ),
    exact AS (
      SELECT query_id, vec_id, CAST({k + 1} - rnk AS DECIMAL(4,0)) AS rel,
             rnk FROM (
        SELECT ea.vec_id AS query_id, eb.vec_id,
               ROW_NUMBER() OVER (PARTITION BY ea.vec_id
                 ORDER BY ROUND({cos}, 6) DESC, eb.vec_id) AS rnk
        FROM sample ea CROSS JOIN sample eb
        WHERE ea.vec_id < {nq} AND eb.vec_id != ea.vec_id
      ) WHERE rnk <= {k}
    ),
    dcg AS (
      SELECT a.query_id,
             SUM(COALESCE(e.rel, CAST(0 AS DECIMAL(4,0)))
                 * (CASE a.pos {w_case} END)) AS dcg
      FROM approx a LEFT JOIN exact e
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY 1
    ),
    idcg AS (
      SELECT query_id, SUM(rel * (CASE rnk {w_case} END)) AS idcg
      FROM exact GROUP BY 1
    )
    SELECT i.query_id,
           ROUND(CAST(COALESCE(d.dcg, 0) AS DOUBLE), 6) AS dcg,
           ROUND(CAST(i.idcg AS DOUBLE), 6) AS idcg,
           ROUND(CAST(COALESCE(d.dcg, 0) AS DOUBLE)
                 / CAST(i.idcg AS DOUBLE), 6) AS ndcg_at_k
    FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
    """


@register(
    "embedding_ann_ndcg_eval",
    oracle=_ndcg_oracle(),
    doc="nDCG@10 of the sign-LSH ANN ranking against exact cosine "
    "order — the ORDER-quality companion to X202's recall@10 (two "
    "rankings with identical top-10 SETS can still disagree on order; "
    "recall can't see that, nDCG can). Graded relevance rel = 11 − "
    "exact_rank for the exact top-10 (integer), position discounts "
    "1/ln(pos+1) baked as 9-dp DECIMAL LITERALS — zero runtime "
    "logarithms, so no libm question touches the hash — and every "
    "rel·w product and cross-row sum stays in exact decimals until "
    "the final double division, rounded at 6 dp. Both rankings use "
    "the (6-dp cosine, id) total order. Scale shape: identical to "
    "X202 (bucket equi-join candidates + broadcast-query exact leg, "
    "both legs output-sized before the join).",
)
def embedding_ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import similarity as S

    k, nq = _NDCG_K, 20
    emb = table(spark, sf_dir, "embeddings")
    sample = emb.where(F.col("vec_id") % 4 == 0)
    exact = S.cosine_topk(sample, sample.where(F.col("vec_id") < nq), k=k)
    pairs = S.rademacher_lsh_pairs(sample, tables=16, bits=8, threshold=-1.0)
    qa = pairs.where(F.col("vec_a") < nq).select(
        F.col("vec_a").alias("query_id"), F.col("vec_b").alias("vec_id"), "score"
    )
    qb = pairs.where(F.col("vec_b") < nq).select(
        F.col("vec_b").alias("query_id"), F.col("vec_a").alias("vec_id"), "score"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    approx = (
        qa.unionAll(qb)
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select("query_id", "vec_id", "pos")
    )
    wlit = F.array(*[F.lit(v).cast("decimal(12,9)") for v in _NDCG_W])
    rel = (F.lit(k + 1) - F.col("rnk")).cast("decimal(4,0)")
    ex = exact.select("query_id", "vec_id", rel.alias("rel"), "rnk")
    dcg = (
        approx.join(ex.select("query_id", "vec_id", "rel"), ["query_id", "vec_id"], "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("rel"), F.lit(0).cast("decimal(4,0)"))
                * F.element_at(wlit, F.col("pos"))
            ).alias("t"),
        )
        .groupBy("query_id")
        .agg(F.sum("t").alias("dcg"))
    )
    idcg = (
        ex.select(
            "query_id", (F.col("rel") * F.element_at(wlit, F.col("rnk"))).alias("t")
        )
        .groupBy("query_id")
        .agg(F.sum("t").alias("idcg"))
    )
    zero = F.lit(0).cast("decimal(38,9)")
    return idcg.join(dcg, "query_id", "left").select(
        "query_id",
        F.round(F.coalesce(F.col("dcg"), zero).cast("double"), 6).alias("dcg"),
        F.round(F.col("idcg").cast("double"), 6).alias("idcg"),
        F.round(
            F.coalesce(F.col("dcg"), zero).cast("double")
            / F.col("idcg").cast("double"),
            6,
        ).alias("ndcg_at_k"),
    )
