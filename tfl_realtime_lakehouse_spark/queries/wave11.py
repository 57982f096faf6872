"""Round-10 extension wave: oracle-backed quality records for the LAST
two unrecorded approximate tiers — the r9 verdict's ask #1.

X215/X216 (wave10) gave the IVF and PQ halves hash-green recall
records by making their k-means training SQL-replayable
(``kmeans_train_exact``). This wave closes the remaining two:

- ``embedding_ann_ivfpq_recall_eval`` (X224) — recall@10 of the
  COMPOSED tier: coarse cells + product-quantized RESIDUALS
  (Jégou et al. 2011), the composition ``operators/similarity.py:
  ivfpq_build/ivfpq_probe`` runs with BLAS tiers in production. The
  oracle unrolls coarse Lloyd training, the residual relation, four
  per-subspace residual codebooks, the per-(query, probed-cell)
  residual ADC LUTs, and the recall join — the whole pipeline
  hash-checks cross-engine. Residual quantization is one extra
  subtraction inside the same CTE pattern, exactly as predicted.
- ``semantic_dedup_recall_eval`` (X225) — X44's SemDeDup greedy prune
  (Abbas et al. 2023) pinned move-for-move: exact k-means cells, a
  6-dp-pre-rounded within-cell threshold graph, and the greedy
  keep/prune pass replayed by the oracle as a BOUNDED PEELING
  fixpoint (the lexicographic maximal-independent-set
  characterization: i is kept iff no kept j < i clears the
  threshold), unrolled ``_SDD_ROUNDS`` rounds with NULL-on-
  non-convergence so an insufficient unroll breaks the hash instead
  of passing silently.

After this wave the rows-only set contains ONLY aggregates that are
approximate by definition (HLL, reservoir-free ANN candidate tiers
whose quality is now separately recorded).

Shared determinism discipline (registry.py docstring): distances are
sequential double folds rounded at 6 dp with id tiebreaks; cross-row
float/ADC sums pin to exact decimals; counts stay integer end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.queries.registry import register, table
from tfl_realtime_lakehouse_spark.queries.wave10 import (
    _D,
    _RECALL_TAIL,
    _dist_sql,
    _kmeans_ctes,
    _recall_fold,
)
from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL

# ---------------------------------------------------------------------------
# X224 — IVF-PQ (coarse cells + residual PQ) recall@k, fully SQL-replayable
# ---------------------------------------------------------------------------

_IP_CELLS = 8      # coarse cells
_IP_CITERS = 1     # coarse Lloyd rounds
_IP_M = 4          # PQ subspaces over the residual
_IP_SUB_D = _D // _IP_M
_IP_CODES = 16     # codewords per subspace
_IP_PITERS = 1     # PQ Lloyd rounds
_IP_NPROBE = 2
_IP_TOPK = 10
_IP_NQ = 20


def _ivfpq_recall_oracle() -> str:
    cells, citers = _IP_CELLS, _IP_CITERS
    m, sd, codes, piters = _IP_M, _IP_SUB_D, _IP_CODES, _IP_PITERS
    nprobe, topk, nq = _IP_NPROBE, _IP_TOPK, _IP_NQ
    blocks = [_kmeans_ctes(cells, citers, tag="ivfpqc:", pfx="g")]
    blocks.append(
        f"""resid AS MATERIALIZED (
      SELECT e.vec_id, LIST_TRANSFORM(RANGE(1, {_D + 1}),
                                      i -> e.e[i] - c.c[i]) AS r
      FROM gex e JOIN gmem m USING (vec_id) JOIN gc{citers} c USING (cell)
    )"""
    )
    lut_parts, score_parts = [], []
    for s in range(m):
        lo, hi = s * sd + 1, (s + 1) * sd
        blocks.append(
            _kmeans_ctes(
                codes, piters, tag=f"rpq{s}:", pfx=f"r{s}", d=sd,
                lo=lo, hi=hi, rel="resid", col="r",
            )
        )
        lut_parts.append(
            f"""q{s}sub AS (
      SELECT query_id, cell, qr[{lo}:{hi}] AS qs FROM qres
    ),
    lut{s} AS (
      SELECT t.query_id, t.cell, c.cell AS code,
             {_dist_sql('t.qs', 'c.c', sd)} AS d6
      FROM q{s}sub t CROSS JOIN r{s}c{piters} c
    )"""
        )
        score_parts.append(
            f"""SELECT c.query_id, c.vec_id, CAST(l.d6 AS DECIMAL(18,6)) AS dd
      FROM cand c
      JOIN r{s}mem sm ON sm.vec_id = c.vec_id
      JOIN lut{s} l ON l.query_id = c.query_id AND l.cell = c.cell
                   AND l.code = sm.cell"""
        )
    blocks_sql = ",\n    ".join(blocks)
    luts_sql = ",\n    ".join(lut_parts)
    union = "\n      UNION ALL\n      ".join(score_parts)
    return f"""
    WITH {blocks_sql},
    q AS MATERIALIZED (
      SELECT vec_id AS query_id, e AS qe FROM gex WHERE vec_id < {nq}
    ),
    probe AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY {_dist_sql('q.qe', 'c.c')}, c.cell) AS rn
        FROM q CROSS JOIN gc{citers} c) WHERE rn <= {nprobe}
    ),
    qres AS MATERIALIZED (
      SELECT p.query_id, p.cell,
             LIST_TRANSFORM(RANGE(1, {_D + 1}),
                            i -> q.qe[i] - c.c[i]) AS qr
      FROM probe p JOIN q USING (query_id) JOIN gc{citers} c USING (cell)
    ),
    {luts_sql},
    cand AS MATERIALIZED (
      SELECT p.query_id, m.vec_id, m.cell
      FROM probe p JOIN gmem m ON m.cell = p.cell
      WHERE m.vec_id != p.query_id
    ),
    score AS (
      SELECT query_id, vec_id, SUM(dd) AS adc FROM (
      {union}
      ) GROUP BY 1, 2
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
                 ORDER BY {_dist_sql('q.qe', 'b.e')}, b.vec_id) AS rn
        FROM q CROSS JOIN gex b
        WHERE b.vec_id != q.query_id) WHERE rn <= {topk}
    ),
    {_RECALL_TAIL}
    """


@register(
    "embedding_ann_ivfpq_recall_eval",
    oracle=_ivfpq_recall_oracle(),
    doc="Oracle-backed recall@10 for the COMPOSED IVF-PQ tier — the "
    "last ANN tier without a cross-engine quality record (r9 verdict "
    "ask #1). Mirrors operators/similarity.py:ivfpq_build/ivfpq_probe "
    "(coarse cells + product-quantized RESIDUALS, Jégou 2011) with "
    "every stage swapped to its SQL-replayable exact twin: coarse "
    "kmeans_train_exact (k=8, 1 Lloyd round, md5 seed 'ivfpqc:'), "
    "residual = x − centroid[cell] as one per-element double subtract, "
    "four 16-code residual codebooks from the same exact trainer "
    "(seeds 'rpq{s}:'), nprobe=2 cell probing, per-(query, probed-"
    "cell) residual ADC LUTs with each 6-dp lookup PINNED TO "
    "DECIMAL(18,6) before the cross-subspace sum, ranked on (adc, id) "
    "against exact full-vector L2 top-10. The oracle unrolls ALL of "
    "it in CTEs — train, residuals, codebooks, LUTs, probe, rank, "
    "recall — so the composition is hash-checked end to end, not just "
    "its halves (X215/X216). EXACT-VECTOR CONTRACTION throughout: "
    "cell assignment, residuals, codes, ADC folds, and both eval legs "
    "run per DISTINCT vector and copies rejoin through skinny vector-"
    "keyed joins (50× fewer folds on the replicated sf5 corpus, "
    "bit-identical results). Scale shape: candidate generation is the "
    "cell equi-join (partition-prunable against an ivfpq_persist "
    "layout), LUTs are broadcast-sized model state, and scoring never "
    "touches raw vectors — the entire point of IVF-PQ at 100 TB.",
)
def embedding_ann_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import similarity as S

    cells_k, citers = _IP_CELLS, _IP_CITERS
    m, sd, codes, piters = _IP_M, _IP_SUB_D, _IP_CODES, _IP_PITERS
    nprobe, topk, nq = _IP_NPROBE, _IP_TOPK, _IP_NQ

    emb = table(spark, sf_dir, "embeddings")
    embd = emb.select("vec_id", S._as_double(F.col("embedding")).alias("e"))
    cells = S.kmeans_train_exact(emb, k=cells_k, iters=citers, tag="ivfpqc:")
    cc = cells.select(F.col("cell").alias("_cc"), F.col("centroid").alias("_cv"))

    # distinct-vector coarse assignment + residual (content-pure)
    dv = embd.select("e").distinct().localCheckpoint(storageLevel=CKPT_LEVEL)
    dvc = (
        dv.join(F.broadcast(cc))
        .select(
            "e",
            F.struct(
                S._sq_l2_6(F.col("e"), F.col("_cv")).alias("d"),
                F.col("_cc").alias("c"),
            ).alias("_s"),
        )
        .groupBy("e")
        .agg(F.min("_s").alias("_s"))
        .select("e", F.col("_s.c").alias("cell"))
    )
    dvr = (
        dvc.join(
            F.broadcast(
                cells.select(F.col("cell").alias("_rc"), F.col("centroid").alias("_rv"))
            ),
            F.col("cell") == F.col("_rc"),
        )
        .select(
            "e",
            "cell",
            F.zip_with(F.col("e"), F.col("_rv"), lambda x, c: x - c).alias("r"),
        )
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    # per-id residual relation: PQ training seeds by id, so copies ride
    # along (the trainer contracts them again internally). Checkpointed
    # once — all four subspace trainings start from the materialized
    # relation instead of re-running the assignment join.
    resid = (
        embd.join(dvr.select("e", "r"), "e")
        .select("vec_id", "r")
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )

    q = embd.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    probes = (
        q.join(F.broadcast(cells))
        .select(
            "query_id",
            "cell",
            S._sq_l2_6(F.col("qe"), F.col("centroid")).alias("d"),
            F.zip_with(
                F.col("qe"), F.col("centroid"), lambda x, c: x - c
            ).alias("qr"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("query_id").orderBy("d", "cell")),
        )
        .where(F.col("rn") <= nprobe)
        .select("query_id", "cell", "qr")
    )
    cand_dv = probes.select("query_id", "cell").join(dvc, "cell")

    def build_part(s: int) -> DataFrame:
        lo = s * sd + 1
        sub = resid.select("vec_id", F.slice("r", lo, sd).alias("embedding"))
        books = S.kmeans_train_exact(sub, k=codes, iters=piters, tag=f"rpq{s}:")
        bb = books.select(F.col("cell").alias("_bc"), F.col("centroid").alias("_bv"))
        dvcode = (
            dvr.select("e", F.slice("r", lo, sd).alias("rs"))
            .join(F.broadcast(bb))
            .select(
                "e",
                F.struct(
                    S._sq_l2_6(F.col("rs"), F.col("_bv")).alias("d"),
                    F.col("_bc").alias("c"),
                ).alias("_s"),
            )
            .groupBy("e")
            .agg(F.min("_s").alias("_s"))
            .select("e", F.col("_s.c").alias("code"))
        )
        lut = probes.select(
            "query_id", "cell", F.slice("qr", lo, sd).alias("qs")
        ).join(F.broadcast(books.select(F.col("cell").alias("code"), "centroid"))).select(
            "query_id",
            "cell",
            "code",
            S._sq_l2_6(F.col("qs"), F.col("centroid"))
            .cast("decimal(18,6)")
            .alias("dd"),
        )
        return (
            cand_dv.join(dvcode, "e")
            .join(F.broadcast(lut), ["query_id", "cell", "code"])
            .select("query_id", "e", "dd")
        )

    # The four residual codebooks are INDEPENDENT trainings over the
    # same checkpointed residual relation; their Lloyd orchestration is
    # job-count-bound (sf0.001 and sf0.1 cost the same), so submit them
    # concurrently — the scheduler interleaves the small checkpoint
    # jobs. Determinism is untouched: each training is self-contained
    # and seeded by its own md5 tag. inheritable_thread_target copies
    # the submitting thread's JVM-local properties (job group,
    # scheduler pool) into the pool threads, so job attribution and
    # group cancellation keep working under pinned-thread mode
    # (r10 ADVICE).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=m) as pool:
        parts = list(pool.map(inheritable_thread_target(spark)(build_part), range(m)))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionAll(p)
    adc_dv = allp.groupBy("query_id", "e").agg(F.sum("dd").alias("adc"))
    approx = (
        embd.join(adc_dv, "e")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("adc", "vec_id")
            ),
        )
        .where(F.col("rn") <= topk)
        .select("query_id", "vec_id")
    )
    D = dv.join(F.broadcast(q)).select(
        "query_id", "e", S._sq_l2_6(F.col("qe"), F.col("e")).alias("d")
    )
    exact = (
        embd.join(D, "e")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d", "vec_id")
            ),
        )
        .where(F.col("rn") <= topk)
        .select("query_id", "vec_id")
    )
    return _recall_fold(exact, approx)


# ---------------------------------------------------------------------------
# X225 — SemDeDup greedy prune, pinned against a bounded peeling fixpoint
# ---------------------------------------------------------------------------

_SDD_K = 4         # fixed cells (the verification tier; prod auto-tunes)
_SDD_ITERS = 1
_SDD_THR = 0.25    # prunes ~78% of this near-uniform corpus (measured)
_SDD_ROUNDS = 16   # peeling unroll; measured depth ≤ 9 at the driver SF

_SDD_COS = """LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.e) + 1),
                 i -> a.e[i] * b.e[i]))
           / (SQRT(LIST_SUM(LIST_TRANSFORM(a.e, x -> x * x)))
              * SQRT(LIST_SUM(LIST_TRANSFORM(b.e, x -> x * x))))"""


def _sdd_oracle() -> str:
    k, iters, thr, rounds = _SDD_K, _SDD_ITERS, _SDD_THR, _SDD_ROUNDS
    peel = []
    for r in range(rounds):
        peel.append(
            f"""d{r + 1} AS MATERIALIZED (
      SELECT m.vec_id, m.cell,
             CASE WHEN m.st IS NOT NULL THEN m.st
                  WHEN x.any_kept = 1 THEN 0
                  WHEN COALESCE(x.n_open, 0) = 0 THEN 1
                  ELSE NULL END AS st
      FROM d{r} m LEFT JOIN (
        SELECT e.vb AS vec_id,
               MAX(CASE WHEN j.st = 1 THEN 1 ELSE 0 END) AS any_kept,
               SUM(CASE WHEN j.st IS NULL THEN 1 ELSE 0 END) AS n_open
        FROM edges e JOIN d{r} j ON j.vec_id = e.va
        GROUP BY 1) x ON x.vec_id = m.vec_id
    )"""
        )
    peel_sql = ",\n    ".join(peel)
    return f"""
    WITH {_kmeans_ctes(k, iters, tag="sdd:", pfx="s")},
    mv AS MATERIALIZED (
      SELECT m.vec_id, m.cell, a.e FROM smem m JOIN sex a USING (vec_id)
    ),
    edges AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM mv a JOIN mv b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND({_SDD_COS}, 6) >= {thr}
    ),
    d0 AS (SELECT vec_id, cell, CAST(NULL AS INTEGER) AS st FROM mv),
    {peel_sql}
    SELECT d.vec_id, d.cell, CAST(d.st AS INTEGER) AS keep,
           CAST(pb.pruned_by AS BIGINT) AS pruned_by,
           u.unresolved
    FROM d{rounds} d LEFT JOIN (
      SELECT e.vb AS vec_id, MIN(e.va) AS pruned_by
      FROM edges e JOIN d{rounds} j ON j.vec_id = e.va AND j.st = 1
      GROUP BY 1) pb ON pb.vec_id = d.vec_id
    CROSS JOIN (
      SELECT CAST(COALESCE(SUM(CASE WHEN st IS NULL THEN 1 ELSE 0 END), 0)
                  AS INTEGER) AS unresolved
      FROM d{rounds}) u
    """


@register(
    "semantic_dedup_recall_eval",
    oracle=_sdd_oracle(),
    doc="X44's SemDeDup greedy prune pinned bit-for-bit against a SQL "
    "replay (r9 verdict ask #1, second half): the rows-only "
    "semantic_dedup_prune now has a hash-green record of the EXACT "
    "keep/prune decisions. Engine: operators/similarity.py:"
    "semantic_dedup_exact — exact k-means cells (k=4, 1 Lloyd round, "
    "md5 seed 'sdd:'), within-cell pair cosines computed JVM-side and "
    "rounded at 6 dp BEFORE the greedy (the X96 MMR discipline), then "
    "the ascending-id greedy where i is pruned iff an already-kept "
    "j < i clears threshold 0.25, pruned_by = the lowest such keeper. "
    "Oracle: the greedy's fixpoint characterization (keepers = the "
    "lexicographically first maximal independent set of the threshold "
    "graph) unrolled as 16 peeling rounds — a vertex resolves KEPT "
    "when all earlier neighbors are pruned, PRUNED when an earlier "
    "keeper appears; non-convergence leaves NULLs that break the hash "
    "instead of passing silently (measured depth ≤ 9 on this corpus). "
    "CONVERGENCE SENTINEL (r10 ADVICE): both sides carry an "
    "`unresolved` column — the oracle counts its still-NULL vertices "
    "after the unroll, the engine emits the invariant 0 (the "
    "sequential greedy is TOTAL: every vertex gets a keep/prune "
    "decision by construction, there is no unresolved state to "
    "count). A too-shallow unroll now mismatches on a NAMED column "
    "(oracle unresolved > 0) instead of anonymous NULL keeps, so "
    "oracle non-convergence is distinguishable from a real engine "
    "divergence at a glance. "
    "EXACT-VECTOR CONTRACTION: the threshold graph is content-pure "
    "and copies always collapse onto their minimum-id copy, so the "
    "O(|cell|²) pair scan runs over DISTINCT vectors and copies "
    "expand afterward (2500× fewer cosines on the 50×-replicated sf5 "
    "corpus, provably identical output). Scale shape: the quadratic "
    "is bounded per cell exactly as SemDeDup prescribes — k grows "
    "with n in production (semantic_dedup's target_cell_size); this "
    "fixed-k twin exists so the decision procedure itself is "
    "verifiable.",
)
def semantic_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import similarity as S

    emb = table(spark, sf_dir, "embeddings")
    res = S.semantic_dedup_exact(
        emb, k=_SDD_K, iters=_SDD_ITERS, threshold=_SDD_THR, tag="sdd:"
    )
    # Convergence sentinel: the engine's greedy is total (see doc), so
    # 0 is the exact value — a literal, not a computed aggregate, to
    # keep the (2,1) plan budget. The oracle side computes its count.
    return res.withColumn("unresolved", F.lit(0).cast("int"))
