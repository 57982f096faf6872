"""Round-7 extension wave: corpus-audit operators a training-data
pipeline runs between curation rounds — cross-source contamination,
embedding-set diversity, and community-quality scoring for the graph
family.

Shared determinism discipline (registry.py docstring): cross-row float
sums go through exact decimals, per-array folds run in index order
with an identical IEEE tree in both engines, continuous outputs round
at 6 dp, counts stay integer end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.queries.registry import register, table
from tfl_realtime_lakehouse_spark.queries.tpch_extra import _lpa_oracle
from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL


@register(
    "docs_cross_source_overlap",
    oracle="""
    WITH toks AS (
      SELECT source, STRING_SPLIT(text, ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ),
    d AS (
      SELECT DISTINCT source, MD5(ARRAY_TO_STRING(w[i:i+7], ' ')) AS h
      FROM toks, UNNEST(RANGE(1, GREATEST(LEN(w) - 7, 0) + 1)) AS t(i)
    ),
    tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
    sh AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared, ta.n AS n_a, tb.n AS n_b,
           ROUND(CAST(n_shared AS DOUBLE) / (ta.n + tb.n - n_shared), 6)
               AS jaccard
    FROM sh
    JOIN tot ta ON ta.source = source_a
    JOIN tot tb ON tb.source = source_b
    """,
    doc="Cross-source contamination matrix at 8-gram granularity: for "
    "every source pair sharing at least one distinct 8-token shingle, "
    "the shared-shingle count and shingle Jaccard — the audit that "
    "decides whether two crawls are independent enough to count twice "
    "in a training mix (exact-doc overlap misses partial copying; "
    "8-gram overlap is the decontamination industry unit, cf. the "
    "repo's text_decontaminate_spans). Scale shape: the oracle's "
    "h-keyed SELF-JOIN is exactly what the engine must NOT do (a hot "
    "boilerplate shingle shared by many sources explodes "
    "quadratically per hash); instead one groupBy(h) builds the "
    "per-shingle sorted source SET — bounded by |sources|, "
    "data-independent — and pairs expand IN-ROW from that bounded "
    "array, so the shuffle carries O(distinct (source, shingle)) "
    "fixed-width md5 keys and the pair relation is output-sized "
    "(≤ |sources|² rows). Null-text and sub-8-token docs contribute "
    "nothing on both engines.",
)
def docs_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # CONTENT CONTRACTION (the doc_rolling_hash/X187 recipe): shingle
    # sets are content-pure, so the explode+md5 pipeline runs once per
    # DISTINCT text and expands back through the tiny (source, content
    # key) relation — on the 50× replicated sf5 corpus this cuts the
    # exploded volume 50× (250 k docs share ~5 k texts) and was the r8
    # verdict's named fix for this query's 45 s sf5 wall.
    sp = docs.select("source", F.md5("text").alias("_pk")).distinct()
    reps = docs.groupBy(F.md5("text").alias("_pk")).agg(
        F.min("text").alias("text")
    )
    w = F.split("text", " ")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("w") - 7),
        lambda i: F.md5(F.array_join(F.slice("w", i, 8), " ")),
    )
    hs = (
        reps.select("_pk", w.alias("w"))
        .where(F.size("w") >= 8)
        .select("_pk", F.explode(shingles).alias("h"))
    )
    # no pre-distinct: collect_set dedups (source, h) inside the ONE
    # h-keyed shuffle (map-side partial sets), where the old shape paid
    # a full distinct shuffle of the exploded volume first
    d = hs.join(sp, "_pk").select("source", "h")
    # materialize the deduped per-shingle source sets ONCE: three legs
    # (pair expansion + both per-source totals) read it, and without
    # the cut each leg re-runs the whole contraction+explode pipeline
    sets = (
        d.groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) ->"
                " transform(slice(ss, i + 2, size(ss)),"
                " y -> struct(x AS sa, y AS sb))))"
            )
        ).alias("p")
    ).select("p.sa", "p.sb")
    sh = pairs.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )
    # per-source distinct-shingle totals REUSE the deduped sets relation
    # (one row per (h, member source)) instead of a second distinct
    # shuffle over the raw exploded pairs
    tot = (
        sets.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(storageLevel=CKPT_LEVEL)  # |sources| rows, 2 legs
    )
    ta = tot.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))
    return (
        sh.join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "embedding_set_diversity",
    oracle="""
    WITH nrm AS (
      SELECT label, vec_id, embedding,
             SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv
      FROM embeddings
    ),
    comp AS (
      SELECT label,
             CAST(GENERATE_SUBSCRIPTS(embedding, 1) AS INTEGER) AS dim,
             CAST(CAST(UNNEST(embedding) AS DOUBLE) / nv
                  AS DECIMAL(27,12)) AS ud
      FROM nrm WHERE nv > 0
    ),
    pd AS (
      SELECT label, dim, SUM(ud) AS s,
             SUM(CAST(CAST(ud AS DOUBLE) * CAST(ud AS DOUBLE)
                 AS DECIMAL(27,12))) AS q
      FROM comp GROUP BY 1, 2
    ),
    pl AS (
      SELECT label,
             SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 AS DECIMAL(38,12))) AS sumsq,
             CAST(SUM(q) AS DECIMAL(38,12)) AS sumq
      FROM pd GROUP BY 1
    ),
    nn AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      FROM nrm WHERE nv > 0 GROUP BY 1
    )
    SELECT nn.label, nn.n,
           ROUND((CAST(sumsq AS DOUBLE) - CAST(sumq AS DOUBLE))
                 / (nn.n * (nn.n - 1)), 6) AS mean_pairwise_cosine
    FROM pl JOIN nn USING (label)
    WHERE nn.n >= 2
    """,
    doc="Embedding-set diversity per label: the MEAN PAIRWISE COSINE "
    "of every vector pair — the duplication/mode-collapse signal a "
    "curation loop watches (≈1 means the set is near-copies; low means "
    "diverse) — WITHOUT forming a single pair. The sum-vector identity "
    "Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u‖² turns the O(n²·d) pair sum into "
    "one O(n·d) aggregation: per-(label, dim) exact-decimal component "
    "sums, then per-label fold of the squared sums. Determinism: "
    "normalization is an in-order IEEE array fold (identical tree both "
    "engines), normalized components pin to decimal(27,12) before any "
    "cross-row addition, squares re-pin — every float step is either "
    "order-free exact decimal or a scalar expression. Two bounded "
    "aggregations (|labels|·|dims|, then |labels|); zero-norm vectors "
    "are excluded on both engines (no direction, no cosine).",
)
def embedding_set_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda v: v.cast("double"))
    nv = F.sqrt(F.aggregate(xd, F.lit(0.0), lambda a, v: a + v * v))
    rows = emb.select("label", xd.alias("x"), nv.alias("nv")).where(
        F.col("nv") > 0
    )
    comp = rows.select(
        "label", F.posexplode("x").alias("dim", "xv"), "nv"
    ).select(
        "label",
        "dim",
        (F.col("xv") / F.col("nv")).cast("decimal(27,12)").alias("ud"),
    )
    pd_ = comp.groupBy("label", "dim").agg(
        F.sum("ud").alias("s"),
        F.sum(
            (F.col("ud").cast("double") * F.col("ud").cast("double")).cast(
                "decimal(27,12)"
            )
        ).alias("q"),
    )
    pl = pd_.groupBy("label").agg(
        F.sum(
            (F.col("s").cast("double") * F.col("s").cast("double")).cast(
                "decimal(38,12)"
            )
        ).alias("sumsq"),
        F.sum("q").cast("decimal(38,12)").alias("sumq"),
    )
    nn = rows.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        pl.join(F.broadcast(nn), "label")
        .where(F.col("n") >= 2)
        .select(
            "label",
            "n",
            F.round(
                (F.col("sumsq").cast("double") - F.col("sumq").cast("double"))
                / (F.col("n") * (F.col("n") - 1)),
                6,
            ).alias("mean_pairwise_cosine"),
        )
    )


_MODULARITY_FINAL = """
    , mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0)
    , deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
              FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
              GROUP BY 1)
    , comm AS (SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                      CAST(SUM(dg) AS BIGINT) AS d_sum
               FROM {prev} l JOIN deg ON deg.n = l.node GROUP BY 1)
    , ein AS (SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_in
              FROM e0 JOIN {prev} la ON la.node = e0.a
                      JOIN {prev} lb ON lb.node = e0.b
              WHERE la.label = lb.label GROUP BY 1)
    SELECT comm.label, n_nodes,
           CAST(COALESCE(e_in, 0) AS BIGINT) AS e_in, d_sum,
           ROUND(CAST(COALESCE(e_in, 0) AS DOUBLE) / m
                 - (CAST(d_sum AS DOUBLE) / (2.0 * m))
                   * (CAST(d_sum AS DOUBLE) / (2.0 * m)), 6) + 0.0 AS term
    FROM comm LEFT JOIN ein USING (label) CROSS JOIN mm
"""


_MODULARITY_GRAPH = """eraw AS (
      SELECT DISTINCT o_custkey AS a, 1000000000000 + l_suppkey AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    e0 AS (
      SELECT a, b FROM eraw
      WHERE ('0x' || SUBSTR(MD5('mod:' || a || ':' || b), 1, 15))::BIGINT
            % 8 = 0
    )"""


@register(
    "graph_modularity_lpa",
    oracle=_lpa_oracle(
        iters=3, final=_MODULARITY_FINAL, graph_cte=_MODULARITY_GRAPH
    ),
    doc="Community-quality scoring for the graph family: Newman "
    "modularity terms of the 3-round synchronous-LPA partition over "
    "the 1/8-md5-sampled customer↔supplier trade graph (the bipartite "
    "graph PageRank ranks; the dense co-supply graph LPA uses "
    "collapses to ONE community — modularity needs the sparse one to "
    "say anything). The oracle extends graph_label_propagation's "
    "unrolled-rounds SQL via the shared generator, so round semantics "
    "can never drift. Per community c: n_nodes, internal edge count "
    "e_c, degree mass d_c, and the modularity term e_c/m − (d_c/2m)² "
    "— their sum is Newman's Q, the number that says whether the "
    "detected communities beat a random graph with the same degrees "
    "(Newman 2006). Everything before the one 6-dp term is exact "
    "integer arithmetic: m, degrees, e_c, d_c come from three "
    "node-keyed joins/aggregates over the edge relation; the edge "
    "count rides as a broadcast scalar. Communities with no internal "
    "edges keep a row (left join, e_in = 0) — their negative term is "
    "part of Q. Edge sampling is the deterministic md5 1/8 filter "
    "(oracle-mirrored) — a densification guard like LPA's part "
    "sampling, applied to edges because modularity is computed ON the "
    "sampled graph as the registered semantics (no estimator to "
    "preserve, unlike DOULION's 1/p³).",
)
def graph_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.graph import label_propagation

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    eraw = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("a"),
        # 10^12 supplier offset: collision-proof while o_custkey < 10^12,
        # i.e. sf < ~6.7e6 (o_custkey = sf * 1.5e5 * 4 in TPC-H numbering);
        # 100 TB ~ sf 1e5 keeps 4 orders of magnitude of headroom. A 1e9
        # offset collided with o_custkey from sf ~6700.
        (F.lit(1000000000000) + F.col("l_suppkey")).alias("b"),
    ).distinct()
    keep_edge = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("mod:"),
                        F.col("a").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 8
        == 0
    )
    e0 = eraw.where(keep_edge).localCheckpoint(storageLevel=CKPT_LEVEL)
    labels = label_propagation(e0, src="a", dst="b", iters=3)
    mm = e0.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    deg = (
        e0.select(F.col("a").alias("n"))
        .unionAll(e0.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
    )
    comm = (
        labels.join(deg, labels["node"] == deg["n"])
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("dg").cast("bigint").alias("d_sum"),
        )
    )
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("_la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("_lb"))
    ein = (
        e0.join(la, "a")
        .join(lb, "b")
        .where(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
    )
    half = F.col("d_sum").cast("double") / (F.lit(2.0) * F.col("m"))
    return (
        comm.join(ein, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "label",
            "n_nodes",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("bigint").alias("e_in"),
            "d_sum",
            # + 0.0 canonicalizes IEEE -0.0 (ROUND of a tiny negative
            # term yields -0.0 in one engine, 0.0 in the other)
            (
                F.round(
                    F.coalesce(F.col("e_in"), F.lit(0)).cast("double")
                    / F.col("m")
                    - half * half,
                    6,
                )
                + F.lit(0.0)
            ).alias("term"),
        )
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH ex AS (
      SELECT label, vec_id % 2 AS half,
             CAST(GENERATE_SUBSCRIPTS(embedding, 1) AS INTEGER) AS dim,
             CAST(UNNEST(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    m AS (
      SELECT label, half, dim,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mu,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ex GROUP BY 1, 2, 3
    ),
    d AS (
      SELECT a.label, a.dim, a.mu - b.mu AS diff, a.n AS n0, b.n AS n1
      FROM m a JOIN m b
        ON a.label = b.label AND a.dim = b.dim
       AND a.half = 0 AND b.half = 1
    )
    SELECT label, MIN(n0) AS n0, MIN(n1) AS n1,
           ROUND(SQRT(CAST(SUM(CAST(diff * diff AS DECIMAL(27,12)))
                           AS DOUBLE)), 6) AS centroid_l2_shift
    FROM d GROUP BY label
    """,
    doc="Embedding centroid drift per label between two corpus halves "
    "(vec_id parity models batch-A vs batch-B snapshots): the L2 "
    "distance between per-half centroids — the distribution-shift "
    "monitor an embedding pipeline alarms on before retraining an "
    "index or a probe (complements events_psi_drift, which watches "
    "scalar histograms; this watches the vector mean). Scale shape: "
    "one posexplode scan into a (label, half, dim) decimal-exact "
    "moment aggregate — key space 2·|labels|·|dims|, data-independent "
    "— then a half-vs-half equi-join and one |labels|-key fold; the "
    "corpus is touched ONCE. Determinism: per-dim sums pin to "
    "decimal(38,12) before crossing rows, the mean is one double "
    "division, squared diffs re-pin to decimal(27,12) so the per-label "
    "sum is order-free, SQRT is correctly rounded in both engines.",
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drift_readout(drift_moments(table(spark, sf_dir, "embeddings")))


def drift_moments(emb: DataFrame) -> DataFrame:
    """Per-(label, half, dim) centroid moments ``mu`` and ``n``: an
    exact decimal coordinate sum over a row count, so the aggregation
    merges across micro-batches: Structured Streaming can maintain it
    as an update-mode aggregate and feed the same readout."""
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "dim", "x"
        ),
    )
    return ex.groupBy("label", "half", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def drift_readout(m: DataFrame) -> DataFrame:
    """Per-label drift rows over the ``drift_moments`` table, batch or
    streamed: half-vs-half inner join,
    then the decimal-pinned sum of squared mean differences."""
    a = m.where(F.col("half") == 0).select(
        "label", "dim", F.col("mu").alias("mu0"), F.col("n").alias("n0")
    )
    b = m.where(F.col("half") == 1).select(
        "label", "dim", F.col("mu").alias("mu1"), F.col("n").alias("n1")
    )
    diff = F.col("mu0") - F.col("mu1")
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.min("n0").alias("n0"),
            F.min("n1").alias("n1"),
            F.round(
                F.sqrt(
                    F.sum((diff * diff).cast("decimal(27,12)")).cast("double")
                ),
                6,
            ).alias("centroid_l2_shift"),
        )
    )
