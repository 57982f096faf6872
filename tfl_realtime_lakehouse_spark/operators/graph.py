"""Link analysis over edge relations: fixed-iteration PageRank.

Complements the dedup family's connected components (dedup.py — which
resolves SIMILARITY graphs into clusters) with the other classic
massive-graph primitive: importance scoring by power iteration.

Scale shape: each iteration is one NODE-sized equi-join (rank ⋈
outdeg → per-src ratio) feeding one edge equi-join plus one
map-side-combined groupBy on dst — shuffles keyed by node id, no
driver state beyond the node count. The edge relation is materialized
exactly once (the round-7 probe showed a second edge-wide
e ⋈ outdeg checkpoint bought nothing: the per-round cost is the edge
shuffle itself, so the narrow e0 + node-sized outdeg join is strictly
less bytes). Lineage is cut per iteration with localCheckpoint so the
plan stays O(1) deep in the iteration count (same discipline as
kmeans_train / connected_components).

Determinism: float addition is order-dependent, and a parallel SUM of
double contributions would make ranks nondeterministic across runs and
engines. Contributions are therefore cast to DECIMAL(27,12) before the
sum — exact, order-independent, and bit-reproducible in DuckDB (the
engine's proven decimal-exact-sum idiom from counter rates) — then one
IEEE multiply/add per node back in double. With a FIXED iteration
count the whole recurrence is closed-form deterministic, which is what
makes a cross-engine oracle possible at all (the oracle unrolls the
same iterations in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank after ``iters`` power iterations on the distinct edge
    set: pr(v) ← (1−d)/N + d·Σ_{u→v} pr(u)/outdeg(u). Simple variant
    (dangling mass leaks rather than redistributes — documented, and
    identical in the oracle). Returns (node, pagerank) for every node
    appearing as src or dst, pagerank rounded to 6 dp."""
    # materialize the distinct edge set once: nodes, outdeg and the
    # per-iteration joins all hang off it
    e0 = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    nodes = (
        e0.select(F.col("src").alias("node"))
        .union(e0.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    n = nodes.count()  # one scalar of driver state — the model, not the data
    # outdeg stays NODE-sized and joins into the rank side each round;
    # the former e = e0 ⋈ outdeg edge-relation materialization was a
    # second full O(|E|) checkpoint plus an outdeg column riding every
    # per-round edge shuffle — eliminated round 7 (bit-identical: the
    # pr/outdeg division sees the same two doubles whether it runs per
    # src or per edge; probe tools/profile_graph_variants2_r7.py,
    # result hashes equal, ~20% faster warm at sf5).
    outdeg = e0.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint(storageLevel=CKPT_LEVEL)

    pr = nodes.select("node", F.lit(1.0 / n).alias("pr")).localCheckpoint(storageLevel=CKPT_LEVEL)
    base = (1 - damping) / n  # IEEE-evaluated once; oracle mirrors the op tree
    for _ in range(iters):
        ratio = pr.join(outdeg, pr["node"] == outdeg["src"]).select(
            outdeg["src"].alias("rsrc"),
            (F.col("pr") / F.col("outdeg")).alias("r"),
        )
        sums = (
            e0.join(ratio, e0["src"] == ratio["rsrc"])
            .select(
                F.col("dst").alias("node"),
                # decimal-exact contribution: order-independent sum
                F.col("r").cast("decimal(27,12)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(storageLevel=CKPT_LEVEL)
        )
    return pr.select("node", F.round("pr", 6).alias("pagerank"))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts by degree-ordered edge orientation
    (the MapReduce triangle algorithm of Suri & Vassilvitskii 2011).

    Scale shape: every edge is oriented from its lower-(degree, id)
    endpoint to its higher one, which caps any node's oriented
    out-degree at O(sqrt(m)) — so the wedge self-join that dominates
    the cost is bounded even on power-law graphs where a raw
    neighbor-list join on a celebrity node would explode. Three
    shuffles total (degree agg, wedge self-join, closing-edge semi
    join), all keyed by node id; no driver state.

    Each triangle is discovered exactly once (as the wedge at its
    lowest-ordered vertex), then credited to all three corners.
    Returns (node, triangles) for nodes in at least one triangle —
    exact counts, so a plain id-ordered SQL enumeration oracles it.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient lo -> hi by the total order (deg, id); ordkey rides along
    # so the wedge stage never re-joins degrees
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("degb"))
    ed = e.join(da, "a").join(db, "b")
    lo_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lo_first, F.struct("degb", "b"))
        .otherwise(F.struct(F.col("dega").alias("degb"), F.col("a").alias("b")))
        .alias("vkey"),
    ).localCheckpoint(storageLevel=CKPT_LEVEL)
    # wedges at u: u->v, u->w with vkey(v) < vkey(w); the closing edge
    # (v, w) is oriented v->w under the same total order
    o1 = oriented.select(F.col("u"), F.col("v").alias("x"), F.col("vkey").alias("xkey"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"), F.col("vkey").alias("ykey"))
    wedges = o1.join(o2, "u").where(
        (F.col("xkey")["degb"] < F.col("ykey")["degb"])
        | (
            (F.col("xkey")["degb"] == F.col("ykey")["degb"])
            & (F.col("xkey")["b"] < F.col("ykey")["b"])
        )
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation (community detection) after a
    FIXED number of rounds — the density-communities member of the
    graph family (connected components = pure connectivity, PageRank =
    importance, triangles = local clustering).

    Each round every node adopts the most frequent label among its
    neighbours, ties broken by the SMALLEST label, computed from the
    PREVIOUS round's labels (synchronous/Jacobi update) — which makes
    the whole recurrence a pure function of the edge set, so a SQL
    oracle can unroll the same rounds and hash-match the result
    (asynchronous LPA is order-dependent and unverifiable). Labels
    start as the node id.

    Scale shape per round: one equi-join (neighbour label lookup) +
    one (node, label) count + one per-node argmax window — all keyed
    by node id, lineage cut per round with localCheckpoint (same
    O(1)-plan-depth discipline as pagerank/connected components).
    Isolated nodes (no edges) keep their own id as label.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # undirected adjacency: both directions
    adj = (
        e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    nodes = adj.select(F.col("a").alias("node")).distinct().localCheckpoint(storageLevel=CKPT_LEVEL)
    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint(storageLevel=CKPT_LEVEL)
    for _ in range(iters):
        neigh = adj.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        counts = neigh.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("n")
        )
        # argmax by (count desc, label asc) as a HASH aggregate:
        # max(struct(n, -label)) picks the highest count, then the
        # smallest label — same total order a row_number window would
        # use, without the per-round sort (measured 2× cheaper; the
        # struct max merges map-side like any algebraic aggregate)
        winners = (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("n"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
        )
        labels = (
            nodes.join(winners, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("label"), F.col("node")).alias("label"),
            )
            .localCheckpoint(storageLevel=CKPT_LEVEL)
        )
    return labels


def bfs_khop(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """K-hop BFS distances from a seed set over an undirected graph —
    the reachability member of the graph family (PageRank = importance,
    LPA = communities, triangles = local structure, CC = components).

    Per hop: one equi-join (frontier → neighbours) + one min-distance
    aggregate, shuffles keyed by node id, lineage cut per hop — the
    textbook distributed BFS where each round's frontier is a
    DataFrame, not driver state. With a FIXED hop count the result is
    a pure function of (edges, seeds), so an unrolled SQL oracle
    hash-matches it. Returns (node, dist) for every node within
    ``hops`` of a seed (seeds at dist 0).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = (
        e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    dist = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("dist"))
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    for _ in range(hops):
        reached = adj.join(
            dist.select(F.col("node").alias("a"), "dist"), "a"
        ).select(F.col("b").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionAll(reached)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(storageLevel=CKPT_LEVEL)
        )
    return dist


def hits_scores(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed bipartite
    edge set, with the normalization DEFERRED to the end — the trick
    that keeps every iteration in exact integer arithmetic.

    Classic HITS renormalizes each round, which would put a
    cross-engine-fragile float division inside the recurrence. Scores
    scale out of the mutual recursion though: after k un-normalized
    rounds every value is an exact BIGINT path count (h₀ = 1;
    aᵢ = Σ h over in-edges; hᵢ = Σ a over out-edges — bounded by
    deg^(2k)·n, far inside bigint for capped degrees), bit-equal in any
    engine and any partition order, and one final double division by
    the side's total yields the same ranking the normalized iteration
    produces. Per round: two equi-joins + two hash aggregates keyed by
    node — O(|E|) shuffle, no wedges, lineage cut per round.

    Returns (kind 'hub'|'authority', id, score bigint, share double).
    """
    if rounds < 1:
        raise ValueError(
            f"hits_scores requires rounds >= 1 (got {rounds}): the authority "
            "relation only exists after the first half-iteration"
        )
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct().localCheckpoint(storageLevel=CKPT_LEVEL)
    h = e.select("s").distinct().select("s", F.lit(1).cast("bigint").alias("h"))
    a = None
    for _ in range(rounds):
        a = (
            e.join(h, "s")
            .groupBy("d")
            .agg(F.sum("h").alias("a"))
            .localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
        )
        h = (
            e.join(a, "d")
            .groupBy("s")
            .agg(F.sum("a").alias("h"))
            .localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
        )
    tot_a = a.agg(F.sum("a").alias("ta"))
    tot_h = h.agg(F.sum("h").alias("th"))
    auth = a.crossJoin(F.broadcast(tot_a)).select(
        F.lit("authority").alias("kind"),
        F.col("d").alias("id"),
        F.col("a").cast("bigint").alias("score"),
        F.round(F.col("a").cast("double") / F.col("ta").cast("double"), 6).alias(
            "share"
        ),
    )
    hub = h.crossJoin(F.broadcast(tot_h)).select(
        F.lit("hub").alias("kind"),
        F.col("s").alias("id"),
        F.col("h").cast("bigint").alias("score"),
        F.round(F.col("h").cast("double") / F.col("th").cast("double"), 6).alias(
            "share"
        ),
    )
    return auth.unionAll(hub)


def kcore_peel(
    edges: DataFrame,
    k: int = 8,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of
    "drop nodes with degree < k (and their edges)".

    Full k-core decomposition iterates to a fixed point (data-dependent
    round count); the bounded version runs a FIXED number of rounds, so
    the recurrence unrolls into a SQL oracle like BFS/LPA/HITS — the
    verifiable tier. Semantics: the survivor set after r rounds is a
    monotone SUPERSET of the true k-core, exact once a round removes
    nothing (typical small r on real graphs: most non-core nodes fall
    in the first peel). Each round is one degree aggregate + one
    semi-join per endpoint — O(|E|) shuffles keyed by node, lineage cut
    per round, no driver state.

    Returns (node, deg) for survivors with their degree in the final
    peeled graph.
    """
    e = (
        edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                     F.greatest(F.col(src), F.col(dst)).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "a"), "a")
            .join(keep.withColumnRenamed("n", "b"), "b")
            .select("a", "b")
            .localCheckpoint(storageLevel=CKPT_LEVEL)
        )
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
