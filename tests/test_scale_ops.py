"""Scale-operator tests: salted aggregation/join equivalence, bucketed
zero-shuffle joins, idempotent streaming sink."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators.skew import (
    salted_aggregate,
    salted_broadcast_replicate_join,
)
from tfl_realtime_lakehouse_spark.plans import stg_arrivals
from tfl_realtime_lakehouse_spark.sources.bucketing import bucketed_join, write_bucketed
from tfl_realtime_lakehouse_spark.sources.tables import read_table, write_bronze
from tfl_realtime_lakehouse_spark.streaming import read_bronze_stream
from tfl_realtime_lakehouse_spark.streaming.sink import (
    run_silver_stream,
    silver_partition_overwrite_writer,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key carrying 90% of rows
    return spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, "HOT").otherwise(F.concat(F.lit("k"), F.col("id") % 7)).alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
        F.col("id"),
    )


def test_salted_aggregate_equals_plain(spark, skewed):
    plain = {
        (r.k): (r.n, r.s, r.mn, r.mx)
        for r in skewed.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.k): (r.n, r.s, r.mn, r.mx)
        for r in salted_aggregate(
            skewed,
            keys=["k"],
            aggs={
                "n": ("count", "v"),
                "s": ("sum", "v"),
                "mn": ("min", "v"),
                "mx": ("max", "v"),
            },
            salt=8,
            dist_cols=["id"],
        ).collect()
    }
    assert salted == plain


def test_salted_aggregate_rejects_non_algebraic(spark, skewed):
    with pytest.raises(ValueError):
        salted_aggregate(skewed, ["k"], {"a": ("avg", "v")})


def test_salted_join_equals_plain(spark, skewed):
    dim = spark.createDataFrame(
        [("HOT", "hot-dim")] + [(f"k{i}", f"dim{i}") for i in range(7)],
        "k string, label string",
    )
    plain = skewed.join(dim, "k").groupBy("k", "label").count()
    salted = salted_broadcast_replicate_join(skewed, dim, "k", salt=8, dist_cols=["id"]).groupBy(
        "k", "label"
    ).count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_bucketed_join_has_no_shuffle(spark, sf_smoke):
    orders = read_table(spark, sf_smoke, "orders")
    lineitem = read_table(spark, sf_smoke, "lineitem")
    write_bucketed(orders, "bucketed.orders_b", ["o_orderkey"], 8, ["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "bucketed.lineitem_b",
        ["o_orderkey"],
        8,
        ["o_orderkey"],
    )
    joined = bucketed_join(spark, "bucketed.orders_b", "bucketed.lineitem_b", ["o_orderkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
    assert joined.count() == lineitem.count()


def test_streaming_sink_idempotent_under_replay(spark, tmp_path):
    raw_dir, out_dir = str(tmp_path / "raw"), str(tmp_path / "silver")
    rows = [
        ("S1", "central", "P", "D", 10, "2025-01-01T10:00:00Z"),
        ("S1", "central", "P", "D", 10, "2025-01-02T10:00:00Z"),
    ]
    df = spark.createDataFrame(
        rows,
        "stopId string, lineId string, platformName string, destinationName string, "
        "timeToStation long, timestamp string",
    ).withColumn("date", F.lit("2025-01-01").cast("date"))
    write_bronze(df, raw_dir)

    def run(ckpt):
        q = run_silver_stream(
            stg_arrivals(read_bronze_stream(spark, raw_dir)), out_dir, str(tmp_path / ckpt)
        )
        q.awaitTermination(120)

    run("ckpt1")
    first = spark.read.parquet(out_dir).count()
    # replay from scratch (fresh checkpoint) — dynamic partition
    # overwrite rewrites the same date partitions: no duplicates
    run("ckpt2")
    assert spark.read.parquet(out_dir).count() == first == 2


def test_streaming_sink_keeps_every_batch_of_a_date(spark, tmp_path):
    """Two micro-batches on the same date both survive (each owns its
    batch_id partition), a replayed batch id rewrites its own rows
    instead of duplicating them, and the session's overwrite mode is
    left as it was."""
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_key)
    out_dir = str(tmp_path / "silver")
    write = silver_partition_overwrite_writer(out_dir)

    def batch(tag):
        return spark.createDataFrame(
            [(tag, "2025-01-01 10:00:00")], "tag string, ts string"
        ).withColumn("event_ts", F.to_timestamp("ts"))

    write(batch("batch0"), 0)
    write(batch("batch1"), 1)
    write(batch("batch1"), 1)  # replay
    assert sorted(r.tag for r in spark.read.parquet(out_dir).collect()) == [
        "batch0",
        "batch1",
    ]
    assert spark.conf.get(mode_key) == mode_before


def test_stop_shingle_filter_bounds_hot_candidates(spark):
    """Zipf-head stress: when every document shares boilerplate shingles
    (df = n_docs), the naive posting self-join goes quadratic — all
    n·(n-1)/2 pairs become candidates. The stop-shingle filter
    (max_doc_freq) must collapse that to the documented bound while
    keeping genuinely-similar pairs findable."""
    import random

    from tfl_realtime_lakehouse_spark.operators.dedup import (
        _shingle_postings,
        ngram_jaccard_pairs,
    )

    rnd = random.Random(7)
    n_docs = 200
    boiler = "terms of service boilerplate header common to all documents here"
    rows = [
        (i, boiler + " " + " ".join(f"tok{rnd.randrange(10**9)}" for _ in range(10)))
        for i in range(n_docs)
    ]
    # two planted near-dups sharing a distinctive body besides the boilerplate
    body = " ".join(f"signal{j}" for j in range(30))
    rows += [(1000, boiler + " " + body), (1001, boiler + " " + body + " extra")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def n_candidates(max_doc_freq):
        posts = _shingle_postings(docs, "text", "doc_id", 3, max_doc_freq=max_doc_freq)
        a, b = posts.alias("a"), posts.alias("b")
        return (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )

    naive = n_candidates(None)
    capped = n_candidates(20)
    n_total = n_docs + 2
    assert naive >= n_total * (n_total - 1) // 2  # quadratic blowup is real
    # documented bound: per-shingle posting lists are ≤ max_doc_freq, so
    # candidates ≤ n_shingles·max_doc_freq²; on this corpus only the
    # planted pair (and hash-collision noise) survives
    assert capped <= n_total
    # and the filter keeps recall on the planted high-similarity pair
    # (jaccard is a lower bound under the cap: precision preserved)
    found = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.2, max_doc_freq=20).collect()
    }
    assert (1000, 1001) in found
    assert all(a == 1000 and b == 1001 for a, b in found)


def test_clustered_write_tightens_rowgroup_stats(spark, tmp_path):
    """The point of write_clustered: after range-clustering on a key,
    each file's parquet min/max stats span a narrow slice of the key
    domain, so predicate scans can skip most files. Verified directly
    from the parquet footers via pyarrow."""
    import glob as _glob

    import pyarrow.parquet as pq

    from tfl_realtime_lakehouse_spark.sources.bucketing import write_clustered

    df = spark.range(100_000).selectExpr(
        "cast(id * 2654435761 % 100000 as long) as k",  # scrambled key
        "id as payload",
    )
    plain_dir = str(tmp_path / "plain")
    clustered_dir = str(tmp_path / "clustered")
    df.repartition(8).write.parquet(plain_dir)
    write_clustered(df, clustered_dir, ["k"], num_files=8)

    def avg_span(path):
        spans = []
        for f in _glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = min(
                md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)
            )
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    # plain files each span ~the whole key domain; clustered files span
    # ~domain/num_files. Require at least a 4x tightening.
    assert avg_span(clustered_dir) < avg_span(plain_dir) / 4


def test_zorder_write_tightens_stats_on_both_columns(spark, tmp_path):
    """Z-ordering must tighten file-level min/max spans on BOTH
    interleaved columns, where lexicographic clustering only localizes
    its first key. Verified from parquet footers: x-span tightens under
    both layouts, y-span tightens only under Z-order."""
    import glob as _glob

    import pyarrow.parquet as pq

    from tfl_realtime_lakehouse_spark.sources.bucketing import (
        write_clustered,
        zorder_write,
    )

    # two independent uniform dimensions
    df = spark.range(100_000).selectExpr(
        "cast(id * 2654435761 % 100000 as long) as x",
        "cast(id * 1103515245 % 100000 as long) as y",
    )
    lex_dir = str(tmp_path / "lex")
    z_dir = str(tmp_path / "zord")
    write_clustered(df, lex_dir, ["x", "y"], num_files=16)
    zorder_write(df, z_dir, ["x", "y"], bits=10, num_files=16)

    def avg_span(path, col_idx):
        spans = []
        for f in _glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = min(
                md.row_group(i).column(col_idx).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(col_idx).statistics.max
                for i in range(md.num_row_groups)
            )
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    full = 100_000
    # lexicographic: x localizes, y stays ~full-domain per file
    assert avg_span(lex_dir, 0) < full / 4
    assert avg_span(lex_dir, 1) > full * 0.8
    # z-order: BOTH columns localize (16 files ≈ 4x4 grid → ~1/4 span
    # per dimension; allow slack for curve boundary files)
    assert avg_span(z_dir, 0) < full / 2
    assert avg_span(z_dir, 1) < full / 2


def test_bloom_prune_plan_is_shuffle_free(spark):
    """The entire bloom probe chain must stay map-side: the fact side's
    physical plan may contain BroadcastHashJoins only — no
    SortMergeJoin, no ShuffledHashJoin, no Exchange on the fact lineage
    (the bitmap side's tiny aggregation exchange is allowed)."""
    from tfl_realtime_lakehouse_spark.operators.bloom import bloom_bitmap, bloom_prune

    fact = spark.range(0, 50_000).select(F.col("id").alias("k"))
    dim = spark.range(0, 50_000, 500).select(F.col("id").alias("k"))
    pruned = bloom_prune(fact, bloom_bitmap(dim, "k"), "k")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
