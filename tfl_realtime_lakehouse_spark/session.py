"""SparkSession factory with scale-aware defaults.

The reference pipeline runs UTC end-to-end (ingest stamps ``datetime.now
(timezone.utc)``; see reference ``airflow/dags/tfl_ingest_dag.py:46`` and
``scripts/tfl_align.py:121``), so the session pins
``spark.sql.session.timeZone=UTC`` — timestamp semantics must not depend
on the host timezone.

Scale posture: AQE on (runtime coalescing + skew-join splitting),
broadcast threshold left at default so small dims broadcast, shuffle
partitions sized by env for local testing but meant to be overridden to
~2-3x core count on a real cluster.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_BYTE_SIZE_RE = re.compile(r"^\d+[kmgt]?b?$", re.IGNORECASE)


def _validated_byte_size(value: str, env_name: str) -> str:
    """Fail fast with a clear message on a malformed Spark byte-size
    string (e.g. "16kb", "1m", "65536") instead of erroring deep inside
    Spark's conf parsing at session build (ADVICE r11)."""
    if not _BYTE_SIZE_RE.match(value.strip()):
        raise ValueError(
            f"{env_name}={value!r} is not a Spark byte-size string "
            "(expected digits with an optional k/m/g/t[b] suffix, e.g. '16k')"
        )
    return value.strip()


def get_spark(
    app_name: str = "tfl-realtime-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local-mode defaults come from ``SPARK_GRAFT_CPUS`` (driver contract);
    on a real cluster, pass ``master=None`` with external conf and these
    settings still apply per-session.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 4)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Timestamp fidelity: UTC everywhere (reference parity).
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime shuffle coalescing + skew-join split.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets max(bytes/defaultParallelism,
        # minPartitionSize). Round 11 dropped the floor to 16 KB so
        # byte-light compute-dense shuffles kept cluster parallelism;
        # round 12 measured that GLOBAL floor's cost in a quiet window
        # (tools/cpu_tax_probe.py, bench_sf01_r12before.json): suite
        # JVM CPU 1532 -> 2564 s, and e.g. graph_label_propagation GC
        # 0.2 -> 7.0 s / task time 25 -> 224 s for NO wall win — tiny
        # compute-LIGHT shuffles (graph iteration state, trainer
        # rounds, the scalar tier) were each spread over 32 tasks. The
        # floor is back at Spark's 1 MB default; the few genuinely
        # compute-dense byte-light stages (winnowing window, simhash
        # chunk join, crossdoc gram join — warm A/B wall deltas
        # +2.8/+1.1/+0.9 s at 1m) are spread EXPLICITLY at their code
        # sites via sources.tables.keyed_spread (REPARTITION_BY_NUM is
        # AQE-exempt; its count grows with Catalyst's size estimate of
        # the relation it spreads, so it still scales). Env
        # knob retained for cluster retuning. NOTE: getOrCreate reuses
        # any live session in the process, so the env override (like
        # every conf here) only applies to the FIRST session built
        # (ADVICE r11).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            _validated_byte_size(
                os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "1m"),
                "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE",
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas interchange (vectorized UDF path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI off: cast-on-failure yields NULL, matching the reference's
        # DuckDB try_cast contract (stg_arrivals.sql:24). Explicit
        # try_cast is still used where intent matters.
        .config("spark.sql.ansi.enabled", "false")
        # Don't let tiny local files create thousands of tasks; on a
        # cluster this is retuned to executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Codegen class cache, keyed by generated source text, so
        # a hit returns the same class and results cannot change. At
        # Spark's default of 100 entries every warm pass recompiled
        # (Janino, then C1/C2 JIT) nearly all it had already compiled:
        # the perfbench query_mix pass generates 187 classes, and one
        # pass of the whole registry at sf0.001 4,273 distinct ones.
        # 8192 holds about twice that working set; the cost is JVM
        # Metaspace for the retained classes (after two registry passes
        # at sf0.001: 199 -> 224 MB). Static conf: it sizes a JVM-wide
        # cache built on first codegen, so only the first session in
        # the JVM sets it and spark.conf.set cannot change it.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # Python workers keep their zip import index across tasks
        # (pyworker.py). On CPython < 3.13 the importlib.invalidate_caches()
        # that opens every Python task rereads pyspark.zip's central
        # directory once per zipimporter, 131.5 ms of CPU per task. With
        # the daemon below, the Python workers of one 4 s stream_headways
        # run on 4 cores burn 5.8 s of CPU instead of 10.0 s. Workers must
        # import this module wherever they already import the package's
        # stateful functions: perfbench sets PYTHONPATH, and the test
        # suite runs from the repo root. The worker module stays
        # pyspark.worker, because pyspark's daemon only honours worker
        # modules named pyspark.*.
        .config("spark.python.daemon.module", "tfl_realtime_lakehouse_spark.pyworker")
    )
    if master.startswith("local"):
        # Streaming checkpoints commit by rename(2). Without libhadoop,
        # the default FileContext manager runs each rename through
        # getFileLinkStatus, which forks `readlink`: about 1,050 forks
        # in one stream_headways run, one per offsets, commits,
        # state-delta and sink-metadata file. Spark's own FileSystem
        # fallback renames the file and its .crc with rename(2) on a
        # local disk; JVM forks per run fall to about 490 (chmod).
        # Together the two confs cut stream_headways cpu_per_op_s by
        # 15.6 % (1.096 -> 0.925 s over 10 pairs). The conf is internal
        # to Spark; other masters keep FileContext's atomic
        # rename-with-overwrite (HDFS).
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
