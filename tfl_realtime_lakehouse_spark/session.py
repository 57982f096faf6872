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

import fcntl
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
from contextlib import contextmanager
from pathlib import Path

from pyspark import SparkContext
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


def _builder(
    app_name: str, master: str | None, shuffle_partitions: int | None
) -> tuple[SparkSession.Builder, str]:
    """The engine's session builder and its master, before caller conf."""
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
    return builder, master


def get_spark(
    app_name: str = "tfl-realtime-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local-mode defaults come from ``SPARK_GRAFT_CPUS`` (driver contract);
    on a real cluster, pass ``master=None`` with external conf and these
    settings still apply per-session. A local session whose JVM this call
    launches starts from the class-data archive (see ``_class_archive``).
    """
    builder, master = _builder(app_name, master, shuffle_partitions)
    launch = None
    if (
        master.startswith("local")
        and SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    ):
        launch = _class_archive()
    if launch is not None:
        # Spark puts the default options before spark.driver.extraJavaOptions,
        # so a caller's extraJavaOptions (perfbench sets java.io.tmpdir) keep
        # the archive, and their -Xlog options apply after these.
        builder = builder.config(
            "spark.driver.defaultJavaOptions", f"-XX:SharedArchiveFile={launch[0]} {_JVM_LOG}"
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    if launch is None:
        return builder.getOrCreate()
    with _conf_dir(launch[1]):
        return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Class-data archive
# ---------------------------------------------------------------------------
#
# A fresh driver JVM loads about 16,800 classes before its first job
# finishes, and parses and verifies each one from a jar. HotSpot's
# dynamic AppCDS (JDK 13+) dumps the classes a JVM loaded into an archive
# at exit (-XX:ArchiveClassesAtExit); a later JVM maps that archive
# (-XX:SharedArchiveFile) and takes about 11,000 of its start-up classes
# from it. On 4 cores this cut perfbench setup_s by 34-41 % and set-up
# wall about in half; cold and warm per-operation CPU stayed level.
#
# The archive holds only what get_spark plus spark.range(1).count() load.
# One dumped at the exit of a whole pipeline_refresh run (176 MB against
# 139 MB) made cpu_per_op_s 5-14 % worse until the fifth query_mix pass,
# so widen the training job only with an A/B that shows no loss there.
#
# It is built once per JDK and Spark jar set, by a child process, and
# shared by every checkout of the user: $XDG_CACHE_HOME/<name>/ (default
# ~/.cache/<name>/). Deleting that directory forces a rebuild.

_CACHE_NAME = "tfl-realtime-lakehouse-spark"
# HotSpot's unified logging writes to stdout, which the gateway JVM shares
# with this process; warnings go to stderr instead, the rest nowhere.
_JVM_LOG = "-Xlog:disable -Xlog:all=warning:stderr"
# The child runs the same set-up as a session and dumps at its JVM's exit.
_TRAINER = (
    "import sys; from tfl_realtime_lakehouse_spark import session; "
    "sys.exit(session._train(sys.argv[1]))"
)
_BUILD_TIMEOUT_S = 600


def archive_dir() -> Path:
    """The per-user cache directory that holds the class-data archives."""
    base = os.environ.get("XDG_CACHE_HOME")
    if not base or not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / _CACHE_NAME


def _archive_key(spark_home: str) -> str:
    """Digest of what the archive's classes come from: the java binary
    spark-class runs and the Spark jars. Raises OSError when one is
    missing."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    st = os.stat(java)
    jars = sorted(
        (e.name, e.stat().st_size, e.stat().st_mtime_ns)
        for e in os.scandir(os.path.join(spark_home, "jars"))
    )
    ident = repr((java, st.st_size, st.st_mtime_ns, spark_home, jars))
    return hashlib.sha256(ident.encode()).hexdigest()[:16]


def _installed(cache: Path, key: str) -> Path | None:
    """The key's archive when it is complete: its name records the size
    it was installed at. A JVM given a truncated archive dies (SIGBUS)."""
    for path in cache.glob(f"{key}-*.jsa"):
        try:
            if path.stat().st_size == int(path.stem.rsplit("-", 1)[1]):
                return path
        except (OSError, ValueError):
            pass
    return None


def _launch_conf_dir(spark_home: str, cache: Path) -> str | None:
    """The SPARK_CONF_DIR to launch with, or None when the archive cannot
    be used. Spark's launcher puts the conf dir first on the class path,
    and CDS refuses a non-empty directory there. A conf dir that is
    missing or holds only *.template files, which Spark never reads, is
    swapped for an empty one; one with any other file is kept, unarchived."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and not all(
        name.endswith(".template") and os.path.isfile(os.path.join(conf, name))
        for name in os.listdir(conf)
    ):
        return None
    empty = cache / "conf"
    empty.mkdir(exist_ok=True)
    return None if any(empty.iterdir()) else str(empty)


def _class_archive() -> tuple[Path, str] | None:
    """(archive, SPARK_CONF_DIR) for a JVM about to be launched, building
    the archive first if this JDK and jar set have none; None leaves the
    launch as it is (no usable conf dir, an unwritable cache, a build
    that failed on this key before)."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    cache = archive_dir()
    try:
        key = _archive_key(spark_home)
        cache.mkdir(parents=True, exist_ok=True)
        conf_dir = _launch_conf_dir(spark_home, cache)
        if conf_dir is None:
            return None
        archive = _installed(cache, key) or _build(cache, key, conf_dir)
    except OSError:
        return None
    return None if archive is None else (archive, conf_dir)


def _build(cache: Path, key: str, conf_dir: str) -> Path | None:
    """Dump the archive in a child process and install it by rename. A
    failed build leaves ``<key>.failed`` (the child's output), so a host
    where it fails pays for it once per key."""
    failed = cache / f"{key}.failed"
    with open(cache / f"{key}.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # a concurrent builder finishes first
        found = _installed(cache, key)
        if found is not None or failed.exists():
            return found
        tmp = cache / f"{key}.{os.getpid()}.tmp"
        log = cache / f"{key}.{os.getpid()}.log"
        package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(
            os.environ,
            SPARK_CONF_DIR=conf_dir,
            PYTHONPATH=os.pathsep.join(
                p for p in (package_root, os.environ.get("PYTHONPATH")) if p
            ),
        )
        with open(log, "wb") as out:
            child = subprocess.Popen(
                [sys.executable, "-c", _TRAINER, str(tmp)],
                stdin=subprocess.DEVNULL,
                stdout=out,
                stderr=subprocess.STDOUT,
                env=env,
                start_new_session=True,
            )
            try:
                rc = child.wait(timeout=_BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(child.pid, signal.SIGKILL)
                rc = child.wait()
        size = tmp.stat().st_size if tmp.exists() else 0
        if rc != 0 or size == 0:
            tmp.unlink(missing_ok=True)
            os.replace(log, failed)
            return None
        log.unlink()
        archive = cache / f"{key}-{size}.jsa"
        os.replace(tmp, archive)
    for path in cache.iterdir():
        if path.suffix in (".jsa", ".failed", ".lock") and not path.name.startswith(key):
            path.unlink(missing_ok=True)
    return archive


def _train(dump: str) -> int:
    """The build child: run the session set-up and first job, then stop
    the JVM and wait for it, so the archive is complete at return."""
    builder, _ = _builder("tfl-class-archive", None, None)
    spark = builder.config(
        "spark.driver.defaultJavaOptions", f"-XX:ArchiveClassesAtExit={dump} {_JVM_LOG}"
    ).getOrCreate()
    spark.range(1).count()
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    return gateway.proc.wait()


@contextmanager
def _conf_dir(path: str):
    """SPARK_CONF_DIR set to ``path`` while the JVM is launched."""
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old
