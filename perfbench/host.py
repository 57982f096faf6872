"""Session set-up, host probes and event-log totals.

Everything here observes the program from outside: the session comes
from the package's ``get_spark``, CPU from ``hoststamp``, memory from
/proc, and Spark job metrics from Spark's own event log, parsed with
``tools/profile_jobs.parse_eventlog``.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# Environment knobs that would move the session off its defaults.
_ENV_KNOBS = (
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE",
    "SPARK_GRAFT_DRIVER_MEM",
)


def prepare_env(work: Path) -> int:
    """Pin the process environment every run shares; returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    for knob in _ENV_KNOBS:
        os.environ.pop(knob, None)
    # Python workers import the package (applyInPandasWithState
    # pickles functions by module path).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    return nproc


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    """Where the session may write (inside the run's work directory),
    plus the event log for the traced run. No tuning conf is set."""
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def stop_jvm(timeout: float = 60.0) -> None:
    """End the session's JVM and the Python workers it started, and wait
    until every one has exited. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    children = [p for p in _descendants(os.getpid()) if p != proc.pid]
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in children) and time.time() < deadline:
        time.sleep(0.05)


class Cpu:
    """CPU seconds the program burns. Steal time is charged to no process.

    ``jvm()`` is the session's JVM (driver, executor task threads, GC and
    JIT) plus the Python workers it starts, exited workers included.
    ``region()`` adds this process, less the RSS sampler thread: the
    package's own driver-side work (HTTP ingest, ``createDataFrame`` from
    Python rows, the round loops of iterative queries, Arrow decode)
    runs here.
    """

    def __init__(self, spark, rss: RssSampler):
        self.spark, self.rss = spark, rss

    def jvm(self) -> float:
        from tfl_realtime_lakehouse_spark import hoststamp

        jvm = hoststamp.jvm_cpu_sec(self.spark)
        if jvm is None:
            raise RuntimeError("JVM CPU counter unavailable")
        pid = self.spark.sparkContext._gateway.proc.pid
        return jvm + sum(_tree_cpu(p) for p in _descendants(pid))

    def driver(self) -> float:
        from tfl_realtime_lakehouse_spark import hoststamp

        return hoststamp.self_cpu_sec() - self.rss.cpu_s

    @contextmanager
    def region(self, out: list[float]):
        """Append the CPU the with-block burns to ``out``. The /proc walk
        of ``jvm()`` lies outside the driver's share on both ends."""
        jvm0 = self.jvm()
        drv0 = self.driver()
        yield
        drv = self.driver() - drv0
        out.append(self.jvm() - jvm0 + drv)


def _stat(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields after the command name, or None once the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _tree_cpu(pid: int) -> float:
    """utime + stime of ``pid`` plus those of its exited, reaped children
    (cutime + cstime, which ``hoststamp`` does not read)."""
    fields = _stat(pid)
    if fields is None:  # exited since it was listed: its reaper counts it
        return 0.0
    return sum(int(v) for v in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                parent[int(entry)] = int(fields[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class RssSampler:
    """Peak summed RSS of this process and every process it started
    (the JVM and its Python workers), sampled on a thread."""

    def __init__(self, every: float = 0.25):
        self.every = every
        self.peak_kb = 0
        self.cpu_s = 0.0  # the sampler thread's own CPU, which ``Cpu`` leaves out
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_kb(me) + sum(_rss_kb(p) for p in _descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self.cpu_s = time.thread_time()
            self._stop.wait(self.every)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def run_record(spark, nproc: int, seed: int, steal0: int | None) -> dict:
    """Effective confs, host load and provenance for one run."""
    from tfl_realtime_lakehouse_spark import hoststamp

    steal1 = hoststamp.steal_jiffies()
    confs = {
        k: v
        for k, v in spark.sparkContext.getConf().getAll()
        if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory"))
    }
    return {
        "seed": seed,
        "nproc": nproc,
        "steal_delta": None if steal0 is None or steal1 is None else steal1 - steal0,
        "loadavg": [round(v, 2) for v in os.getloadavg()],
        "commit": _commit(),
        "confs": dict(sorted(confs.items())),
    }


def _commit() -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def tool(name: str):
    """Import a module from the repository's ``tools/`` directory."""
    if str(ROOT / "tools") not in sys.path:
        sys.path.insert(0, str(ROOT / "tools"))
    return importlib.import_module(name)


def event_log_path(work: Path) -> str:
    logs = [p for p in (work / "eventlog").iterdir()]
    return str(max(logs, key=lambda p: p.stat().st_mtime))


def job_table(path: str) -> list[dict]:
    """Per-job rows from ``parse_eventlog`` (description, tasks, executor
    CPU, shuffle MB), joined with the absolute job intervals and the
    stage-level GC, spill and single-task-stage wall it does not keep.

    ``parse_eventlog`` is imported, not copied, and the benchmark may not
    change ``tools/``, so the extra figures come from a second pass over
    the log through the same reader."""
    pj = tool("profile_jobs")
    jobs = {j["job"]: j for j in pj.parse_eventlog(path)}
    stage_job: dict[int, int] = {}
    extra: dict[int, dict] = {}
    for line in pj._event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and ev["Job ID"] in jobs:
            extra.setdefault(ev["Job ID"], {"gc_ms": 0.0, "spill": 0.0, "serial_ms": 0.0})
            extra[ev["Job ID"]]["t0"] = ev["Submission Time"] / 1000
            for s in ev.get("Stage Infos", []):
                stage_job[s["Stage ID"]] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in extra:
            extra[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            jid = stage_job.get(si["Stage ID"])
            if jid not in extra:
                continue
            acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
            num = lambda k: float(acc.get(k) or 0)  # noqa: E731
            e = extra[jid]
            e["gc_ms"] += num("internal.metrics.jvmGCTime")
            e["spill"] += num("internal.metrics.memoryBytesSpilled") + num(
                "internal.metrics.diskBytesSpilled"
            )
            if si.get("Number of Tasks") == 1:
                e["serial_ms"] += (si.get("Completion Time") or 0) - (
                    si.get("Submission Time") or 0
                )
    return [{**jobs[j], **extra[j]} for j in sorted(jobs) if j in extra and "t1" in extra[j]]


def spark_totals(jobs: list[dict]) -> dict[str, float]:
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j["ntasks"] for j in jobs),
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "spark.gc_s": sum(j["gc_ms"] for j in jobs) / 1000,
        "spark.shuffle_read_bytes": sum(j["sh_rd_mb"] for j in jobs) * 1e6,
        "spark.shuffle_write_bytes": sum(j["sh_wr_mb"] for j in jobs) * 1e6,
        "spark.spill_bytes": sum(j["spill"] for j in jobs),
        "spark.serial_stage_s": sum(j["serial_ms"] for j in jobs) / 1000,
    }
