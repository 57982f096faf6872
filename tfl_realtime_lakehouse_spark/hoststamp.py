"""Host-noise stamps for the measurement harnesses (r10 verdict ask #2).

Two counters turn "is this delta a regression or host noise?" from a
bespoke A/B experiment into data carried by every bench artifact:

- ``steal_jiffies()`` — the host's accumulated CPU-steal counter
  (/proc/stat, field 8 of the aggregate ``cpu`` line). A non-trivial
  per-run DELTA means the hypervisor descheduled this VM during the
  window and wall-clock numbers are inflated; r10 measured ±50 %
  same-code swings under 1.89 M accumulated steal jiffies.
- ``jvm_cpu_sec(spark)`` — utime+stime of the local-mode JVM process
  (/proc/<pid>/stat), i.e. CPU actually burned by scan/shuffle/agg/GC.
  Steal time is NOT charged to a process's utime/stime, so per-query
  CPU deltas are the noise-immune comparison metric: when steal is
  non-trivial, quote cpu_sec, not wall.
- ``jvm_child_cpu_sec(spark)`` — cutime+cstime of the same JVM: the
  CPU of the processes it forked and reaped (shell-outs), which
  ``jvm_cpu_sec`` does not include.

Two more read the JVM's own compile counters through the gateway, so a
pass that recompiles code it already compiled shows up in the numbers:

- ``codegen_compiles(spark)`` — generated classes (whole-stage and
  expression codegen) compiled by Janino so far (Spark's ``CodegenMetrics`` compilation-time histogram
  count). A codegen cache hit compiles nothing.
- ``jit_ms(spark)`` — HotSpot's accumulated C1/C2 compile time from the
  ``CompilationMXBean``. The JVM keeps this total itself; summing the
  CPU of ``C1/C2 CompilerThread`` entries under /proc/<pid>/task is not
  an option, because HotSpot's dynamic compiler threads exit and their
  CPU leaves the per-thread files with them (per-query deltas read
  negative).

One more reads the JVM's memory map:

- ``cds_archive(spark)`` — the class-data archive (``session.py``) the
  session JVM mapped at start, or None when it started without one.

The /proc reads are Linux-only (this engine's measurement boxes are
Linux); every helper degrades to None elsewhere and callers report -1.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError


def steal_jiffies() -> int | None:
    """Accumulated steal jiffies from the aggregate cpu line, or None
    when /proc/stat is unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        # cpu user nice system idle iowait irq softirq steal ...
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return None


def _proc_cpu_sec(pid: int, fields: slice = slice(11, 13)) -> float | None:
    """Sum of /proc/<pid>/stat CPU fields, counted after the command
    name: utime + stime by default, cutime + cstime with slice(13, 15)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            # comm can contain spaces/parens; split after the last ')'
            tail = f.read().rsplit(")", 1)[1].split()
        clk = os.sysconf("SC_CLK_TCK")
        return sum(int(v) for v in tail[fields]) / clk
    except (OSError, IndexError, ValueError):
        return None


def _gateway_pid(spark) -> int | None:
    """Pid of the session's JVM when this process launched it."""
    try:
        proc = getattr(spark.sparkContext._gateway, "proc", None)
    except AttributeError:  # Spark Connect sessions have no sparkContext
        return None
    return None if proc is None else proc.pid


def jvm_cpu_sec(spark) -> float | None:
    """CPU seconds consumed so far by the session's JVM (all threads —
    in local mode that is driver + every executor thread + GC). None
    when the gateway wasn't launched by this process (e.g. an attached
    external JVM) or /proc is unavailable."""
    pid = _gateway_pid(spark)
    return None if pid is None else _proc_cpu_sec(pid)


def jvm_child_cpu_sec(spark) -> float | None:
    """CPU seconds of the processes the session's JVM forked and has
    reaped (cutime + cstime): shell-outs such as Hadoop's ``chmod`` and
    ``readlink`` without libhadoop, and the Python worker daemon (with
    the workers it reaped) once it exits. ``jvm_cpu_sec`` never shows
    them. None as for ``jvm_cpu_sec``."""
    pid = _gateway_pid(spark)
    return None if pid is None else _proc_cpu_sec(pid, slice(13, 15))


def self_cpu_sec() -> float:
    """CPU seconds of the Python driver process itself (collect/Arrow
    decode overhead lives here, not in the JVM counter)."""
    t = os.times()
    return t.user + t.system


def codegen_compiles(spark) -> int | None:
    """Generated classes the session's JVM has compiled so far
    (JVM-wide, cumulative). None when the JVM is unreachable."""
    try:
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())
    except (AttributeError, Py4JError):
        return None


def jit_ms(spark) -> int | None:
    """Milliseconds HotSpot's C1/C2 compilers have spent so far, or None
    when the JVM is unreachable, runs without a JIT compiler (no bean)
    or does not support the counter (a Java-side error)."""
    try:
        mx = spark._jvm.java.lang.management.ManagementFactory
        bean = mx.getCompilationMXBean()
        return None if bean is None else int(bean.getTotalCompilationTime())
    except (AttributeError, Py4JError):
        return None


def cds_archive(spark) -> str | None:
    """Path of the class-data archive from the package's cache directory
    that the session's JVM has mapped, or None: the JVM was launched
    without one, refused the one it was given, or was not launched by
    this process."""
    from tfl_realtime_lakehouse_spark.session import archive_dir

    pid = _gateway_pid(spark)
    if pid is None:
        return None
    cache = str(archive_dir()) + os.sep
    try:
        with open(f"/proc/{pid}/maps") as f:
            for line in f:
                # address perms offset dev inode [path]
                fields = line.split(maxsplit=5)
                if len(fields) == 6:
                    path = fields[5].rstrip("\n")
                    if path.startswith(cache) and path.endswith(".jsa"):
                        return path
    except OSError:
        pass
    return None
