"""Session-level engine settings that change how every query runs."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark import hoststamp, pyworker

# More distinct projections than Spark's default codegen cache (100
# entries) holds: each one generates about 2 classes.
N_PROJECTIONS = 64
N_RERUNS = 10


def _projection(spark, i: int) -> list:
    return spark.range(4).select((F.col("id") * i + i).alias("v")).collect()


def test_warm_queries_reuse_generated_code(spark):
    """A query whose generated code is still cached compiles nothing on
    a re-run, even after more distinct queries than the default cache
    size ran in between."""
    assert hoststamp.codegen_compiles(spark) is not None
    expected = {i: _projection(spark, i) for i in range(N_PROJECTIONS)}

    before = hoststamp.codegen_compiles(spark)
    for i in range(N_RERUNS):
        assert _projection(spark, i) == expected[i]
    recompiled = hoststamp.codegen_compiles(spark) - before

    assert recompiled == 0, (
        f"{recompiled} classes recompiled over {N_RERUNS} warm re-runs"
    )


def test_jvm_child_cpu_counts_reaped_shell_outs(spark):
    """CPU burned by a process the JVM forks and waits for shows up in
    ``jvm_child_cpu_sec``."""
    argv = [sys.executable, "-c", "sum(range(10**7))"]
    cmd = spark.sparkContext._gateway.new_array(spark._jvm.java.lang.String, len(argv))
    for i, arg in enumerate(argv):
        cmd[i] = arg
    before = hoststamp.jvm_child_cpu_sec(spark)
    assert spark._jvm.java.lang.Runtime.getRuntime().exec(cmd).waitFor() == 0
    assert hoststamp.jvm_child_cpu_sec(spark) - before >= 0.1


def test_local_session_worker_and_checkpoint_confs(spark):
    """A local session runs Python workers through the package's daemon
    and commits streaming checkpoints through FileSystem renames."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "tfl_realtime_lakehouse_spark.pyworker"
    )
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_python_workers_keep_zip_index_across_tasks(spark):
    """Inside a Python worker, ``importlib.invalidate_caches()`` (which
    every task runs first) rereads no zip archive the worker imported
    from, since none changed."""

    @F.pandas_udf("array<long>")
    def rereads(ids: pd.Series) -> pd.Series:
        import importlib as il
        import sys as s
        import zipimport as zi

        paths = []
        read = zi._read_directory
        zi._read_directory = lambda path: paths.append(path) or read(path)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read
        importers = sum(
            isinstance(f, zi.zipimporter) for f in s.path_importer_cache.values()
        )
        return pd.Series([[importers, len(paths)]] * len(ids))

    (importers, reread), = {tuple(r[0]) for r in spark.range(1).select(rereads("id")).collect()}
    assert importers > 0, "the worker imported nothing from a zip archive"
    assert reread == 0, f"{reread} zip directories reread by one invalidate_caches()"


def test_python_workers_inherit_frozen_import_graph(spark):
    """Python workers start with the objects their daemon imported
    frozen, so the collection after each task does not scan them."""

    @F.pandas_udf("long")
    def frozen(ids: pd.Series) -> pd.Series:
        import gc

        return pd.Series([gc.get_freeze_count()] * len(ids))

    counts = {r[0] for r in spark.range(4).select(frozen("id")).collect()}
    assert min(counts) > 0, f"worker freeze counts {counts}"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


def test_zip_index_reread_only_when_archive_changes(tmp_path, monkeypatch):
    """The daemon's invalidation keeps an unchanged archive's index. An
    archive rewritten in place is reread once for all its importers (the
    archive's and its package's), and modules added to it import."""
    archive = tmp_path / "pyworker_mods.zip"
    old = {"pyworker_mod_a.py": "X = 1\n", "pyworker_pkg/__init__.py": "", "pyworker_pkg/m1.py": ""}
    _write_zip(archive, old)
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(pyworker, "_stamps", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_if_changed
    )
    paths = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: paths.append(path) or read(path)
    )
    modules = ("pyworker_mod_a", "pyworker_mod_b", "pyworker_pkg", "pyworker_pkg.m1", "pyworker_pkg.m2")
    try:
        assert importlib.import_module("pyworker_mod_a").X == 1
        importlib.import_module("pyworker_pkg.m1")
        importlib.invalidate_caches()  # the first call stamps the archive
        paths.clear()
        importlib.invalidate_caches()
        assert str(archive) not in paths

        new = {"pyworker_mod_b.py": "Y = 2\n", "pyworker_pkg/m2.py": "Z = 3\n"}
        _write_zip(archive, {**old, **new})
        importlib.invalidate_caches()
        assert paths.count(str(archive)) == 1
        assert importlib.import_module("pyworker_mod_b").Y == 2
        assert importlib.import_module("pyworker_pkg.m2").Z == 3
    finally:
        for name in modules:
            sys.modules.pop(name, None)
        for key in (str(archive), os.path.join(str(archive), "pyworker_pkg")):
            sys.path_importer_cache.pop(key, None)


# ---------------------------------------------------------------------------
# Class-data archive: each test runs fresh processes on its own cache
# ---------------------------------------------------------------------------

REPO = Path(__file__).resolve().parents[1]
END = "SESSION-SCRIPT-END"
# One fresh process: get_spark, the first job, then a JSON report and END.
SESSION_SCRIPT = f"""
import json, os, sys
from tfl_realtime_lakehouse_spark import hoststamp, session
spark = session.get_spark(extra_conf=dict(a.split("=", 1) for a in sys.argv[1:]))
count = spark.range(1).count()
cache = str(session.archive_dir())
builders = []
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{{pid}}/cmdline", "rb") as f:
            argv = f.read().decode(errors="replace")
    except OSError:
        continue
    if cache in argv and ".tmp" in argv:
        builders.append(int(pid))
print(json.dumps({{
    "count": count,
    "archive": hoststamp.cds_archive(spark),
    "leaf_parallelism": spark.conf.get("spark.sql.leafNodeDefaultParallelism", None),
    "builders": builders,
}}))
print({END!r})
"""


def _session(cache: Path, cwd: Path, *conf: str, **env: str) -> tuple[dict, str]:
    """Run SESSION_SCRIPT with XDG_CACHE_HOME=cache; (report, stdout)."""
    proc = subprocess.run(
        [sys.executable, "-c", SESSION_SCRIPT, *conf],
        cwd=cwd,
        env={**os.environ, "XDG_CACHE_HOME": str(cache), "PYTHONPATH": str(REPO), **env},
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = next(json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{"))
    return report, proc.stdout


def _archives(cache: Path) -> list[Path]:
    return sorted((cache / "tfl-realtime-lakehouse-spark").glob("*.jsa"))


@pytest.fixture(scope="module")
def built_archive(tmp_path_factory):
    """A cache in which a first process built the archive: (cache, report,
    stdout of that process)."""
    cache = tmp_path_factory.mktemp("xdg")
    report, stdout = _session(cache, cache)
    return cache, report, stdout


def test_first_session_builds_class_archive_quietly(built_archive):
    """The first process on an empty cache builds the archive in a child
    and installs it; no JVM log line reaches its stdout after the
    script's own output, and no process the build started is alive once
    get_spark returns."""
    cache, report, stdout = built_archive
    assert report["count"] == 1
    assert len(_archives(cache)) == 1
    assert stdout.splitlines()[-1] == END, stdout[-2000:]
    assert report["builders"] == []


def test_second_session_maps_class_archive(built_archive, tmp_path):
    """A second fresh process maps the installed archive and loads more
    than 10,000 of its classes from it."""
    cache, _, _ = built_archive
    report, stdout = _session(cache, tmp_path, "spark.driver.extraJavaOptions=-Xlog:class+load")
    assert report["count"] == 1
    assert report["archive"] == str(_archives(cache)[0])
    shared = stdout.count("source: shared objects file (top)")
    assert shared >= 10_000, f"{shared} classes loaded from the archive"


def test_truncated_class_archive_is_not_used(built_archive, tmp_path):
    """An archive truncated in place is not handed to the JVM (a JVM
    given one dies of SIGBUS). With the key's build marked failed, none
    is rebuilt either, and the session runs without an archive."""
    cache, _, _ = built_archive
    (archive,) = _archives(cache)
    archive.chmod(0o644)
    with open(archive, "r+b") as f:
        f.truncate(1 << 20)
    key = archive.name.split("-")[0]
    (archive.parent / f"{key}.failed").write_text("marked failed by the test\n")
    report, _ = _session(cache, tmp_path)
    assert report["count"] == 1
    assert report["archive"] is None
    assert archive.stat().st_size == 1 << 20
    assert not list(tmp_path.glob("hs_err_pid*.log"))


def test_real_conf_dir_is_read_and_gets_no_archive(tmp_path):
    """A conf dir with a file Spark reads stays on the class path: its
    defaults apply, and no archive is used or built."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sql.leafNodeDefaultParallelism 7\n")
    cache = tmp_path / "xdg"
    report, _ = _session(cache, tmp_path, SPARK_CONF_DIR=str(conf))
    assert report["leaf_parallelism"] == "7"
    assert report["archive"] is None
    assert not _archives(cache)
    assert not list((cache / "tfl-realtime-lakehouse-spark").glob(f"*.failed"))


def test_failed_class_archive_build_is_marked_once(tmp_path):
    """A build whose child fails leaves a marker and a working session,
    and the next launch neither builds nor uses an archive."""
    script = """
import json, subprocess
from tfl_realtime_lakehouse_spark import hoststamp, session
session._TRAINER = "import sys; sys.exit(3)"
spark = session.get_spark()
report = {"count": spark.range(1).count(), "archive": hoststamp.cds_archive(spark)}
subprocess.Popen = None  # a second build attempt would raise
report["next"] = session._class_archive()
print(json.dumps(report))
"""
    cache = tmp_path / "xdg"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env={**os.environ, "XDG_CACHE_HOME": str(cache), "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.splitlines()[-1])
    assert report == {"count": 1, "archive": None, "next": None}
    assert len(list((cache / "tfl-realtime-lakehouse-spark").glob("*.failed"))) == 1
    assert not _archives(cache)
