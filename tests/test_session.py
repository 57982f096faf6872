"""Session-level engine settings that change how every query runs."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
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
