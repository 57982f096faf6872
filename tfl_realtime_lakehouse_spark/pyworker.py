"""Python worker daemon whose workers keep their zip import index.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` rereads the archive's whole central
directory, and a worker that imports pyspark from ``pyspark.zip``
(1,328 entries) holds about 14 zipimporters: 131.5 ms of CPU per task.
Here an archive is reread only when its stat stamp changed since it was
last read; an importer of an unchanged archive takes the directory that
read left in zipimport's shared cache.

The daemon also imports pandas and pyarrow, which every Arrow task
needs (340-430 ms of CPU per worker at its first such task), and then
freezes the garbage collector's view of everything imported so far.
pyspark's daemon calls ``gc.collect()`` after every task of a reused
worker, and a full collection over the 73k tracked objects of that
import graph cost 39-41 ms; frozen objects are not scanned.

``session.get_spark`` names this module ``spark.python.daemon.module``.
It stamps the archives the daemon imported from, then runs pyspark's
daemon, whose forked workers inherit the patched class, the stamps, the
imports and the frozen generation.
"""

import gc
import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp at which zipimport's cached directory was read
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    if _stamps.get(self.archive) != stamp:
        _stamps[self.archive] = stamp
        _reread(self)
    else:
        self._files = zipimport._zip_directory_cache.get(self.archive, {})


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    importlib.invalidate_caches()
    gc.freeze()
    daemon.manager()
