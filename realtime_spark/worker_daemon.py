"""Python worker daemon: `pyspark.daemon` with stamp-checked zip caches.

pyspark's worker calls importlib.invalidate_caches() before every task
(worker_util.setup_spark_files). On CPython 3.11+ that makes each cached
zipimporter re-read its archive's whole directory; a worker holds ~16 of them
over pyspark.zip and the spark-core jar, about 100 ms of CPU per task. Here
an importer re-reads only when the archive's (st_mtime_ns, st_size) differs
from when that importer last read it, so a rewritten archive is still seen.

get_spark selects it with spark.python.daemon.module.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp the daemon's importers once, so forked workers inherit the stamps
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    manager()
