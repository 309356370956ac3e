"""Preloading PySpark worker daemon.

Each Spark task forks a fresh Python worker from the daemon process.
The stock daemon (pyspark/daemon.py) imports almost nothing, so every
forked worker re-imports numpy/pandas/pyarrow at task start (~0.7 s wall
each in this sandbox — syscall-heavy imports are expensive in microVMs,
and at 100-1000 tasks/stage this serializes the whole Python exchange).

This drop-in daemon imports the heavy modules *before* forking, so
workers inherit them copy-on-write for free.

It also stat-guards zip re-reads.  Every task runs
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()`` even on a reused worker; on Python
3.11 that makes each cached ``zipimporter`` re-read its archive's
central directory — about 16 importers on ``pyspark.zip`` (1,328
entries, ~11 ms a read), ~0.2 s of ``PythonRunner`` init per task.
Here an archive is re-read only when its ``(st_mtime_ns, st_size,
st_ino)`` stamp changed since it was last read, so a ``--py-files`` zip
that is rewritten, replaced or deleted is still re-read or dropped
exactly as before.

Enable with:
    spark.python.daemon.module = t_digest_spark.daemon

(The library itself is imported too, so the cloudpickled closures in
operators/ deserialize instantly.)
"""

import importlib
import os
import zipimport


def _guard_zip_invalidation() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a version that
    skips the central-directory re-read while the archive's stamp is
    the one recorded when it was last read."""
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        cache = zipimport._zip_directory_cache
        if stamp is not None and archive in cache \
                and stamps.get(archive) == stamp:
            self._files = cache[archive]
            return
        # stat before the read: an archive rewritten in between gets a
        # stale stamp and is read again next time, never the reverse
        stamps.pop(archive, None)
        reread(self)
        if stamp is not None and archive in cache:
            stamps[archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_invalidation()

for _m in (
        "numpy",
        "pandas",
        "pyarrow",
        "pyarrow.pandas_compat",
        "pyspark.serializers",
        "pyspark.sql.pandas.serializers",
        "pyspark.sql.pandas.types",
        "pyspark.worker",
        "t_digest_spark.core",
):
    try:
        importlib.import_module(_m)
    except Exception:  # noqa: BLE001 — preloading is best-effort
        pass

# read and stamp every archive once, so forked workers inherit both
# the stamps and the directory caches
importlib.invalidate_caches()

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
