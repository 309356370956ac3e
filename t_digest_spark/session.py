"""Recommended Spark configuration for t_digest_spark pipelines.

These settings matter at any scale; two are load-bearing:

- ``spark.sql.execution.arrow.maxBytesPerBatch = 2147483647`` (Int.MaxValue)
  Spark 4.x guards every Arrow batch row-append with
  ``ArrowWriter.sizeInBytes()`` (BatchedPythonArrowInput.underBatchSizeLimit),
  and ``ArrowFieldWriter.getSizeInBytes`` does
  ``setValueCount(count); getBufferSizeFor(count)`` — O(rows-so-far) work
  *per row*, i.e. O(rows^2) per batch.  Profiled here it capped the whole
  JVM→Python exchange at ~4M rows/s with every executor thread burning in
  ``StructVector.setValueCount``.  Int.MaxValue exactly short-circuits the
  check (batch size is then bounded by maxRecordsPerBatch, default 10k,
  which is what actually bounds memory).

- ``spark.python.daemon.module = t_digest_spark.daemon``
  preloads numpy/pandas/pyarrow in the worker daemon so per-task forked
  workers inherit them copy-on-write instead of re-importing (~0.7 s per
  task in syscall-constrained sandboxes).  It also stat-guards zip
  re-reads: each task's ``importlib.invalidate_caches()`` otherwise
  makes every cached zipimporter re-read ``pyspark.zip``'s directory,
  ~0.2 s of init per task even on reused workers.  The ``--py-files``
  shape, where ``_daemon_importable()`` is False and the stock daemon
  runs, still pays that ~0.2 s per task.  To see it, set the loggers
  ``org.apache.spark.sql.execution.python`` (SQL UDFs) and
  ``org.apache.spark.api.python`` (RDD functions) to INFO: each task
  logs ``Times: total = …, boot = …, init = …, finish = …``; on a
  reused worker ``boot`` is negative (it counts from the end of the
  worker's previous task), so the task's setup cost is ``init + boot``.

The rest are ordinary large-input hygiene: AQE on, shuffle partitions
sized to the cluster, scan splits sized so small files still fan out.
"""

from __future__ import annotations

import functools
import subprocess
import sys

from pyspark.sql import SparkSession

__all__ = ["recommended_confs", "build_session"]


@functools.lru_cache(maxsize=None)
def _daemon_importable() -> bool:
    """Can a FRESH interpreter — the way Spark spawns the worker daemon,
    inheriting only PYTHONPATH/cwd, NOT the driver's injected sys.path —
    find t_digest_spark.daemon and the pyspark.daemon it wraps?

    Under ``spark-submit --py-files`` the package reaches *task* code
    via runtime sys.path injection, but the daemon module is spawned
    before that, so the preloading daemon would kill every worker with
    ModuleNotFoundError.  Fall back to the stock daemon there (slower
    per-task imports, and no stat guard on zip re-reads, so every task
    pays ~0.2 s of ``PythonRunner`` init re-reading ``pyspark.zip``;
    still correct); production images should put the package on the
    worker PYTHONPATH to keep the preloading daemon.

    The probe strips from PYTHONPATH any ZIP/EGG FILE that provides
    t_digest_spark — the --py-files shape: spark-submit injects the
    shipped archives into the DRIVER python's environment, but the
    executor-side daemon spawn never sees them.  Directory entries and
    site-packages installs (which the daemon's fresh interpreter DOES
    see) keep the fast path."""
    import os
    import zipfile

    def _is_shipped_archive(p: str) -> bool:
        if not os.path.isfile(p):
            return False
        try:
            with zipfile.ZipFile(p) as zf:
                return "t_digest_spark/__init__.py" in zf.namelist()
        except Exception:
            return False

    env = dict(os.environ)
    if env.get("PYTHONPATH"):
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in env["PYTHONPATH"].split(os.pathsep)
            if not _is_shipped_archive(p))
    # a spec lookup, not an import: importing the daemon would preload
    # pandas, pyarrow and pyspark.worker (0.88 s against 0.39 s per
    # probe on a 4-vCPU host)
    probe = ("import sys; from importlib.util import find_spec; "
             "sys.exit(not (find_spec('t_digest_spark.daemon') "
             "and find_spec('pyspark.daemon')))")
    try:
        return subprocess.run(
            [sys.executable, "-c", probe],
            capture_output=True, timeout=30, env=env).returncode == 0
    except Exception:
        return False


def recommended_confs(cores: int = 32) -> dict[str, str]:
    confs = {
        # disable the per-row O(n^2) Arrow batch size accounting
        "spark.sql.execution.arrow.maxBytesPerBatch": "2147483647",
        # bigger Arrow batches amortize per-group costs in high-cardinality
        # groupings (safe once the per-row size check above is off);
        # 262144 measured ~15% faster than 131072 on the flagship fused
        # job at 16 cores with no 4-core regression
        "spark.sql.execution.arrow.maxRecordsPerBatch": "262144",
        # Arrow-backed toPandas/createDataFrame(pandas): the row-based
        # fallback costs seconds per million rows of driver serial time
        # (it dominated the dedup driver-gap profile)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.worker.reuse": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": str(max(2 * cores, 16)),
        # keep scan splits small enough that modest inputs still use
        # every core (tune upward for genuinely huge files)
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(1024 * 1024),
    }
    if _daemon_importable():
        # preloaded-fork python workers (numpy/pandas/pyarrow imported
        # once in the daemon, inherited copy-on-write by task workers)
        confs["spark.python.daemon.module"] = "t_digest_spark.daemon"
    return confs


def build_session(master: str | None = None, cores: int = 32,
                  app_name: str = "t-digest-spark", **extra) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in recommended_confs(cores).items():
        b = b.config(k, v)
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()
