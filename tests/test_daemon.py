"""The preloading worker daemon's stat-guarded zip cache invalidation.

Importing ``t_digest_spark.daemon`` patches ``zipimport`` for the whole
process, so the guard is exercised in a subprocess.  Directory reads
are counted by wrapping ``zipimport._read_directory``.
"""

import os
import subprocess
import sys
import textwrap
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GUARD_SCRIPT = textwrap.dedent(r"""
    import importlib, os, sys, zipfile, zipimport
    import t_digest_spark.daemon  # noqa: F401  (installs the guard)

    tmp = sys.argv[1]
    reads = []
    _orig_read = zipimport._read_directory

    def _counting_read(archive):
        reads.append(archive)
        return _orig_read(archive)

    zipimport._read_directory = _counting_read

    def write_zip(path, modules):
        with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
            for name, src in modules.items():
                info = zipfile.ZipInfo(name + ".py", (2020, 1, 1, 0, 0, 0))
                zf.writestr(info, src)

    def reads_of(path):
        return sum(1 for a in reads if a == path)

    def importable(name):
        sys.modules.pop(name, None)
        try:
            importlib.import_module(name)
        except ModuleNotFoundError:
            return False
        return True

    # unchanged archive: no re-read however often caches are invalidated
    z1 = os.path.join(tmp, "grown.zip")
    write_zip(z1, {"zg_one": "X = 1\n"})
    sys.path.append(z1)
    assert importable("zg_one")
    importlib.invalidate_caches()  # first invalidation stamps the archive
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads_of(z1) == 0, ("unchanged archive re-read", reads)
    assert importable("zg_one")

    # rewritten in place with a new size: the added module is served
    ino = os.stat(z1).st_ino
    write_zip(z1, {"zg_one": "X = 1\n", "zg_two": "Y = 2\n"})
    assert os.stat(z1).st_ino == ino
    importlib.invalidate_caches()
    assert reads_of(z1) == 1, reads
    assert importable("zg_two"), "module added in place not served"

    # replaced by os.replace with equal size and forced equal mtime:
    # only the inode differs, and that alone forces the re-read
    z2 = os.path.join(tmp, "swapped.zip")
    write_zip(z2, {"zs_aaa": "Z = 3\n"})
    sys.path.append(z2)
    assert importable("zs_aaa")
    importlib.invalidate_caches()
    before = os.stat(z2)
    fresh = os.path.join(tmp, "swapped.zip.new")
    write_zip(fresh, {"zs_bbb": "Z = 3\n"})
    os.utime(fresh, ns=(before.st_atime_ns, before.st_mtime_ns))
    os.replace(fresh, z2)
    after = os.stat(z2)
    assert (after.st_size, after.st_mtime_ns) == \
        (before.st_size, before.st_mtime_ns)
    assert after.st_ino != before.st_ino
    reads.clear()
    importlib.invalidate_caches()
    assert reads_of(z2) == 1, ("replaced archive not re-read", reads)
    assert importable("zs_bbb"), "replacement's module not served"
    assert not importable("zs_aaa"), "replaced archive served a stale entry"

    # deleted archive: its entries are no longer served
    z3 = os.path.join(tmp, "deleted.zip")
    write_zip(z3, {"zd_first": "A = 1\n", "zd_later": "B = 2\n"})
    sys.path.append(z3)
    assert importable("zd_first")
    importlib.invalidate_caches()
    os.remove(z3)
    importlib.invalidate_caches()
    assert z3 not in zipimport._zip_directory_cache
    assert not importable("zd_later"), "deleted archive served a stale entry"
    print("guard-ok")
""")


def test_zip_invalidation_is_stat_guarded(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", _GUARD_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=180)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "guard-ok" in proc.stdout


def test_add_py_file_mid_session_reaches_reused_workers(spark, tmp_path):
    """A zip shipped with ``addPyFile`` after the workers are up is
    importable by a UDF running on those same (reused) workers."""
    import pyarrow as pa

    df = spark.range(0, 64, numPartitions=4)
    schema = "pid long, value long"

    def pids(batches):
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"pid": [os.getpid()], "value": [0]})

    first = {r.pid for r in df.mapInArrow(pids, schema).collect()}

    zip_path = tmp_path / "added_mid_session.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr("tdigest_added_mid_session.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(zip_path))

    def probe(batches):
        import tdigest_added_mid_session as m

        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"pid": [os.getpid()], "value": [m.VALUE]})

    rows = df.mapInArrow(probe, schema).collect()
    assert {r.value for r in rows} == {41}
    assert first & {r.pid for r in rows}, "no worker was reused"
