"""The zip re-read gate of Python workers (``fuzzspark/_zipgate.py``).

Every task a PySpark worker runs calls ``importlib.invalidate_caches()``
before its function; on Python < 3.13 the stdlib then re-reads the
directory of every zip archive the worker imported from.  A worker
that has imported fuzzspark re-reads only an archive that changed:

* in a live session, a reused worker's ``invalidate_caches()`` reads no
  archive directory at all;
* a rewritten, replaced or deleted archive is still picked up at the
  same call (in a subprocess that poses as a worker);
* outside a worker, and on Python >= 3.13, the stdlib method stays.
"""

import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_reused_worker_rereads_no_unchanged_archive(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        import fuzzspark  # noqa: F401  (what an engine task imports)
        for _ in batches:
            pass
        reads = 0
        read_directory = zipimport._read_directory

        def counted(archive):
            nonlocal reads
            reads += 1
            return read_directory(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "importers": importers, "reads": reads}],
            schema=pa.schema([("pid", pa.int64()), ("importers", pa.int32()),
                              ("reads", pa.int32())]))

    one = spark.range(0, 1, 1, 1)
    seen, repeats = set(), []
    # one-task jobs cycle through the idle workers; a worker's second
    # task is the first one to start with fuzzspark already imported
    for _ in range(32):
        # collect(), not first(): a task that stops reading its
        # worker's output early does not return the worker to the pool
        [row] = one.mapInArrow(probe, "pid long, importers int, reads int") \
            .collect()
        if row.pid in seen:
            repeats.append(row)
            if len(repeats) == 3:
                break
        seen.add(row.pid)
    assert repeats, "no worker served two of the one-task jobs"
    # the package ships as a zip, so there is always something to re-read
    assert all(r.importers > 0 for r in repeats)
    assert [r.reads for r in repeats] == [0] * len(repeats)


def _run(body: str, tmp_path, worker: bool = True):
    """Run ``body`` in a fresh interpreter; with ``worker`` it first
    marks the process as a PySpark worker, as setup_spark_files does."""
    head = textwrap.dedent("""\
        import importlib, os, sys, zipfile, zipimport
        import pyspark.core.files
        stdlib = zipimport.zipimporter.invalidate_caches
        pyspark.core.files.SparkFiles._is_running_on_worker = WORKER
        """).replace("WORKER", str(worker))
    r = subprocess.run([sys.executable, "-c", head + textwrap.dedent(body),
                        str(tmp_path)], cwd=ROOT, capture_output=True,
                       text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout


CHANGING_ARCHIVE = """\
    import fuzzspark
    from fuzzspark import _zipgate
    assert zipimport.zipimporter.invalidate_caches is \\
        _zipgate._invalidate_caches

    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)

    def write(path, modules):
        with zipfile.ZipFile(path, "w") as z:
            for name, src in modules.items():
                z.writestr(name + ".py", src)

    arc = os.path.join(sys.argv[1], "mods.zip")
    write(arc, {"zg_a": "A = 1\\n"})
    sys.path.insert(0, arc)
    import zg_a
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert arc not in reads, reads

    # rewritten in place: same inode, another size
    write(arc, {"zg_a": "A = 1\\n", "zg_b": "B = 2\\n"})
    importlib.invalidate_caches()
    assert reads.count(arc) == 1, reads
    import zg_b
    assert zg_b.B == 2

    # replaced: a new inode, the same size
    tmp = arc + ".tmp"
    write(tmp, {"zg_c": "C = 3\\n", "zg_e": "E = 5\\n"})
    assert os.path.getsize(tmp) == os.path.getsize(arc)
    os.replace(tmp, arc)
    importlib.invalidate_caches()
    import zg_c
    assert zg_c.C == 3

    # deleted: no error, and its not yet imported zg_e is gone with it
    os.remove(arc)
    importlib.invalidate_caches()
    try:
        import zg_e
    except ImportError:
        pass
    else:
        raise AssertionError("imported from a deleted archive")
    imp = sys.path_importer_cache[arc]
    assert imp._files == {} and arc not in zipimport._zip_directory_cache

    # back again
    write(arc, {"zg_d": "D = 4\\n"})
    importlib.invalidate_caches()
    import zg_d
    assert zg_d.D == 4
    print("ok")
    """


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the gate is off on Python >= 3.13")
def test_worker_rereads_a_changed_replaced_or_deleted_archive(tmp_path):
    assert _run(CHANGING_ARCHIVE, tmp_path).strip() == "ok"


def test_outside_a_worker_the_stdlib_method_stays(tmp_path):
    _run("""\
        import fuzzspark
        assert zipimport.zipimporter.invalidate_caches is stdlib
        """, tmp_path, worker=False)


def test_python_313_keeps_the_stdlib_method(tmp_path):
    """3.13 defers the re-read itself (its zipimport reads lazily)."""
    _run("""\
        real = sys.version_info
        sys.version_info = (3, 13, 0, "final", 0)
        try:
            import fuzzspark
        finally:
            sys.version_info = real
        assert zipimport.zipimporter.invalidate_caches is stdlib
        """, tmp_path)
