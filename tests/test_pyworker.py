"""The worker-side zipimport backport (cuphic_spark.pyworker).

The cases without Spark each run in a fresh interpreter: ``install``
patches the process-wide ``zipimport.zipimporter`` class, and the pytest
process is also the Spark driver for the rest of the suite. The last
case checks real Python workers."""

import os
import subprocess
import sys
import textwrap
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# writes a zip holding top-level modules and a package, so the
# interpreter caches more than one zipimporter over the same archive;
# cuphic_spark is imported by each case, since its first import is what
# runs the worker hook
PRELUDE = """
import importlib, sys, zipfile, zipimport

def write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        for name in names:
            z.writestr(name, "VALUE = %r\\n" % name)

ZIP = sys.argv[1]
write_zip(ZIP, ["mod_a.py", "pkg/sub_a.py"])
sys.path.insert(0, ZIP)
import mod_a, pkg.sub_a
IMPORTERS = [f for f in sys.path_importer_cache.values()
             if isinstance(f, zipimport.zipimporter)]
assert len(IMPORTERS) == 2, IMPORTERS
LAZY_UPSTREAM = hasattr(zipimport.zipimporter, "_get_files")

def installed():
    return isinstance(vars(zipimport.zipimporter).get("_files"), property)

importlib.invalidate_caches()  # loads whatever its first call imports

CALLS = []
_read = zipimport._read_directory
def counting_read(path):
    CALLS.append(path)
    return _read(path)
zipimport._read_directory = counting_read
"""


def _run(tmp_path, body: str) -> str:
    script = PRELUDE + textwrap.dedent(body)
    res = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "mods.zip")],
        cwd=REPO, capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    return res.stdout.strip()


def test_freshness_new_module_imports_after_invalidate(tmp_path):
    out = _run(tmp_path, """
        from cuphic_spark import pyworker
        pyworker.install()
        assert installed() != LAZY_UPSTREAM
        write_zip(ZIP, ["mod_a.py", "pkg/sub_a.py", "mod_b.py",
                        "pkg/sub_b.py"])
        # the cached directory predates the rewrite until invalidated
        assert importlib.util.find_spec("mod_b") is None
        importlib.invalidate_caches()
        import mod_b, pkg.sub_b
        print(mod_b.VALUE, pkg.sub_b.VALUE)
    """)
    assert out == "mod_b.py pkg/sub_b.py"


def test_laziness_invalidate_reads_no_directory(tmp_path):
    out = _run(tmp_path, """
        importlib.invalidate_caches()
        eager = len(CALLS)
        # without the fix, every cached importer re-reads the archive
        assert eager == (0 if LAZY_UPSTREAM else len(IMPORTERS)), eager
        from cuphic_spark import pyworker
        pyworker.install()
        CALLS.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert CALLS == [], CALLS
        # the first lookup afterwards reads the archive ONCE, shared by
        # both importers, and still sees the current contents
        write_zip(ZIP, ["mod_a.py", "pkg/sub_a.py", "mod_c.py"])
        importlib.invalidate_caches()
        import mod_c
        assert importlib.util.find_spec("pkg.nope") is None
        print(len(CALLS), CALLS == [ZIP] * len(CALLS))
    """)
    assert out == "1 True"


def test_scope_non_worker_process_untouched(tmp_path):
    out = _run(tmp_path, """
        before = dict(vars(zipimport.zipimporter))
        import pyspark.taskcontext
        import cuphic_spark.operators.parse  # driver side: no TaskContext
        from cuphic_spark import pyworker
        assert not pyworker.in_worker()
        assert dict(vars(zipimport.zipimporter)) == before
        CALLS.clear()
        importlib.invalidate_caches()
        print(len(CALLS) == (0 if LAZY_UPSTREAM else len(IMPORTERS)))
    """)
    assert out == "True"


def test_scope_worker_import_installs(tmp_path):
    out = _run(tmp_path, """
        from pyspark.taskcontext import TaskContext
        TaskContext._getOrCreate()  # what the worker does before unpickling
        from cuphic_spark import pyworker  # first import runs the hook
        CALLS.clear()
        importlib.invalidate_caches()
        print(installed() != LAZY_UPSTREAM, CALLS)
    """)
    assert out == "True []"


def test_scope_upstream_lazy_zipimport_untouched(tmp_path):
    # an interpreter that already invalidates lazily (gh-103200) has
    # zipimporter._get_files; simulated here so every version runs it
    out = _run(tmp_path, """
        from cuphic_spark import pyworker
        if not LAZY_UPSTREAM:
            zipimport.zipimporter._get_files = lambda self: {}
        before = dict(vars(zipimport.zipimporter))
        pyworker.install()
        print(dict(vars(zipimport.zipimporter)) == before,
              installed())
    """)
    assert out == "True False"


@pytest.mark.skipif(sys.version_info < (3, 13),
                    reason="zipimport invalidates lazily from 3.13 on")
def test_scope_real_upstream_lazy_interpreter_untouched(tmp_path):
    out = _run(tmp_path, """
        from cuphic_spark import pyworker
        assert LAZY_UPSTREAM
        before = dict(vars(zipimport.zipimporter))
        pyworker.install()
        print(dict(vars(zipimport.zipimporter)) == before)
    """)
    assert out == "True"


def test_spark_workers_skip_archive_rereads(spark):
    """After a worker has run a cuphic op, the per-task
    ``importlib.invalidate_caches()`` reads no archive directory."""
    from cuphic_spark.operators.parse import pages_extract_text

    n = spark.sparkContext.defaultParallelism
    pages = spark.createDataFrame(
        [(f"u{i}", b"<html><body><p>page %d</p></body></html>" % i)
         for i in range(4 * n)], "url string, html binary").repartition(n)
    texts = sorted(r.text for r in pages_extract_text(pages).collect())
    assert texts == sorted(f"page {i}" for i in range(4 * n))

    def probe(batches):
        # refers to no cuphic module, so unpickling it installs nothing
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        calls = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: calls.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pylist([dict(
            pid=os.getpid(), cuphic="cuphic_spark" in sys.modules,
            installed=isinstance(vars(zipimport.zipimporter).get("_files"),
                                 property),
            importers=len(importers), reads=len(calls))])

    # reused workers are handed out oldest-idle first, so more probe
    # tasks than idle workers reach every worker, the op's included
    rows = (spark.range(0, 8 * n, numPartitions=8 * n)
            .mapInArrow(probe, "pid long, cuphic boolean, installed boolean,"
                               " importers long, reads long")
            .collect())
    lazy_upstream = hasattr(zipimport.zipimporter, "_get_files")
    ran_cuphic = [r for r in rows if r.cuphic]
    assert ran_cuphic, rows
    for r in rows:
        assert r.importers > 0, r   # pyspark.zip, py4j, spark-core jar
        if r.cuphic:
            assert r.installed != lazy_upstream, r
            assert r.reads == 0, r
        else:
            assert not r.installed, r
            assert r.reads == (0 if lazy_upstream else r.importers), r
