"""``arrowutil.release_spark_zip_finders``: PySpark's worker calls
``importlib.invalidate_caches()`` before every Python task, and on
Python 3.11 every cached ``zipimporter`` then re-reads its archive's
directory. The helper drops the finders of Spark's own archives so
that call has nothing of theirs to re-read, while a user archive keeps
its stock re-read. These tests count directory reads
(``zipimport._read_directory``); none asserts a timing."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from traject_spark.arrowutil import _is_spark_archive, release_spark_zip_finders


@pytest.mark.parametrize(
    "archive, spark",
    [
        ("spark-home/python/lib/pyspark.zip", True),
        ("spark-home/python/lib/py4j-0.10.9.9-src.zip", True),
        ("spark-home/jars/spark-core_2.13-4.1.2.jar", True),
        ("work/userFiles-1/lib.zip", False),
        ("work/userFiles-1/pyspark_extras.zip", False),
        ("work/userFiles-1/deps.jar", False),
    ],
)
def test_spark_archive_names(archive, spark):
    assert _is_spark_archive(archive) is spark


def _write_package_zip(path, package):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{package}/__init__.py", "ORIGIN = 'init'\n")
        zf.writestr(f"{package}/sub.py", "ORIGIN = 'sub'\n")


def _counting_reads(monkeypatch):
    """Wrap ``zipimport._read_directory``; returns the list of archives
    it reads from now on."""
    reads: list = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_release_drops_spark_finders_and_keeps_user_rereads(tmp_path, monkeypatch):
    spark_zip = str(tmp_path / "pyspark.zip")
    user_zip = str(tmp_path / "lib.zip")
    _write_package_zip(spark_zip, "zf_spark_pkg")
    _write_package_zip(user_zip, "zf_user_pkg")
    for name in ("zf_spark_pkg", "zf_spark_pkg.sub", "zf_user_pkg", "zf_user_pkg.sub"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(sys, "path", [spark_zip, user_zip] + sys.path)
    try:
        import zf_spark_pkg
        import zf_user_pkg

        assert zf_spark_pkg.__spec__.loader.archive == spark_zip
        assert zf_user_pkg.__spec__.loader.archive == user_zip

        def finders(archive):
            return [
                k
                for k, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter) and f.archive == archive
            ]

        assert finders(spark_zip) and finders(user_zip)

        release_spark_zip_finders()
        assert finders(spark_zip) == []
        assert finders(user_zip)

        reads = _counting_reads(monkeypatch)
        importlib.invalidate_caches()
        assert reads.count(spark_zip) == 0
        assert reads.count(user_zip) >= 1

        # a later import re-creates the Spark finder from zipimport's
        # in-process directory cache, without reading the archive
        del reads[:]
        from zf_spark_pkg import sub as spark_sub
        from zf_user_pkg import sub as user_sub

        assert (spark_sub.ORIGIN, user_sub.ORIGIN) == ("sub", "sub")
        assert spark_sub.__spec__.loader.archive == spark_zip
        assert user_sub.__spec__.loader.archive == user_zip
        assert reads.count(spark_zip) == 0
    finally:
        for archive in (spark_zip, user_zip):
            zipimport._zip_directory_cache.pop(archive, None)
            for k in [k for k in sys.path_importer_cache if k.startswith(archive)]:
                del sys.path_importer_cache[k]


def test_release_inside_a_python_worker(spark):
    """In a real ``mapInArrow`` task, where the worker imports pyspark
    from Spark's ``pyspark.zip``: after the helper, the task's own
    ``invalidate_caches()`` reads no Spark archive and still re-reads
    a user archive; and a task on a warm reused worker starts with no
    Spark finder left for the worker's per-task ``invalidate_caches()``.

    A worker's first task makes first-time imports after the release
    (the worker's own and pyarrow's lazy ones), and they re-create the
    root finders of Spark's archives, so its second task still re-reads
    those few; from the third task on there is nothing left to
    re-read, which is what the last assertion pins."""

    def task(batches):
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import zipfile
        import zipimport

        import pyarrow as pa
        import pyspark

        from traject_spark.arrowutil import (
            _is_spark_archive,
            release_spark_zip_finders,
        )

        for _ in batches:
            pass

        def spark_finders():
            return sorted(
                k
                for k, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)
                and _is_spark_archive(f.archive)
            )

        # what the worker's invalidate_caches() re-read before this task
        at_start = spark_finders()
        runs = getattr(zipimport, "_zip_finder_test_runs", 0)
        zipimport._zip_finder_test_runs = runs + 1
        loader = pyspark.__spec__.loader
        pyspark_archive = getattr(loader, "archive", "")

        tmp = tempfile.mkdtemp()
        user_zip = os.path.join(tmp, "lib.zip")
        with zipfile.ZipFile(user_zip, "w") as zf:
            zf.writestr("zf_worker_pkg/__init__.py", "")
            zf.writestr("zf_worker_pkg/sub.py", "ORIGIN = 'sub'\n")
        sys.path.insert(0, user_zip)
        read = zipimport._read_directory
        reads: list = []
        try:
            importlib.import_module("zf_worker_pkg")
            release_spark_zip_finders()
            after_release = spark_finders()

            def counting(archive):
                reads.append(archive)
                return read(archive)

            zipimport._read_directory = counting
            importlib.invalidate_caches()
            # new submodules still import from both archives
            sys.modules.pop("pyspark.find_spark_home", None)
            spark_sub = importlib.import_module("pyspark.find_spark_home")
            user_sub = importlib.import_module("zf_worker_pkg.sub")
            sub_archives = [
                getattr(spark_sub.__spec__.loader, "archive", ""),
                getattr(user_sub.__spec__.loader, "archive", ""),
            ]
        finally:
            zipimport._read_directory = read
            sys.path.remove(user_zip)
            for name in ("zf_worker_pkg", "zf_worker_pkg.sub"):
                sys.modules.pop(name, None)
            for k in [k for k in sys.path_importer_cache if k.startswith(user_zip)]:
                del sys.path_importer_cache[k]
            zipimport._zip_directory_cache.pop(user_zip, None)
            shutil.rmtree(tmp)
            # undo this task's own imports, as a call site's first-line
            # release would on the worker's next task
            release_spark_zip_finders()

        yield pa.RecordBatch.from_pylist(
            [
                {
                    "pid": os.getpid(),
                    "runs": runs,
                    "pyspark_archive": pyspark_archive,
                    "at_start": at_start,
                    "after_release": after_release,
                    "spark_reads": [a for a in reads if _is_spark_archive(a)],
                    "user_reads": reads.count(user_zip),
                    "sub_archives": sub_archives,
                    "user_zip": user_zip,
                }
            ]
        )

    schema = (
        "pid long, runs long, pyspark_archive string, "
        "at_start array<string>, after_release array<string>, "
        "spark_reads array<string>, user_reads long, "
        "sub_archives array<string>, user_zip string"
    )
    df = spark.range(0, 4, numPartitions=4)
    rows = []
    # 40 tasks: FIFO reuse of the idle workers gives each of up to 13
    # workers at least three of them
    for _ in range(10):
        rows += df.mapInArrow(task, schema).collect()
    if not all(os.path.basename(r.pyspark_archive) == "pyspark.zip" for r in rows):
        pytest.skip("Python workers do not import pyspark from pyspark.zip")
    for r in rows:
        assert r.after_release == []
        assert r.spark_reads == []
        assert r.user_reads >= 1
        assert r.sub_archives == [r.pyspark_archive, r.user_zip]
    warm = [r for r in rows if r.runs >= 2]
    assert warm
    for r in warm:
        assert r.at_start == [], (r.pid, r.runs)
