"""Bounded batching for Arrow-bridged Python generators.

Every ``mapInPandas`` parser/fan-out in this repo yields pandas frames
whose rows it builds in Python first. Yielding one frame per input
batch makes task memory proportional to INPUT size (a 110 MB binary
MARC file is ~190k nested dicts) — the r12 sf1 soak measured the
binary reader at 17x time for 10x data from exactly this.
:func:`batched_rows` is the one shared flush policy: bounded by row
count.

Yields nothing for an empty input — load-bearing: an empty pandas
DataFrame defaults object columns to float64, which Arrow cannot cast
to a struct/binary schema (task crash), and ``mapInPandas`` is happy
with zero yields.

:func:`release_spark_zip_finders` is the one per-task worker hook:
every function this package hands to a Python worker calls it at its
top.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Callable, Iterable, Iterator

__all__ = ["batched_rows", "release_spark_zip_finders", "DEFAULT_CHUNK_ROWS"]

#: rows per output batch: small enough that ~KB records stay ~10s of MB
DEFAULT_CHUNK_ROWS = 10_000


def _is_spark_archive(archive: str) -> bool:
    """Spark's own archives, the ones ``PythonUtils.sparkPythonPath``
    puts on a worker's PYTHONPATH: ``pyspark.zip``, ``py4j-*.zip`` and
    the ``spark-core_*.jar`` that holds ``PythonUtils`` itself."""
    name = os.path.basename(archive)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def release_spark_zip_finders() -> None:
    """Drop the cached zip finders of Spark's own archives, so the next
    Python task on this (reused) worker does not re-read them.

    PySpark's worker calls ``importlib.invalidate_caches()`` before
    every task (``pyspark/worker_util.py``, ``setup_spark_files``). On
    Python 3.11 that makes every ``zipimport.zipimporter`` in
    ``sys.path_importer_cache`` re-read its archive's directory. A
    worker holds 16 of them: 12 for package paths inside
    ``pyspark.zip`` (1,328 entries, ~10 ms a read), 2 for the py4j zip
    and 2 for the spark-core jar (5,359 entries, ~39 ms a read) that
    every stdlib import probes on its way down the path; together
    0.21-0.25 CPU-s at the start of every task on a 4-core host.
    Spark's archives do not change while a worker lives, so their
    finders are deleted here; a later import re-creates one from
    zipimport's in-process directory cache without reading the file.
    Archives shipped with ``addPyFile`` / ``--py-files`` keep their
    finders and so their per-task re-read.

    The saving needs ``spark.python.worker.reuse`` (Spark's default,
    true): a fresh worker's first task still pays once. On Python 3.12
    and later zipimport's invalidation is lazy (a directory is re-read
    only at the next import from that archive), so there is less to
    save, and the call stays a cheap scan of the finder cache. Call it
    at the top of every function that runs on a Python worker, after
    that function's own imports: a first-time import re-creates the
    finders it passes on its way down ``sys.path``.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and _is_spark_archive(
            finder.archive
        ):
            del cache[path]


def batched_rows(
    rows: Iterable,
    to_frame: Callable,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
) -> Iterator:
    """Buffer ``rows`` and yield ``to_frame(buffer)`` in batches of at most
    ``chunk_rows``; ``to_frame`` receives a non-empty list of whatever
    ``rows`` yields."""
    release_spark_zip_finders()
    buf: list = []
    for row in rows:
        buf.append(row)
        if len(buf) >= chunk_rows:
            yield to_frame(buf)
            buf = []
    if buf:
        yield to_frame(buf)
