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
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

__all__ = ["batched_rows", "DEFAULT_CHUNK_ROWS"]

#: rows per output batch: small enough that ~KB records stay ~10s of MB
DEFAULT_CHUNK_ROWS = 10_000


def batched_rows(
    rows: Iterable,
    to_frame: Callable,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
) -> Iterator:
    """Buffer ``rows`` and yield ``to_frame(buffer)`` in batches of at most
    ``chunk_rows``; ``to_frame`` receives a non-empty list of whatever
    ``rows`` yields."""
    buf: list = []
    for row in rows:
        buf.append(row)
        if len(buf) >= chunk_rows:
            yield to_frame(buf)
            buf = []
    if buf:
        yield to_frame(buf)
