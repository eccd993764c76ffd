"""Bounded batching for Arrow-bridged Python generators.

Every ``mapInPandas`` parser/fan-out in this repo yields pandas frames
whose rows it builds in Python first. Yielding one frame per input
batch makes task memory proportional to INPUT size (a 110 MB binary
MARC file is ~190k nested dicts) — the r12 sf1 soak measured the
binary reader at 17x time for 10x data from exactly this.
:func:`batched_rows` is the one shared flush policy: bounded by row
count and, when rows carry payloads of wildly varying size, by
approximate bytes.

Yields nothing for an empty input — load-bearing: an empty pandas
DataFrame defaults object columns to float64, which Arrow cannot cast
to a struct/binary schema (task crash), and ``mapInPandas`` is happy
with zero yields.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Optional

__all__ = ["batched_rows", "DEFAULT_CHUNK_ROWS", "DEFAULT_CHUNK_BYTES"]

#: rows per output batch: small enough that ~KB records stay ~10s of MB
DEFAULT_CHUNK_ROWS = 10_000

#: byte flush threshold for payload-bearing rows: 10k multi-MB
#: payloads would still be tens of GB on a row-count bound
DEFAULT_CHUNK_BYTES = 64 << 20


def batched_rows(
    rows: Iterable,
    to_frame: Callable,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    row_bytes: Optional[Callable] = None,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> Iterator:
    """Buffer ``rows`` and yield ``to_frame(buffer)`` in bounded batches.

    ``to_frame`` receives a non-empty list of whatever ``rows`` yields.
    ``row_bytes(row)`` (optional) adds a byte-based flush for rows whose
    memory is dominated by a variable-size payload.
    """
    buf: list = []
    size = 0
    for row in rows:
        buf.append(row)
        if row_bytes is not None:
            size += row_bytes(row)
        if len(buf) >= chunk_rows or (
            row_bytes is not None and size >= chunk_bytes
        ):
            yield to_frame(buf)
            buf = []
            size = 0
    if buf:
        yield to_frame(buf)
