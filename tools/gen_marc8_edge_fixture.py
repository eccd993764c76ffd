"""Write tests/data/marc8_edge.mrc: a MARC-8 ISO 2709 stream of edge cases.

Each record is built with ``to_iso2709`` and then has bytes edited by
hand, always replacing a unique placeholder with bytes of the same
length, so the directory's lengths and offsets stay valid unless an edit
means to break them. What each record carries is listed in FIXTURES.md
("MARC-8 edge stream").

Run from the repo root:  python tools/gen_marc8_edge_fixture.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from traject_spark.marc.schema import marc_record  # noqa: E402
from traject_spark.marc.serialize import to_iso2709  # noqa: E402

OUT = os.path.join("tests", "data", "marc8_edge.mrc")
F008 = "880520s1988    nyu      b    001 0 eng  "


def m8(rec: dict) -> bytes:
    return to_iso2709(rec, encoding="MARC-8")


def patch(raw: bytes, old: bytes, new: bytes) -> bytes:
    """Replace the one occurrence of ``old`` with ``new`` (same length)."""
    assert len(old) == len(new), (old, new)
    assert raw.count(old) == 1, (old, raw.count(old))
    return raw.replace(old, new)


def entry(raw: bytes, tag: bytes) -> int:
    """Byte offset of the directory entry for ``tag`` (first match)."""
    base = int(raw[12:17])
    directory = raw[24 : base - 1]
    for i in range(0, len(directory), 12):
        if directory[i : i + 3] == tag:
            return 24 + i
    raise KeyError(tag)


def set_entry(raw: bytes, tag: bytes, length: bytes | None = None, start: bytes | None = None):
    at = entry(raw, tag)
    out = bytearray(raw)
    if length is not None:
        out[at + 3 : at + 7] = length
    if start is not None:
        out[at + 7 : at + 12] = start
    return bytes(out)


def diacritics() -> bytes:
    """ANSEL spacing and combining characters, stranded marks, NCRs and
    C0 controls in an otherwise ordinary record."""
    rec = marc_record(
        leader="00000cam a2200000 a 4500",
        controlfields=[("001", "edge-001"), ("005", "QQ05"), ("008", F008)],
        datafields=[
            ("100", "1", " ", [("a", "Dvořák, Antonín,"), ("d", "1841-1904.")]),
            ("245", "1", "0", [
                ("a", "Café København :"),
                ("b", "œuvres © ℗ 中文 /"),
                ("c", "Ærø ǿ Łódź ‡."),
            ]),
            ("246", "3", " ", [("a", "Literal &#x41; stays"), ("b", "e&#x301;")]),
            ("500", " ", " ", [
                ("a", "QQ500A"),
                ("b", "QQ500B"),
                ("c", "QQ500C"),
                ("d", "QQ500D"),
                ("e", "tab\there, newline\nand cr\r"),
            ]),
            ("505", "0", " ", [("a", "&#x263A; raw NCR QQ505")]),
        ],
    )
    raw = m8(rec)
    raw = patch(raw, b"QQ05", b"\x01\x02\x7f!")  # C0 controls + DEL
    raw = patch(raw, b"QQ500A", b"stray\xe2")  # stranded combining mark
    raw = patch(raw, b"QQ500B", b"\xe2\xe8\x07xy!")  # marks before a C0
    raw = patch(raw, b"QQ500C", b"\xaf\xbb\xff\xa0 z")  # unmapped G1 bytes
    raw = patch(raw, b"QQ500D", b"\xe1a\xe3o\xf0c")  # marks on each base
    raw = patch(raw, b"QQ505", b"&#x4E")  # an NCR with no closing ';'
    return raw


def scripts() -> bytes:
    """Designation escapes: a Greek and a Cyrillic span (written by the
    encoder), an EACC span, an unknown escape, a truncated escape, a
    non-ASCII indicator, subfield code and tag."""
    rec = marc_record(
        leader="00000cam a2200000 a 4500",
        controlfields=[("001", "edge-002"), ("008", F008)],
        datafields=[
            ("245", "1", "0", [("a", "Война и мир /"), ("c", "Лев Толстой.")]),
            ("246", "1", "Q", [("a", "λόγος καὶ ἔργον")]),
            ("500", " ", " ", [("a", "EACC QQ500EACC tail"), ("b", "after")]),
            ("590", " ", " ", [
                ("a", "QQ590A"),
                ("b", "QQ590B"),
                ("Q", "mark as code"),
            ]),
            ("59Q", " ", " ", [("a", "odd tag")]),
            ("880", "1", "0", [("6", "245-01/(N"), ("a", "Мир")]),
        ],
    )
    raw = m8(rec)
    # EACC (CJK) span: ESC $ 1, two 3-byte characters, back to ASCII
    raw = patch(raw, b"QQ500EACC", b"\x1b$1!0d\x1b(B")
    raw = patch(raw, b"QQ590A", b"ab\x1bZcd")  # unknown final
    raw = patch(raw, b"QQ590B", b"xyzzy\x1b")  # truncated escape
    raw = patch(raw, b"\x1fQ", b"\x1f\xe2")  # combining mark as code
    raw = patch(raw, b"1Q\x1fa", b"1\xb2\x1fa")  # ind2 0xB2 (o-slash)
    at = entry(raw, b"59Q")
    return raw[: at + 2] + b"\xa5" + raw[at + 3 :]  # tag "59" + 0xA5


def directory_faults() -> tuple:
    """Zeroed directory slots (recovered by scanning) and non-numeric
    entries (skipped, which also breaks zero-offset recovery)."""
    rec = marc_record(
        leader="00000cam a2200000 a 4500",
        controlfields=[("001", "edge-003"), ("008", F008)],
        datafields=[
            ("100", "1", " ", [("a", "Zeroed, Slots.")]),
            ("245", "1", "0", [("a", "Length and start zeroed")]),
            ("260", " ", " ", [("c", "1999.")]),
            ("500", " ", " ", [("a", "Start zeroed only")]),
        ],
    )
    zeroed = m8(rec)
    zeroed = set_entry(zeroed, b"245", length=b"0000", start=b"00000")
    zeroed = set_entry(zeroed, b"500", start=b"00000")
    rec = marc_record(
        leader="00000cam a2200000 a 4500",
        controlfields=[("001", "edge-004"), ("008", F008)],
        datafields=[
            ("100", "1", " ", [("a", "Bad, Entry.")]),
            ("245", "1", "0", [("a", "Dropped: zero start after the gap")]),
            ("260", " ", " ", [("c", "Read normally")]),
            ("500", " ", " ", [("a", "Read normally")]),
            ("650", " ", "0", [("a", "Non-numeric start")]),
        ],
    )
    bad = m8(rec)
    bad = set_entry(bad, b"100", length=b"00a5")
    bad = set_entry(bad, b"245", start=b"00000")
    bad = set_entry(bad, b"650", start=b"0x012")
    return zeroed, bad


def no_001_and_empty_subfields() -> bytes:
    """No 001 (null record id) and empty subfields."""
    rec = marc_record(
        leader="00000nam a2200000 a 4500",
        controlfields=[("003", "DLC"), ("008", F008)],
        datafields=[
            ("245", "0", "0", [("a", ""), ("b", "QQB"), ("c", "end")]),
            ("500", " ", " ", []),
            ("520", " ", " ", [("a", "QQ520")]),
        ],
    )
    raw = m8(rec)
    raw = patch(raw, b"\x1fbQQB", b"\x1f\x1f\x1fbQ")  # two empty chunks
    return patch(raw, b"QQ520", b"\x1f\x1f\x1fz\x1f")  # code-only z


def tail() -> bytes:
    """A record cut off before its terminator (the file's last bytes)."""
    rec = marc_record(
        leader="00000cam a2200000 a 4500",
        controlfields=[("001", "edge-009"), ("008", F008)],
        datafields=[
            ("245", "1", "0", [("a", "Truncated at the end of the file")]),
            ("500", " ", " ", [("a", "This note loses its last bytes")]),
        ],
    )
    return m8(rec)[:-12]


def main() -> None:
    zeroed, bad = directory_faults()
    parts = [
        b"\r\n",  # leading padding
        diacritics(),
        b"\x00\r\n",
        scripts(),
        zeroed,
        b"\r\n\x00\x00",
        b"tiny record\x1d",  # shorter than a leader
        bad,
        b"\n",
        no_001_and_empty_subfields(),
        b"\x00\x00\r\n",
        tail(),
    ]
    with open(OUT, "wb") as fh:
        fh.write(b"".join(parts))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
