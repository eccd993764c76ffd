"""Shared MARC record fixtures, modeled on the reference's purpose-named
test records (test/test_support/*) but authored independently."""

import os

from traject_spark.marc.schema import marc_record

# A traject v3.8 checkout, whose own test fixtures some tests read.
# Those tests skip, or fall back to a stand-in under tests/data/
# (FIXTURES.md, "In-repo stand-ins"), where it is absent.
REFERENCE = "/root/reference"
REFERENCE_SUPPORT = os.path.join(REFERENCE, "test", "test_support")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def reference_or_local(name, local):
    """The reference fixture ``test_support/<name>`` where the checkout
    has it, else the in-repo stand-in ``tests/data/<local>``."""
    ref = os.path.join(REFERENCE_SUPPORT, name)
    return ref if os.path.exists(ref) else os.path.join(DATA, local)

# A "manufacturing consent"-style record: typical book with title/author/
# isbn/oclc/subjects — mirrors the role of the reference's
# manufacturing_consent.marc fixture.
BOOK = marc_record(
    leader="01234cam a2200301 a 4500",
    controlfields=[
        ("001", "2710183"),
        ("008", "880520s1988    nyu      b    001 0 eng  "),
    ],
    datafields=[
        ("010", " ", " ", [("a", "   88009220 ")]),
        ("020", " ", " ", [("a", "0394549260 :"), ("c", "$24.95")]),
        ("020", " ", " ", [("a", "0394748239 (pbk.) :"), ("c", "$14.95")]),
        ("035", " ", " ", [("a", "(OCoLC)17508918")]),
        ("035", " ", " ", [("a", "ocm00000123")]),
        ("035", " ", " ", [("a", "ABC17508918")]),
        ("040", " ", " ", [("a", "DLC"), ("c", "DLC"), ("d", "DLC")]),
        ("050", "0", "0", [("a", "P95.82.U6"), ("b", "H47 1988")]),
        ("100", "1", " ", [("a", "Herman, Edward S.")]),
        (
            "245",
            "1",
            "0",
            [
                ("a", "Manufacturing consent :"),
                ("b", "the political economy of the mass media /"),
                ("c", "Edward S. Herman and Noam Chomsky."),
            ],
        ),
        ("260", " ", " ", [("a", "New York :"), ("b", "Pantheon Books,"), ("c", "c1988.")]),
        ("300", " ", " ", [("a", "xx, 412 p. ;"), ("c", "25 cm.")]),
        ("650", " ", "0", [("a", "Mass media"), ("x", "Political aspects"), ("z", "United States.")]),
        ("650", " ", "0", [("a", "Mass media"), ("x", "Economic aspects")]),
        ("700", "1", " ", [("a", "Chomsky, Noam.")]),
    ],
)

# Title with non-filing indicator (ind2=4 -> "The ")
THE_TITLE = marc_record(
    leader="00000cam a2200000 a 4500",
    controlfields=[("001", "the1"), ("008", "990101s1999    xxu           000 0 eng  ")],
    datafields=[
        ("245", "1", "4", [("a", "The fateful triangle :"), ("b", "essays.")]),
    ],
)

# 880 alternate-script pair (Hebrew-style linkage)
ALT_SCRIPT = marc_record(
    leader="00000cam a2200000 a 4500",
    controlfields=[("001", "alt1")],
    datafields=[
        ("245", "1", "0", [("6", "880-01"), ("a", "Romanized title")]),
        ("880", "1", "0", [("6", "245-01"), ("a", "עברית כותרת")]),
        ("880", "1", "0", [("a", "orphan 880 no $6")]),
    ],
)

# Empty-ish record (only 001), the reference's empty-record guard
EMPTY = marc_record(
    leader="00000cam a2200000 a 4500",
    controlfields=[("001", "empty1")],
)


def as_rows(*records_with_ids):
    return [(rid, rec) for rid, rec in records_with_ids]
