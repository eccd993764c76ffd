"""The ISO 2709 reader pinned on an edge-case MARC-8 stream.

``tests/data/marc8_edge.mrc`` (FIXTURES.md, "MARC-8 edge stream") holds
ANSEL diacritics, stranded marks, NCRs, C0 controls, Greek, Cyrillic and
EACC escapes, broken directories, a record shorter than a leader, one
without 001, empty subfields, padding between records and a truncated
tail. ``marc8_edge_golden.json`` is what ``read_iso2709`` returned for it
before the reader parsed straight into Arrow columns; both read paths
and the one-record ``from_iso2709`` must keep returning it.
"""

import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.fixtures import DATA
from traject_spark.marc.marc8 import marc8_decoder, marc8_to_unicode
from traject_spark.marc.serialize import (
    FT,
    RT,
    SD,
    Iso2709Columns,
    _decoder,
    from_iso2709,
    split_iso2709_stream,
)

EDGE = os.path.join(DATA, "marc8_edge.mrc")
ENCODINGS = ("MARC-8", "MARC-8-preserve")


def _golden(encoding):
    with open(os.path.join(DATA, "marc8_edge_golden.json"), encoding="utf-8") as fh:
        return json.load(fh)[encoding]


def _rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def _canonical(rows):
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_edge_stream_from_iso2709_matches_golden(encoding):
    with open(EDGE, "rb") as fh:
        raws = split_iso2709_stream(fh.read())
    recs = [from_iso2709(r, encoding) for r in raws]
    golden = _golden(encoding)
    assert [r for r in recs if r is not None] == [g["marc"] for g in golden]
    assert sum(r is None for r in recs) == 1  # the record shorter than a leader


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_edge_stream_read_iso2709_whole_file_matches_golden(spark, encoding):
    from traject_spark.marc.io import read_iso2709

    assert _rows(read_iso2709(spark, EDGE, encoding=encoding)) == _golden(encoding)


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_edge_stream_read_iso2709_byte_ranges_matches_golden(spark, encoding):
    from traject_spark.marc.io import read_iso2709

    df = read_iso2709(
        spark, EDGE, encoding=encoding, split_bytes=300, range_bytes=300
    )
    # six ranges over the 1,647-byte file; every record has one owner
    assert _canonical(_rows(df)) == _canonical(_golden(encoding))


def test_edge_stream_columns_hold_ids_and_offsets():
    """The column buffers behind both read paths: one id per record
    (None without 001) and list offsets that close every list."""
    with open(EDGE, "rb") as fh:
        raws = split_iso2709_stream(fh.read())
    cols = Iso2709Columns("MARC-8", "001")
    added = [cols.add(r) for r in raws]
    golden = _golden("MARC-8")
    assert added.count(True) == len(cols) == len(golden)
    assert cols.ids == [g["record_id"] for g in golden]
    assert len(cols.cf_offsets) == len(cols.df_offsets) == len(cols) + 1
    assert cols.cf_offsets[-1] == len(cols.cf_tags) == len(cols.cf_values)
    assert cols.df_offsets[-1] == len(cols.df_tags)
    assert len(cols.sf_offsets) == len(cols.df_tags) + 1
    assert cols.sf_offsets[-1] == len(cols.sf_codes) == len(cols.sf_values)


# ---------------------------------------------------------------------------
# Spark-free properties of the two decode shortcuts
# ---------------------------------------------------------------------------


_escape_free = st.binary(max_size=40).map(lambda b: b.replace(b"\x1b", b""))
_diacritic_heavy = st.lists(
    st.sampled_from(
        [b"a", b"e", b" ", b"\xe1", b"\xe2", b"\xe8", b"\xf0", b"\xb2",
         b"\xa5", b"\xaf", b"\xff", b"\x07", b"\x7f", b"\t", b"&#x41;",
         b"&#x301;", b"&#xF0041;", b"&#x", b";"]
    ),
    max_size=16,
).map(b"".join)


@settings(max_examples=400, deadline=None)
@given(st.one_of(_escape_free, _diacritic_heavy))
def test_escape_free_table_path_equals_state_machine(raw):
    """With no escape byte, ``marc8_decoder`` answers from the default
    sets' translate table (or the ASCII fast path) without the state
    machine; both postures must equal ``marc8_to_unicode``."""
    assert marc8_decoder()(raw) == marc8_to_unicode(raw)
    assert marc8_decoder("preserve")(raw) == marc8_to_unicode(
        raw, unmapped="preserve"
    )


def _one_field_record(body: bytes) -> bytes:
    """An ISO 2709 record whose only field is datafield 245 = ``body``."""
    directory = b"245" + b"%04d" % (len(body) + 1) + b"00000" + FT
    base = 24 + len(directory)
    total = base + len(body) + 2
    leader = b"%05dcam a22%05d a 4500" % (total, base)
    return leader + directory + body + FT + RT


_body = st.lists(
    st.sampled_from(
        [b"\x1f", b"\x1fa", b"\x1f&", b"a", b"Z", b" ", b"\t", b"\n",
         b"&#x41;", b"&#x263A;", b"&#x", b"e", b"/", b"\xe2", b"\xc3\xa9",
         b"\x01", b"\x1b(N", b"\x7f"]
    ),
    max_size=24,
).map(b"".join)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.sampled_from([b" ", b"0", b"1", b"a", b"\xb2", b"\x1f", b"\x07"]),
        min_size=2,
        max_size=2,
    ).map(b"".join),
    _body,
)
def test_whole_field_decode_equals_per_subfield_decode(inds, rest):
    """A printable-ASCII datafield body is decoded once and split on
    0x1F; any body must give what decoding it subfield by subfield
    gives (MARC-8 NCRs expand per value, so an NCR-shaped subfield code
    stays literal)."""
    body = inds + rest
    for encoding in ("MARC-8", "MARC-8-preserve", "utf-8", "latin-1", "cp037"):
        dec = _decoder(encoding)[0]
        want = [
            (dec(chunk[:1]), dec(chunk[1:])) for chunk in rest.split(SD) if chunk
        ]
        rec = from_iso2709(_one_field_record(body), encoding)
        (field,) = rec["datafields"]
        got = [(sf["code"], sf["value"]) for sf in field["subfields"]]
        assert got == want, encoding
        assert field["ind1"] == (dec(inds[:1]) or " ")
        assert field["ind2"] == (dec(inds[1:2]) or " ")


def test_surrogate_ncr_value_reads(spark, tmp_path):
    """A MARC-8 value carrying an NCR for a surrogate code point reads
    as literal text; the lone surrogate it would otherwise expand to has
    no UTF-8 form and failed the whole read task in Arrow."""
    from traject_spark.marc.io import read_iso2709
    from traject_spark.marc.serialize import to_iso2709

    rec = {
        "leader": "00000cam a2200000 a 4500",
        "controlfields": [{"tag": "001", "value": "s1"}],
        "datafields": [
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "a", "value": "PLACEHOLDER"}]},
        ],
    }
    raw = to_iso2709(rec, encoding="MARC-8")
    # same length, so the directory still points at the right bytes
    raw = raw.replace(b"PLACEHOLDER", b"a&#xD800;bc")
    path = tmp_path / "surrogate.mrc"
    path.write_bytes(raw * 2)
    rows = _rows(read_iso2709(spark, str(path), encoding="MARC-8"))
    values = [
        r["marc"]["datafields"][0]["subfields"][0]["value"] for r in rows
    ]
    assert values == ["a&#xD800;bc", "a&#xD800;bc"]
