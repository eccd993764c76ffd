"""MARC-8 converter tests (VERDICT r10 missing item #1).

Reference behavior: marc_reader.rb:27-35,79 — `marc_source.encoding =
'MARC-8'` converts to UTF-8 with :invalid => :replace. The golden test
synthesizes a MARC-8 fixture by ENCODING a UTF-8 record and asserts the
binary reader round-trips it to the same struct as its UTF-8 twin.
"""

import unicodedata

import pytest

from traject_spark.marc.marc8 import (
    Marc8DecodeError,
    marc8_to_unicode,
    unicode_to_marc8,
)
from traject_spark.marc.serialize import from_iso2709, to_iso2709

from tests.fixtures import REFERENCE_SUPPORT


# ---------------------------------------------------------------------------
# decoder units
# ---------------------------------------------------------------------------

def test_ascii_passthrough():
    assert marc8_to_unicode(b"Hello, MARC-8 world! 123") == (
        "Hello, MARC-8 world! 123"
    )


def test_ansel_spacing_characters():
    # G1 bytes need no escape: 0xA5 AE, 0xB2 o-slash, 0xC3 copyright
    assert marc8_to_unicode(b"\xa5neid") == "Æneid"
    assert marc8_to_unicode(b"K\xb2benhavn") == "København"
    assert marc8_to_unicode(b"\xc3 2020") == "© 2020"


def test_combining_marks_reorder_and_compose():
    # MARC-8: acute (0xE2) PRECEDES the base 'e'; Unicode composes to é
    assert marc8_to_unicode(b"caf\xe2e") == "café"
    # double diacritic: cedilla + acute on 'e' keeps mark order
    got = marc8_to_unicode(b"\xf0\xe2e", normalize="")
    assert got == "ȩ́"
    # NFC default composes base+first mark where a composition exists
    assert marc8_to_unicode(b"\xf0\xe2e") == unicodedata.normalize(
        "NFC", "ȩ́"
    )


def test_stranded_combining_mark_survives():
    # a trailing mark with no following base char is kept, not dropped
    assert marc8_to_unicode(b"x\xe2", normalize="") == "x́"


def test_technique1_escapes_greek_sub_super():
    # ESC g alpha, ESC s back; ESC b subscript 2; ESC p superscript 2
    assert marc8_to_unicode(b"\x1bga\x1bs rays") == "α rays"
    assert marc8_to_unicode(b"H\x1bb2\x1bsO") == "H₂O"
    assert marc8_to_unicode(b"E=mc\x1bp2\x1bs") == "E=mc²"


def test_technique2_hebrew_designation():
    # ESC ( 2 designates Basic Hebrew into G0: 0x60 is alef
    raw = b"\x1b(2\x60\x61\x62\x1b(B abc"
    assert marc8_to_unicode(raw) == "אבג abc"


def test_g1_designation_keeps_ascii_g0():
    # ESC ) 2 designates Hebrew into G1: high-bit bytes map, low stay ASCII
    raw = b"\x1b)2ab\xe0\xfa"
    assert marc8_to_unicode(raw) == "abאת"


def test_unmapped_set_replaces_or_raises():
    # Extended Arabic ('4') is escape-recognized but has no bundled
    # table (r12 shipped Cyrillic/Greek/Basic Arabic; Extended Arabic
    # and EACC remain replacement-decoded)
    raw = b"\x1b(4abc\x1b(B ok"
    assert marc8_to_unicode(raw) == "��� ok"
    with pytest.raises(Marc8DecodeError, match="Arabic"):
        marc8_to_unicode(raw, replace=False)


def test_cyrillic_set_decodes():
    # Basic Cyrillic ('N') gained its ISO 5427 table in r12: lowercase
    # sits at 0x40-0x5F, uppercase at 0x60-0x7E (KOI ordering)
    raw = b"\x1b(NmOSKWA\x1b(B ok"
    assert marc8_to_unicode(raw) == "Москва ok"


def test_eacc_multibyte_consumes_triples():
    # EACC (ESC $ 1): 3 bytes -> ONE replacement char, stream stays sync
    raw = b"\x1b$1abcdef\x1b(Bxy"
    assert marc8_to_unicode(raw) == "��xy"


def test_truncated_escape_is_replaced_not_crash():
    assert marc8_to_unicode(b"ab\x1b") == "ab�"
    with pytest.raises(Marc8DecodeError, match="truncated"):
        marc8_to_unicode(b"ab\x1b", replace=False)


def test_unmappable_byte_replace_parity():
    # 0xBB has no ANSEL assignment: :invalid => :replace parity
    assert marc8_to_unicode(b"a\xbbz") == "a�z"
    with pytest.raises(Marc8DecodeError):
        marc8_to_unicode(b"a\xbbz", replace=False)


# ---------------------------------------------------------------------------
# encoder + round-trip
# ---------------------------------------------------------------------------

ROUND_TRIP_SAMPLES = [
    "plain ascii only",
    "café crème — wait, no em dash",  # composed latin
    "Œuvres complètes de Kierkegård",
    "señor año niño",
    "Dvořák, Antonín",
    "H₂O and E=mc²",
    "α-particles and β-decay",
    "אבג hebrew letters",
    "Æneid øre © ± ·",
    "Ngô Đình Diệm",  # Vietnamese horn vowels + diacritics
]


@pytest.mark.parametrize("text", [t for t in ROUND_TRIP_SAMPLES if "—" not in t])
def test_text_round_trips_through_marc8(text):
    assert marc8_to_unicode(unicode_to_marc8(text)) == unicodedata.normalize(
        "NFC", text
    )


def test_em_dash_refuses_to_encode():
    with pytest.raises(ValueError, match="U\\+2014"):
        unicode_to_marc8("wait — no")


def test_cyrillic_encodes_since_r12():
    assert marc8_to_unicode(unicode_to_marc8("Москва")) == "Москва"


def test_cjk_still_refuses_to_encode():
    with pytest.raises(ValueError, match="outside the bundled"):
        unicode_to_marc8("東京")


# ---------------------------------------------------------------------------
# golden: MARC-8 fixture round-trips to the UTF-8 twin's struct
# ---------------------------------------------------------------------------

def _twin_bytes(rec):
    """UTF-8 bytes and MARC-8 bytes of the same logical record (the
    MARC-8 fixture is synthesized by encoding the UTF-8 twin's strings,
    per VERDICT r10 next-round #2)."""
    utf8_bytes = to_iso2709(rec)

    # build the MARC-8 twin by re-encoding every string slot
    def m8(s):
        return unicode_to_marc8(s)

    body_fields = []
    for cf in rec["controlfields"]:
        body_fields.append((cf["tag"], m8(cf["value"]) + b"\x1e"))
    for df in rec["datafields"]:
        body = df["ind1"].encode() + df["ind2"].encode()
        for sf in df["subfields"]:
            body += b"\x1f" + sf["code"].encode() + m8(sf["value"])
        body_fields.append((df["tag"], body + b"\x1e"))
    directory = b""
    data = b""
    for tag, body in body_fields:
        directory += (
            tag.encode() + f"{len(body):04d}".encode()
            + f"{len(data):05d}".encode()
        )
        data += body
    directory += b"\x1e"
    base = 24 + len(directory)
    total = base + len(data) + 1
    leader = f"{total:05d}" + rec["leader"][5:12] + f"{base:05d}" + rec[
        "leader"
    ][17:24]
    marc8_bytes = leader.encode() + directory + data + b"\x1d"
    return utf8_bytes, marc8_bytes


def _twin_records():
    title = "Dvořák in København : šest écrits"
    author = "Dvořák, Antonín, 1841-1904"
    note = "H₂O α-test א"
    rec = {
        "leader": "00000cam a2200000 a 4500",
        "controlfields": [{"tag": "001", "value": "m8-001"}],
        "datafields": [
            {"tag": "100", "ind1": "1", "ind2": " ",
             "subfields": [{"code": "a", "value": author}]},
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "a", "value": title}]},
            {"tag": "500", "ind1": " ", "ind2": " ",
             "subfields": [{"code": "a", "value": note}]},
        ],
    }
    utf8_bytes, marc8_bytes = _twin_bytes(rec)
    return rec, utf8_bytes, marc8_bytes


def test_golden_marc8_struct_matches_utf8_twin():
    rec, utf8_bytes, marc8_bytes = _twin_records()
    got_utf8 = from_iso2709(utf8_bytes, encoding="utf-8")
    got_m8 = from_iso2709(marc8_bytes, encoding="MARC-8")
    # leader length/base slots legitimately differ (MARC-8 and UTF-8
    # byte counts differ); every non-positional slot and all fields match
    assert got_m8["leader"][5:12] == got_utf8["leader"][5:12]
    assert got_m8["leader"][17:] == got_utf8["leader"][17:]
    assert got_m8["controlfields"] == got_utf8["controlfields"]
    assert got_m8["datafields"] == got_utf8["datafields"]
    # and both match the source struct (values NFC-composed already)
    assert got_m8["datafields"] == rec["datafields"]
    assert got_m8["controlfields"] == rec["controlfields"]


def test_marc8_encoding_name_variants():
    _, _, marc8_bytes = _twin_records()
    for name in ("MARC-8", "marc-8", "marc8", "MARC_8"):
        rec = from_iso2709(marc8_bytes, encoding=name)
        assert rec["controlfields"][0]["value"] == "m8-001"


def test_marc8_read_iso2709_through_spark(spark, tmp_path):
    """The reader plumbing: read_iso2709(..., encoding='MARC-8') decodes
    on executors inside the Arrow batch parse (marc_reader.rb:78-80)."""
    _, _, marc8_bytes = _twin_records()
    p = tmp_path / "m8.mrc"
    p.write_bytes(marc8_bytes * 3)

    from traject_spark.marc.io import read_iso2709

    df = read_iso2709(spark, str(p), encoding="MARC-8")
    rows = df.collect()
    assert len(rows) == 3
    title_field = [
        f for f in rows[0]["marc"]["datafields"] if f["tag"] == "245"
    ][0]
    assert title_field["subfields"][0]["value"] == (
        "Dvořák in København : šest écrits"
    )


def test_decoder_none_and_empty_encoding_default_utf8():
    """encoding=None/'' normalize to utf-8 for the MARC-8 check AND the
    codec fallback — b.decode(None) would TypeError on the first record
    (review r11)."""
    _rec, utf8_bytes, _m8 = _twin_records()
    for enc in (None, ""):
        rec = from_iso2709(utf8_bytes, encoding=enc)
        assert rec["controlfields"][0]["value"] == "m8-001"


def test_ascii_fast_path_parity_with_state_machine():
    """The pure-ASCII fast path must agree with the state machine on
    every boundary: printable ASCII takes it, while ESC, G1 bytes, C0
    controls, and DEL all route to the slow path (replace parity)."""
    assert marc8_to_unicode(b"plain field value 123") == (
        "plain field value 123"
    )
    # C0 control inside otherwise-ASCII bytes must REPLACE, not pass
    assert marc8_to_unicode(b"a\x01b") == "a�b"
    assert marc8_to_unicode(b"a\x7fb") == "a�b"
    # tab/newline/CR pass through on both paths
    assert marc8_to_unicode(b"a\tb\nc\rd") == "a\tb\nc\rd"
    with pytest.raises(Marc8DecodeError):
        marc8_to_unicode(b"a\x01b", replace=False)


def test_marc8_decoder_parity_with_marc8_to_unicode():
    """marc8_decoder (the ingest hot-path callable with the hoisted
    ASCII fast path) must agree with marc8_to_unicode on every input
    class: plain ASCII, NCRs, ANSEL diacritics, charset escapes,
    controls/DEL, and preserve-mode unmapped spans."""
    from traject_spark.marc.marc8 import marc8_decoder

    values = [
        b"",
        b"plain field value 123",
        b"a\tb\nc\rd",
        b"a\x01b",
        b"a\x7fb",
        b"Caf\xe2e &#x0041; tail",
        b"&#x1F600; emoji ref",
        b"\xa5neid",
        b"K\xb2benhavn",
        b"\x1b(N\xc1\xc2\xc3\x1b(B latin",  # Cyrillic escape + return
        b"\x1b$1abcd\x1b(B tail",  # EACC (unmapped set) span
        b"value \xff\xfe bytes",
    ]
    plain = marc8_decoder()
    preserve = marc8_decoder("preserve")
    for raw in values:
        assert plain(raw) == marc8_to_unicode(raw, replace=True), raw
        assert preserve(raw) == marc8_to_unicode(
            raw, replace=True, unmapped="preserve"
        ), raw
    with pytest.raises(ValueError):
        marc8_decoder("bogus")


# ---------------------------------------------------------------------------
# goldens against the reference's OWN MARC-8 fixtures
# ---------------------------------------------------------------------------


def _ref_record(name):
    import os

    path = os.path.join(REFERENCE_SUPPORT, name)
    if not os.path.exists(path):
        pytest.skip(f"reference fixture {name} not present")
    from traject_spark.marc.serialize import split_iso2709_stream

    raw = open(path, "rb").read()
    recs = [
        from_iso2709(r, encoding="MARC-8")
        for r in split_iso2709_stream(raw)
    ]
    assert len(recs) == 1
    return recs[0]


def _sub(rec, tag, code):
    for df in rec["datafields"]:
        if df["tag"] == tag:
            for sf in df["subfields"]:
                if sf["code"] == code:
                    return sf["value"]
    return None


def test_reference_marc8_fixture_transcodes():
    """The reference's own MARC-8 fixture decodes to the exact value its
    test asserts (marc_reader_test.rb:39-54: 245$a of one-marc8.mrc)."""
    rec = _ref_record("one-marc8.mrc")
    assert _sub(rec, "245", "a") == "Por uma outra globalização :"
    assert _sub(rec, "100", "a") == "Santos, Mílton"
    assert _sub(rec, "245", "b") == (
        "do pensamemto único à consciência universal /"
    )


def test_reference_marc8_ncr_expansion():
    """Numeric character references (&#xHHHH;) expand during transcode
    (marc_reader_test.rb:56-64: escaped_character_reference.marc8.marc
    must yield a literal U+FFFD)."""
    rec = _ref_record("escaped_character_reference.marc8.marc")
    assert _sub(rec, "260", "a") == (
        "Rio de Janeiro escaped replacement char: � ."
    )


def test_ncr_expansion_units():
    assert marc8_to_unicode(b"x &#x00E9; y") == "x é y"
    # out-of-range / malformed NCRs stay literal
    assert marc8_to_unicode(b"&#x110000; &#xZZ; &#x;") == (
        "&#x110000; &#xZZ; &#x;"
    )


def test_unrecognized_encoding_raises():
    """Unknown codec names raise, matching the reference's ArgumentError
    for marc_source.encoding = 'ADFADFADF' (marc_reader_test.rb:66-72)."""
    _rec, utf8_bytes, _m8 = _twin_records()
    with pytest.raises(LookupError):
        from_iso2709(utf8_bytes, encoding="ADFADFADF")


def test_round_trip_property_over_supported_alphabet():
    """Hypothesis: any string of supported units (ASCII printable, ANSEL
    spacing chars, base+combining stacks, Greek symbols, sub/superscript,
    Hebrew letters) survives encode->decode to its NFC form."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from traject_spark.marc.marc8 import (
        ANSEL_COMBINING, ANSEL_SPACING, BASIC_HEBREW, GREEK_SYMBOLS,
        SUBSCRIPT, SUPERSCRIPT,
    )

    from traject_spark.marc.marc8 import (
        BASIC_ARABIC, BASIC_CYRILLIC, BASIC_GREEK, EXTENDED_CYRILLIC,
    )

    ascii_ch = st.characters(min_codepoint=0x20, max_codepoint=0x7E)
    spacing = st.sampled_from([chr(c) for c in ANSEL_SPACING.values()])
    combining = st.sampled_from([chr(c) for c in ANSEL_COMBINING.values()])
    # r12 script sets: spacing chars only as bases (Arabic harakat and
    # Greek accents are combining in Unicode — leading marks are out of
    # the encoder's contract)
    scripts = st.sampled_from(sorted({
        chr(c)
        for t in (BASIC_CYRILLIC, EXTENDED_CYRILLIC, BASIC_GREEK,
                  BASIC_ARABIC)
        for c in t.values()
        if c >= 0x80 and not unicodedata.combining(chr(c))
    }))
    specials = st.sampled_from(
        [chr(c) for t in (GREEK_SYMBOLS, SUBSCRIPT, SUPERSCRIPT,
                          BASIC_HEBREW) for c in t.values()]
    )
    # a unit = a base char optionally followed by 1-2 combining marks
    # (stranded leading marks are out of contract)
    base = st.one_of(ascii_ch, spacing, specials, scripts)
    unit = st.builds(
        lambda b, marks: b + "".join(marks),
        base, st.lists(combining, max_size=2),
    )
    texts = st.lists(unit, min_size=0, max_size=20).map("".join)

    @settings(max_examples=300, deadline=None)
    @given(s=texts)
    def prop(s):
        got = marc8_to_unicode(unicode_to_marc8(s))
        assert got == unicodedata.normalize("NFC", s), (s, got)

    prop()


def test_decoder_total_under_replace_fuzz():
    """Under replace=True the decoder is a TOTAL function: arbitrary
    byte soup (random escapes, truncated sequences, multibyte spill,
    stray combining marks) must decode to SOME string, never raise —
    one malformed field must not kill a 100 TB ingest job."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=500, deadline=None)
    @given(raw=st.binary(max_size=64))
    def prop(raw):
        out = marc8_to_unicode(raw)
        assert isinstance(out, str)
        # and the lenient record parser stays total too
        from traject_spark.marc.serialize import from_iso2709

        from_iso2709(raw.ljust(24, b"0"), encoding="MARC-8")

    prop()


def test_encode_leading_combining_mark_raises():
    """ADVICE r12: a combining mark with no preceding base used to be
    spliced at offset 0, where the decoder attaches it to the FOLLOWING
    char — silently moving the diacritic. Unencodable shapes raise."""
    with pytest.raises(ValueError, match="no preceding base"):
        unicode_to_marc8("́abc")  # stranded acute
    # ...but a mark with a base still round-trips
    assert marc8_to_unicode(unicode_to_marc8("é")) == "é"


def test_decoder_strips_padded_codec_names():
    """ADVICE r12: ' latin-1 ' passes the marc8 check as non-MARC-8 but
    must decode via the STRIPPED codec name, not raise LookupError per
    value on executors."""
    _rec, utf8_bytes, _m8 = _twin_records()
    latin1 = utf8_bytes.decode("utf-8").encode("latin-1", "replace")
    rec = from_iso2709(latin1, encoding=" latin-1 ")
    assert rec["controlfields"][0]["value"] == "m8-001"


# ---------------------------------------------------------------------------
# r12: non-Latin script goldens (VERDICT r11 next-round #1) — vernacular
# 880-style fields round-trip through read_iso2709(encoding='MARC-8')
# to the same struct as their UTF-8 twins
# ---------------------------------------------------------------------------

def _script_record(title, author, note):
    return {
        "leader": "00000cam a2200000 a 4500",
        "controlfields": [{"tag": "001", "value": "twin-001"}],
        "datafields": [
            {"tag": "100", "ind1": "1", "ind2": " ",
             "subfields": [{"code": "a", "value": author}]},
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "a", "value": title}]},
            {"tag": "880", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "6", "value": "245-01"},
                           {"code": "a", "value": note}]},
        ],
    }


@pytest.mark.parametrize("title,author,note", [
    # Russian + Ukrainian (Basic + Extended Cyrillic incl. і ї є ё)
    ("Война и мир", "Толстой, Лев Николаевич",
     "Київська бібліотека: її історія"),
    # Arabic incl. hamza/madda forms and harakat
    ("الكتاب العربي", "نجيب محفوظ", "آداب اللغة العربية"),
    # polytonic Greek: breathings, perispomeni, iota subscript
    ("Δοκίμιον ἱστορίας", "Παπαδόπουλος, Γεώργιος",
     "ὧραι τῆς ἡμέρας· ᾠδή"),
], ids=["cyrillic", "arabic", "greek"])
def test_golden_script_twin_structs(title, author, note):
    rec = _script_record(title, author, note)
    utf8_bytes, marc8_bytes = _twin_bytes(rec)
    got_utf8 = from_iso2709(utf8_bytes, encoding="utf-8")
    got_m8 = from_iso2709(marc8_bytes, encoding="MARC-8")
    assert got_m8["datafields"] == got_utf8["datafields"]
    assert got_m8["controlfields"] == got_utf8["controlfields"]
    assert got_m8["datafields"] == rec["datafields"]


def test_script_twins_through_spark_reader(spark, tmp_path):
    recs = [
        _script_record("Война и мир", "Толстой", "Київ"),
        _script_record("الكتاب", "محفوظ", "آداب"),
        _script_record("ἱστορία", "Παπαδόπουλος", "ᾠδή"),
    ]
    p = tmp_path / "scripts.mrc"
    p.write_bytes(b"".join(_twin_bytes(r)[1] for r in recs))

    from traject_spark.marc.io import read_iso2709

    rows = read_iso2709(spark, str(p), encoding="MARC-8").collect()
    assert len(rows) == 3
    titles = sorted(
        sf["value"]
        for r in rows for f in r["marc"]["datafields"] if f["tag"] == "245"
        for sf in f["subfields"]
    )
    assert titles == sorted(["Война и мир", "الكتاب", "ἱστορία"])


# ---------------------------------------------------------------------------
# r12: cross-validate every generated table entry against glibc iconv
# (the tables were transcribed from the ISO registrations glibc ships;
# this pins the transcription byte-for-byte against an independent
# decoder at test time)
# ---------------------------------------------------------------------------

def _iconv_ok():
    import subprocess
    try:
        return subprocess.run(
            ["iconv", "-f", "ISO_5427", "-t", "UTF-8"], input=b"a",
            capture_output=True,
        ).returncode == 0
    except OSError:
        return False


@pytest.mark.skipif(not _iconv_ok(), reason="glibc iconv unavailable")
@pytest.mark.parametrize("table_name,charset", [
    ("BASIC_CYRILLIC", "ISO_5427"),
    ("EXTENDED_CYRILLIC", "ISO_5427-EXT"),
    ("BASIC_ARABIC", "ASMO_449"),
    ("BASIC_GREEK", "ISO_5428"),
])
def test_tables_match_iconv(table_name, charset):
    import subprocess

    from traject_spark.marc import marc8_scripts_data as data

    table = getattr(data, table_name)
    payload = bytes(sorted(table))
    got = subprocess.run(
        ["iconv", "-f", charset, "-t", "UTF-8", "-c"], input=payload,
        capture_output=True,
    ).stdout.decode()
    ours = []
    theirs = list(got)
    for b in sorted(table):
        cp = table[b]
        if table_name == "BASIC_GREEK" and b in data.GREEK_COMBINING_BYTES:
            # glibc maps ISO 5428's non-spacing accents to private-use
            # placeholders (charmap format predates combining marks);
            # -c drops chars it can't map, so skip the comparison and
            # pin our resolution separately below
            continue
        ours.append(chr(cp))
    comparable = [c for c in theirs if not (0xE000 <= ord(c) <= 0xF8FF)]
    assert ours == comparable, table_name


def test_greek_accent_resolution_composes():
    """The seven ISO 5428 accents resolve to combining marks that NFC
    must actually compose with Greek letters (the perispomeni choice:
    U+0342, not the generic tilde U+0303, which composes with none)."""
    import unicodedata as ud

    from traject_spark.marc.marc8_scripts_data import (
        BASIC_GREEK, GREEK_COMBINING_BYTES,
    )

    accents = {b: BASIC_GREEK[b] for b in GREEK_COMBINING_BYTES}
    assert accents == {0x21: 0x0300, 0x22: 0x0301, 0x23: 0x0308,
                       0x24: 0x0342, 0x25: 0x0313, 0x26: 0x0314,
                       0x27: 0x0345}
    # omega + perispomeni -> precomposed polytonic omega
    assert ud.normalize("NFC", "ῶ") == "ῶ"
    # alpha + psili -> precomposed
    assert ud.normalize("NFC", "ἀ") == "ἀ"


def test_ncr_fallback_makes_every_string_writable():
    """unicode_to_marc8(ncr_fallback=True) emits the standard's
    lossless &#xHHHH; escape for unmapped chars (CJK, em dash), which
    the decoder expands back — the write-side of the MARC-8 bench
    corpus (VERDICT r11 #7) depends on this totality."""
    for s in ("em — dash", "東京 CJK", "mixed नागरी ok", "plain"):
        b = unicode_to_marc8(s, ncr_fallback=True)
        assert marc8_to_unicode(b) == unicodedata.normalize("NFC", s), s
    # default posture unchanged: raise
    with pytest.raises(ValueError):
        unicode_to_marc8("東京")


def test_to_iso2709_marc8_encoding_round_trips():
    """to_iso2709(encoding='MARC-8') writes values through the LoC
    converter (NCR fallback for the unmappable) so the binary reader's
    MARC-8 decode path can be exercised on any corpus."""
    rec = _script_record("Война — мир", "Толстой", "آداب 東京")
    raw = to_iso2709(rec, encoding="MARC-8")
    got = from_iso2709(raw, encoding="MARC-8")
    assert got["datafields"] == rec["datafields"]


def test_polytonic_word_initial_breathings_encode():
    """Review r12: word-initial alpha routed to the Greek-Symbols set,
    stranding Greek-only accents (dasia/perispomeni/iota subscript).
    The decomposed path now designates Basic Greek for such bases."""
    for s in ("ἁμαρτία", "ἅγιος", "ᾆσμα", "ᾶ", "τῶν ἁγίων", "ἡ ὥρα"):
        got = marc8_to_unicode(unicode_to_marc8(s))
        assert got == unicodedata.normalize("NFC", s), s


def test_script_text_keeps_ascii_punctuation_in_set():
    """Review r12: spaces/ASCII-identical punctuation between non-Latin
    words must not pay two escapes each — the set's own transparent
    bytes carry them, and the decode is identical."""
    b = unicode_to_marc8("Война и мир, том 1")
    assert b.count(b"\x1b") <= 3, b  # one designation in, one out (+slack)
    assert marc8_to_unicode(b) == "Война и мир, том 1"
    # '[' is NOT transparent in Basic Cyrillic (0x5B is sha there)
    b2 = unicode_to_marc8("мир [sic]")
    assert marc8_to_unicode(b2) == "мир [sic]"


def test_strict_codec_write_raises_on_unencodable():
    """Review r12: to_iso2709 with a non-MARC-8 codec must raise on a
    value the codec cannot carry, not silently write '?'."""
    rec = {
        "leader": "00000cam a2200000 a 4500",
        "controlfields": [{"tag": "001", "value": "x"}],
        "datafields": [
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "a", "value": "Москва"}]},
        ],
    }
    with pytest.raises(UnicodeEncodeError):
        to_iso2709(rec, encoding="latin-1")
    # utf-8 and MARC-8 both carry it
    assert from_iso2709(to_iso2709(rec))["datafields"] == rec["datafields"]
    assert from_iso2709(
        to_iso2709(rec, encoding="MARC-8"), encoding="MARC-8"
    )["datafields"] == rec["datafields"]


def test_every_polytonic_greek_letter_round_trips():
    """Deterministic sweep of the Greek Extended block (U+1F00-1FFF):
    every ASSIGNED letter round-trips encode->decode to its NFC form
    (breathings, accents, iota subscript, macron/vrachy — in any
    combination Unicode assigns). The block's non-letters (spacing
    accent signs like koronis) legitimately refuse."""
    letters = dropped = 0
    for cp in range(0x1F00, 0x2000):
        ch = chr(cp)
        if not unicodedata.category(ch).startswith("L"):
            continue
        if not unicodedata.is_normalized("NFC", ch):
            continue  # NFC text never contains these
        letters += 1
        got = marc8_to_unicode(unicode_to_marc8(ch))
        assert got == unicodedata.normalize("NFC", ch), hex(cp)
    assert letters > 180, letters  # the sweep actually covered the block


def test_every_slavic_cyrillic_letter_round_trips():
    """U+0400-045F — the complete Slavic repertoire (Russian plus the
    Ukrainian/Belarusian/Serbian/Macedonian letters and the accented
    forms Ѐ/Ѝ/й via combining splices) round-trips without exception."""
    n = 0
    for cp in range(0x0400, 0x0460):
        ch = chr(cp)
        if not unicodedata.category(ch).startswith("L"):
            continue
        n += 1
        got = marc8_to_unicode(unicode_to_marc8(ch))
        assert got == unicodedata.normalize("NFC", ch), hex(cp)
    assert n >= 90, n


def test_arabic_core_round_trips():
    """The ASMO 449 repertoire: hamza forms, letters, and harakat
    (U+0621-063A, 0640-0652) all round-trip; harakat keep their
    after-the-base order."""
    for cp in list(range(0x0621, 0x063B)) + list(range(0x0640, 0x0653)):
        ch = chr(cp)
        base = "ب" if unicodedata.combining(ch) else ""
        s = base + ch
        got = marc8_to_unicode(unicode_to_marc8(s))
        assert got == unicodedata.normalize("NFC", s), hex(cp)


# ---------------------------------------------------------------------------
# lossless postures (round 13): literal NCRs + unmapped-set preservation
# ---------------------------------------------------------------------------

def test_literal_ncr_text_round_trips_losslessly():
    """ADVICE r12 (medium): a value CONTAINING literal NCR-shaped text
    (raw HTML, pre-escaped data) must survive encode->decode verbatim —
    the opening '&' is itself NCR-escaped per the LoC lossless
    technique, so the decoder's unconditional expansion restores the
    literal instead of corrupting '&#x41;' to 'A'."""
    cases = [
        "&#x41;",                      # the advice's verbatim repro
        "a &#x0026; b",                # literal NCR of '&' itself
        "&#x41;&#x42;",                # adjacent
        "&&#x41;",                     # preceded by a bare ampersand
        "note: &#xFeDc; mixed case",
        "Война &#x2014; мир",          # inside script text
    ]
    for s in cases:
        for fallback in (False, True):
            b = unicode_to_marc8(s, ncr_fallback=fallback)
            assert marc8_to_unicode(b) == unicodedata.normalize("NFC", s), (
                s, fallback)
    # bare ampersands and non-NCR-shaped '&#' text stay untouched bytes
    assert unicode_to_marc8("a & b &#zz;") == b"a & b &#zz;"


def test_literal_ncr_property_every_encodable_string_round_trips():
    """decode(encode(x)) == NFC(x) for arbitrary ASCII-with-ampersands
    soup — the class the literal-NCR fix targets."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(s=st.text(alphabet="&#x;0123456789abcdefABCDEF Az", max_size=30))
    def prop(s):
        b = unicode_to_marc8(s, ncr_fallback=True)
        assert marc8_to_unicode(b) == unicodedata.normalize("NFC", s)

    prop()


def _eacc_bytes(n=4):
    """A synthetic EACC span: ESC $ 1 designates the multibyte set to
    G0, then n three-byte groups from the EACC range, then ESC ( B back
    to Basic Latin (public MARC-8 technique-2 escapes)."""
    groups = b"".join(
        bytes([0x21 + i, 0x30 + i, 0x4A + i]) for i in range(n)
    )
    return b"\x1b$1" + groups + b"\x1b(B"


def test_unmapped_preserve_round_trips_eacc_byte_identically():
    """VERDICT r12 #1: under unmapped='preserve' an EACC span —
    designation escapes included — is parked on plane-15 PUA codepoints
    and re-encoded verbatim: MARC-8 -> str -> MARC-8 is byte-identical
    even though the module has no EACC tables (ruby-marc maps EACC via
    its bundled tables, marc_reader.rb:27-35,79; we at least never
    destroy it)."""
    raw = b"Title " + _eacc_bytes() + b" tail"
    s = marc8_to_unicode(raw, unmapped="preserve")
    assert "Title " in s and " tail" in s and "�" not in s
    assert unicode_to_marc8(s) == raw
    # default posture unchanged: replacement chars, bytes destroyed
    assert "�" in marc8_to_unicode(raw)


def test_unmapped_preserve_extended_arabic_and_g1():
    """Single-byte unmapped sets (Extended Arabic, ASMO 449 ext) and a
    G1 designation (high-bit bytes) both preserve byte-identically,
    including interleaved ASCII inside the span."""
    # G0 Extended Arabic with ASCII spaces inside the span
    raw = b"x \x1b(4\x41\x42 \x43\x1b(B y"
    s = marc8_to_unicode(raw, unmapped="preserve")
    assert unicode_to_marc8(s) == raw
    # G1 EACC: hi bytes route through G1; low bytes stay Basic Latin
    raw_g1 = b"lo \x1b)1\xA1\xB2\xC3lo\xA4\xB5\xC6\x1b)!E rest"
    s2 = marc8_to_unicode(raw_g1, unmapped="preserve")
    assert unicode_to_marc8(s2) == raw_g1
    # span running to end-of-input (no switch-back escape)
    raw_tail = b"t \x1b$1\x21\x30\x4A"
    s3 = marc8_to_unicode(raw_tail, unmapped="preserve")
    assert unicode_to_marc8(s3) == raw_tail


def test_unmapped_preserve_decoder_stays_total():
    """preserve mode keeps the decoder total over byte soup and never
    emits U+FFFD for unmapped-SET bytes (invalid bytes in MAPPED sets
    still follow replace)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(raw=st.binary(max_size=64))
    def prop(raw):
        out = marc8_to_unicode(raw, unmapped="preserve")
        assert isinstance(out, str)

    prop()


def test_unmapped_preserve_well_formed_spans_round_trip_fuzz():
    """Property: ASCII text with well-formed unmapped-set spans spliced
    in round-trips byte-identically under preserve."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    span = st.one_of(
        st.integers(1, 5).map(_eacc_bytes),
        st.binary(min_size=1, max_size=8).map(
            lambda b: b"\x1b(4"
            + bytes(0x21 + (x % 0x5E) for x in b)
            + b"\x1b(B"
        ),
    )
    ascii_bit = st.text(
        alphabet="abcDEF 123.,", max_size=10).map(lambda t: t.encode())

    @settings(max_examples=200, deadline=None)
    @given(parts=st.lists(st.one_of(span, ascii_bit), max_size=6))
    def prop(parts):
        raw = b"".join(parts)
        s = marc8_to_unicode(raw, unmapped="preserve")
        assert unicode_to_marc8(s) == raw

    prop()


def test_preserve_range_ncr_stays_literal():
    """An NCR naming a preserve-range PUA codepoint must NOT expand —
    expansion would make a later re-encode emit a raw byte where the
    stream carried literal text."""
    raw = b"a &#xF0041; b"
    s = marc8_to_unicode(raw)
    assert s == "a &#xF0041; b"
    # re-encode escapes the ambiguous literal '&' (the original bytes
    # carried unescaped NCR text), but the STRING round trip is exact
    assert marc8_to_unicode(unicode_to_marc8(s)) == s


def test_surrogate_ncr_stays_literal():
    """An NCR naming a surrogate (U+D800-U+DFFF) names no character: it
    stays literal text, as one past U+10FFFF does, instead of becoming a
    lone surrogate that has no UTF-8 form."""
    import pyarrow as pa

    from traject_spark.marc.marc8 import _expand_ncr

    assert _expand_ncr("a&#xD800;b") == "a&#xD800;b"
    s = marc8_to_unicode(b"&#xD800; &#xdfff; &#xD7FF; &#xE000;")
    assert s == "&#xD800; &#xdfff; \ud7ff \ue000"
    assert pa.array([s], pa.string()).to_pylist() == [s]


def test_from_iso2709_marc8_preserve_round_trips_record():
    """encoding='MARC-8-preserve' on the record level: a record whose
    values carry EACC spans reads to a struct and writes back with the
    exact same field bytes."""
    title_m8 = b"Tokyo " + _eacc_bytes(2)
    rec_raw = {
        "leader": "00000cam a22000002 4500",
        "controlfields": [{"tag": "001", "value": "r1"}],
        "datafields": [
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "a", "value": "PLACEHOLDER"}]},
        ],
    }
    # build the binary with the MARC-8 value spliced in via a utf-8
    # write of a latin1-decoded carrier (bytes pass through verbatim)
    carrier = dict(rec_raw)
    carrier["datafields"] = [
        {"tag": "245", "ind1": "1", "ind2": "0",
         "subfields": [{"code": "a", "value": title_m8.decode("latin-1")}]},
    ]
    raw = to_iso2709(carrier, encoding="latin-1")
    back = from_iso2709(raw, encoding="MARC-8-preserve")
    rewritten = to_iso2709(back, encoding="MARC-8")
    reread = from_iso2709(rewritten, encoding="MARC-8-preserve")
    assert reread["datafields"] == back["datafields"]
    # the value's MARC-8 bytes are preserved exactly
    assert unicode_to_marc8(back["datafields"][0]["subfields"][0]["value"]) \
        == title_m8


def test_leader09_reflects_write_encoding():
    """ADVICE r12: leader/09 (character coding scheme) is set by
    to_iso2709 to match the bytes written — ' ' for MARC-8, 'a' for
    UTF-8 — so external readers keying on it (pymarc to_unicode) decode
    correctly; other codecs pass the caller's byte through."""
    rec = {
        "leader": "00000cam a22000002 4500",
        "controlfields": [{"tag": "001", "value": "x"}],
        "datafields": [],
    }
    assert to_iso2709(rec, encoding="MARC-8")[9:10] == b" "
    assert to_iso2709(rec)[9:10] == b"a"
    assert to_iso2709(rec, encoding="utf-8")[9:10] == b"a"
    rec_l = dict(rec, leader="00000cam z22000002 4500")
    assert to_iso2709(rec_l, encoding="latin-1")[9:10] == b"z"
