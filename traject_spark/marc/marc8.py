"""MARC-8 <-> Unicode conversion for binary MARC ingest.

Reference parity: the reference's MarcReader supports
``marc_source.encoding = 'MARC-8'`` and converts to UTF-8 on read
(lib/traject/marc_reader.rb:27-35,79, delegating to ruby-marc's
MARC::Marc8::ToUnicode with ``:invalid => :replace``). This module is a
from-scratch implementation of the public Library of Congress "MARC 21
Specifications for Record Structure, Character Sets" escape-sequence
grammar and code tables (the same public standard pymarc's
``marc8_to_unicode`` implements).

Design:

- **Escape machinery is complete**: technique-1 single designations
  (ESC g / b / p / s) and technique-2 G0/G1 designations with
  intermediates ``( , ) - $ !`` and multibyte (EACC) handling — a
  conforming stream never desynchronizes, regardless of which sets it
  designates.
- **Code tables** ship for: Basic Latin (ASCII), Extended Latin
  (ANSEL, incl. all combining diacritics), Subscript, Superscript,
  Greek Symbols, Basic Hebrew letters, and (r12) **Basic Cyrillic**
  (ISO 5427), **Extended Cyrillic** (ISO 5427 ext — Ukrainian,
  Serbian, Macedonian, pre-reform letters), **Basic Greek** (ISO 5428,
  incl. its seven non-spacing accents, so polytonic text NFC-composes)
  and **Basic Arabic** (ASMO 449, incl. harakat and hamza forms); the
  non-Latin tables are generated from the ISO registrations the LoC
  spec cites (tools/gen_marc8_script_tables.py) and cross-validated
  against glibc iconv in tests/test_marc8.py. Sets without bundled
  tables (EACC multibyte, Extended Arabic) decode each character to
  U+FFFD under ``replace=True`` (the reference's ``:invalid =>
  :replace`` posture) or raise ``Marc8DecodeError`` under
  ``replace=False`` — never silently mis-map.
- **Combining marks**: MARC-8 places combining characters BEFORE their
  base; Unicode places them AFTER. The decoder buffers pending marks
  and re-orders; output is NFC-normalized so ``e + COMBINING ACUTE``
  round-trips as the composed ``é`` a UTF-8 twin record carries.

The encoder (``unicode_to_marc8``) covers the same bundled tables via
NFD decomposition — enough to synthesize MARC-8 fixtures from UTF-8
records and to round-trip everything the decoder maps.

Throughput: the binary reader decodes through :func:`marc8_decoder`.
Printable-ASCII values (most real MARC-8 values) take a one-probe fast
path, and the reader decodes a whole printable-ASCII datafield at once.
A value without an escape byte goes through one ``translate`` table
built from the default sets plus one regex that re-orders combining
marks. Only values that designate another set run the state machine.
On a 4-core host, one Python process parses the 12,000 synthetic
MARC-8 records of the ``marc8_index_ndjson`` benchmark (16 files,
5.5 MB) into Arrow batches in 0.50-0.64 s; the per-value dict path
this replaced took 1.2-1.6 s.
"""

from __future__ import annotations

import re
import unicodedata

ESC = 0x1B

#: charset designation finals (LoC character-set codes)
CODE_BASIC_LATIN = 0x42      # 'B'
CODE_ANSEL = 0x45            # 'E' (with '!' intermediate: Extended Latin)
CODE_SUBSCRIPT = 0x62        # 'b'
CODE_SUPERSCRIPT = 0x70      # 'p'
CODE_GREEK_SYMBOLS = 0x67    # 'g'
CODE_BASIC_HEBREW = 0x32     # '2'
CODE_BASIC_ARABIC = 0x33     # '3'
CODE_EXTENDED_ARABIC = 0x34  # '4'
CODE_BASIC_CYRILLIC = 0x4E   # 'N'
CODE_EXTENDED_CYRILLIC = 0x51  # 'Q'
CODE_BASIC_GREEK = 0x53      # 'S'
CODE_EACC = 0x31             # '1' (multibyte East Asian)

#: sets the escape machinery recognizes but has no bundled table for —
#: decoded as replacement characters (or an error with replace=False)
_UNMAPPED_SETS = {
    CODE_EXTENDED_ARABIC: "Extended Arabic",
    CODE_EACC: "EACC (East Asian)",
}


class Marc8DecodeError(UnicodeError):
    """Raised under replace=False for bytes/sets this module can't map."""


#: C0 controls (minus the tab/LF/CR the decoder passes through) + DEL —
#: any hit routes to the full state machine for replace/raise parity
_NON_PRINTABLE = re.compile(rb"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")

#: MARC-8 lossless-Unicode numeric character references (&#xHHHH;) —
#: the standard's escape for characters outside the MARC-8 repertoire.
#: ruby-marc expands them during transcode (the reference's
#: escaped_character_reference.marc8.marc test pins this), so both
#: paths (fast ASCII and state machine) expand after decoding.
_NCR = re.compile(r"&#x([0-9A-Fa-f]{1,6});")


def _expand_ncr(text: str) -> str:
    # the preserve range (see _PRESERVE_BASE) is excluded: an NCR
    # naming one of those PUA codepoints must stay literal, or a
    # preserve-mode re-encode would emit it as a raw byte instead of
    # the NCR text the stream actually carried. So are NCRs naming no
    # character: past U+10FFFF, and the surrogates U+D800-U+DFFF, whose
    # lone code point has no UTF-8 form (Arrow refuses the string, and
    # one such value would fail the whole read task)
    if "&#x" not in text:  # necessary prefix of every _NCR match (r15)
        return text

    def _one(m):
        cp = int(m.group(1), 16)
        if (
            cp > 0x10FFFF
            or 0xD800 <= cp <= 0xDFFF
            or _PRESERVE_BASE <= cp <= _PRESERVE_BASE + 0xFF
        ):
            return m.group(0)
        return chr(cp)

    return _NCR.sub(_one, text)


def _escape_literal_ncrs(text: str) -> str:
    """Make literal NCR-shaped text survive the decoder's expansion.

    The decoder expands ``&#xHHHH;`` unconditionally (ruby-marc parity),
    so a value that legitimately CONTAINS such text (e.g. raw HTML in a
    note field) would be corrupted by encode->decode: ``"&#x41;"`` would
    come back as ``"A"``. Per the LoC lossless-conversion technique, the
    ampersand that opens an NCR-shaped run is itself emitted as an NCR
    (``&#x0026;``), which the decoder expands back to ``&`` exactly once
    — the rest of the literal stays verbatim, so the round trip is
    byte-lossless (advice r12).
    """
    return _NCR.sub(lambda m: "&#x0026;" + m.group(0)[1:], text)


#: Plane-15 private-use codepoints carrying one raw MARC-8 byte each
#: (U+F0000 + byte) — the ``unmapped='preserve'`` decode posture parks
#: bytes from sets with no bundled table (EACC, Extended Arabic) here
#: instead of destroying them as U+FFFD, and the encoder emits them back
#: verbatim, so MARC-8 -> str -> MARC-8 round-trips byte-identically
#: even through scripts this module cannot map (verdict r12 #1).
_PRESERVE_BASE = 0xF0000


def _is_tableless(code: int) -> bool:
    """True for designation codes with no bundled decode table (EACC,
    Extended Arabic, unknown finals) — the sets ``unmapped='preserve'``
    carries through as raw bytes."""
    table, _ = _charset_table(code)
    return isinstance(table, dict) and not table


# ---------------------------------------------------------------------------
# code tables (public LoC MARC-8 code tables)
# ---------------------------------------------------------------------------

#: ANSEL / Extended Latin spacing characters, keyed by the G1 byte
#: (0xA1-0xC8). Values are Unicode codepoints.
ANSEL_SPACING = {
    0xA1: 0x0141,  # L with stroke
    0xA2: 0x00D8,  # O with stroke
    0xA3: 0x0110,  # D with stroke
    0xA4: 0x00DE,  # Thorn (capital)
    0xA5: 0x00C6,  # AE ligature (capital)
    0xA6: 0x0152,  # OE ligature (capital)
    0xA7: 0x02B9,  # soft sign / prime
    0xA8: 0x00B7,  # middle dot
    0xA9: 0x266D,  # musical flat
    0xAA: 0x00AE,  # registered sign
    0xAB: 0x00B1,  # plus-minus
    0xAC: 0x01A0,  # O with horn (capital)
    0xAD: 0x01AF,  # U with horn (capital)
    0xAE: 0x02BE,  # alif (modifier right half ring)
    0xB0: 0x02BB,  # ayn (modifier turned comma)
    0xB1: 0x0142,  # l with stroke
    0xB2: 0x00F8,  # o with stroke
    0xB3: 0x0111,  # d with stroke
    0xB4: 0x00FE,  # thorn (small)
    0xB5: 0x00E6,  # ae ligature (small)
    0xB6: 0x0153,  # oe ligature (small)
    0xB7: 0x02BA,  # hard sign / double prime
    0xB8: 0x0131,  # dotless i
    0xB9: 0x00A3,  # pound sign
    0xBA: 0x00F0,  # eth
    0xBC: 0x01A1,  # o with horn (small)
    0xBD: 0x01B0,  # u with horn (small)
    0xC0: 0x00B0,  # degree sign
    0xC1: 0x2113,  # script small l
    0xC2: 0x2117,  # sound recording copyright
    0xC3: 0x00A9,  # copyright sign
    0xC4: 0x266F,  # musical sharp
    0xC5: 0x00BF,  # inverted question mark
    0xC6: 0x00A1,  # inverted exclamation mark
    0xC7: 0x00DF,  # sharp s (2004 addition)
    0xC8: 0x20AC,  # euro sign (2004 addition)
}

#: ANSEL combining diacritics (0xE0-0xFE). In MARC-8 these PRECEDE the
#: base character; the decoder re-orders them to follow it.
ANSEL_COMBINING = {
    0xE0: 0x0309,  # hook above
    0xE1: 0x0300,  # grave
    0xE2: 0x0301,  # acute
    0xE3: 0x0302,  # circumflex
    0xE4: 0x0303,  # tilde
    0xE5: 0x0304,  # macron
    0xE6: 0x0306,  # breve
    0xE7: 0x0307,  # dot above
    0xE8: 0x0308,  # diaeresis / umlaut
    0xE9: 0x030C,  # caron / hacek
    0xEA: 0x030A,  # ring above
    0xEB: 0xFE20,  # ligature, left half
    0xEC: 0xFE21,  # ligature, right half
    0xED: 0x0315,  # comma above right (high comma, off center)
    0xEE: 0x030B,  # double acute
    0xEF: 0x0310,  # candrabindu
    0xF0: 0x0327,  # cedilla
    0xF1: 0x0328,  # ogonek / right hook
    0xF2: 0x0323,  # dot below
    0xF3: 0x0324,  # double dot below
    0xF4: 0x0325,  # ring below
    0xF5: 0x0333,  # double underscore
    0xF6: 0x0332,  # underscore
    0xF7: 0x0326,  # comma below / left hook
    0xF8: 0x031C,  # right cedilla (combining left half ring below)
    0xF9: 0x032E,  # breve below (upadhmaniya)
    0xFA: 0xFE22,  # double tilde, left half
    0xFB: 0xFE23,  # double tilde, right half
    0xFE: 0x0313,  # comma above (high comma, centered)
}

#: Greek Symbols set (technique-1 ESC g), keyed by the G0 byte.
GREEK_SYMBOLS = {
    0x61: 0x03B1,  # alpha
    0x62: 0x03B2,  # beta
    0x63: 0x03B3,  # gamma
}

#: Subscript set (ESC b).
SUBSCRIPT = {
    0x28: 0x208D, 0x29: 0x208E, 0x2B: 0x208A, 0x2D: 0x208B,
    **{0x30 + d: 0x2080 + d for d in range(10)},
}

#: Superscript set (ESC p).
SUPERSCRIPT = {
    0x28: 0x207D, 0x29: 0x207E, 0x2B: 0x207A, 0x2D: 0x207B,
    0x30: 0x2070, 0x31: 0x00B9, 0x32: 0x00B2, 0x33: 0x00B3,
    **{0x30 + d: 0x2070 + d for d in range(4, 10)},
}

#: Basic Hebrew letters (0x60-0x7A -> alef..tav; finals are in-sequence
#: in both MARC-8 and the Unicode block). Punctuation/digits in the
#: low range are ASCII-identical and handled by the ASCII fallthrough;
#: Hebrew points (0x40-0x5F specials) are NOT bundled -> replacement.
BASIC_HEBREW = {0x60 + i: 0x05D0 + i for i in range(0x1B)}
#: Hebrew low-range bytes identical to ASCII per the LoC table
_HEBREW_ASCII_OK = frozenset(range(0x20, 0x40)) | {0x5B, 0x5D}

#: Cyrillic / Greek / Arabic tables (r12): generated from the ISO
#: registrations the LoC MARC-8 spec cites (ISO 5427 / 5427-ext /
#: 5428 / ASMO 449) — see tools/gen_marc8_script_tables.py for
#: provenance. Greek bytes 0x21-0x27 are ISO 5428's NON-SPACING
#: accents: like ANSEL diacritics they PRECEDE their letter.
from traject_spark.marc.marc8_scripts_data import (  # noqa: E402
    BASIC_ARABIC,
    BASIC_CYRILLIC,
    BASIC_GREEK,
    EXTENDED_CYRILLIC,
    GREEK_COMBINING_BYTES,
)


def _charset_table(code: int):
    """(table, is_multibyte) for a designation final; None table means
    ASCII passthrough; {} means recognized-but-unmapped."""
    if code == CODE_BASIC_LATIN:
        return None, False
    if code == CODE_ANSEL:
        return "ansel", False
    if code == CODE_GREEK_SYMBOLS:
        return GREEK_SYMBOLS, False
    if code == CODE_SUBSCRIPT:
        return SUBSCRIPT, False
    if code == CODE_SUPERSCRIPT:
        return SUPERSCRIPT, False
    if code == CODE_BASIC_HEBREW:
        return BASIC_HEBREW, False
    if code == CODE_BASIC_CYRILLIC:
        return BASIC_CYRILLIC, False
    if code == CODE_EXTENDED_CYRILLIC:
        return EXTENDED_CYRILLIC, False
    if code == CODE_BASIC_GREEK:
        return BASIC_GREEK, False
    if code == CODE_BASIC_ARABIC:
        return BASIC_ARABIC, False
    if code == CODE_EACC:
        return {}, True
    if code in _UNMAPPED_SETS:
        return {}, False
    # unknown final: treat like an unmapped single-byte set (the stream
    # stays synchronized; characters become replacements)
    return {}, False


def _lookup(code: int, byte: int):
    """Map one byte through a designated set. Returns (char, combining)
    or (None, False) when unmapped."""
    table, _ = _charset_table(code)
    if table is None:  # ASCII
        return (chr(byte), False) if 0x20 <= byte <= 0x7E else (None, False)
    if table == "ansel":
        b = byte | 0x80  # accept the set via G0 (low) or G1 (high)
        if b in ANSEL_COMBINING:
            return chr(ANSEL_COMBINING[b]), True
        if b in ANSEL_SPACING:
            return chr(ANSEL_SPACING[b]), False
        return (" ", False) if b == 0xA0 else (None, False)
    b = byte & 0x7F  # single-byte tables are keyed on the low form
    if code == CODE_BASIC_HEBREW and b in _HEBREW_ASCII_OK:
        return chr(b), False
    if b in table:
        # ISO 5428's accents (0x21-0x27) are non-spacing: re-order
        # after the letter like ANSEL combining marks
        combining = code == CODE_BASIC_GREEK and b in GREEK_COMBINING_BYTES
        return chr(table[b]), combining
    if b == 0x20:
        return " ", False
    return None, False


def marc8_to_unicode(
    raw: bytes,
    replace: bool = True,
    normalize: str = "NFC",
    unmapped: str | None = None,
) -> str:
    """Decode MARC-8 bytes to a Unicode string.

    ``replace=True`` mirrors the reference's ``:invalid => :replace``
    (marc_reader.rb:33): unmappable bytes/sets become U+FFFD.
    ``replace=False`` raises :class:`Marc8DecodeError` naming the
    offending byte or charset. ``normalize`` (default NFC) composes the
    re-ordered base+combining pairs so output matches a UTF-8 twin.

    ``unmapped='preserve'`` changes the posture for SETS with no bundled
    table (EACC CJK, Extended Arabic, unknown finals): instead of
    destroying their bytes as U+FFFD, every raw byte of the span —
    including the designation escapes into and out of the set — is
    parked on a plane-15 private-use codepoint (U+F0000 + byte), which
    :func:`unicode_to_marc8` emits back verbatim, so the full record
    round-trips byte-identically even through scripts this module
    cannot map. Invalid bytes in MAPPED sets still follow ``replace``.
    """
    if unmapped not in (None, "replace", "preserve"):
        raise ValueError(
            f"unmapped must be None, 'replace' or 'preserve', got {unmapped!r}"
        )
    preserve = unmapped == "preserve"
    # fast path: a value with no escapes, no G1 bytes, and no C0/DEL
    # controls is plain ASCII under the default sets — the overwhelming
    # share of real MARC-8 fields (English records), decoded without
    # the state machine. The control exclusion keeps parity with the
    # slow path, which replaces C0 bytes (ESC is C0 too, so one probe
    # covers both reasons to take the slow path).
    if raw.isascii() and not _NON_PRINTABLE.search(raw):
        # NCR expansion only when an NCR opener is actually present:
        # "&#x" is a necessary prefix of every _NCR match, and the
        # regex-sub machinery (Python callback per match, scan setup per
        # call) was ~20% of the whole MARC-8 ingest parse cost when run
        # unconditionally on every plain-ASCII value (r15 profile,
        # history/OPTIMIZATION_r15.md §ingest_iso2709_marc8)
        text = raw.decode("ascii")
        return _expand_ncr(text) if "&#x" in text else text
    g0, g1 = CODE_BASIC_LATIN, CODE_ANSEL
    out: list = []
    pending: list = []  # combining marks awaiting their base char

    def emit(ch: str, combining: bool) -> None:
        if combining:
            pending.append(ch)
        else:
            out.append(ch)
            out.extend(pending)
            pending.clear()

    def bad(what: str) -> None:
        if not replace:
            raise Marc8DecodeError(what)
        emit("�", False)

    def park(span: bytes) -> None:
        # preserve posture: raw bytes -> plane-15 PUA, non-combining
        for pb in span:
            emit(chr(_PRESERVE_BASE + pb), False)

    i, n = 0, len(raw)
    while i < n:
        b = raw[i]
        if b == ESC:
            j = i + 1
            intermediates = []
            while j < n and raw[j] in b"(),-$!":
                intermediates.append(raw[j])
                j += 1
            if j >= n:
                bad("truncated escape sequence at end of input")
                i = n
                continue
            final = raw[j]
            g0_was, g1_was = g0, g1
            if not intermediates:
                # technique 1: single-character designations act on G0
                if final in (
                    CODE_GREEK_SYMBOLS, CODE_SUBSCRIPT, CODE_SUPERSCRIPT
                ):
                    g0 = final
                elif final == 0x73:  # 's' -> back to ASCII
                    g0 = CODE_BASIC_LATIN
                else:
                    bad(f"unrecognized escape ESC {chr(final)!r}")
                    i = j + 1
                    continue
            # technique 2: ')' or '-' intermediates target G1, else G0
            elif any(c in (0x29, 0x2D) for c in intermediates):
                g1 = final
            else:
                g0 = final
            # preserve: a designation into OR out of a table-less set is
            # part of the span — park its raw bytes so the re-encoded
            # stream restores the same register state at the same point
            if preserve and (
                (_is_tableless(g0) or _is_tableless(g1))
                or (_is_tableless(g0_was) or _is_tableless(g1_was))
            ):
                park(raw[i : j + 1])
            i = j + 1
            continue
        if b in (0x20, 0x09, 0x0A, 0x0D):
            emit(chr(b), False)
            i += 1
            continue
        code = g0 if b < 0x80 else g1
        _, multi = _charset_table(code)
        if multi:
            # EACC: three bytes per character; no bundled table
            step = 3 if i + 3 <= n else n - i
            if preserve:
                park(raw[i : i + step])
            else:
                name = _UNMAPPED_SETS.get(code, "multibyte set")
                bad(f"unmapped {name} character {raw[i:i+step]!r}")
            i += step
            continue
        ch, combining = _lookup(code, b)
        if ch is None:
            if preserve and _is_tableless(code):
                park(raw[i : i + 1])
            elif code in _UNMAPPED_SETS:
                bad(
                    f"byte 0x{b:02X} in {_UNMAPPED_SETS[code]} (no bundled "
                    "table; see docs/settings.md encodings)"
                )
            else:
                bad(f"unmappable MARC-8 byte 0x{b:02X}")
        else:
            emit(ch, combining)
        i += 1
    # stranded combining marks (no following base char): keep them, as
    # the reference's converter does, attached to a no-break placement
    out.extend(pending)
    text = _expand_ncr("".join(out))
    return unicodedata.normalize(normalize, text) if normalize else text


def _default_sets_table() -> tuple:
    """(translate table, reorder regex) for a value with no escape: every
    byte is read through the default sets, G0 Basic Latin and G1 ANSEL.

    The table maps all 256 bytes the way :func:`marc8_to_unicode` does
    with no designation in force — tab, LF, CR and space pass through,
    :func:`_lookup` supplies the rest, and an unmapped byte (C0 control,
    DEL, unassigned G1 position) becomes U+FFFD. The regex matches a run
    of ANSEL combining marks and the base character after it, so
    ``sub(r"\\2\\1", ...)`` moves marks behind their base as the state
    machine's pending buffer does; a run with no base stays at the end.
    """
    table = {}
    marks = []
    for b in range(256):
        if b in (0x09, 0x0A, 0x0D, 0x20):
            ch, combining = chr(b), False
        else:
            ch, combining = _lookup(
                CODE_BASIC_LATIN if b < 0x80 else CODE_ANSEL, b
            )
        table[b] = "\ufffd" if ch is None else ch
        if combining:
            marks.append(ch)
    run = "".join(marks)
    return table, re.compile(f"([{run}]+)([^{run}])")


def marc8_decoder(unmapped: str | None = None):
    """Per-VALUE decode callable for the ingest hot path, equal to
    ``marc8_to_unicode(raw, replace=True, unmapped=unmapped)`` for every
    input, with two fast paths ahead of the state machine:

    - printable ASCII (the overwhelming share of real MARC-8 values):
      one ``isascii`` probe, one regex probe and one C decode, NCRs
      expanded only where ``&#x`` occurs;
    - no escape byte (diacritics, ANSEL symbols, stray controls): the
      default sets are in force throughout, so the value is one
      ``translate`` through :func:`_default_sets_table`, one regex
      substitution that puts combining marks after their base, NCR
      expansion and NFC. ``unmapped`` cannot matter here: the default
      sets both have tables.

    Values with an escape take the state machine."""
    if unmapped not in (None, "replace", "preserve"):
        raise ValueError(
            f"unmapped must be None, 'replace' or 'preserve', got {unmapped!r}"
        )
    expand, search, full = _expand_ncr, _NON_PRINTABLE.search, marc8_to_unicode
    table, marks_first = _default_sets_table()
    reorder = marks_first.sub
    nfc = unicodedata.normalize

    def dec(raw: bytes) -> str:
        if raw.isascii() and not search(raw):
            text = raw.decode("ascii")
            return expand(text) if "&#x" in text else text
        if b"\x1b" not in raw:
            text = reorder(r"\2\1", raw.decode("latin-1").translate(table))
            return nfc("NFC", expand(text) if "&#x" in text else text)
        return full(raw, replace=True, unmapped=unmapped)

    return dec


# ---------------------------------------------------------------------------
# encoder (fixture synthesis + round-trip tests)
# ---------------------------------------------------------------------------

_REV_ANSEL_SPACING = {cp: b for b, cp in ANSEL_SPACING.items()}
_REV_ANSEL_COMBINING = {cp: b for b, cp in ANSEL_COMBINING.items()}
_REV_GREEK = {cp: b for b, cp in GREEK_SYMBOLS.items()}
_REV_SUBSCRIPT = {cp: b for b, cp in SUBSCRIPT.items()}
_REV_SUPERSCRIPT = {cp: b for b, cp in SUPERSCRIPT.items()}
_REV_HEBREW = {cp: b for b, cp in BASIC_HEBREW.items()}


def _rev_nonascii(table: dict) -> dict:
    """Reverse of a script table, non-ASCII targets only — the
    ASCII-identical punctuation positions encode via Basic Latin."""
    return {cp: b for b, cp in table.items() if cp >= 0x80}


_REV_CYRILLIC = _rev_nonascii(BASIC_CYRILLIC)
_REV_EXT_CYRILLIC = _rev_nonascii(EXTENDED_CYRILLIC)
_REV_BASIC_GREEK = {
    cp: b
    for b, cp in BASIC_GREEK.items()
    if cp >= 0x80 and b not in GREEK_COMBINING_BYTES
}
_REV_GREEK_COMBINING = {
    BASIC_GREEK[b]: b for b in GREEK_COMBINING_BYTES
}
_REV_ARABIC = _rev_nonascii(BASIC_ARABIC)

#: spacing-encode dispatch in priority order: (reverse table, G0 code,
#: None G0 = ANSEL via G1 high-bit byte). Latin-adjacent sets first so
#: shared codepoints (e.g. MIDDLE DOT: ANSEL 0xA8 and Greek 0x3B) keep
#: their historical encoding; decode is identical either way.
_ENCODE_SETS = (
    (_REV_ANSEL_SPACING, None),
    (_REV_GREEK, CODE_GREEK_SYMBOLS),
    (_REV_SUBSCRIPT, CODE_SUBSCRIPT),
    (_REV_SUPERSCRIPT, CODE_SUPERSCRIPT),
    (_REV_HEBREW, CODE_BASIC_HEBREW),
    (_REV_CYRILLIC, CODE_BASIC_CYRILLIC),
    (_REV_EXT_CYRILLIC, CODE_EXTENDED_CYRILLIC),
    (_REV_BASIC_GREEK, CODE_BASIC_GREEK),
    (_REV_ARABIC, CODE_BASIC_ARABIC),
)

#: reverse table by designation code, for the keep-current-set probe
_REV_FOR_CODE = {
    code: rev for rev, code in _ENCODE_SETS if code is not None
}


def _ascii_identical(table: dict) -> frozenset:
    """G0 bytes a script set maps to THEMSELVES (its ASCII-identical
    punctuation range) plus space — emitting these without leaving the
    set avoids an ESC-s/ESC-(-F round trip per word boundary in
    Cyrillic/Greek/Arabic text (review r12)."""
    return frozenset(
        b for b, cp in table.items() if cp == b
    ) | {0x20}


#: per-designation ASCII bytes that need no re-designation to emit
_ASCII_TRANSPARENT = {
    CODE_BASIC_CYRILLIC: _ascii_identical(BASIC_CYRILLIC),
    CODE_EXTENDED_CYRILLIC: _ascii_identical(EXTENDED_CYRILLIC),
    CODE_BASIC_GREEK: _ascii_identical(BASIC_GREEK),
    CODE_BASIC_ARABIC: _ascii_identical(BASIC_ARABIC),
    CODE_BASIC_HEBREW: frozenset(_HEBREW_ASCII_OK) | {0x20},
}


#: MARC-8 has PRECOMPOSED horn vowels only (no combining horn), but
#: NFD splits them to base + U+031B — recombine at the mark
_HORN = {0x4F: 0xAC, 0x55: 0xAD, 0x6F: 0xBC, 0x75: 0xBD}  # O U o u


def unicode_to_marc8(text: str, ncr_fallback: bool = False) -> bytes:
    """Encode a Unicode string as MARC-8 (bundled sets only).

    Works in NFC and decomposes per character only when the composed
    form has no direct table entry — so Arabic hamza forms (whose NFD
    splits into base + U+0653/0654/0655, marks MARC-8 has no bytes
    for) encode via their precomposed Basic Arabic positions, while
    Latin ``é`` / polytonic Greek still split into base + combining
    marks, which MARC-8 stores combining-first. Characters outside the
    bundled tables (EACC, Extended Arabic) raise ``ValueError`` — or,
    with ``ncr_fallback=True``, emit the standard's lossless numeric
    character reference (``&#xHHHH;``, which :func:`marc8_to_unicode`
    expands back), making every Unicode string writable.

    Two lossless passthroughs apply in BOTH modes: literal NCR-shaped
    text in the input has its opening ``&`` NCR-escaped (see
    :func:`_escape_literal_ncrs`) so decode restores it verbatim, and
    plane-15 preserve codepoints (U+F0000 + byte, produced by
    ``marc8_to_unicode(unmapped='preserve')``) emit their raw byte
    back, round-tripping unmapped-set spans byte-identically.
    """
    out = bytearray()
    g0 = CODE_BASIC_LATIN  # G1 stays ANSEL (high-bit bytes), no escapes
    # index of the current base char's byte in `out`: combining marks
    # insert at this index (landing BEFORE the base, in mark order)
    # and bump it — None until the first base is emitted
    base_at: int | None = None

    def designate_g0(code: int) -> None:
        nonlocal g0
        if g0 == code:
            return
        if code == CODE_BASIC_LATIN:
            out.extend(bytes([ESC, 0x73]))  # ESC s
        elif code in (CODE_GREEK_SYMBOLS, CODE_SUBSCRIPT, CODE_SUPERSCRIPT):
            out.extend(bytes([ESC, code]))
        else:  # technique 2 single-byte G0 designation
            out.extend(bytes([ESC, 0x28, code]))  # ESC ( F
        g0 = code

    def put_base(byte: int, code: int | None) -> None:
        nonlocal base_at
        if code is not None:
            designate_g0(code)
        base_at = len(out)
        out.append(byte)

    def put_mark(byte: int) -> None:
        # marks precede their base; successive marks keep their order
        nonlocal base_at
        out.insert(base_at, byte)  # type: ignore[arg-type]
        base_at += 1  # type: ignore[operator]

    def encode_one(ch: str) -> bool:
        """Emit one spacing or combining char; False when unmapped."""
        nonlocal base_at
        cp = ord(ch)
        if _PRESERVE_BASE <= cp <= _PRESERVE_BASE + 0xFF:
            # a byte parked by marc8_to_unicode(unmapped='preserve'):
            # emit it verbatim. The parked span carries its own
            # designation escapes, so the tracked g0 is deliberately NOT
            # touched — the span restores the register state itself.
            # Not a splice-able base: a following combining mark must
            # not insert into preserved bytes.
            out.append(cp - _PRESERVE_BASE)
            base_at = None
            return True
        if cp == 0x031B:  # combining horn: precomposed vowels only
            if base_at is not None and out[base_at] in _HORN:
                out[base_at] = _HORN[out[base_at]]
                return True
            raise ValueError(
                "combining horn (U+031B) is only encodable on O/U/o/u "
                "(MARC-8 has precomposed horn vowels only)"
            )
        if cp in _REV_ANSEL_COMBINING or cp in _REV_GREEK_COMBINING:
            if base_at is None:
                # no emitted base to splice before: inserting at 0
                # would make the decoder attach the mark to the
                # FOLLOWING char, silently moving the diacritic
                raise ValueError(
                    f"combining mark {ch!r} (U+{cp:04X}) has no "
                    "preceding base character — MARC-8 combining bytes "
                    "must precede a base"
                )
            if cp in _REV_ANSEL_COMBINING:
                put_mark(_REV_ANSEL_COMBINING[cp])  # G1 high-bit byte
            elif g0 == CODE_BASIC_GREEK:
                # ISO 5428 accent bytes live in the Greek G0 set: only
                # valid while the base letter designated it
                put_mark(_REV_GREEK_COMBINING[cp])
            else:
                raise ValueError(
                    f"Greek accent {ch!r} (U+{cp:04X}) requires a Basic "
                    "Greek base letter"
                )
            return True
        if cp < 0x80:
            # stay in the current script set for the ASCII bytes it
            # maps identically (space/punctuation between words) —
            # 'Война и мир' otherwise pays two escapes per space
            if cp in _ASCII_TRANSPARENT.get(g0, ()):
                base_at = len(out)
                out.append(cp)
                return True
            put_base(cp, CODE_BASIC_LATIN)
            return True
        if cp in _REV_ANSEL_SPACING:
            base_at = len(out)
            out.append(_REV_ANSEL_SPACING[cp])  # G1: high-bit, no escape
            return True
        # prefer the currently-designated set when it can carry the
        # char — keeps a Greek/Cyrillic word in ONE designation run
        # (otherwise alpha would bounce to the Greek-Symbols set mid-
        # word, paying an escape per letter)
        cur = _REV_FOR_CODE.get(g0)
        if cur is not None and cp in cur:
            put_base(cur[cp], g0)
            return True
        for rev, code in _ENCODE_SETS[1:]:
            if cp in rev:
                put_base(rev[cp], code)
                return True
        return False

    for ch in _escape_literal_ncrs(unicodedata.normalize("NFC", text)):
        # rollback point for ncr_fallback: every mutation a FAILED
        # attempt can make lands at >= this offset (appends, and mark
        # inserts at the just-appended base; the mark/horn paths that
        # touch EARLIER bytes raise before mutating), so truncation +
        # state restore undoes a partial piecewise emission
        mark, g0_saved, base_saved = len(out), g0, base_at
        try:
            if encode_one(ch):
                continue
            # no direct entry: split THIS char into base + marks (é, Ѐ,
            # polytonic Greek, ...) and try again piecewise
            decomposed = unicodedata.normalize("NFD", ch)
            if decomposed != ch:
                # a mark only the Greek set carries (dasia, perispomeni,
                # iota subscript) needs its base designated BASIC GREEK
                # — the priority scan would route word-initial alpha/
                # beta/gamma to the Greek-Symbols set, stranding the
                # accent (review r12)
                greek_only = any(
                    ord(c) in _REV_GREEK_COMBINING
                    and ord(c) not in _REV_ANSEL_COMBINING
                    for c in decomposed[1:]
                )
                base_cp = ord(decomposed[0])
                if greek_only and base_cp in _REV_BASIC_GREEK:
                    put_base(_REV_BASIC_GREEK[base_cp], CODE_BASIC_GREEK)
                    if all(encode_one(c) for c in decomposed[1:]):
                        continue
                elif all(encode_one(c) for c in decomposed):
                    continue
        except ValueError:
            if not ncr_fallback:
                raise
        else:
            if not ncr_fallback:
                raise ValueError(
                    f"character {ch!r} (U+{ord(ch):04X}) is outside the "
                    "bundled MARC-8 tables (Basic/Extended Latin, sub/"
                    "superscript, Greek symbols/letters, Hebrew, "
                    "Cyrillic, Basic Arabic) — cannot encode"
                )
        del out[mark:]
        g0, base_at = g0_saved, base_saved
        designate_g0(CODE_BASIC_LATIN)
        out.extend(f"&#x{ord(ch):04X};".encode("ascii"))
        # an NCR is not a splice-able base: a following combining mark
        # NCRs too (decoder expands both, mark lands after base — the
        # correct Unicode order)
        base_at = None
    designate_g0(CODE_BASIC_LATIN)  # leave the stream in the default state
    return bytes(out)
