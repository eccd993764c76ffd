"""Pure-python MARC serialization: marc-in-json, MARCXML, ISO 2709 binary.

Used by the ``serialized_marc`` macro (reference:
lib/traject/macros/marc21.rb:174-198) and the ingest sources. The
writers run row-at-a-time inside Arrow-batched UDFs — serialization is
a sink-side concern, not the hot mapping path. The ISO 2709 parser
(:class:`Iso2709Columns`) fills column buffers that the binary reader
turns into Arrow columns without building a dict per record.

ISO 2709 layout (public spec): 24-byte leader; directory of 12-byte
entries (3 tag + 4 length + 5 start); field terminator 0x1E; subfield
delimiter 0x1F; record terminator 0x1D.
"""

from __future__ import annotations

import codecs
import json
import re
from typing import Optional
from xml.sax.saxutils import escape

from traject_spark.marc.marc8 import (
    _expand_ncr,
    marc8_decoder,
    unicode_to_marc8,
)

FT = b"\x1e"  # field terminator
SD = b"\x1f"  # subfield delimiter
RT = b"\x1d"  # record terminator


def struct_json_to_record(text: str) -> dict:
    """Parse ``F.to_json(marc_struct)`` output back into a record dict
    (the struct's JSON shape IS the record-dict shape; absent keys filled)."""
    rec = json.loads(text)
    rec.setdefault("leader", " " * 24)
    rec.setdefault("controlfields", [])
    rec.setdefault("datafields", [])
    return rec


def to_marc_in_json(rec: dict) -> str:
    """Canonical marc-in-json: {"leader": ..., "fields": [...]} — the shape
    the reference writes via record.to_hash (marc21.rb:193-194) and reads
    via NDJReader (ndj_reader.rb:29-35)."""
    # .get("value"): F.to_json omits null struct fields, so a NULL
    # subfield/controlfield value arrives with the key MISSING — direct
    # indexing would abort the whole serialization job on one bad record
    # .get("tag"): same omitted-key hazard as values — one null-tag record
    # must not abort the whole serialization job
    fields = []
    for cf in rec.get("controlfields") or []:
        fields.append({cf.get("tag") or "": cf.get("value")})
    for df in rec.get("datafields") or []:
        fields.append(
            {
                df.get("tag") or "": {
                    "ind1": df.get("ind1") or " ",
                    "ind2": df.get("ind2") or " ",
                    "subfields": [
                        {sf.get("code") or "": sf.get("value")}
                        for sf in (df.get("subfields") or [])
                    ],
                }
            }
        )
    return json.dumps(
        {"leader": rec.get("leader") or " " * 24, "fields": fields},
        ensure_ascii=False,
        separators=(",", ":"),
    )


# ruby-marc's default MARC::ControlField.control_tags set ("tag must be
# in 001-009"): field-kind dispatch in new_from_hash is TAG-based — an
# object body under a control tag raises in DataField#initialize, a
# non-object body under a data tag raises in ControlField#initialize,
# and either way the NDJReader's per-line rescue drops the record.
CONTROL_TAGS = frozenset(f"00{i}" for i in range(1, 10))


def _scalar_str(v):
    """None/str pass through; other JSON scalars project to their JSON
    text (the same cast the JVM variant engine applies)."""
    if v is None or isinstance(v, str):
        return v
    return json.dumps(v, ensure_ascii=False, separators=(",", ":"))


def from_marc_in_json(text: str) -> dict:
    """Inverse of to_marc_in_json -> the nested-struct record dict.

    Mirrors MARC::Record.new_from_hash reachable through the NDJReader
    rescue (ndj_reader.rb:30-34): raises on the shapes ruby-marc raises
    on (object body under a control tag, scalar body under a data tag,
    non-array ``subfields``), so callers' per-line rescue drops the same
    lines.  A non-string scalar under a control tag survives in ruby
    (duck typing); the typed schema here projects it to its JSON text
    ({"001": 42} -> "42"), matching the JVM engine's variant cast.
    ``{"001": null}`` — a shape to_marc_in_json itself emits for a NULL
    controlfield value — round-trips as a NULL value."""
    obj = json.loads(text)
    # leader goes through the same scalar coercion as every other string
    # slot: an uncoerced int/dict leader would fail the whole Arrow batch
    # conversion (aborting the job), not just this line; the JVM engine's
    # variant->string cast projects the same JSON text
    out = {
        "leader": _scalar_str(obj.get("leader")) or " " * 24,
        "controlfields": [],
        "datafields": [],
    }
    for fld in obj.get("fields") or []:
        for tag, body in fld.items():
            if isinstance(body, dict):
                if tag in CONTROL_TAGS:
                    raise ValueError(f"object body under control tag {tag}")
                sfs_in = body.get("subfields")
                if not isinstance(sfs_in, list):
                    # ruby: field['subfields'].each on nil/scalar raises
                    raise ValueError(f"field {tag} subfields is not a list")
                sfs = []
                for sf in sfs_in:
                    for code, value in sf.items():
                        # non-string scalar values survive in ruby (duck
                        # typing); project to JSON text for the typed
                        # schema — an uncoerced int would crash the whole
                        # Arrow batch conversion, not just this line
                        sfs.append({"code": code, "value": _scalar_str(value)})
                out["datafields"].append(
                    {
                        "tag": tag,
                        "ind1": _scalar_str(body.get("ind1", " ")),
                        "ind2": _scalar_str(body.get("ind2", " ")),
                        "subfields": sfs,
                    }
                )
            else:
                if tag not in CONTROL_TAGS:
                    raise ValueError(f"non-object body under data tag {tag}")
                out["controlfields"].append(
                    {"tag": tag, "value": _scalar_str(body)}
                )
    return out


_ATTR_ESCAPES = {'"': "&quot;"}


def _attr(s: str) -> str:
    """Escape a string for an XML attribute VALUE position: saxutils.escape
    alone leaves double quotes alone, so a quote in tag/ind/code (lenient
    binary decode can produce one) would break the attribute out of its
    quotes and emit unparseable XML."""
    return escape(s, _ATTR_ESCAPES)


def to_marcxml(rec: dict) -> str:
    parts = [
        '<record xmlns="http://www.loc.gov/MARC21/slim">',
        f"<leader>{escape(rec.get('leader') or ' ' * 24)}</leader>",
    ]
    for cf in rec.get("controlfields") or []:
        parts.append(
            f'<controlfield tag="{_attr(cf.get("tag") or "")}">{escape(cf.get("value") or "")}</controlfield>'
        )
    for df in rec.get("datafields") or []:
        parts.append(
            f'<datafield tag="{_attr(df.get("tag") or "")}" ind1="{_attr(df.get("ind1") or " ")}"'
            f' ind2="{_attr(df.get("ind2") or " ")}">'
        )
        for sf in df.get("subfields") or []:
            parts.append(
                f'<subfield code="{_attr(sf.get("code") or "")}">{escape(sf.get("value") or "")}</subfield>'
            )
        parts.append("</datafield>")
    parts.append("</record>")
    return "".join(parts)


def _value_encoder(encoding: str):
    """str -> bytes for one field/subfield value on the WRITE side.
    'MARC-8' routes through the LoC converter with NCR fallback (the
    standard\'s lossless &#xHHHH; escape) so any Unicode value is
    writable; anything else is a Python codec name, STRICT: a value the
    codec cannot carry raises instead of silently writing '?' — replace
    is the documented posture for the READ side only (review r12)."""
    enc = (encoding or "utf-8").strip().lower().replace("_", "-")
    if enc in ("marc-8", "marc8", "marc-8-preserve", "marc8-preserve"):
        # the -preserve alias is accepted for read/write symmetry: the
        # encoder already emits preserve-parked bytes verbatim
        return lambda s: unicode_to_marc8(s, ncr_fallback=True)
    codec = (encoding or "utf-8").strip() or "utf-8"
    return lambda s: s.encode(codec)


def to_iso2709(
    rec: dict, allow_oversized: bool = False, encoding: str = "utf-8"
) -> bytes:
    """Encode one record as ISO 2709 binary MARC.

    Directory/leader length slots are fixed-width decimal; a record or
    field too long to fit raises unless ``allow_oversized``, in which
    case the overflowing slots are written as zeros (the reference's
    MARC::Writer.encode(record, allow_oversized) behavior — readers that
    scan for field/record terminators can still parse such records).
    ``encoding`` applies to field/subfield VALUES (tags, indicators and
    the leader are spec-ASCII): a codec name or 'MARC-8' (values through
    the LoC converter, unencodable chars as lossless &#xHHHH; numeric
    character references — see :func:`_value_encoder`).
    """
    enc = _value_encoder(encoding)
    field_bytes: list[tuple[str, bytes]] = []
    for cf in rec.get("controlfields") or []:
        field_bytes.append(
            (cf.get("tag") or "", enc(cf.get("value") or "") + FT)
        )
    for df in rec.get("datafields") or []:
        body = (df.get("ind1") or " ").encode("utf-8") + (
            df.get("ind2") or " "
        ).encode("utf-8")
        for sf in df.get("subfields") or []:
            body += (
                SD
                + (sf.get("code") or "").encode("utf-8")
                + enc(sf.get("value") or "")
            )
        field_bytes.append((df.get("tag") or "", body + FT))

    def slot(n: int, width: int, what: str) -> str:
        if n < 10**width:
            return f"{n:0{width}d}"
        if allow_oversized:
            return "0" * width
        raise ValueError(
            f"{what} length {n} exceeds ISO 2709's {width}-digit slot; "
            "pass allow_oversized=True to write zeros instead"
        )

    directory = b""
    data = b""
    for tag, body in field_bytes:
        directory += (
            f"{tag:>3.3}" + slot(len(body), 4, f"field {tag}")
            + slot(len(data), 5, f"field {tag} offset")
        ).encode("ascii", "replace")
        # 'replace', like the leader below: directory entries must be
        # exactly 12 BYTES each — a non-ASCII tag (legal in the
        # string-typed schema, producible by JSON ingest) must degrade
        # THIS record's tag to '?', not UnicodeEncodeError the whole
        # Arrow serialization batch
        data += body
    directory += FT
    base = 24 + len(directory)
    total = base + len(data) + 1
    # normalize to exactly 24 chars: a short/overlong leader (user JSON
    # passes leaders through verbatim) would otherwise desynchronize the
    # written bytes from the length/base slots and corrupt the record
    leader = ((rec.get("leader") or "")[:24]).ljust(24)
    # leader/09 (character coding scheme) must describe the bytes this
    # call actually wrote: ' ' = MARC-8, 'a' = UCS/Unicode (advice r12
    # — a UTF-8-sourced record written as MARC-8 would otherwise
    # self-describe as Unicode and external readers keying on leader/09,
    # e.g. pymarc to_unicode, would misdecode it). Other codecs have no
    # defined leader/09 value and pass the caller's byte through.
    enc_name = (encoding or "utf-8").strip().lower().replace("_", "-")
    if enc_name in ("marc-8", "marc8", "marc-8-preserve", "marc8-preserve"):
        coding = " "
    elif enc_name in ("", "utf-8", "utf8"):
        coding = "a"
    else:
        coding = leader[9]
    leader = (
        slot(total, 5, "record") + leader[5:9] + coding + leader[10:12]
        + slot(base, 5, "record base") + leader[17:24]
    )
    # the leader must be exactly 24 BYTES (offsets count from it): any
    # non-ASCII char would multi-byte-encode and shift every offset
    return leader.encode("ascii", "replace") + directory + data + RT


#: codecs (``codecs.lookup(name).name``) that decode bytes 0x00-0x7F as
#: ASCII: under them a datafield body of printable ASCII decodes the same
#: whole as subfield by subfield. EBCDIC-style codecs (cp037, cp500, ...)
#: give those bytes other characters and keep the per-subfield decode.
_ASCII_COMPATIBLE = frozenset(
    {"utf-8", "ascii", "iso8859-1", "iso8859-15", "cp1252"}
)

#: a byte that keeps a datafield body off the whole-field decode: the C0
#: controls other than tab, LF, CR and the subfield delimiter, and DEL —
#: the bytes the MARC-8 per-value fast path sends to the state machine
_NOT_PLAIN = re.compile(rb"[\x00-\x08\x0b\x0c\x0e-\x1e\x7f]")

#: one 12-byte directory entry: tag, field length, starting position
_ENTRY = re.compile(rb"(...)(....)(.....)", re.DOTALL)


def _decoder(encoding: str) -> tuple:
    """(decode, whole_fields, expand_ncrs) for one MARC field/subfield
    value. 'MARC-8' (the reference's marc_source.encoding = 'MARC-8',
    marc_reader.rb:27-35) routes through the LoC escape-sequence
    converter with :invalid => :replace parity; anything else is a
    Python codec name, decoded with errors='replace'. MARC-8
    designations are resolved per decoded value (per subfield),
    matching ruby-marc's per-value transcoding — MARC 21 requires
    fields to return to the default sets, and vendor data re-designates
    per subfield in practice.

    ``whole_fields``: a printable-ASCII datafield body may be decoded
    once and split on the subfield delimiter (MARC-8 and the codecs in
    ``_ASCII_COMPATIBLE``); ``expand_ncrs``: such values still need
    MARC-8's ``&#x...;`` expansion."""
    enc = (encoding or "utf-8").strip().lower().replace("_", "-")
    if enc in ("marc-8", "marc8"):
        return marc8_decoder(), True, True
    if enc in ("marc-8-preserve", "marc8-preserve"):
        # byte-preserving posture for sets with no bundled table (EACC
        # CJK, Extended Arabic): unmapped spans land on plane-15 PUA
        # codepoints instead of U+FFFD, and to_iso2709(encoding='MARC-8')
        # emits them back verbatim — read->write round-trips
        # byte-identically even through scripts the converter can't map
        return marc8_decoder("preserve"), True, True
    # the normalized-empty check above implies None/'' mean utf-8 —
    # decode with a whitespace-stripped name so ' latin-1 ' (which the
    # marc8 check already treats as non-MARC-8) resolves as a codec;
    # an unknown name raises LookupError here
    codec = (encoding or "utf-8").strip() or "utf-8"
    whole = codecs.lookup(codec).name in _ASCII_COMPATIBLE
    return (lambda b: b.decode(codec, errors="replace")), whole, False


class _Memo(dict):
    """bytes -> str through ``decode``, each distinct key decoded once."""

    def __init__(self, decode):
        super().__init__()
        self._decode = decode

    def __missing__(self, key: bytes) -> str:
        value = self[key] = self._decode(key)
        return value


class Iso2709Columns:
    """The ISO 2709 parser: :meth:`add` appends one record to column
    buffers — record ids, leaders, list offsets and the tag, indicator,
    code and value strings — which ``marc.io`` assembles into Arrow
    columns of ``MARC_SOURCE_SCHEMA`` and :func:`from_iso2709` into one
    record dict. Lenient like the reference readers: a bad directory
    entry skips its field, a record without a usable leader is dropped.

    Decode work per record: tags, indicators and subfield codes are
    memoised per parser; a datafield body of printable ASCII is decoded
    once and split on ``0x1F`` where the encoding allows it (see
    :func:`_decoder`); every other value goes through the per-value
    decoder."""

    def __init__(self, encoding: str = "utf-8", id_tag: str = "001"):
        self._dec, self._whole, self._ncr = _decoder(encoding)
        self._id_tag = id_tag
        self._memo = _Memo(self._dec)
        self.clear()

    def clear(self) -> None:
        self.ids: list = []
        self.leaders: list = []
        self.cf_offsets = [0]
        self.cf_tags: list = []
        self.cf_values: list = []
        self.df_offsets = [0]
        self.df_tags: list = []
        self.df_ind1: list = []
        self.df_ind2: list = []
        self.sf_offsets = [0]
        self.sf_codes: list = []
        self.sf_values: list = []

    def __len__(self) -> int:
        return len(self.leaders)

    def add(self, raw: bytes) -> bool:
        """Append one record; False (nothing appended) when ``raw`` has
        no leader or a non-numeric base address."""
        if len(raw) < 24:
            return False
        try:
            base = int(raw[12:17])
        except ValueError:
            return False
        dec, memo = self._dec, self._memo
        whole, ncr, expand = self._whole, self._ncr, _expand_ncr
        cf_tags, cf_values = self.cf_tags, self.cf_values
        df_tags, df_ind1, df_ind2 = self.df_tags, self.df_ind1, self.df_ind2
        codes, values = self.sf_codes, self.sf_values
        sf_offsets, id_tag = self.sf_offsets, self._id_tag
        self.leaders.append(dec(raw[:24]))
        directory = raw[24 : base - 1]
        data_region = raw[base:]
        record_id = None
        pos = 0  # expected start of the next field (directory order)
        for key, length, start in _ENTRY.findall(directory):
            try:
                length = int(length)
                start = int(start)
            except ValueError:
                # a skipped entry breaks the end-of-previous-field chain:
                # the NEXT field's zeroed start can no longer be recovered
                # from pos (it would point at the field before the gap)
                pos = -1
                continue
            # allow_oversized zeroes slots that overflow their fixed
            # width; recover by scanning like the reference's forgiving
            # readers: a zeroed offset (except for the first field) means
            # "where the previous field ended", and a zeroed length (a
            # real body is >=1 byte, it always ends with FT) means "up to
            # the next FT".
            if start == 0 and pos > 0:
                start = pos
            elif start == 0 and pos < 0:
                # recovery chain broken by a skipped entry: a zeroed
                # start here cannot be resolved — reading from offset 0
                # would return some earlier field's bytes. Drop the field.
                continue
            if length == 0:
                end = data_region.find(FT, start)
                if end == -1:
                    continue
                length = end - start + 1
            pos = start + length
            body = data_region[start:pos].rstrip(FT)
            tag = memo[key]
            if tag in CONTROL_TAGS:
                # the canonical ruby-marc control-tag set (001-009): "000"
                # or alphanumeric "00x" tags are DataFields there, and the
                # JSON/XML serializers here dispatch on the same set — a
                # wider predicate would make an ISO round-trip drop them
                value = dec(body)
                cf_tags.append(tag)
                cf_values.append(value)
                if record_id is None and tag == id_tag:
                    record_id = value
                continue
            df_ind1.append(memo[body[0:1]] or " ")
            df_ind2.append(memo[body[1:2]] or " ")
            df_tags.append(tag)
            rest = body[2:]
            if whole and rest.isascii() and not _NOT_PLAIN.search(rest):
                for chunk in rest.decode("ascii").split("\x1f"):
                    if chunk:
                        codes.append(chunk[0])
                        value = chunk[1:]
                        values.append(
                            expand(value) if ncr and "&#x" in value else value
                        )
            else:
                for chunk in rest.split(SD):
                    if chunk:
                        codes.append(memo[chunk[:1]])
                        values.append(dec(chunk[1:]))
            sf_offsets.append(len(codes))
        self.ids.append(record_id)
        self.cf_offsets.append(len(cf_tags))
        self.df_offsets.append(len(df_tags))
        return True

    def record(self, i: int) -> dict:
        """Record ``i`` of the buffers as a nested record dict."""
        cfs = [
            {"tag": self.cf_tags[k], "value": self.cf_values[k]}
            for k in range(self.cf_offsets[i], self.cf_offsets[i + 1])
        ]
        dfs = [
            {
                "tag": self.df_tags[d],
                "ind1": self.df_ind1[d],
                "ind2": self.df_ind2[d],
                "subfields": [
                    {"code": self.sf_codes[k], "value": self.sf_values[k]}
                    for k in range(self.sf_offsets[d], self.sf_offsets[d + 1])
                ],
            }
            for d in range(self.df_offsets[i], self.df_offsets[i + 1])
        ]
        return {"leader": self.leaders[i], "controlfields": cfs, "datafields": dfs}


def from_iso2709(raw: bytes, encoding: str = "utf-8") -> Optional[dict]:
    """Decode one ISO 2709 record into a record dict, or None when it
    has no usable leader: one record through :class:`Iso2709Columns`,
    the parser ``read_iso2709`` runs. ``encoding`` accepts Python codec
    names or 'MARC-8' / 'MARC-8-preserve' (see :func:`_decoder`)."""
    cols = Iso2709Columns(encoding)
    return cols.record(0) if cols.add(raw) else None


def split_iso2709_stream(raw: bytes) -> list[bytes]:
    """Split a concatenated ISO 2709 stream on record terminators."""
    out = []
    for chunk in raw.split(RT):
        if chunk.strip(b"\x00\r\n "):
            # newline-separated records (common vendor format): leading
            # padding would shift the 24-byte leader and lose the record
            out.append(chunk.lstrip(b"\x00\r\n ") + RT)
    return out
