"""MARC21 extraction macros (reference: lib/traject/macros/marc21.rb)."""

from __future__ import annotations

import base64
from typing import Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from traject_spark.expr import SQL_EMPTY, SqlMacro, sql_let
from traject_spark.macros.semantics import _sql_trim_punct
from traject_spark.marc.extractor import extract_values_sql
from traject_spark.marc.spec import parse_marc_spec
from traject_spark.sqlutil import sql_str_lit, sql_string_of
from traject_spark.translation_map import TranslationMap

EXTRACT_MARC_VALID_OPTIONS = {
    "first",
    "trim_punctuation",
    "default",
    "allow_duplicates",
    "separator",
    "translation_map",
    "alternate_script",
}


def extract_marc(spec: str, **options):
    """The workhorse macro (marc21.rb:62-93).

    Options applied IN ORDER to the whole accumulator
    (apply_extraction_options, marc21.rb:115-140):
    first -> translation_map -> trim_punctuation -> de-dup (unless
    allow_duplicates) -> default (only when :default given and empty).

    Unknown options raise, mirroring marc21.rb:67-69.

    A text macro: the extraction is generated SQL for the common spec
    shape (datafield-only, no indicator filters,
    alternate_script='include') and the Column builder through the
    pipeline's bridge for the rest
    (:func:`~traject_spark.marc.extractor.extract_values_sql`); the
    option wrappers are text on top, a translation map through
    ``TranslationMap.sql_probe`` when it qualifies.
    """
    unknown = set(options) - EXTRACT_MARC_VALID_OPTIONS
    if unknown:
        raise ValueError(f"Unknown extract_marc options: {sorted(unknown)}")

    first = options.get("first", False)
    trim = options.get("trim_punctuation", False)
    has_default = "default" in options
    default_value = options.get("default")
    allow_duplicates = options.get("allow_duplicates", False)
    separator = options.get("separator", " ")
    alternate_script = options.get("alternate_script", "include")

    tmap = options.get("translation_map")
    if tmap is not None and not isinstance(tmap, TranslationMap):
        tmap = TranslationMap(tmap)
    probe = tmap.sql_probe("v") if tmap is not None else None

    # parse NOW: spec errors surface at definition time, like the
    # reference's config-load validation (marc_extractor_spec.rb:192-194)
    parsed_spec = parse_marc_spec(spec)

    def sql(acc: str, ctx) -> str:
        vals = extract_values_sql(ctx, parsed_spec, separator, alternate_script)
        # the reference applies options to the shared accumulator, i.e.
        # including values appended by earlier macros in the same rule
        out = f"concat({acc}, {vals})"
        if first:
            # Array(accumulator[0]) in the reference (marc21.rb first!):
            # a NIL first element becomes [], NOT [nil] — so :default can
            # still fire (e.g. an out-of-range byteslice yields null). A
            # bare slice(out, 1, 1) would keep [null] and block it.
            out = f"filter(slice({out}, 1, 1), x -> x IS NOT NULL)"
        if probe is not None:
            out = f"filter(transform({out}, v -> {probe}), x -> x IS NOT NULL)"
        elif tmap is not None:
            out = ctx.column_sql(tmap.translate_array_expr(F.expr(out)))
        if trim:
            out = f"transform({out}, v -> {_sql_trim_punct('v')})"
        if not allow_duplicates:
            out = f"array_distinct({out})"
        if has_default:
            # a non-string default renders as its string form (the
            # accumulator is array<string>); None stays a null element
            # (the reference appends nil on has_key?(:default),
            # marc21.rb:136-138, and output post-processing drops it)
            fill = sql_string_of(default_value)
            out = sql_let(
                out, "d", f"CASE WHEN size(d) = 0 THEN array({fill}) ELSE d END"
            )
        return out

    return SqlMacro(sql)


def extract_all_marc_values(
    from_tag: str = "100", to_tag: str = "899", separator: Optional[str] = " "
):
    """All subfield values of data fields with from <= tag <= to, one
    joined string per field (marc21.rb:213-238)."""
    vals = "transform(f.subfields, sf -> sf.value)"
    if separator is None:
        # guard NULL subfields arrays (schema-legal in user parquet): a
        # NULL contribution would null the whole record's flatten; the
        # joined branch below is already safe (size(NULL) > 0 is NULL ->
        # the empty ELSE)
        per_field = f"coalesce({vals}, {SQL_EMPTY})"
    else:
        per_field = (
            f"CASE WHEN size({vals}) > 0 THEN "
            f"array(array_join({vals}, {sql_str_lit(separator)})) "
            f"ELSE {SQL_EMPTY} END"
        )
    tag_range = (
        f"(f.tag >= {sql_str_lit(from_tag)}) AND (f.tag <= {sql_str_lit(to_tag)})"
    )

    def sql(acc: str, ctx) -> str:
        # coalesce the OUTER array too: marc.datafields = NULL is
        # schema-legal in user parquet, and transform(NULL) -> NULL
        # would ride concat() and wipe earlier macros' contributions to
        # the same field
        fields = f"filter({ctx.source_sql}.datafields, f -> {tag_range})"
        return (
            f"concat({acc}, coalesce(flatten(transform({fields}, "
            f"f -> {per_field})), {SQL_EMPTY}))"
        )

    return SqlMacro(sql)


def serialized_marc(
    format: str = "json",
    binary_escape: bool = True,
    allow_oversized: bool = False,
    encoding: str = "utf-8",
):
    """Re-serialize the whole record (marc21.rb:174-198).

    ``json`` -> canonical marc-in-json; ``xml`` -> MARCXML; ``binary`` ->
    ISO 2709, base64-encoded by default (binary_escape);
    ``allow_oversized`` writes zeroed length slots for records/fields
    too long for ISO 2709's fixed-width directory instead of raising
    (marc21.rb:181, MARC::Writer.encode). ``encoding`` (binary only)
    selects the value byte encoding — any codec name or ``MARC-8`` /
    ``MARC-8-preserve`` through the LoC converter with lossless NCR
    fallback; leader/09 is forced to match the bytes written (see
    :func:`traject_spark.marc.serialize.to_iso2709`). Row-level
    serialization runs in an Arrow-batched pandas UDF over the record's
    JSON projection — a sink-side path, not the hot mapping path.
    """
    from traject_spark.marc import serialize as ser

    fmt = str(format)
    if fmt not in ("json", "xml", "binary"):
        raise ValueError(f"serialized_marc format must be json/xml/binary, got {fmt!r}")

    @pandas_udf("string")
    def _serialize(js: pd.Series) -> pd.Series:
        def one(text):
            if text is None:
                return None
            rec = ser.struct_json_to_record(text)
            if fmt == "json":
                return ser.to_marc_in_json(rec)
            if fmt == "xml":
                return ser.to_marcxml(rec)
            raw = ser.to_iso2709(rec, allow_oversized, encoding=encoding)
            if binary_escape:
                # Ruby Base64.encode64 (marc21.rb:189) emits RFC-2045
                # line-wrapped output: a newline every 60 chars AND a
                # trailing newline — byte-identical output matters to
                # consumers that line-split before decoding
                enc = base64.b64encode(raw).decode("ascii")
                return (
                    "\n".join(
                        enc[i : i + 60] for i in range(0, len(enc), 60)
                    )
                    + "\n"
                    if enc
                    else ""
                )
            return raw.decode("utf-8", errors="replace")

        return js.map(one)

    def macro(acc: Column, ctx=None) -> Column:
        rec_json = F.to_json(ctx.marc)
        return F.concat(acc, F.array(_serialize(rec_json)))

    return macro
