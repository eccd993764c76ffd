"""MARC21 semantic derivation macros.

Ports of lib/traject/macros/marc21_semantics.rb — opinionated,
deterministic record->values functions, each compiled to intra-row
expressions (no UDF, no shuffle): the flagship's macros are text macros
(``expr.SqlMacro``) over generated SQL, with the Column builder through
the pipeline's bridge for specs and maps the SQL cannot take; the rest
are Column macros.  Every function cites the reference
lines whose behavior it replicates, including the reference's own quirks
(Ruby #to_i prefix parsing, sub-vs-gsub first-occurrence replacement,
un-anchored period stripping) — those are part of the contract.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from traject_spark.expr import SQL_EMPTY, SqlMacro, let, let2, sql_let
from traject_spark.marc.extractor import (
    _SQL_FIRST6,
    _empty,
    _extract_sql,
    _sql_collect_subfields,
    _sql_tag_match,
    collect_matching_lines,
    collect_subfields_expr,
    extract_values_sql,
    marc_extract,
)
from traject_spark.marc.spec import parse_marc_spec
from traject_spark.transforms import ruby_to_i_expr, trim_punctuation_expr
from traject_spark.sqlutil import sql_str_lit as _rx_lit, sql_value_of

from traject_spark.translation_map import TranslationMap

#: geo-facet regexes, shared between the Column path and the SQL
#: compiler — rendered through sql_str_lit so the compiled text is
#: lexer-independent (advice r12)
_GEO_HYPHEN_RX = r"\-+\Z"
_GEO_DOT_SPLIT_RX = r"(?s)\A(.*?)(?:\. *)(.*)\Z"
_GEO_TRAIL_DOT_RX = r"\. *\Z"
_GEO_HYPHEN_LIT = _rx_lit(_GEO_HYPHEN_RX)
_GEO_DOT_SPLIT_LIT = _rx_lit(_GEO_DOT_SPLIT_RX)
_GEO_TRAIL_DOT_LIT = _rx_lit(_GEO_TRAIL_DOT_RX)


def _ruby_sub_first(v: Column, pattern_no_groups: str, replacement: str = "") -> Column:
    """Ruby String#sub: replace FIRST occurrence only.  Java regexp_replace
    replaces all, so wrap: ^(.*?)PAT(.*)$ -> $1<repl>$2.  ``pattern_no_groups``
    must not contain capturing groups."""
    return F.regexp_replace(
        v,
        r"(?s)\A(.*?)" + f"(?:{pattern_no_groups})" + r"(.*)\Z",
        "$1" + replacement + "$2",
    )


# ---------------------------------------------------------------------------
# oclcnum (marc21_semantics.rb:18-48)
# ---------------------------------------------------------------------------

#: Ruby OCLCPAT (marc21_semantics.rb:35-40), /x whitespace stripped, Java form
OCLCPAT = r"\A\s*(?:\(OCoLC\)|(?:\(OCoLC\))?(?:ocm|ocn|on))(\d+)"
_OCLC_LIT = _rx_lit(OCLCPAT)


def oclcnum(spec: str = "035a"):
    """Extract OCLC numbers: known prefixes stripped to digits, non-matches
    dropped, de-duplicated (marc21_semantics.rb:18-48)."""
    parsed = parse_marc_spec(spec)

    def sql(acc: str, ctx) -> str:
        vals = extract_values_sql(ctx, parsed, separator=None)
        nums = f"transform({vals}, v -> regexp_extract(v, {_OCLC_LIT}, 1))"
        kept = f"filter({nums}, x -> (x IS NOT NULL) AND (x != ''))"
        return f"concat({acc}, array_distinct({kept}))"

    return SqlMacro(sql)


# ---------------------------------------------------------------------------
# sortable author / title (marc21_semantics.rb:66-118)
# ---------------------------------------------------------------------------

def _nonfiling_slice(s: Column, ind2: Column) -> Column:
    """str.slice(ind2.to_i, len): '' when start == len, NULL when start > len."""
    return let2(
        s,
        ruby_to_i_expr(ind2),
        lambda sv, n: F.when(
            F.length(sv) >= n, F.substring(sv, (n + 1).cast("int"), 2_000_000)
        ).otherwise(F.lit(None).cast("string")),
    )


# --- SQL forms of the shared string transforms -----------------------------

#: same pattern strings the Column builders in transforms.py compose
_STRIP_PAT = _rx_lit(r"\A[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r\x00]+\Z")


def _sql_strip(v_sql: str) -> str:
    """SQL form of transforms.ruby_string_strip_expr."""
    return f"regexp_replace({v_sql}, {_STRIP_PAT}, '')"


_TRIM1 = _rx_lit(r" *[ ,/;:] *\Z")
_TRIM2 = _rx_lit(r"(?U)( *\w{3,})\. *\Z")
_TRIM3 = _rx_lit(r"\A\[?([^\[\]]+)\]?\Z")


def _sql_trim_punct(v_sql: str) -> str:
    """SQL form of transforms.trim_punctuation_expr (same four regexes
    in the same order)."""
    v1 = f"regexp_replace({v_sql}, {_TRIM1}, '')"
    v2 = f"regexp_replace({v1}, {_TRIM2}, {_rx_lit('$1')})"
    v3 = f"regexp_replace({v2}, {_TRIM3}, {_rx_lit('$1')})"
    return _sql_strip(v3)


def _sql_nonfiling(s_sql: str, ind2_sql: str) -> str:
    """SQL form of _nonfiling_slice (same let2 shape)."""
    return sql_let(
        s_sql,
        "nfs",
        sql_let(
            _sql_to_i(ind2_sql),
            "nfn",
            "CASE WHEN length(nfs) >= nfn THEN "
            "substring(nfs, CAST((nfn + 1) AS int), 2000000) END",
        ),
    )


_SQL_EFFTAG = (
    "CASE WHEN f.tag = '880' THEN "
    f"coalesce(substring({_SQL_FIRST6}, 1, 3), '880') ELSE f.tag END"
)


def _simple_data_spec(s) -> bool:
    """Specs the lcsh generated SQL takes: plain datafield spec, no
    indicator filters, not 880, not a control tag."""
    from traject_spark.marc.serialize import CONTROL_TAGS

    return (
        not s.is_byte_spec
        and s.ind1 is None
        and s.ind2 is None
        and s.tag != "880"
        and s.tag not in CONTROL_TAGS
    )


def marc_sortable_author():
    """Concat of first 100/110/111 (first+strip) and first 240-else-245
    title with ind2 non-filing chars stripped; ALWAYS appends one string,
    '' when nothing found (marc21_semantics.rb:66-88).

    Reference quirk preserved: get_sortable_author passes
    ``:trim_punctuation => true`` to MarcExtractor.cached, but
    MarcExtractor#extract never reads that option (only the Marc21 macro
    layer does, marc21.rb:115-140) — so the author is NOT
    trim-punctuated, only stripped. The per-subfield trim on the TITLE
    half is explicit in the reference (marc21_semantics.rb:80) and kept.
    """

    _onexx_spec = parse_marc_spec("100:110:111")

    def _sql(marc_sql: str) -> str:
        onexx = _sql_strip(
            f"get({_extract_sql(marc_sql, _onexx_spec, ' ')}, 0)"
        )
        joined = (
            "array_join(transform(fld.subfields, sf -> "
            + _sql_strip(_sql_trim_punct(_sql_strip("sf.value")))
            + "), ' ')"
        )
        with_field = _sql_strip(_sql_nonfiling(joined, "fld.ind2"))
        title = sql_let(
            f"get(filter({marc_sql}.datafields, "
            f"f -> ({_SQL_EFFTAG}) IN ('240', '245')), 0)",
            "fld",
            with_field,
        )
        # [onexx, title].compact.join("   ") — concat_ws skips NULLs
        return f"array(concat_ws('   ', {onexx}, {title}))"

    return SqlMacro(lambda acc, ctx: f"concat({acc}, {_sql(ctx.source_sql)})")


def marc_sortable_title(spec: str = "245ab"):
    """First 245ab (fallback first $k), ind2 non-filing chars stripped,
    trim_punctuation; nothing appended when no field
    (marc21_semantics.rb:92-118)."""
    (parsed,) = parse_marc_spec(spec)
    # honor indicator filters a CUSTOM spec carries (the reference's
    # hardcoded '245ab' never has them, but its collect_matching_lines
    # would apply them if it did — the faithful generalization of our
    # net-new spec parameter)
    match = f"({_SQL_EFFTAG}) = '{parsed.tag}'"
    if parsed.ind1 is not None:
        match += f" AND f.ind1 = '{parsed.ind1}'"
    if parsed.ind2 is not None:
        match += f" AND f.ind2 = '{parsed.ind2}'"
    joined = "get(" + _sql_collect_subfields(parsed, " ", fvar="fld") + ", 0)"
    k = "get(filter(fld.subfields, sf -> sf.code = 'k'), 0).value"
    with_field = _sql_trim_punct(
        _sql_nonfiling(f"coalesce({joined}, {k})", "fld.ind2")
    )

    def sql(acc: str, ctx) -> str:
        st = sql_let(
            f"get(filter({ctx.source_sql}.datafields, f -> {match}), 0)",
            "fld",
            with_field,
        )
        return f"concat({acc}, filter(array({st}), x -> x IS NOT NULL))"

    return SqlMacro(sql)


def extract_marc_filing_version(spec: str = "245abdefghknp", include_original: bool = False):
    """Generic non-filing strip (marc21_semantics.rb:129-181): for each
    matching field take the FIRST collected value; strip ind2 chars iff
    ind2 > 0 AND the spec names the field's first subfield code.

    Note: the reference calls ``field.subfields.first{...}`` — Array#first
    ignores the block, so the check uses the FIRST subfield's code, not the
    first *alphabetic* one; replicated faithfully (marc21_semantics.rb:170).
    """
    parsed = parse_marc_spec(spec)

    def per_field(f: Column, s) -> Column:
        def with_head(head: Column) -> Column:
            ind2 = ruby_to_i_expr(f["ind2"])
            first_code = F.get(f["subfields"], 0)["code"]
            spec_covers = (
                F.lit(False)
                if s.subfields is None
                else first_code.isin(list(s.subfields))
            )
            filing = F.when(
                (ind2 > 0) & spec_covers, _nonfiling_slice(head, f["ind2"])
            ).otherwise(head)
            return F.when(
                head.isNotNull() & (head != ""),
                F.array_distinct(F.array(head, filing))
                if include_original
                else F.array(filing),
            ).otherwise(_empty())

        return let(F.get(collect_subfields_expr(f, s, " "), 0), with_head)

    def macro(acc: Column, ctx=None) -> Column:
        return F.concat(
            acc, collect_matching_lines(ctx.marc, parsed, per_field)
        )

    return macro


# ---------------------------------------------------------------------------
# languages (marc21_semantics.rb:195-223)
# ---------------------------------------------------------------------------

_LANGUAGES_DEFAULT_SPEC = "008[35-37]:041a:041d"


def _languages_sql(marc_sql: str, probe_sql: str) -> str:
    """The DEFAULT-spec marc_languages expression as ONE generated-SQL
    string (the Column builder costs ~3k Py4J round trips per compile).
    Values are pinned by tests/data/macro_goldens.json — each piece
    mirrors a named helper:

    - ctrl: 008 byte-slice [35-37] (extractor._byteslice: NULL when the
      fixed field is shorter than the range start);
    - match: 041 tag OR an 880 whose first $6 links 041
      (extractor.collect_matching_lines match_cond, $6 via null-safe
      ``get``);
    - per-field: $a then $d values (non-null only), each chunked into
      3-char codes when longer than 3 (marc21_semantics.rb:203-210);
    - let-bound ctrl/data combine (expr.let2 aggregate form), distinct,
      then the single-string map probe (TranslationMap.sql_probe) with
      misses dropped.
    """
    first6 = "get(filter(f.subfields, sf -> sf.code = '6'), 0).value"
    ctrl = (
        f"flatten(transform(filter({marc_sql}.controlfields, "
        "f -> f.tag = '008'), f -> array(CASE WHEN length(f.value) >= 35 "
        "THEN substring(f.value, 36, 3) END)))"
    )
    match = (
        "(f.tag = '041' OR ((f.tag = '880') AND "
        f"(substring({first6}, 1, 3) = '041')))"
    )

    def collect_chunked(code: str) -> str:
        vals = (
            "coalesce(transform(filter(f.subfields, "
            f"sf -> (sf.code = '{code}') AND (sf.value IS NOT NULL)), "
            "sf -> sf.value), CAST(array() AS array<string>))"
        )
        return (
            f"flatten(transform({vals}, v -> CASE WHEN length(v) = 3 "
            "THEN array(v) ELSE regexp_extract_all(v, '(.{1,3})', 1) "
            "END))"
        )

    data = (
        f"flatten(transform(filter({marc_sql}.datafields, f -> {match}), "
        f"f -> concat({collect_chunked('a')}, {collect_chunked('d')})))"
    )
    zero = "CAST(array() AS array<int>)"
    codes = (
        f"aggregate({zero}, {ctrl}, (acc, x) -> acc, "
        f"c -> aggregate({zero}, {data}, (acc, x) -> acc, "
        "d -> coalesce(concat(c, d), c, d, "
        "CAST(array() AS array<string>))))"
    )
    return (
        f"filter(transform(array_distinct({codes}), "
        f"v -> {probe_sql}), x -> x IS NOT NULL)"
    )


def marc_languages(
    spec: str = _LANGUAGES_DEFAULT_SPEC,
    translation_map: Optional[TranslationMap] = None,
):
    """Byte-slice + subfield codes; packed >3-char values chunked into
    3-char codes; de-dup; translate (marc21_semantics.rb:195-223).

    The default spec with a simple map builds as generated SQL; a
    custom spec, or a map the SQL probe cannot carry, bridges the
    Column builder."""
    parsed = parse_marc_spec(spec)
    if translation_map is None:
        translation_map = TranslationMap("marc_languages")
    elif not isinstance(translation_map, TranslationMap):
        translation_map = TranslationMap(translation_map)

    probe_sql = (
        translation_map.sql_probe("v")
        if spec == _LANGUAGES_DEFAULT_SPEC
        else None
    )

    def data_fn(f: Column, s) -> Column:
        vals = collect_subfields_expr(f, s, None)
        return F.flatten(
            F.transform(
                vals,
                lambda v: F.when(F.length(v) == 3, F.array(v)).otherwise(
                    F.regexp_extract_all(v, F.lit("(.{1,3})"), 1)
                ),
            )
        )

    def sql(acc: str, ctx) -> str:
        if probe_sql is not None:
            codes = _languages_sql(ctx.source_sql, probe_sql)
        else:
            codes = ctx.column_sql(translation_map.translate_array_expr(
                F.array_distinct(
                    collect_matching_lines(ctx.marc, parsed, data_fn)
                )
            ))
        return f"concat({acc}, {codes})"

    return SqlMacro(sql)


# ---------------------------------------------------------------------------
# series facet (marc21_semantics.rb:230-245)
# ---------------------------------------------------------------------------

def marc_series_facet(
    spec: str = "440a:490a:800abcdt:810abcdt:811acdeft:830adfgklmnoprst",
):
    """Series spec, skipping 490 when ind1='1' (series traced); values
    trim-punctuated, NOT de-duplicated (marc21_semantics.rb:230-245)."""
    parsed = parse_marc_spec(spec)

    def per_field(f: Column, s) -> Column:
        vals = collect_subfields_expr(f, s, " ")
        return F.when(
            (f["tag"] == "490") & (f["ind1"] == "1"), _empty()
        ).otherwise(vals)

    def macro(acc: Column, ctx=None) -> Column:
        vals = collect_matching_lines(ctx.marc, parsed, per_field)
        return F.concat(acc, F.transform(vals, trim_punctuation_expr))

    return macro


# ---------------------------------------------------------------------------
# instruments (marc21_semantics.rb:252-305)
# ---------------------------------------------------------------------------

def marc_instrumentation_humanized(
    spec: str = "048ab", translation_map=None
):
    """First 2 chars of 048 codes through the instruments map, de-dup
    (marc21_semantics.rb:252-264).  Missing-key lookups become NULL and
    survive to add_output (reference keeps nils from map[] misses too).

    Documented deviation for ARRAY-valued custom map entries: the
    reference appends the raw array as one nested element (its concat
    does not flatten); a flat array<string> column can't nest, so all
    elements are flattened in. The builtin marc_instruments map is
    scalar-valued, where the two behaviors are identical."""
    parsed = parse_marc_spec(spec)
    tmap = (
        translation_map
        if isinstance(translation_map, TranslationMap)
        else TranslationMap(translation_map or "marc_instruments")
    )

    def macro(acc: Column, ctx=None) -> Column:
        vals = marc_extract(ctx.marc, parsed, separator=None)
        human = F.array_distinct(
            F.flatten(
                F.transform(
                    vals,
                    lambda v: F.coalesce(
                        tmap.lookup_expr(F.substring(v, 1, 2)),
                        F.array(F.lit(None).cast("string")),
                    ),
                )
            )
        )
        return F.concat(acc, human)

    return macro


def marc_instrument_codes_normalized(spec: str = "048"):
    """048 codes indexed as full code, 2-char prefix, and '.s'-suffixed
    variants for $b soloist subfields; de-dup (marc21_semantics.rb:275-305)."""

    def per_field(f: Column, s) -> Column:
        def per_sf(sf: Column) -> Column:
            v = sf["value"]
            bare = F.substring(v, 1, 2)
            is_b = sf["code"] == "b"
            long_enough = F.length(v) >= 2
            has_number = F.length(v) >= 4
            parts = F.concat(
                F.when(long_enough, F.array(v)).otherwise(_empty()),
                F.when(long_enough & is_b, F.array(F.concat(v, F.lit(".s")))).otherwise(_empty()),
                F.when(long_enough & has_number, F.array(bare)).otherwise(_empty()),
                F.when(
                    long_enough & has_number & is_b,
                    F.array(F.concat(bare, F.lit(".s"))),
                ).otherwise(_empty()),
            )
            return parts

        return F.flatten(F.transform(f["subfields"], per_sf))

    parsed = parse_marc_spec(spec)

    def macro(acc: Column, ctx=None) -> Column:
        vals = collect_matching_lines(ctx.marc, parsed, per_field)
        return F.concat(acc, F.array_distinct(vals))

    return macro


# ---------------------------------------------------------------------------
# publication date (marc21_semantics.rb:316-394)
# ---------------------------------------------------------------------------

def _sql_to_i(v_sql: str) -> str:
    """SQL form of transforms.ruby_to_i_expr (duplicated subtree like the
    Column form — the regexp_extract appears twice there too)."""
    pat = _rx_lit(r"\A\s*([+-]?\d+)")
    d = f"regexp_extract({v_sql}, {pat}, 1)"
    return (
        f"coalesce(CAST(CASE WHEN {d} != '' THEN {d} END AS bigint), "
        "CAST(0 AS bigint))"
    )


def _sql_sub_first(v_sql: str, pattern_no_groups: str, replacement: str) -> str:
    """SQL form of _ruby_sub_first (same wrapped pattern + $1<repl>$2
    replacement string)."""
    pat = _rx_lit(r"(?s)\A(.*?)" + f"(?:{pattern_no_groups})" + r"(.*)\Z")
    rep = _rx_lit("$1" + replacement + "$2")
    return f"regexp_replace({v_sql}, {pat}, {rep})"


def _pubdate_sql(
    marc_sql: str, estimate_tolerance: int, min_year: int, max_year: int
) -> str:
    """The reference's single-date decision procedure as ONE generated-SQL
    expression (bigint, nullable); shared pieces are sql_let-bound so
    the 008 subtree is not copied per use. Values are pinned by
    tests/data/macro_goldens.json and the marc_pubdate oracle row.

    Logic (marc21_semantics.rb:335-394):
    - 008 with length >= 11: date_type = byte 6, date1 = bytes 7-10,
      date2 = bytes 11-14 when length > 15 else date1;
    - type q with date1 != date2: range midpoint ((d1.sub u->0) +
      (d2.sub u->9))/2 if 0 < d2-d1 <= tolerance  [Ruby sub: FIRST 'u'
      only, then #to_i prefix parse];
    - else, type not in (n, q): prefer date2 for r/p when nonzero; every
      'u' digit -> 0, midpoint via 10^ucount when within tolerance;
    - fallback: first 4 digits found in 264c, then 260c;
    - clamp to [min_year, max_year].

    The dtype guards sit OUTSIDE the let bindings: CASE WHEN evaluates
    its value only when the condition holds, so the regex subs are
    skipped for the (dominant) non-'q' records."""
    tol = int(estimate_tolerance)

    # --- 008 branch -------------------------------------------------------
    q_inner = (
        f"CASE WHEN (q2 > q1) AND ((q2 - q1) <= {tol}) "
        "THEN CAST(floor((q1 + q2) / 2) AS bigint) END"
    )
    q_val = (
        "CASE WHEN (dtype = 'q') AND (d1 != d2) THEN "
        + sql_let(
            _sql_to_i(_sql_sub_first("d1", "u", "0")),
            "q1",
            sql_let(_sql_to_i(_sql_sub_first("d2", "u", "9")), "q2", q_inner),
        )
        + " END"
    )
    date_str = (
        f"CASE WHEN (dtype IN ('r', 'p')) AND ({_sql_to_i('d2')} != 0) "
        "THEN d2 ELSE d1 END"
    )
    delta_body = (
        f"CASE WHEN (ucount > 0) AND (date_num != 0) THEN "
        f"(CASE WHEN delta <= {tol} "
        "THEN CAST((date_num + floor(delta / 2)) AS bigint) END) "
        "ELSE (CASE WHEN date_num != 0 THEN date_num END) END"
    )
    single_inner = sql_let(
        "CAST(power(CAST(10.0 AS double), CAST(ucount AS double)) AS bigint)",
        "delta",
        delta_body,
    )
    single_val = (
        "CASE WHEN NOT (dtype IN ('n', 'q')) THEN "
        + sql_let(
            date_str,
            "ds",
            sql_let(
                "CAST((length(ds) - length(translate(ds, 'u', ''))) AS bigint)",
                "ucount",
                sql_let(
                    _sql_to_i("translate(ds, 'u', '0')"),
                    "date_num",
                    single_inner,
                ),
            ),
        )
        + " END"
    )
    body = (
        "CASE WHEN (f8 IS NOT NULL) AND (length(f8) >= 11) THEN "
        f"coalesce({q_val}, {single_val}) END"
    )
    f8_raw = (
        f"get(filter({marc_sql}.controlfields, f -> f.tag = '008'), 0).value"
    )
    from_008 = sql_let(
        f8_raw,
        "f8",
        sql_let(
            "substring(f8, 7, 1)",
            "dtype",
            sql_let(
                "substring(f8, 8, 4)",
                "d1",
                sql_let(
                    "CASE WHEN length(f8) > 15 THEN substring(f8, 12, 4) "
                    "ELSE substring(f8, 8, 4) END",
                    "d2",
                    body,
                ),
            ),
        ),
    )

    # --- 264c / 260c fallback --------------------------------------------
    def four_digits(v_sql: str) -> str:
        pat = _rx_lit(r"(\d{4})")
        return sql_let(
            f"regexp_extract({v_sql}, {pat}, 1)",
            "g4",
            "CASE WHEN (g4 IS NOT NULL) AND (g4 != '') "
            "THEN CAST(g4 AS bigint) END",
        )

    f264 = f"get({_extract_sql(marc_sql, parse_marc_spec('264c'), None)}, 0)"
    f260 = f"get({_extract_sql(marc_sql, parse_marc_spec('260c'), None)}, 0)"
    fallback = f"coalesce({four_digits(f264)}, {four_digits(f260)})"

    return sql_let(
        f"coalesce({from_008}, {fallback})",
        "found",
        "CASE WHEN (found IS NOT NULL) AND "
        f"(found >= {int(min_year)}) AND (found <= {int(max_year)}) "
        "THEN found END",
    )


def marc_publication_date(
    estimate_tolerance: int = 15,
    min_year: int = 500,
    max_year: Optional[int] = None,
    as_string: bool = True,
):
    """Appends the single date when found (marc21_semantics.rb:316-332),
    built as one generated-SQL string (``_pubdate_sql``). ``as_string``
    keeps the accumulator uniformly array<string> (writers serialize the
    digits); False appends the typed bigint."""
    if max_year is None:
        import datetime

        max_year = datetime.date.today().year + 6

    def sql(acc: str, ctx) -> str:
        d_sql = _pubdate_sql(
            ctx.source_sql, estimate_tolerance, min_year, max_year
        )
        v_sql = f"CAST({d_sql} AS string)" if as_string else d_sql
        return f"concat({acc}, filter(array({v_sql}), x -> x IS NOT NULL))"

    return SqlMacro(sql)


# ---------------------------------------------------------------------------
# LCC broad category (marc21_semantics.rb:396-433)
# ---------------------------------------------------------------------------

#: Ruby LCC_REGEX (marc21_semantics.rb:398), Java syntax
LCC_REGEX = r"\A *[A-Z]{1,3}[ .]*(?:(\d+)(?:\s*?\.\s*?(\d+))?).*"
_LCC_LIT = _rx_lit(LCC_REGEX)


def marc_lcc_to_broad_category(
    spec: str = "050a:060a:090a:096a",
    default: Optional[str] = "Unknown",
    translation_map=None,
):
    """Keep LCC-shaped values, first letter -> lcc_top_level map, de-dup,
    default 'Unknown' (marc21_semantics.rb:411-433)."""
    parsed = parse_marc_spec(spec)
    tmap = (
        translation_map
        if isinstance(translation_map, TranslationMap)
        else TranslationMap(translation_map or "lcc_top_level")
    )

    probe = tmap.sql_probe("v")

    def sql(acc: str, ctx) -> str:
        cands = extract_values_sql(ctx, parsed, separator=None)
        kept = f"filter({cands}, v -> v RLIKE {_LCC_LIT})"
        letters = f"transform({kept}, v -> substring(ltrim(v), 1, 1))"
        if probe is not None:
            mapped = (
                f"filter(transform({letters}, v -> {probe}), "
                "x -> x IS NOT NULL)"
            )
        else:
            mapped = ctx.column_sql(
                tmap.translate_array_expr(F.expr(letters))
            )
        out = f"concat({acc}, array_distinct({mapped}))"
        if default is not None:
            fill = sql_value_of(default)
            out = sql_let(
                out, "d", f"CASE WHEN size(d) = 0 THEN array({fill}) ELSE d END"
            )
        return out

    return SqlMacro(sql)


# ---------------------------------------------------------------------------
# geographic facet (marc21_semantics.rb:444-491)
# ---------------------------------------------------------------------------

_GEO_A_DEFAULT = "651a:691a"
_GEO_Z_DEFAULT = "600:610:611:630:648:650:654:655:656:690:651:691"


def _geo_sql(marc_sql: str, probe_sql: str) -> str:
    """The DEFAULT-spec marc_geo_facet parts as ONE generated-SQL string
    (part1+part2+part3 concatenated; the caller wraps acc + distinct).
    Text instead of ~1000 Py4J round trips; values are pinned by
    tests/data/macro_goldens.json. Each fragment mirrors a named Column
    helper:

    - 043a codes via the merged tag match incl. the 880 $6 rewrite
      (extractor.match_cond), non-null $a values only
      (collect_subfields_expr);
    - part1: trailing hyphens stripped, single-string map probe
      (TranslationMap.sql_probe — gate requires eligibility), misses
      dropped;
    - part2: 651a/691a with the FIRST '. ' occurrence removed
      (_ruby_sub_first form);
    - part3: $z subdivisions per z-field; exactly two z's become
      'z2 (z1)' + posted-up z1 (z_per_field).
    """
    first6 = "get(filter(f.subfields, sf -> sf.code = '6'), 0).value"

    def tag_match(tags: list) -> str:
        tl = ", ".join(f"'{t}'" for t in tags)
        return (
            f"(f.tag IN ({tl}) OR ((f.tag = '880') AND "
            f"(substring({first6}, 1, 3) IN ({tl}))))"
        )

    def a_values(code: str) -> str:
        return (
            "coalesce(transform(filter(f.subfields, "
            f"sf -> (sf.code = '{code}') AND (sf.value IS NOT NULL)), "
            "sf -> sf.value), CAST(array() AS array<string>))"
        )

    codes = (
        f"flatten(transform(filter({marc_sql}.datafields, "
        f"f -> {tag_match(['043'])}), f -> {a_values('a')}))"
    )
    # lookup_expr let-binds its (computed) input; the probe references
    # its value twice, so bind the stripped code the same way
    part1 = (
        f"filter(transform({codes}, c -> "
        + sql_let(
            f"regexp_replace(c, {_GEO_HYPHEN_LIT}, '')", "v", probe_sql
        )
        + "), x -> x IS NOT NULL)"
    )
    a_vals = (
        f"flatten(transform(filter({marc_sql}.datafields, "
        f"f -> {tag_match(['651', '691'])}), f -> {a_values('a')}))"
    )
    part2 = (
        f"transform({a_vals}, s -> regexp_replace(s, "
        f"{_GEO_DOT_SPLIT_LIT}, '$1$2'))"
    )
    z_tags = _GEO_Z_DEFAULT.split(":")
    zs = (
        "transform(filter(f.subfields, sf -> sf.code = 'z'), "
        f"sf -> regexp_replace(sf.value, {_GEO_TRAIL_DOT_LIT}, ''))"
    )
    z_body = (
        "CASE WHEN size(zs) = 2 THEN array(concat(zs[1], ' (', zs[0], "
        "')'), zs[0]) ELSE zs END"
    )
    # coalesce per field: collect_matching_lines wraps each data_fn
    # contribution so a subfields=NULL field (schema-legal in user
    # parquet) contributes nothing instead of nulling the whole record
    part3 = (
        f"flatten(transform(filter({marc_sql}.datafields, "
        f"f -> {tag_match(z_tags)}), f -> coalesce("
        + sql_let(zs, "zs", z_body)
        + ", CAST(array() AS array<string>))))"
    )
    # marc.datafields = NULL (schema-legal in user parquet) nulls all
    # three parts; contribute nothing rather than wipe the accumulator
    return f"coalesce(concat({part1}, {part2}, {part3}), {SQL_EMPTY})"


def marc_geo_facet(
    geo_a_fields: str = _GEO_A_DEFAULT,
    geo_z_fields: str = _GEO_Z_DEFAULT,
    translation_map=None,
):
    """043a codes (trailing hyphens stripped) through the geographic map;
    651a/691a with FIRST '. ' occurrence removed (reference uses
    un-anchored sub, marc21_semantics.rb:467); $z subdivisions of subject
    fields — exactly two z's become 'z2 (z1)' plus posted-up 'z1'; whole
    accumulator de-duplicated (marc21_semantics.rb:444-491)."""
    a_parsed = parse_marc_spec(geo_a_fields)
    z_parsed = parse_marc_spec(geo_z_fields)
    tmap = (
        translation_map
        if isinstance(translation_map, TranslationMap)
        else TranslationMap(translation_map or "marc_geographic")
    )

    def z_per_field(f: Column, s) -> Column:
        return let(
            F.transform(
                F.filter(f["subfields"], lambda sf: sf["code"] == "z"),
                lambda sf: F.regexp_replace(sf["value"], _GEO_TRAIL_DOT_RX, ""),
            ),
            lambda zs: F.when(
                F.size(zs) == 2,
                F.array(
                    F.concat(zs[1], F.lit(" ("), zs[0], F.lit(")")), zs[0]
                ),
            ).otherwise(zs),
        )

    # generated SQL for the default specs + a probe-eligible map; the
    # probe embeds whatever map the SAME TranslationMap load produced, so
    # user shadowing flows through. Other inputs use the Column builder.
    probe_sql = (
        tmap.sql_probe("v")
        if geo_a_fields == _GEO_A_DEFAULT and geo_z_fields == _GEO_Z_DEFAULT
        else None
    )

    def sql(acc: str, ctx) -> str:
        if probe_sql is not None:
            parts = _geo_sql(ctx.source_sql, probe_sql)
        else:
            parts = ctx.column_sql(column_parts(ctx))
        return f"array_distinct(concat({acc}, {parts}))"

    def column_parts(ctx) -> Column:
        codes = marc_extract(ctx.marc, "043a", separator=None)
        part1 = F.flatten(
            F.filter(
                F.transform(
                    codes,
                    lambda c: tmap.lookup_expr(
                        F.regexp_replace(c, _GEO_HYPHEN_RX, "")
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        )
        a_vals = marc_extract(ctx.marc, a_parsed, separator=None)
        part2 = F.transform(a_vals, lambda s: _ruby_sub_first(s, r"\. *"))
        part3 = collect_matching_lines(ctx.marc, z_parsed, z_per_field)
        return F.concat(part1, part2, part3)

    return SqlMacro(sql)


# ---------------------------------------------------------------------------
# era facet (marc21_semantics.rb:499-531)
# ---------------------------------------------------------------------------

#: marc21_semantics.rb:517 — 'ca.' dot left unescaped as in the reference
ERA_RANGE_REGEX = r"\A\s*.+,\s+(ca.\s+)?\d\d\d\d?(-\d\d\d\d?)?( B\.C\.)?[.,; ]*\Z"


def marc_era_facet(
    ordinary_fields: str = "600y:610y:611y:630y:648ay:650y:654y:656y:690y",
    special_fields: str = "651:691",
    separator: str = ": ",
):
    """$y chron subdivisions (trailing period stripped); for 651/691 $y
    matching a date-range shape, prefix the field's $a
    (marc21_semantics.rb:499-531); whole accumulator de-duplicated."""
    ord_parsed = parse_marc_spec(ordinary_fields)
    spec_parsed = parse_marc_spec(special_fields)

    def special_per_field(f: Column, s) -> Column:
        a = F.coalesce(
            F.get(
                F.filter(f["subfields"], lambda sf: sf["code"] == "a"), 0
            )["value"],
            F.lit(""),
        )

        def per_y(sf: Column) -> Column:
            clean = F.regexp_replace(sf["value"], r"\. *\Z", "")
            return F.when(
                sf["value"].rlike(ERA_RANGE_REGEX),
                F.concat(a, F.lit(separator), clean),
            ).otherwise(clean)

        ys = F.filter(f["subfields"], lambda sf: sf["code"] == "y")
        return F.transform(ys, per_y)

    def macro(acc: Column, ctx=None) -> Column:
        ordinary = F.transform(
            marc_extract(ctx.marc, ord_parsed, separator=" "),
            lambda v: F.regexp_replace(v, r"\. *\Z", ""),
        )
        special = collect_matching_lines(ctx.marc, spec_parsed, special_per_field)
        return F.array_distinct(F.concat(acc, ordinary, special))

    return macro


# ---------------------------------------------------------------------------
# pre-coordinated LCSH (marc21_semantics.rb:540-596)
# ---------------------------------------------------------------------------

def _lcsh_sql(
    marc_sql: str,
    tags: list,
    subdivision_separator: str,
    other_separator: str,
) -> str:
    """The lcsh per-field assembly as ONE generated-SQL string for the
    merged single-group shape (all-subfield specs, no indicator
    filters). Mirrors per_field + collect_matching_lines' single-group
    path; values are pinned by tests/data/macro_goldens.json and the
    marc_lcsh oracle row."""
    subd = _rx_lit(subdivision_separator)
    other = _rx_lit(other_separator)
    code_pat = _rx_lit(r"\A[a-z]\Z")
    prefix = (
        f"CASE WHEN sfi.code IN ('v', 'x', 'y', 'z') THEN {subd} "
        f"WHEN sfi.i = 0 THEN '' ELSE {other} END"
    )
    step = (
        f"CASE WHEN rlike(sfi.code, {code_pat}) "
        "AND (sfi.value IS NOT NULL) "
        f"THEN concat(acc_s, {prefix}, sfi.value) ELSE acc_s END"
    )
    indexed = (
        "transform(f.subfields, (sf, i) -> "
        "named_struct('code', sf.code, 'value', sf.value, 'i', i))"
    )
    dot_pat = _rx_lit(r"\.\Z")
    assembled = (
        f"regexp_replace(aggregate({indexed}, '', "
        f"(acc_s, sfi) -> {step}), {dot_pat}, '')"
    )
    per_field = sql_let(
        assembled, "asb", "array(CASE WHEN asb != '' THEN asb END)"
    )
    match = _sql_tag_match(tags)
    data = (
        f"flatten(transform(filter({marc_sql}.datafields, f -> {match}), "
        f"f -> coalesce({per_field}, {SQL_EMPTY})))"
    )
    return f"coalesce({data}, {SQL_EMPTY})"


def marc_lcsh_formatted(
    spec: str = "600:610:611:630:648:650:651:654:662",
    subdivision_separator: str = " — ",
    other_separator: str = " ",
):
    """Assemble each subject field into one pre-coordinated string:
    alphabetic subfields joined; $v/$x/$y/$z prefixed by the subdivision
    separator, others by ' ' except the record's FIRST subfield (index 0 —
    the original index, so a leading control subfield shifts it, matching
    assemble_lcsh's each_with_index); trailing period stripped; empty ->
    nil (marc21_semantics.rb:572-596). Specs of plain subject tags build
    as generated SQL; subfield or indicator specs use the Column
    builder."""
    parsed = parse_marc_spec(spec)
    subd = ["v", "x", "y", "z"]

    def per_field(f: Column, s) -> Column:
        def step(acc_s: Column, sf_i: Column) -> Column:
            code = sf_i["code"]
            prefix = (
                F.when(code.isin(subd), F.lit(subdivision_separator))
                .when(sf_i["i"] == 0, F.lit(""))
                .otherwise(F.lit(other_separator))
            )
            return F.when(
                # value.isNotNull(): a NULL subfield VALUE (schema-legal
                # for user parquet; impossible in ruby-marc) must skip
                # only that subfield — concat's null propagation would
                # otherwise null the whole assembled heading
                code.rlike(r"\A[a-z]\Z") & sf_i["value"].isNotNull(),
                F.concat(acc_s, prefix, sf_i["value"]),
            ).otherwise(acc_s)

        indexed = F.transform(
            f["subfields"],
            lambda sf, i: F.struct(
                sf["code"].alias("code"), sf["value"].alias("value"), i.alias("i")
            ),
        )
        return let(
            F.regexp_replace(F.aggregate(indexed, F.lit(""), step), r"\.\Z", ""),
            lambda assembled: F.array(F.when(assembled != "", assembled)),
        )

    eligible = (
        all(_simple_data_spec(s) and s.subfields is None for s in parsed)
        and len({s.tag for s in parsed}) == len(parsed)
    )

    def sql(acc: str, ctx) -> str:
        if eligible:
            headings = _lcsh_sql(
                ctx.source_sql,
                [s.tag for s in parsed],
                subdivision_separator,
                other_separator,
            )
        else:
            headings = ctx.column_sql(
                collect_matching_lines(ctx.marc, parsed, per_field)
            )
        return f"concat({acc}, {headings})"

    return SqlMacro(sql)
