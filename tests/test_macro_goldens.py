"""Absolute values of every built-in macro over an adversarial record set.

``tests/data/macro_goldens.json`` holds, per case and record, the raw
array each macro appends (nil elements and empty arrays kept, so a NULL
contribution and an empty one stay distinguishable). The values were
recorded while the generated-SQL and Column forms of the eight switchable
macros still both existed, with the two forms agreeing row by row; each
built-in macro now has one implementation and this file is its
reference. The records are the edge shapes of the former per-macro
parity tests plus the shared fixtures; the cases include inputs that
take the Column fallbacks that remain (control/byte/indicator/880
extraction specs, custom specs, maps the SQL probe cannot carry).

A deliberate behaviour change updates the JSON in the same commit
(``collect_goldens(golden_pipeline(), golden_frame(spark))`` yields it).
"""

import json
import os

import pytest

from traject_spark import Pipeline
from traject_spark.macros import (
    extract_all_marc_values,
    extract_marc,
    extract_marc_filing_version,
    formats_expr,
    literal,
    marc_era_facet,
    marc_formats,
    marc_geo_facet,
    marc_instrument_codes_normalized,
    marc_instrumentation_humanized,
    marc_languages,
    marc_lcc_to_broad_category,
    marc_lcsh_formatted,
    marc_publication_date,
    marc_series_facet,
    marc_sortable_author,
    marc_sortable_title,
    oclcnum,
    serialized_marc,
)
from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

from tests.fixtures import ALT_SCRIPT, BOOK, EMPTY, THE_TITLE

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "data", "macro_goldens.json")

#: keep what each macro appended, before the add_output clean-up
GOLDEN_SETTINGS = {"allow_nil_values": True, "allow_empty_fields": True}


def _f8(dtype, d1, d2=""):
    return "880520" + dtype + d1 + d2


_LANG_008 = "880520s1990    xx" + " " * 18

RECORDS = [
    # --- shared fixtures ---------------------------------------------------
    ("fix_book", BOOK),
    ("fix_the_title", THE_TITLE),
    ("fix_alt_script", ALT_SCRIPT),
    ("fix_empty", EMPTY),
    # --- extraction: merged groups, doubled codes, 880, NULLs ---------------
    ("ext_book", marc_record(datafields=[
        ("100", "1", " ", [("a", "Author, A."), ("d", "1920-")]),
        ("245", "1", "0", [("a", "Title :"), ("b", "sub /"), ("c", "A.")]),
        ("650", " ", "0", [("a", "Topic"), ("x", "Hist"), ("z", "Geo")]),
    ])),
    ("ext_alt880", marc_record(datafields=[
        ("245", "1", "0", [("a", "Latin title")]),
        ("880", "1", "0", [("6", "245-01"), ("a", "Alt title")]),
        ("880", "0", " ", [("a", "no-six-falls-back-to-880")]),
    ])),
    ("ext_nulls", marc_record(datafields=[
        ("245", "1", "0", [("a", None), ("b", "only-b")]),
        ("100", " ", " ", []),
    ])),
    ("ext_nullsubs", {"leader": " " * 24, "controlfields": [],
                      "datafields": [{"tag": "245", "ind1": " ",
                                      "ind2": " ", "subfields": None}]}),
    ("ext_nodata", {"leader": " " * 24, "controlfields": None,
                    "datafields": None}),
    ("ext_doubled", marc_record(datafields=[
        ("020", " ", " ", [("a", "111"), ("a", "222"), ("z", "x")]),
    ])),
    # --- languages: packed codes, 880 rewrite, short 008 ----------------
    ("lang_packed", marc_record(
        controlfields=[("008", _LANG_008 + "eng d")],
        datafields=[("041", "0", " ", [("a", "engfregerm"), ("d", "spa")])],
    )),
    ("lang_880", marc_record(
        controlfields=[("008", "short")],
        datafields=[
            ("880", "0", " ", [("6", "041-01"), ("a", "heb")]),
            ("880", "0", " ", [("a", "NO-SIX-DROPS")]),
            ("041", "0", " ", [("d", None), ("a", "ger")]),
        ],
    )),
    ("lang_empty", marc_record(controlfields=[], datafields=[])),
    ("lang_dup008", marc_record(
        controlfields=[("008", _LANG_008 + "fre d")],
        datafields=[("041", "0", " ", [("b", "unused"), ("a", "fre")])],
    )),
    # --- formats: every classifier branch -------------------------------
    ("fmt_book_print", marc_record(leader="01234cam a2200301 a 4500")),
    ("fmt_journal", marc_record(leader="01234cas a2200301 a 4500")),
    ("fmt_thesis", marc_record(
        leader="01234cam a2200301 a 4500",
        datafields=[("502", " ", " ", [("a", "Thesis")])],
    )),
    ("fmt_conf_online", marc_record(
        leader="01234cam a2200301 a 4500",
        controlfields=[("007", "cr an 008mamaa")],
        datafields=[("650", " ", "0",
                     [("a", "Physics"), ("v", "Congresses.")])],
    )),
    ("fmt_recording", marc_record(leader="01234cjm a2200301 a 4500")),
    ("fmt_video_gmd", marc_record(
        leader="01234cgm a2200301 a 4500",
        datafields=[("245", "0", "0",
                     [("a", "T"), ("h", "[electronic resource]")])],
    )),
    ("fmt_microform_007", marc_record(
        leader="01234czz a2200301 a 4500",
        controlfields=[("007", "h d")],
    )),
    ("fmt_manuscript", marc_record(leader="01234ctm a2200301 a 4500")),
    ("fmt_rda_338_volume", marc_record(
        leader="01234czz a2200301 a 4500",
        datafields=[("338", " ", " ",
                     [("a", "volume"), ("2", "rdacarrier")])],
    )),
    ("fmt_rda_338_online", marc_record(
        leader="01234czz a2200301 a 4500",
        datafields=[("338", " ", " ",
                     [("a", "online resource"), ("2", "rdacarrier")])],
    )),
    ("fmt_unknown_007_nil", marc_record(
        leader="01234czz a2200301 a 4500",
        controlfields=[("007", "z unmapped")],
    )),
    ("fmt_default_empty", marc_record(
        leader="01234czz a2200301 a 4500",
        datafields=[("245", "0", "0",
                     [("a", "T"), ("h", "[microform]")])],
    )),
    ("fmt_null_leader", marc_record(leader=None)),
    # --- geo: hyphens, 880-linked 043, first '. ' removal, $z shapes ----
    ("geo_hyphens", marc_record(datafields=[
        ("043", " ", " ", [("a", "n-us---"), ("a", "zz-miss")]),
    ])),
    ("geo_linked_880", marc_record(datafields=[
        ("880", " ", " ", [("6", "043-01"), ("a", "e-fr---")]),
    ])),
    ("geo_a_sub_first", marc_record(datafields=[
        ("651", " ", "0", [("a", "Boston (Mass.). Maps. More")]),
        ("691", " ", "0", [("a", "NoDotSpace")]),
    ])),
    ("geo_z_shapes", marc_record(datafields=[
        ("650", " ", "0", [("a", "Art"), ("z", "France"), ("z", "Paris.")]),
        ("610", " ", "0", [("a", "X"), ("z", "OnlyOne.")]),
        ("630", " ", "0", [("a", "Y"), ("z", "A"), ("z", "B"), ("z", "C")]),
    ])),
    ("geo_dedup", marc_record(datafields=[
        ("043", " ", " ", [("a", "n-us---")]),
        ("651", " ", "0", [("a", "United States")]),
    ])),
    # --- publication date: every branch of the decision procedure -------
    ("pub_q_in_tol", marc_record(controlfields=[("008", _f8("q", "196u", "1970"))])),
    ("pub_q_out_tol", marc_record(controlfields=[("008", _f8("q", "1900", "1990"))])),
    ("pub_q_equal", marc_record(controlfields=[("008", _f8("q", "1960", "1960"))])),
    ("pub_r_d2", marc_record(controlfields=[("008", _f8("r", "1955", "1960"))])),
    ("pub_p_zero_d2", marc_record(controlfields=[("008", _f8("p", "1955", "0000"))])),
    ("pub_s_u_est", marc_record(controlfields=[("008", _f8("s", "19uu", "    "))])),
    ("pub_s_u_toolong", marc_record(controlfields=[("008", _f8("s", "1uuu", "    "))])),
    ("pub_type_n", marc_record(controlfields=[("008", _f8("n", "1980", "1985"))])),
    ("pub_short_008", marc_record(controlfields=[("008", "88052")])),
    ("pub_no_008_264", marc_record(datafields=[
        ("264", " ", "1", [("c", "published in 1999.")]),
    ])),
    ("pub_no_008_260", marc_record(datafields=[
        ("260", " ", " ", [("c", "c1944.")]),
    ])),
    ("pub_both_fallbacks", marc_record(datafields=[
        ("264", " ", "1", [("c", "no digits here")]),
        ("260", " ", " ", [("c", "MCMLIV [1954]")]),
    ])),
    ("pub_clamp_low", marc_record(controlfields=[("008", _f8("s", "0300", "    "))])),
    ("pub_clamp_high", marc_record(controlfields=[("008", _f8("s", "9999", "    "))])),
    ("pub_short_date1", marc_record(controlfields=[("008", _f8("s", "19"))])),
    # full-length 008s: date2 is read from bytes 11-14
    ("pub_q_long_in_tol", marc_record(controlfields=[("008", _f8("q", "196u", "1970") + "xxu")])),
    ("pub_q_long_out_tol", marc_record(controlfields=[("008", _f8("q", "1900", "1990") + "xxu")])),
    ("pub_r_long_d2", marc_record(controlfields=[("008", _f8("r", "1955", "1960") + "xxu")])),
    ("pub_s_one_u", marc_record(controlfields=[("008", _f8("s", "199u", "    ") + "xxu")])),
    # --- sortable title/author: non-filing, $k, 240, 880, NULLs ---------
    ("sort_plain", marc_record(datafields=[
        ("100", "1", " ", [("a", "  Author, A.  ")]),
        ("245", "1", "0", [("a", "Title :"), ("b", "sub /")]),
    ])),
    ("sort_nonfiling", marc_record(datafields=[
        ("245", "1", "4", [("a", "The Title"), ("b", "x.")]),
    ])),
    ("sort_nonfiling_blank", marc_record(datafields=[
        ("245", "1", " ", [("a", "A")]),
    ])),
    ("sort_nonfiling_beyond", marc_record(datafields=[
        ("245", "1", "9", [("a", "shrt")]),
    ])),
    ("sort_k_fallback", marc_record(datafields=[
        ("245", "1", "0", [("k", "kit title."), ("c", "by X")]),
    ])),
    ("sort_via_240", marc_record(datafields=[
        ("240", "1", "2", [("a", "L'uniform title.")]),
        ("245", "1", "0", [("a", "ignored - 240 comes first")]),
    ])),
    ("sort_linked_880", marc_record(datafields=[
        ("880", "1", "0", [("6", "245-01"), ("a", "Alt [title] /")]),
    ])),
    ("sort_null_vals", marc_record(datafields=[
        ("245", "1", "0", [("a", None), ("b", "b only.")]),
        ("100", " ", " ", [("a", None)]),
    ])),
    ("sort_missing", marc_record(datafields=[
        ("650", " ", "0", [("a", "No title here")]),
    ])),
    # --- lcsh: separators, index-0 rule, non-alpha codes, 880 -----------
    ("lcsh_full", marc_record(datafields=[
        ("650", " ", "0", [("a", "Topic"), ("x", "Hist."), ("z", "Geo"),
                           ("v", "Maps.")]),
        ("600", "1", "0", [("a", "Person, A."), ("d", "1900-1980"),
                           ("t", "Works.")]),
    ])),
    ("lcsh_leading_ctrl", marc_record(datafields=[
        ("650", " ", "0", [("6", "880-01"), ("a", "Shifted"), ("x", "Sub.")]),
    ])),
    ("lcsh_null_vals", marc_record(datafields=[
        ("650", " ", "0", [("a", None), ("x", "OnlyX.")]),
    ])),
    ("lcsh_all_numeric", marc_record(datafields=[
        ("650", " ", "0", [("0", "id"), ("6", "link")]),
    ])),
    ("lcsh_linked_880", marc_record(datafields=[
        ("880", " ", "0", [("6", "650-02"), ("a", "Alt subject.")]),
    ])),
    # --- the remaining macros: series, instruments, era, lcc ------------
    ("misc_series_era", marc_record(
        controlfields=[("008", _LANG_008 + "eng d")],
        datafields=[
            ("048", " ", " ", [("a", "ka01"), ("b", "wb02"), ("a", "zz")]),
            ("050", "0", "0", [("a", "QA76.73 .P98"), ("b", "x")]),
            ("090", " ", " ", [("a", "not lcc")]),
            ("440", " ", "0", [("a", "Series one ;"), ("v", "3")]),
            ("490", "1", " ", [("a", "Traced series")]),
            ("490", "0", " ", [("a", "Untraced series.")]),
            ("651", " ", "0", [("a", "Europe"), ("y", "20th century, 1900-1999.")]),
            ("650", " ", "0", [("a", "Music"), ("y", "18th century.")]),
        ],
    )),
]


def _formats_column():
    """The Column form marc_formats falls back to when the genre maps
    are not SQL-probe eligible."""
    from pyspark.sql import functions as F

    return lambda acc, ctx: F.concat(acc, formats_expr(ctx.marc))


_LANG_WITH_DEFAULT = {"eng": "English", "fre": "French", "__default__": "Other"}
_GEO_WITH_DEFAULT = {"n-us": "United States", "__default__": "Elsewhere"}

#: (field name, macro factory, factory kwargs)
CASES = [
    ("literal", literal, {"value": "x"}),
    # extract_marc: generated-SQL shapes
    ("ext_245ab", extract_marc, {"spec": "245ab"}),
    ("ext_245ab_trim", extract_marc, {"spec": "245ab", "trim_punctuation": True}),
    ("ext_1xx_a", extract_marc, {"spec": "100a:110a:111a"}),
    ("ext_035a_nosep", extract_marc, {"spec": "035a", "separator": None}),
    ("ext_lcc_nosep", extract_marc, {"spec": "050a:060a:090a:096a", "separator": None}),
    ("ext_subjects", extract_marc, {"spec": "600:610:650"}),
    ("ext_020aa", extract_marc, {"spec": "020aa"}),
    ("ext_repeated_tag", extract_marc, {"spec": "245a:245ab"}),
    ("ext_100_pipe", extract_marc, {"spec": "100", "separator": "|"}),
    ("ext_264c_nosep", extract_marc, {"spec": "264c", "separator": None}),
    ("ext_first_default", extract_marc, {"spec": "245a", "first": True, "default": "none"}),
    # a float default reads as Spark casts it: "1.0E-4", not Python's "0.0001"
    ("ext_float_default", extract_marc, {"spec": "245a", "default": 0.0001}),
    ("ext_dups", extract_marc, {"spec": "650a", "allow_duplicates": True}),
    ("ext_041a_map", extract_marc, {"spec": "041a", "translation_map": "marc_languages"}),
    # extract_marc: Column fallbacks (control, byte, indicator, 880, alt-script)
    ("ext_001", extract_marc, {"spec": "001"}),
    ("ext_008_bytes", extract_marc, {"spec": "008[35-37]"}),
    ("ext_245_ind", extract_marc, {"spec": "245|10|ab"}),
    ("ext_880a", extract_marc, {"spec": "880a"}),
    ("ext_mixed_ctrl", extract_marc, {"spec": "041a:008[35-37]"}),
    ("ext_alt_false", extract_marc, {"spec": "245a", "alternate_script": False}),
    ("ext_alt_only", extract_marc, {"spec": "245a", "alternate_script": "only"}),
    ("all_values", extract_all_marc_values, {}),
    ("serialized_json", serialized_marc, {"format": "json"}),
    ("oclcnum", oclcnum, {}),
    ("title_sort", marc_sortable_title, {}),
    ("title_sort_ind_hit", marc_sortable_title, {"spec": "245|14|ab"}),
    ("title_sort_ind_miss", marc_sortable_title, {"spec": "245|10|ab"}),
    ("title_sort_240a", marc_sortable_title, {"spec": "240a"}),
    ("author_sort", marc_sortable_author, {}),
    ("filing_version", extract_marc_filing_version, {}),
    ("filing_version_orig", extract_marc_filing_version, {"include_original": True}),
    ("language", marc_languages, {}),
    ("language_041a", marc_languages, {"spec": "041a"}),
    ("language_map_default", marc_languages, {"translation_map": _LANG_WITH_DEFAULT}),
    ("series", marc_series_facet, {}),
    ("instruments", marc_instrumentation_humanized, {}),
    ("instrument_codes", marc_instrument_codes_normalized, {}),
    ("pub_date", marc_publication_date, {}),
    ("pub_date_wide", marc_publication_date,
     {"estimate_tolerance": 120, "min_year": 1000, "max_year": 2030}),
    ("pub_date_typed", marc_publication_date, {"as_string": False}),
    ("lcc_category", marc_lcc_to_broad_category, {}),
    ("geo", marc_geo_facet, {}),
    ("geo_custom_a", marc_geo_facet, {"geo_a_fields": "651a"}),
    ("geo_map_default", marc_geo_facet, {"translation_map": _GEO_WITH_DEFAULT}),
    ("era", marc_era_facet, {}),
    ("lcsh", marc_lcsh_formatted, {}),
    ("lcsh_separators", marc_lcsh_formatted,
     {"subdivision_separator": "--", "other_separator": "~"}),
    ("lcsh_subfield_spec", marc_lcsh_formatted, {"spec": "600:650ax"}),
    ("formats", marc_formats, {}),
    ("formats_unknown", marc_formats, {"default": "Unknown"}),
    ("formats_column", _formats_column, {}),
]


def golden_frame(spark):
    return spark.createDataFrame(RECORDS, MARC_SOURCE_SCHEMA)


def golden_pipeline() -> Pipeline:
    p = Pipeline().settings(**GOLDEN_SETTINGS)
    for name, factory, kwargs in CASES:
        p.to_field(name, factory(**kwargs))
    return p


def collect_goldens(pipeline: Pipeline, df) -> dict:
    """{case: {record_id: values}} from one action over ``df``."""
    out: dict = {name: {} for name, _, _ in CASES}
    for row in pipeline.apply(df).collect():
        d = row.asDict()
        rid = d.pop("record_id")
        for name, vals in d.items():
            out[name][rid] = None if vals is None else list(vals)
    return out


#: one test per macro family, each checking its cases over every record
FAMILIES = {
    "extract_marc": ("ext_",),
    "languages": ("language",),
    "formats": ("formats",),
    "geo": ("geo",),
    "pubdate": ("pub_date",),
    "sortable": ("title_sort", "author_sort"),
    "lcsh": ("lcsh",),
}


def _family(case):
    for family, prefixes in FAMILIES.items():
        if case.startswith(prefixes):
            return family
    return "other"


@pytest.fixture(scope="module")
def goldens(spark):
    """(got, expected), from one action over the golden frame."""
    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        expected = json.load(fh)
    got = collect_goldens(golden_pipeline(), golden_frame(spark))
    assert sorted(got) == sorted(expected)
    return got, expected


def _check_family(goldens, family):
    got, expected = goldens
    cases = [case for case in expected if _family(case) == family]
    assert cases
    diffs = {
        (case, rid): (got[case].get(rid), want)
        for case in cases
        for rid, want in expected[case].items()
        if got[case].get(rid) != want
    }
    assert not diffs, diffs


def test_extract_marc_goldens(goldens):
    _check_family(goldens, "extract_marc")


def test_marc_languages_goldens(goldens):
    _check_family(goldens, "languages")


def test_marc_formats_goldens(goldens):
    _check_family(goldens, "formats")


def test_marc_geo_goldens(goldens):
    _check_family(goldens, "geo")


def test_pubdate_goldens(goldens):
    _check_family(goldens, "pubdate")


def test_sortable_goldens(goldens):
    _check_family(goldens, "sortable")


def test_lcsh_goldens(goldens):
    _check_family(goldens, "lcsh")


def test_other_macro_goldens(goldens):
    _check_family(goldens, "other")
