"""Golden-parity tests against the reference's OWN fixture corpus.

Every expected value below is transcribed from the reference test suite
run on the identical input file, so these tests are external evidence —
not builder-authored synthetic records:

- test/indexer/macros/marc21/extract_marc_test.rb
- test/marc_extractor_test.rb
- test/indexer/macros/macros_marc21_semantics_test.rb
- test/marc_format_classifier_test.rb

All fixture files load through the production ``read_iso2709`` reader in
ONE Spark job; all macro fields compile into ONE Pipeline select; the
assertions then run driver-side on the collected rows.

Reference-only: every test in this module skips where
``test/test_support`` of a traject v3.8 checkout is absent (its files
are the point: a record authored to yield these values would check the
authored record, not parity), and runs unchanged where it is present.
Macro values are pinned in absolute terms on in-repo records by
tests/test_macro_goldens.py either way.
"""

import glob
import os

import pytest

from traject_spark import Pipeline
from traject_spark.macros import (
    extract_all_marc_values,
    extract_marc,
    extract_marc_filing_version,
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
from traject_spark.marc.io import read_iso2709

from tests.fixtures import REFERENCE_SUPPORT as SUPPORT

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SUPPORT),
    reason=f"reference fixtures {SUPPORT} not present",
)

# filename -> 001 of its (single) record, to key collected rows
FIXTURES = {
    "manufacturing_consent.marc": "2710183",
    "louis_armstrong.marc": "2043308",
    "the_business_ren.marc": "3549321",
    "245_no_ab.marc": "147781",
    "packed_041a_lang.marc": "587493",
    "iso639-3_lang.marc": "22067787",
    "musical_cage.marc": "2350681",
    "date_with_u.marc": "1000776",
    "date_resort_to_264.marc": "a11417842",
    "date_resort_to_260.marc": "1002061",
    "date_type_r_missing_date2.marc": "1001041",
    "missing-second-date.marc": ".b20028118",
    "emptyish_record.marc": "1000165",
    "multi_geo.marc": "746414",
    "multi_era.marc": "1410372",
    "george_eliot.marc": "2329645",
    "hebrew880s.marc": "4083985",
    "880_with_no_6.utf8.marc": "3468569",
    "nature.marc": "417826",
    "manuscript_online_thesis.marc": "2594483",
    "microform_online_conference.marc": "446614",
    "online_only.marc": "4269867",
    "bad_subfield_code.marc": "1174999",
}


@pytest.fixture(scope="module")
def golden(spark):
    paths = [os.path.join(SUPPORT, f) for f in FIXTURES]
    df = read_iso2709(spark, paths)
    p = (
        Pipeline()
        .to_field("title_245ab", extract_marc("245ab"))
        .to_field("title_trim", extract_marc("245ab", trim_punctuation=True))
        .to_field("other_id_first", extract_marc("035a", first=True))
        .to_field("only_default", extract_marc("9999", default="DEFAULT VALUE"))
        .to_field("lang1", extract_marc("008[35-37]"))
        .to_field("mixed", extract_marc("700abcdef:856|*2|:505|1*|:245ba"))
        .to_field("f001", extract_marc("001"))
        .to_field("f008_5", extract_marc("008[5]"))
        .to_field("f008_7_10", extract_marc("008[7-10]"))
        .to_field("sep_none_245", extract_marc("245", separator=None))
        .to_field("sep_custom", extract_marc("245", separator="!! "))
        .to_field("alt_245b", extract_marc("245b"))
        .to_field(
            "alt_only", extract_marc("245b", alternate_script="only")
        )
        .to_field("alt_false", extract_marc("245b", alternate_script=False))
        .to_field("rep_tags", extract_marc("245a:245b"))
        .to_field("rep_ctrl", extract_marc("001[0-1]:001[0-3]"))
        .to_field("oclc", oclcnum())
        .to_field("series_facet", marc_series_facet())
        .to_field("author_sort", marc_sortable_author())
        .to_field("title_sort", marc_sortable_title())
        .to_field("languages", marc_languages())
        .to_field("instrumentation", marc_instrumentation_humanized())
        .to_field("instrument_codes", marc_instrument_codes_normalized())
        .to_field("pub_date", marc_publication_date())
        .to_field("discipline", marc_lcc_to_broad_category())
        .to_field(
            "discipline_no_default",
            marc_lcc_to_broad_category(default=None),
        )
        .to_field("geo", marc_geo_facet())
        .to_field("era", marc_era_facet())
        .to_field("lcsh", marc_lcsh_formatted())
        .to_field("filing_245ab", extract_marc_filing_version("245ab"))
        .to_field(
            "filing_orig",
            extract_marc_filing_version("245ab", include_original=True),
        )
        .to_field("filing_245h", extract_marc_filing_version("245h"))
        .to_field("all_values", extract_all_marc_values())
        .to_field("formats", marc_formats())
        .to_field("ser_xml", serialized_marc("xml"))
        .to_field("ser_b64", serialized_marc("binary"))
        .to_field("ser_raw", serialized_marc("binary", binary_escape=False))
        .to_field("ser_json", serialized_marc("json"))
    )
    rows = {}
    for row in p.apply(df).collect():
        d = row.asDict()
        rid = d.pop("record_id")
        rows[rid] = {k: (list(v) if v is not None else None) for k, v in d.items()}
    assert set(rows) == set(FIXTURES.values())
    return {name: rows[rid] for name, rid in FIXTURES.items()}


# --- extract_marc_test.rb -------------------------------------------------

def test_extracts_marc(golden):
    mc = golden["manufacturing_consent.marc"]
    assert mc["title_245ab"] == [
        "Manufacturing consent : the political economy of the mass media /"
    ]


def test_trim_punctuation(golden):
    mc = golden["manufacturing_consent.marc"]
    assert mc["title_trim"] == [
        "Manufacturing consent : the political economy of the mass media"
    ]


def test_first_option(golden):
    assert len(golden["manufacturing_consent.marc"]["other_id_first"]) == 1


def test_default_option(golden):
    assert golden["manufacturing_consent.marc"]["only_default"] == [
        "DEFAULT VALUE"
    ]


def test_control_byte_extract(golden):
    mc = golden["manufacturing_consent.marc"]
    assert mc["lang1"] == ["eng"]
    assert mc["f001"] == ["2710183"]
    assert mc["f008_5"] == ["1"]
    assert mc["f008_7_10"] == ["2002"]


# --- marc_extractor_test.rb -----------------------------------------------

def test_mixed_spec_record_order_and_indicator_filter(golden):
    # 505|1*| must NOT match (indicators), 856 with no subfields joins all
    assert golden["manufacturing_consent.marc"]["mixed"] == [
        "Manufacturing consent : the political economy of the mass media /",
        "Chomsky, Noam.",
        "Contributor biographical information http://www.loc.gov/catdir/"
        "bios/random051/2001050014.html",
        "Publisher description http://www.loc.gov/catdir/description/"
        "random044/2001050014.html",
    ]


def test_separator_none_and_custom(golden):
    mc = golden["manufacturing_consent.marc"]
    assert len(mc["sep_none_245"]) == 3
    assert mc["sep_custom"] == [
        "Manufacturing consent :!! the political economy of the mass media "
        "/!! Edward S. Herman and Noam Chomsky ; with a new introduction by "
        "the authors."
    ]


def test_repeated_tag_specs(golden):
    mc = golden["manufacturing_consent.marc"]
    assert mc["rep_tags"] == [
        "Manufacturing consent :",
        "the political economy of the mass media /",
    ]
    assert mc["rep_ctrl"] == ["27", "2710"]


def test_alternate_script_hebrew(golden):
    he = golden["hebrew880s.marc"]
    assert he["alt_245b"] == [
        "ben Marṭin Buber le-Aharon Daṿid Gordon /",
        "בין מרטין בובר לאהרן דוד גורדון /",
    ]
    assert he["alt_only"] == ["בין מרטין בובר לאהרן דוד גורדון /"]
    assert he["alt_false"] == ["ben Marṭin Buber le-Aharon Daṿid Gordon /"]


def test_880_with_no_6_ignored(golden):
    assert golden["880_with_no_6.utf8.marc"]["f001"] == ["3468569"]


# --- macros_marc21_semantics_test.rb --------------------------------------

def test_oclcnum(golden):
    assert golden["manufacturing_consent.marc"]["oclc"] == ["47971712"]


def test_series_facet(golden):
    assert golden["louis_armstrong.marc"]["series_facet"] == ["Big bands"]


def test_sortable_author(golden):
    assert golden["manufacturing_consent.marc"]["author_sort"] == [
        "Herman, Edward S.   Manufacturing consent the political economy of "
        "the mass media Edward S. Herman and Noam Chomsky ; with a new "
        "introduction by the authors"
    ]
    # non-filing chars respected
    assert golden["the_business_ren.marc"]["author_sort"] == [
        "Business renaissance quarterly [electronic resource]."
    ]


def test_sortable_title(golden):
    assert golden["manufacturing_consent.marc"]["title_sort"] == [
        "Manufacturing consent : the political economy of the mass media"
    ]
    assert golden["the_business_ren.marc"]["title_sort"] == [
        "Business renaissance quarterly"
    ]
    # no 245$ab -> falls back to $k
    assert golden["245_no_ab.marc"]["title_sort"] == ["Papers"]


def test_languages_packed_041(golden):
    assert golden["packed_041a_lang.marc"]["languages"] == [
        "English",
        "French",
        "German",
        "Italian",
        "Spanish",
        "Russian",
    ]


def test_languages_iso639_3(golden):
    assert golden["iso639-3_lang.marc"]["languages"] == [
        "Norwegian",
        "English",
        "Norwegian (Bokmål)",
    ]


def test_instrumentation_humanized(golden):
    assert golden["musical_cage.marc"]["instrumentation"] == [
        "Larger ensemble, Unspecified",
        "Piano",
        "Soprano voice",
        "Tenor voice",
        "Violin",
        "Larger ensemble, Ethnic",
        "Guitar",
        "Voices, Unspecified",
    ]


def test_instrument_codes_normalized(golden):
    assert golden["musical_cage.marc"]["instrument_codes"] == [
        "on", "ka01", "ka", "va01", "va", "vd01", "vd", "sa01", "sa",
        "oy", "tb01", "tb", "vn12", "vn",
    ]
    # 048$b soloist coding
    assert golden["louis_armstrong.marc"]["instrument_codes"] == [
        "bb01", "bb01.s", "bb", "bb.s", "oe",
    ]


def test_publication_dates(golden):
    assert golden["manufacturing_consent.marc"]["pub_date"] == ["2002"]
    # date_type c continuing resource -> start date
    assert golden["the_business_ren.marc"]["pub_date"] == ["2006"]
    # really nothing there
    assert golden["emptyish_record.marc"]["pub_date"] is None
    # single 'u' estimated (184u -> 1845)
    assert golden["date_with_u.marc"]["pub_date"] == ["1845"]
    assert golden["date_resort_to_264.marc"]["pub_date"] == ["2015"]
    assert golden["date_resort_to_260.marc"]["pub_date"] == ["1980"]
    assert golden["date_type_r_missing_date2.marc"]["pub_date"] == ["1957"]
    assert golden["missing-second-date.marc"]["pub_date"] == ["1678"]


def test_lcc_broad_category(golden):
    assert golden["manufacturing_consent.marc"]["discipline"] == [
        "Language & Literature"
    ]
    assert golden["musical_cage.marc"]["discipline"] == ["Unknown"]
    assert golden["musical_cage.marc"]["discipline_no_default"] is None


def test_geo_facet(golden):
    assert golden["multi_geo.marc"]["geo"] == [
        "Europe",
        "Middle East",
        "Africa, North",
        "Agora (Athens, Greece)",
        "Rome (Italy)",
        "Italy",
    ]
    assert golden["manufacturing_consent.marc"]["geo"] is None


def test_era_facet(golden):
    assert golden["multi_era.marc"]["era"] == [
        "Early modern, 1500-1700",
        "17th century",
        "Great Britain: Puritan Revolution, 1642-1660",
        "Great Britain: Civil War, 1642-1649",
        "1642-1660",
    ]


def test_lcsh_formatted(golden):
    lcsh = golden["george_eliot.marc"]["lcsh"]
    assert lcsh and len(lcsh) > 0
    assert "Eliot, George, 1819-1880 — Characters" in lcsh


def test_filing_version(golden):
    br = golden["the_business_ren.marc"]
    assert br["filing_245ab"] == ["Business renaissance quarterly"]
    assert br["filing_orig"] == [
        "The Business renaissance quarterly",
        "Business renaissance quarterly",
    ]
    # first subfield not included -> no non-filing strip
    assert br["filing_245h"] == ["[electronic resource]."]


# --- marc_format_classifier_test.rb ---------------------------------------

def test_formats_book_print(golden):
    assert golden["manufacturing_consent.marc"]["formats"] == [
        "Book",
        "Print",
    ]


def test_formats_musical_recording(golden):
    fm = golden["musical_cage.marc"]["formats"]
    assert "Musical Recording" in fm
    assert "Print" not in fm  # audio recording never marked Print


def test_formats_journal(golden):
    assert "Journal/Newspaper" in golden["the_business_ren.marc"]["formats"]


def test_formats_online_only(golden):
    fm = golden["online_only.marc"]["formats"]
    assert "Online" in fm
    assert "Print" not in fm
    assert "Microform" not in fm


def test_formats_microform_in_007(golden):
    assert "Microform" in golden["nature.marc"]["formats"]


def test_formats_thesis_manuscript(golden):
    fm = golden["manuscript_online_thesis.marc"]["formats"]
    assert "Dissertation/Thesis" in fm
    assert "Manuscript/Archive" in fm
    assert "Online" in fm
    assert "Book" not in fm  # Dissertation replaces Book


def test_formats_microform_online_conference(golden):
    fm = golden["microform_online_conference.marc"]["formats"]
    assert "Book" in fm
    assert "Microform" in fm
    assert "Online" in fm
    assert "Conference" in fm


def test_bad_subfield_code_record_parses(golden):
    # record with a malformed subfield code must still load and map
    assert golden["bad_subfield_code.marc"]["f001"] == ["1174999"]


# --- serialize_marc_test.rb -----------------------------------------------

def test_serialized_binary_header(golden):
    """serialize_marc_test.rb: binary (b64 and raw) leader starts
    '02067cam a2200469' for manufacturing_consent."""
    import base64

    mc = golden["manufacturing_consent.marc"]
    decoded = base64.b64decode(mc["ser_b64"][0])
    assert decoded.decode("utf-8").startswith("02067cam a2200469")
    assert mc["ser_raw"][0].startswith("02067cam a2200469")


def test_serialized_json_roundtrip(golden):
    import json as _json

    from traject_spark.marc.serialize import from_marc_in_json

    mc = golden["manufacturing_consent.marc"]
    rec = from_marc_in_json(mc["ser_json"][0])
    assert rec["leader"].startswith("02067cam a2200469")
    f245 = next(d for d in rec["datafields"] if d["tag"] == "245")
    assert f245["subfields"][0]["value"] == "Manufacturing consent :"
    # raw json object shape is marc-in-json ({leader, fields:[...]})
    obj = _json.loads(mc["ser_json"][0])
    assert set(obj) == {"leader", "fields"}


def test_serialized_xml_roundtrip(golden):
    from traject_spark.marc.io import parse_marcxml

    mc = golden["manufacturing_consent.marc"]
    recs = parse_marcxml(mc["ser_xml"][0])
    assert len(recs) == 1
    assert recs[0]["leader"].startswith("02067cam a2200469")
    tags = [d["tag"] for d in recs[0]["datafields"]]
    assert "245" in tags and "100" in tags


# --- extract_all_marc_values_test.rb --------------------------------------

def test_all_values_count(golden):
    # reference asserts exactly 13 values for manufacturing_consent
    assert len(golden["manufacturing_consent.marc"]["all_values"]) == 13
