"""Extractor semantics tests — ports the behavioral coverage of
test/marc_extractor_test.rb (fields/specs iteration, joinable rules, byte
slices, indicators, 880 handling) onto independently-authored fixtures."""

import pytest
from pyspark.sql import functions as F

from traject_spark.marc.extractor import marc_extract
from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

from tests.fixtures import ALT_SCRIPT, BOOK, EMPTY, THE_TITLE


def extract(spark, record, spec, **kw):
    df = spark.createDataFrame([("r", record)], MARC_SOURCE_SCHEMA)
    out = df.select(marc_extract(F.col("marc"), spec, **kw).alias("v")).collect()
    return out[0]["v"]


def test_joined_subfields(spark):
    assert extract(spark, BOOK, "245ab") == [
        "Manufacturing consent : the political economy of the mass media /"
    ]


def test_all_subfields_when_none_given(spark):
    assert extract(spark, BOOK, "245") == [
        "Manufacturing consent : the political economy of the mass media / "
        "Edward S. Herman and Noam Chomsky."
    ]


def test_single_code_one_value_per_subfield(spark):
    # two 020 fields, single-code spec -> one value per $a occurrence
    assert extract(spark, BOOK, "020a") == [
        "0394549260 :",
        "0394748239 (pbk.) :",
    ]


def test_custom_separator(spark):
    assert extract(spark, BOOK, "245ab", separator="!! ") == [
        "Manufacturing consent :!! the political economy of the mass media /"
    ]


def test_separator_none_keeps_values_separate(spark):
    assert extract(spark, BOOK, "245ab", separator=None) == [
        "Manufacturing consent :",
        "the political economy of the mass media /",
    ]


def test_multiple_fields_multiple_values(spark):
    assert extract(spark, BOOK, "100a:700a") == [
        "Herman, Edward S.",
        "Chomsky, Noam.",
    ]


def test_same_tag_twice_spec_order_per_field(spark):
    # "245a:245ab": each 245 field contributes $a then joined ab
    assert extract(spark, BOOK, "245a:245ab") == [
        "Manufacturing consent :",
        "Manufacturing consent : the political economy of the mass media /",
    ]


def test_controlfield_byte_range(spark):
    assert extract(spark, BOOK, "008[35-37]") == ["eng"]


def test_controlfield_single_byte(spark):
    # 008 byte 6 (0-based) is date-type 's'
    assert extract(spark, BOOK, "008[6]") == ["s"]


def test_controlfield_out_of_range_yields_null(spark):
    # reference byteslice out-of-range -> nil stays in accumulator until
    # add_output drops it (SURVEY §4); raw extract keeps the null
    rec = marc_record(controlfields=[("008", "short")])
    assert extract(spark, rec, "008[35-37]") == [None]


def test_bare_control_tag_whole_value(spark):
    # "001" parses as a datafield-pattern spec but matches the control
    # field and yields its whole value (marc_extractor.rb:210-214)
    assert extract(spark, BOOK, "001") == ["2710183"]


def test_indicator_filter(spark):
    assert extract(spark, BOOK, "245|10|ab") == [
        "Manufacturing consent : the political economy of the mass media /"
    ]
    assert extract(spark, BOOK, "245|11|ab") == []
    assert extract(spark, BOOK, "245|*0|ab") == [
        "Manufacturing consent : the political economy of the mass media /"
    ]


def test_blank_indicator_matches_space(spark):
    assert extract(spark, BOOK, "650| 0|a") == ["Mass media", "Mass media"]


def test_missing_field_empty(spark):
    assert extract(spark, BOOK, "999z") == []
    assert extract(spark, EMPTY, "245a") == []


def test_field_order_is_record_order(spark):
    # spec order 700:100 but record order 100 -> 700 wins
    assert extract(spark, BOOK, "700a:100a") == [
        "Herman, Edward S.",
        "Chomsky, Noam.",
    ]


def test_880_include_default(spark):
    # 880 with $6 245-01 matches a 245 spec; orphan 880 (no $6) does not
    assert extract(spark, ALT_SCRIPT, "245a") == [
        "Romanized title",
        "עברית כותרת",
    ]


def test_880_only(spark):
    assert extract(spark, ALT_SCRIPT, "245a", alternate_script="only") == [
        "עברית כותרת"
    ]


def test_880_false(spark):
    assert extract(spark, ALT_SCRIPT, "245a", alternate_script=False) == [
        "Romanized title"
    ]


def test_880_no_dollar6_falls_back_to_880_tag(spark):
    # an 880 without $6 is addressable as tag 880
    assert extract(spark, ALT_SCRIPT, "880a") == ["orphan 880 no $6"]


def test_alternate_script_only_excludes_control_fields(spark):
    """Under :only no tag but 880 is interesting (marc_extractor.rb:
    146-149) — a control spec in the mix must contribute nothing."""
    rec = marc_record(
        leader=" " * 24,
        controlfields=[("008", "950101s1995    xxu           000 0 eng  ")],
        datafields=[
            ("041", "0", " ", [("a", "eng")]),
            ("880", "0", " ", [("6", "041-01"), ("a", "rus")]),
        ],
    )
    assert extract(
        spark, rec, "008[35-37]:041a", alternate_script="only"
    ) == ["rus"]  # no 'eng' byte-slice, no native 041
    assert extract(
        spark, rec, "008[35-37]:041a", alternate_script="include"
    ) == ["eng", "eng", "rus"]


def test_alternate_script_true_means_include(spark):
    """alternate_script=True is the reference's documented default VALUE
    (true = include 880s); it must behave like 'include', not silently
    disable the 880 rewrite."""
    from traject_spark import Pipeline
    from traject_spark.macros import extract_marc
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    rec = marc_record(
        controlfields=[("001", "x")],
        datafields=[
            ("245", "1", "0", [("6", "880-01"), ("a", "Latin title")]),
            ("880", "1", "0", [("6", "245-01"), ("a", "Vernacular title")]),
        ],
    )
    df = spark.createDataFrame([("r1", rec)], MARC_SOURCE_SCHEMA)
    out = {}
    for label, val in [("true", True), ("include", "include"),
                       ("false", False), ("only", "only")]:
        p = Pipeline().to_field(
            "t", extract_marc("245a", alternate_script=val)
        )
        out[label] = p.apply(df).collect()[0]["t"]
    assert out["true"] == ["Latin title", "Vernacular title"]
    assert out["include"] == out["true"]
    assert out["false"] == ["Latin title"]
    assert out["only"] == ["Vernacular title"]


def test_extract_marc_first_null_element_lets_default_fire(spark):
    """Array(accumulator[0]) in the reference turns a nil first element
    into [] — an out-of-range byteslice with first=True must yield the
    :default, not nothing (marc21.rb apply_extraction_options)."""
    from traject_spark import Pipeline
    from traject_spark.macros import extract_marc
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    rec = marc_record(controlfields=[("001", "r1"), ("008", "short")])
    df = spark.createDataFrame([("r1", rec)], MARC_SOURCE_SCHEMA)
    p = Pipeline().to_field(
        "v", extract_marc("008[40]", first=True, default="unknown")
    )
    assert p.apply(df).collect()[0]["v"] == ["unknown"]


def test_null_subfields_array_does_not_wipe_siblings(spark):
    """A field whose subfields array is NULL (user parquet can carry it)
    null-propagates through filter/transform; one such field must not
    nullify concat+flatten and erase every other field's values."""
    rec = {
        "leader": " " * 24,
        "controlfields": [],
        "datafields": [
            {"tag": "043", "ind1": " ", "ind2": " ", "subfields": None},
            {
                "tag": "043",
                "ind1": " ",
                "ind2": " ",
                "subfields": [{"code": "a", "value": "n-us---"}],
            },
        ],
    }
    assert extract(spark, rec, "043a", separator=None) == ["n-us---"]
    assert extract(spark, rec, "043") == ["n-us---"]


def test_all_null_subfield_values_emit_nothing(spark):
    """Reference compacts nils BEFORE the join (marc_extractor.rb:258-264):
    an all-nil field contributes nothing, not [""]."""
    rec = marc_record(
        datafields=[
            ("245", " ", " ", [("a", None)]),
            ("245", " ", " ", [("a", None), ("b", "real")]),
        ]
    )
    assert extract(spark, rec, "245") == ["real"]
    assert extract(spark, rec, "245ab", separator=None) == ["real"]


def test_control_only_spec_skips_datafield_branch(spark):
    """Pruning: an all-control spec with alternate_script=False must not
    reference marc.datafields at all (Catalyst can drop the subtree)."""
    rec = marc_record(
        controlfields=[("008", "ab" + "x" * 38)],
        datafields=[("245", " ", " ", [("a", "t")])],
    )
    assert extract(spark, rec, "008[0-1]", alternate_script=False) == ["ab"]
    col = marc_extract(F.col("marc"), "008[0-1]", alternate_script=False)
    assert "datafields" not in repr(col)
    # default include mode still honors the pathological 880->$6 control
    # link, so it considers 880 fields only
    assert extract(spark, rec, "008[0-1]") == ["ab"]


def test_880_linking_control_tag_still_matches_in_include_mode(spark):
    """Reference quirk: an 880 whose $6 names a control tag is collected
    as subfields under that spec (marc_extractor_spec.rb 880 rewrite has
    no control/data guard; the control spec has subfields nil, so ALL
    subfields including $6 join — verified against Spec#includes_subfield_code,
    marc_extractor_spec.rb:132-136)."""
    rec = marc_record(
        controlfields=[("008", "zz")],
        datafields=[("880", " ", " ", [("6", "008-01"), ("a", "alt")])],
    )
    assert extract(spark, rec, "008[0-1]") == ["zz", "008-01 alt"]


def test_non_control_00x_tags_extract_from_datafields(spark):
    """Control-kind dispatch is MEMBERSHIP in ruby-marc's 001-009 set,
    not tag < '010': '000' and '00a' are DataFields there (and the ingest
    engines place them in datafields), so their specs must scan the
    datafield branch — a lexicographic predicate scanned controlfields
    and silently extracted nothing."""
    rec = marc_record(
        controlfields=[("008", "ctrl-body")],
        datafields=[
            ("000", " ", " ", [("a", "zero-tag")]),
            ("00a", " ", " ", [("a", "alpha-tag")]),
        ],
    )
    assert extract(spark, rec, "000a", alternate_script=False) == ["zero-tag"]
    assert extract(spark, rec, "00aa", alternate_script=False) == ["alpha-tag"]
    # 008 stays on the control branch
    assert extract(spark, rec, "008", alternate_script=False) == ["ctrl-body"]


def test_repeated_subfield_and_doubled_code_semantics(spark):
    """The reference's repeated-subfield trio (marc_extractor_test.rb:
    355-394): a SINGLE-code spec yields one value per subfield
    occurrence; DOUBLING the code ('245aa') makes the spec multi-code,
    hence joinable — repeated $a join into ONE value; a multi-code spec
    joins every matching occurrence in ORIGINAL subfield order."""
    rec = marc_record(
        datafields=[
            ("245", "1", "0",
             [("a", "First A"), ("b", "The B"), ("a", "Second A")]),
        ],
    )
    assert extract(spark, rec, "245a") == ["First A", "Second A"]
    assert extract(spark, rec, "245aa") == ["First A Second A"]
    assert extract(spark, rec, "245ab") == ["First A The B Second A"]
    # no subfields given: one value per field (all subfields joined)
    assert extract(spark, rec, "245") == ["First A The B Second A"]


def test_repeated_tag_specs_do_not_merge(spark):
    """'245a:245b' (same tag twice) must keep per-spec dispatch
    (marc_extractor_test.rb:339-345): per field, spec order governs —
    all 245a values, then all 245b values; and '001[0-1]:001[0-3]'
    slices the same control field twice (marc_extractor_test.rb:396)."""
    rec = marc_record(
        controlfields=[("001", "2710183")],
        datafields=[
            ("245", "1", "0",
             [("a", "First A"), ("b", "The B"), ("a", "Second A")]),
        ],
    )
    assert extract(spark, rec, "245a:245b") == [
        "First A", "Second A", "The B"
    ]
    assert extract(spark, rec, "001[0-1]:001[0-3]") == ["27", "2710"]


def test_spec_trailing_colon_and_empty_are_reference_parity():
    """Ruby String#split drops trailing empties: '245ab:' is a valid
    spec and '' is a no-op extractor; leading/interior empties raise in
    both (r9 review)."""
    import pytest as _pytest

    from traject_spark.marc.spec import parse_marc_spec

    assert [s.tag for s in parse_marc_spec("245ab:")] == ["245"]
    assert [s.tag for s in parse_marc_spec("245ab::")] == ["245"]
    assert parse_marc_spec("") == []
    with _pytest.raises(ValueError):
        parse_marc_spec(":245")
    with _pytest.raises(ValueError):
        parse_marc_spec("245::100")


def test_null_field_arrays_do_not_wipe_accumulator(spark):
    """marc.datafields / marc.controlfields = NULL are schema-legal in
    user parquet: extract_all_marc_values, marc_formats and
    marc_geo_facet must contribute nothing / the default instead of
    nulling values earlier macros appended to the same field (r9
    review)."""
    from traject_spark.macros import (
        extract_all_marc_values,
        literal,
        marc_formats,
        marc_geo_facet,
    )
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA
    from traject_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [("r1", {"leader": None, "controlfields": None, "datafields": None})],
        MARC_SOURCE_SCHEMA,
    )
    p = (
        Pipeline()
        .to_field("all_text", literal("seed"), extract_all_marc_values())
        .to_field("format", literal("seed"), marc_formats())
        .to_field("geo", literal("seed"), marc_geo_facet())
    )
    row = p.apply(df).collect()[0]
    assert row["all_text"] == ["seed"]
    assert row["format"] is not None and "seed" in row["format"]
    assert row["geo"] == ["seed"]
