"""Transformation-macro semantics (reference: transformation.rb tests +
trim_punctuation cases from test/indexer/macros/marc21/ *)."""

import os

import pytest
from pyspark.sql import functions as F

from traject_spark import transforms as T
from traject_spark.translation_map import TranslationMap

from tests.fixtures import REFERENCE


def eval_exprs(spark, **exprs):
    row = spark.range(1).select(*[e.alias(k) for k, e in exprs.items()]).collect()[0]
    return row.asDict()


def arr(*vals):
    return F.array(*[F.lit(v) for v in vals]).cast("array<string>")


def test_value_macros_batch(spark):
    out = eval_exprs(
        spark,
        default_on_empty=T.default("x")(F.array().cast("array<string>"), None),
        default_not_applied=T.default("x")(arr("a"), None),
        first=T.first_only()(arr("a", "b", "c"), None),
        unique=T.unique()(arr("a", "b", "a"), None),
        strip=T.strip()(arr("  hi there\t\n", "ok"), None),
        split=T.split(",")(arr("a,b", "c"), None),
        append=T.append("!")(arr("a", "b"), None),
        prepend=T.prepend(">")(arr("a",), None),
        gsub=T.gsub(r"\d+", "#")(arr("a1b22", "x"), None),
        delete_list=T.delete_if(["b", "c"])(arr("a", "b", "c", "d"), None),
        delete_regex=T.delete_if(r"^b")(arr("abc", "bcd"), None),
        select_list=T.select(["b"])(arr("a", "b"), None),
        transform=T.transform(lambda v: F.upper(v))(arr("a", "b"), None),
    )
    assert out["default_on_empty"] == ["x"]
    assert out["default_not_applied"] == ["a"]
    assert out["first"] == ["a"]
    assert out["unique"] == ["a", "b"]
    assert out["strip"] == ["hi there", "ok"]
    assert out["split"] == ["a", "b", "c"]
    assert out["append"] == ["a!", "b!"]
    assert out["prepend"] == [">a"]
    assert out["gsub"] == ["a#b#", "x"]
    assert out["delete_list"] == ["a", "d"]
    assert out["delete_regex"] == ["abc"]
    assert out["select_list"] == ["b"]
    assert out["transform"] == ["A", "B"]


# trim_punctuation cases mirroring the reference's documented behavior
# (lib/traject/macros/marc21.rb:240-271)
TRIM_CASES = [
    ("Manufacturing consent :", "Manufacturing consent"),
    ("one two three.", "one two three"),
    ("one two three..", "one two three.."),  # period rule needs exactly one .
    ("hi.", "hi."),  # fewer than 3 word chars before period
    ("abc.", "abc"),
    ("[brackets]", "brackets"),
    ("[bracket start only", "bracket start only"),
    ("in[ternal] brackets]", "in[ternal] brackets]"),
    ("trailing, ", "trailing"),
    ("trailing/", "trailing"),
    ("trailing ;", "trailing"),
    ("  spaced  ", "spaced"),
    ("semicolon;", "semicolon"),
    ("one]", "one"),
    ("hello", "hello"),
    # the reference's own trim_punctuation_test.rb table, verbatim
    ("one two three", "one two three"),
    ("one two three,", "one two three"),
    ("one two three/", "one two three"),
    ("one two three;", "one two three"),
    ("one two three:", "one two three"),
    ("one two three .", "one two three ."),
    ("one two three...", "one two three..."),
    (" one two three.", "one two three"),
    ("one two [three]", "one two [three]"),
    ("one two three]", "one two three"),
    ("[one two three", "one two three"),
    ("[one two three]", "one two three"),
    ("Feminism and art.", "Feminism and art"),  # was a reference bug
    ("Le réve.", "Le réve"),  # non-ASCII word chars before the period
    ("Bill Dueber, Jr.", "Bill Dueber, Jr."),  # bug-on-the-bug case
]


def test_trim_punctuation_golden(spark):
    vals = [c[0] for c in TRIM_CASES]
    expected = [c[1] for c in TRIM_CASES]
    out = eval_exprs(
        spark, t=T.trim_punctuation()(arr(*vals), None)
    )["t"]
    assert out == expected


def test_trim_punctuation_null_passthrough(spark):
    out = eval_exprs(
        spark,
        t=T.trim_punctuation()(
            F.array(F.lit(None).cast("string"), F.lit("abc.")), None
        ),
    )["t"]
    assert out == [None, "abc"]


def test_translation_map_semantics(spark):
    tm = TranslationMap({"a": "A", "b": ["B1", "B2"], "drop": None})
    passthrough = TranslationMap(
        {"a": "A", "__default__": "__passthrough__"}
    )
    defaulted = TranslationMap({"a": "A", "__default__": "DFLT"})
    out = eval_exprs(
        spark,
        basic=tm.translate_array_expr(arr("a", "b", "missing", "drop")),
        passthru=passthrough.translate_array_expr(arr("a", "zz")),
        dflt=defaulted.translate_array_expr(arr("a", "zz")),
    )
    # nil removes, arrays flatten, missing key w/o default removes
    assert out["basic"] == ["A", "B1", "B2"]
    assert out["passthru"] == ["A", "zz"]
    assert out["dflt"] == ["A", "DFLT"]


def test_translation_map_merge_layers(spark):
    tm = TranslationMap({"a": "A", "b": "B"}, {"b": "B2"})
    out = eval_exprs(spark, m=tm.translate_array_expr(arr("a", "b")))
    assert out["m"] == ["A", "B2"]


def test_translation_map_python_side():
    tm = TranslationMap({"a": "A", "b": ["B1", None], "drop": None})
    assert tm.translate_list(["a", "b", "zz", "drop"]) == ["A", "B1"]


def test_large_map_udf_path(spark):
    big = {f"k{i}": f"v{i}" for i in range(600)}
    big["__default__"] = "__passthrough__"
    tm = TranslationMap(big)
    assert len(tm) == 600
    out = eval_exprs(
        spark, m=tm.translate_array_expr(arr("k1", "k599", "nope"))
    )
    assert out["m"] == ["v1", "v599", "nope"]


def test_large_map_empty_value_and_separator_fallback(spark):
    # empty-list values through the encoded str_to_map path must come
    # back as [] (contributing nothing), not [''] — and lookup_expr on a
    # large map whose data contains the C0 separators must take the UDF
    # fallback instead of silently corrupting the encoding
    big = {f"k{i}": f"v{i}" for i in range(600)}
    big["empty"] = []
    big["blank"] = ""          # one EMPTY-STRING translation, not removal
    tm = TranslationMap(big)
    out = eval_exprs(
        spark, m=tm.translate_array_expr(arr("k5", "empty", "blank", "k7"))
    )
    # [] contributes nothing; [""] contributes one empty string — the
    # sentinel encoding keeps the two distinguishable at any map size
    assert out["m"] == ["v5", "", "v7"]

    sep_map = {f"k{i}": f"v{i}" for i in range(600)}
    sep_map["bad\x1ckey"] = "weird\x1fvalue"
    tm2 = TranslationMap(sep_map)
    out2 = eval_exprs(
        spark,
        hit=tm2.lookup_expr(F.lit("bad\x1ckey")),
        normal=tm2.lookup_expr(F.lit("k3")),
        miss=tm2.lookup_expr(F.lit("nope")),
    )
    assert out2["hit"] == ["weird\x1fvalue"]
    assert out2["normal"] == ["v3"]
    assert out2["miss"] is None


def test_strip_matches_ruby_space_class(spark):
    # Ruby [[:space:]] includes NEL (U+0085) and Zs, but NOT NUL
    out = eval_exprs(
        spark,
        nel=T.ruby_strip_expr(F.lit("hi")),
        nul=T.ruby_strip_expr(F.lit("\x00hi\x00")),
        nbsp=T.ruby_strip_expr(F.lit(" hi ")),
    )
    assert out["nel"] == "hi"
    assert out["nul"] == "\x00hi\x00"  # NUL is not Ruby whitespace
    assert out["nbsp"] == "hi"


def test_ruby_to_i(spark):
    out = eval_exprs(
        spark,
        a=T.ruby_to_i_expr(F.lit("1988")),
        b=T.ruby_to_i_expr(F.lit("19uu")),
        c=T.ruby_to_i_expr(F.lit("  42abc")),
        d=T.ruby_to_i_expr(F.lit("abc")),
        e=T.ruby_to_i_expr(F.lit("-7x")),
    )
    assert out["a"] == 1988
    assert out["b"] == 19
    assert out["c"] == 42
    assert out["d"] == 0
    assert out["e"] == -7


def test_strip_unicode_whitespace(spark):
    # transformation_test.rb:128-134: NBSP / EN SPACE / NNBSP all strip
    out = eval_exprs(
        spark,
        t=T.strip()(arr("     one   "), None),
    )["t"]
    assert out == ["one"]


def test_translation_map_merge_multiple(spark):
    # transformation_test.rb:22-37: later maps override earlier; an
    # inline dict merges last
    from traject_spark.translation_map import TranslationMap

    m1 = {"key_to_be_overridden": "value_from_first"}
    m2 = {"key_to_be_overridden": "value_from_second"}
    tm = TranslationMap(m1, m2)
    out = eval_exprs(
        spark, t=T.translation_map(tm)(arr("key_to_be_overridden"), None)
    )["t"]
    assert out == ["value_from_second"]

    tm3 = TranslationMap(m1, m2, {"key_to_be_overridden": "inline"})
    out = eval_exprs(
        spark, t=T.translation_map(tm3)(arr("key_to_be_overridden"), None)
    )["t"]
    assert out == ["inline"]


def test_split_ruby_trailing_empty_semantics(spark):
    # Ruby String#split drops TRAILING empties, keeps interior ones
    out = eval_exprs(
        spark,
        s=T.split("|")(arr("a|b|", "||", "x||y", "plain"), None),
    )
    assert out["s"] == ["a", "b", "x", "", "y", "plain"]


def test_select_delete_if_compiled_regex(spark):
    import re

    out = eval_exprs(
        spark,
        sel=T.select(re.compile("^a"))(arr("abc", "xyz", "aaa"), None),
        deli=T.delete_if(re.compile("z$"))(arr("abc", "xyz"), None),
    )
    assert out["sel"] == ["abc", "aaa"]
    assert out["deli"] == ["abc"]


def test_translation_map_load_path_overrides_builtin(tmp_path):
    # a user file named like a builtin wins (reference load-path order)
    (tmp_path / "lcc_top_level.yaml").write_text("A: Custom Override\n")
    tm = TranslationMap("lcc_top_level", load_path=[str(tmp_path)])
    assert tm.lookup("A") == "Custom Override"
    # without the load_path the builtin still resolves
    assert TranslationMap("lcc_top_level").lookup("A") not in (None, "Custom Override")


def test_translation_map_yaml_arrays_and_nulls(tmp_path, spark):
    """YAML maps with array values (flatten in) and null values (remove)
    load and translate like the reference's yaml-backed maps
    (translation_map_test.rb array/nil cases)."""
    (tmp_path / "mymap.yaml").write_text(
        "plain: One\n"
        "multi:\n"
        "  - A\n"
        "  - B\n"
        "dropme: ~\n"
        "'__default__': '__passthrough__'\n"
    )
    tm = TranslationMap("mymap", load_path=[str(tmp_path)])
    out = eval_exprs(
        spark,
        m=tm.translate_array_expr(arr("plain", "multi", "dropme", "zz")),
    )
    assert out["m"] == ["One", "A", "B", "zz"]
    assert tm.lookup("multi") == ["A", "B"]
    assert tm.lookup("dropme") is None


def test_two_strip_semantics_nbsp(spark):
    """The reference has TWO strips: the [[:space:]]-class `strip`
    transform (unicode-aware, removes NBSP) and plain String#strip
    inside trim_punctuation / sortable author (ASCII+NUL only, KEEPS
    NBSP). transformation.rb:121-128 vs marc21.rb:268."""
    from pyspark.sql import functions as F

    from traject_spark.transforms import (
        ruby_string_strip_expr, ruby_strip_expr, trim_punctuation_expr,
    )

    df = spark.createDataFrame(
        [("a", "Title "), ("b", " Title \x00"), ("c", "Title.")],
        "k string, v string",
    )
    got = {
        r["k"]: (r["t"], r["s"], r["ss"])
        for r in df.select(
            "k",
            trim_punctuation_expr(F.col("v")).alias("t"),
            ruby_strip_expr(F.col("v")).alias("s"),
            ruby_string_strip_expr(F.col("v")).alias("ss"),
        ).collect()
    }
    # NBSP: kept by String#strip paths, removed by the strip transform
    assert got["a"][0] == "Title "
    assert got["a"][1] == "Title"
    assert got["a"][2] == "Title "
    # NUL: stripped by String#strip, kept by [[:space:]]
    assert got["b"][2] == "Title"
    assert got["b"][1] == "Title \x00"
    # trim_punctuation still trims ASCII + the short-word period rule
    assert got["c"][0] == "Title"


def test_translation_map_null_element_gets_default_every_strategy(spark):
    """Reference semantics for a nil input value (translation_map.rb #[]):
    has_key?(nil) is false, so nil takes the miss path — __default__
    applies when set; under __passthrough__ the nil passes through and is
    compacted away. All strategies (literal expr, str_to_map expr, UDF
    fallback) must agree."""
    from pyspark.sql import functions as F

    from traject_spark.translation_map import TranslationMap

    big = {f"k{i}": f"v{i}" for i in range(600)}
    sep_poison = dict(big)
    sep_poison["bad\x1ekey"] = "x"  # forces the pandas-UDF strategy

    small_d = TranslationMap({**{"a": "A"}, "__default__": "DFLT"})
    big_d = TranslationMap({**big, "__default__": "DFLT"})
    udf_d = TranslationMap({**sep_poison, "__default__": "DFLT"})
    small_p = TranslationMap({"a": "A", "__default__": "__passthrough__"})
    udf_p = TranslationMap(
        {**sep_poison, "__default__": "__passthrough__"}
    )

    arr = F.array(F.lit("a"), F.lit(None).cast("string"))
    arr_k = F.array(F.lit("k1"), F.lit(None).cast("string"))
    row = (
        spark.range(1)
        .select(
            small_d.translate_array_expr(arr).alias("sd"),
            big_d.translate_array_expr(arr_k).alias("bd"),
            udf_d.translate_array_expr(arr_k).alias("ud"),
            small_p.translate_array_expr(arr).alias("sp"),
            udf_p.translate_array_expr(arr_k).alias("up"),
        )
        .collect()[0]
    )
    assert row["sd"] == ["A", "DFLT"]
    assert row["bd"] == ["v1", "DFLT"]
    assert row["ud"] == ["v1", "DFLT"]
    assert row["sp"] == ["A"]          # passed-through nil removed
    assert row["up"] == ["v1"]         # hit + passed-through nil removed


def test_translation_map_non_string_keys_hit_every_strategy(spark):
    """YAML integer keys (safe_load of an unquoted 1990) must hit for the
    string column value '1990' on the UDF strategy too (keys normalize to
    str in _as_array_dict)."""
    from pyspark.sql import functions as F

    from traject_spark.translation_map import TranslationMap

    poison = {f"k{i}": f"v{i}" for i in range(600)}
    poison["bad\x1ekey"] = "x"
    poison[1990] = "nineties"
    tm = TranslationMap(poison)
    out = (
        spark.range(1)
        .select(
            tm.translate_array_expr(F.array(F.lit("1990"))).alias("m")
        )
        .collect()[0]["m"]
    )
    assert out == ["nineties"]


# --- r7 review-pass regressions -------------------------------------------


def test_split_nil_value_does_not_wipe_field(spark):
    """flatten returns NULL if ANY nested array is NULL — one nil
    accumulator value must drop (like add_output's compact), not
    silently wipe every other value in the field."""
    out = eval_exprs(
        spark,
        split=T.split("|")(
            F.array(F.lit("a|b"), F.lit(None).cast("string"), F.lit("c")),
            None,
        ),
    )
    assert out["split"] == ["a", "b", "c"]


def test_ruby_string_strip_nul_trailing_only(spark):
    """MRI String#strip removes NUL at the TRAILING end only
    (rstrip_offset accepts '\\0'; lstrip_offset stops at whitespace)."""
    out = eval_exprs(
        spark,
        both=T.ruby_string_strip_expr(F.lit("\x00abc\x00")),
        lead=T.ruby_string_strip_expr(F.lit("\x00abc")),
        trail=T.ruby_string_strip_expr(F.lit("abc\x00 \t")),
        ws=T.ruby_string_strip_expr(F.lit("  abc  ")),
    )
    assert out["both"] == "\x00abc"
    assert out["lead"] == "\x00abc"
    assert out["trail"] == "abc"
    assert out["ws"] == "abc"


def test_translation_map_macro_merges_instances(spark):
    """The reference macro merges every argument (transformation.rb:34-42)
    — passing multiple TranslationMap instances must merge, and a single
    instance plus kwargs must not silently drop the kwargs."""
    m1 = TranslationMap({"a": "A", "b": "B1"})
    m2 = TranslationMap({"b": "B2", "c": "C"})
    out = eval_exprs(
        spark,
        merged=T.translation_map(m1, m2)(arr("a", "b", "c"), None),
        mixed=T.translation_map(m1, {"d": "D"})(arr("a", "d"), None),
    )
    assert out["merged"] == ["A", "B2", "C"]
    assert out["mixed"] == ["A", "D"]


def test_translation_map_instance_default_survives_merge(spark):
    """as_dict round-trips the __default__ so an instance's default
    applies after merging."""
    m1 = TranslationMap({"a": "A", "__default__": "dflt"})
    m2 = TranslationMap({"b": "B"})
    out = eval_exprs(
        spark,
        v=T.translation_map(m1, m2)(arr("a", "b", "zzz"), None),
    )
    assert out["v"] == ["A", "B", "dflt"]


def test_parse_properties_java_forms():
    """java.util.Properties compatibility: whitespace key separators
    (used by real traject-gem maps), line continuations, escapes."""
    from traject_spark.translation_map import _parse_properties

    text = (
        "# comment\n"
        "! also comment\n"
        "aaa Abstracts\n"
        "bbb = Bees\n"
        "ccc: Sees\n"
        "ddd\t\tTabbed\n"
        "cont = one \\\n"
        "       two\n"
        "esc\\:key = v\\t1\n"
        "uni = \\u0041BC\n"
        "bare\n"
    )
    out = _parse_properties(text)
    assert out["aaa"] == "Abstracts"
    assert out["bbb"] == "Bees"
    assert out["ccc"] == "Sees"
    assert out["ddd"] == "Tabbed"
    assert out["cont"] == "one two"
    assert out["esc:key"] == "v\t1"
    assert out["uni"] == "ABC"
    assert out["bare"] == ""


def test_transform_udf_skip_mode_single_evaluation(spark):
    """The rescued (value, error) struct is materialized once: the plan
    must carry exactly ONE ArrowEvalPython node, with the error filter
    and field projection reading the computed attribute."""
    from traject_spark import Pipeline

    def fn(v):
        if v == "boom":
            raise ValueError("bad value")
        return v.upper()

    df = spark.createDataFrame(
        [("r1", ["ok"]), ("r2", ["boom"])], "record_id string, vals array<string>"
    )
    p = (
        Pipeline(source_col="vals")
        .settings(mapping_rescue="skip")
        .to_field("out", lambda acc, ctx: F.col("vals"), T.transform_udf(fn))
    )
    out = p.apply(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    rows = {r.record_id: r.out for r in out.collect()}
    assert rows == {"r1": ["OK"]}  # r2 quarantined

    good, bad = p.apply_with_quarantine(df)
    assert {r.record_id for r in good.collect()} == {"r1"}
    badrows = bad.collect()
    assert len(badrows) == 1 and "bad value" in badrows[0]._error


def test_match_pred_honors_compiled_regex_flags(spark):
    import re

    from pyspark.sql import functions as F

    from traject_spark.transforms import select as t_select

    df = spark.createDataFrame([(["Harry Potter", "nope"],)], "v array<string>")
    out = df.select(
        t_select(re.compile("harry potter", re.I))(F.col("v"), None).alias("r")
    ).collect()
    assert out[0]["r"] == ["Harry Potter"]


def test_transform_udf_coerces_non_string_returns(spark):
    from pyspark.sql import functions as F

    from traject_spark.transforms import transform_udf

    df = spark.createDataFrame([(["abc", "de"],)], "v array<string>")
    out = df.select(
        transform_udf(lambda v: len(v))(F.col("v"), None).alias("r")
    ).collect()
    assert out[0]["r"] == ["3", "2"]


def test_transform_udf_list_return_flattens(spark):
    """A proc returning a list flattens into the accumulator (the
    reference's accumulator.concat shape), never the python repr
    "['a', 'b']" as one value; non-string elements coerce like scalars."""
    from pyspark.sql import functions as F

    from traject_spark.transforms import transform_udf

    df = spark.createDataFrame([(["ab", "c"],)], "v array<string>")
    out = df.select(
        transform_udf(lambda v: [v, len(v)])(F.col("v"), None).alias("r")
    ).collect()
    assert out[0]["r"] == ["ab", "2", "c", "1"]


def test_transform_udf_dict_return_raises(spark):
    """dict/set returns have no defined value shape — raise instead of
    silently serializing the repr."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException
    from pyspark.sql import functions as F

    from traject_spark.transforms import transform_udf

    df = spark.createDataFrame([(["x"],)], "v array<string>")
    with pytest.raises(PythonException, match="transform_udf fn returned"):
        df.select(
            transform_udf(lambda v: {"a": v})(F.col("v"), None).alias("r")
        ).collect()


def test_translation_map_str_collision_merge_order_precedence():
    """When a non-string key and a string key collide on str(), python
    lookup() must pick the LAST one in merge order — the same winner
    _as_array_dict computes for the Spark expression paths."""
    from traject_spark.translation_map import TranslationMap

    a = TranslationMap({1990: "int-entry"}, {"1990": "str-entry"})
    b = TranslationMap({"1990": "str-entry"}, {1990: "int-entry"})
    assert a.lookup("1990") == "str-entry"
    assert b.lookup("1990") == "int-entry"
    # non-string probes still hit the raw dict
    assert b.lookup(1990) == "int-entry"


def test_translation_map_default_option_and_merge(spark):
    """Reference parity (translation_map_test.rb:43-49, 181-211): the
    :default option overrides an in-file __default__; an EXPLICIT nil
    entry does not trigger the default (the value is removal, not a
    miss); merge() returns a new map where the second's entries win and
    the second's default wins only when set."""
    from pyspark.sql import functions as F

    from traject_spark.translation_map import TranslationMap

    m = TranslationMap(
        {"alpha": "one", "beta": None, "__default__": "FILE"},
        default="OPT",
    )
    assert m.lookup("alpha") == "one"
    assert m.lookup("beta") is None          # explicit nil != miss
    assert m.lookup("nope") == "OPT"         # option beat __default__
    # expression path agrees: nil removes, miss takes the default
    out = (
        spark.range(1)
        .select(
            m.translate_array_expr(
                F.array(F.lit("alpha"), F.lit("beta"), F.lit("nope"))
            ).alias("v")
        )
        .collect()[0]["v"]
    )
    assert out == ["one", "OPT"]

    a = TranslationMap({"k": "A"}, default="DEF_A")
    b = TranslationMap({"k": "B", "only_b": "B2"})
    merged = a.merge(b)
    assert merged.lookup("k") == "B"
    assert merged.lookup("only_b") == "B2"
    assert merged.lookup("zzz") == "DEF_A"   # first map's default carries
    c = TranslationMap({"x": "C"}, default="DEF_C")
    assert a.merge(c).lookup("zzz") == "DEF_C"  # second's default wins
    # plain-Mapping arg form
    assert a.merge({"k": "PLAIN"}).lookup("k") == "PLAIN"


def test_translation_map_explicit_none_clears_file_default():
    """default=None is an EXPLICIT override (reference :default accepts
    nil — translation_map.rb:180-184), distinct from 'not given': it
    clears an in-file __default__, so merge() CAN produce a default-less
    map from one that had a default (ADVICE r8)."""
    from traject_spark.translation_map import TranslationMap

    m = TranslationMap(
        {"alpha": "one", "__default__": "FILE"}, default=None
    )
    assert m.lookup("alpha") == "one"
    assert m.lookup("nope") is None          # file default cleared

    a = TranslationMap({"k": "A"}, default="DEF_A")
    cleared = a.merge(TranslationMap({"k": "B"}, default=None))
    # the merge arm keeps reference semantics: an absent/cleared default
    # on the second map lets the first's carry through
    assert cleared.lookup("zzz") == "DEF_A"
    # but constructing over as_dict of a cleared map stays default-less
    again = TranslationMap(m.as_dict())
    assert again.lookup("nope") is None


def test_split_single_space_is_ruby_awk_mode(spark):
    """Ruby String#split(' ') is the awk special case: leading
    whitespace skipped, whitespace RUNS are one separator — ' a  b'
    -> ['a','b'], never interior empties (r9 review). Other separators
    keep literal semantics with interior empties surviving."""
    from traject_spark.pipeline import Pipeline
    from traject_spark.transforms import split
    from traject_spark.macros import literal

    df = spark.createDataFrame([("r1",)], "record_id string")
    p = Pipeline().to_field("v", literal(" a  b\tc "), split(" "))
    assert p.apply(df).collect()[0]["v"] == ["a", "b", "c"]
    p2 = Pipeline().to_field("v", literal("a||b|"), split("|"))
    assert p2.apply(df).collect()[0]["v"] == ["a", "", "b"]


def test_compiled_pattern_unicode_classes_survive(spark):
    """A compiled Python pattern's \\d/\\w are Unicode-aware; Java's
    default is ASCII-only — the flag translation must carry (?U) or
    select/delete_if silently mismatch on non-ASCII digits (r9)."""
    import re

    from traject_spark.pipeline import Pipeline
    from traject_spark.transforms import select
    from traject_spark.macros import literal

    df = spark.createDataFrame([("r1",)], "record_id string")
    p = Pipeline().to_field(
        "v",
        literal("١٩٩٠"), literal("abcd"),
        select(re.compile(r"\A\d{4}\Z")),
    )
    assert p.apply(df).collect()[0]["v"] == ["١٩٩٠"]


def test_transform_udf_bytes_return_raises(spark):
    """bytes returns must raise, not silently emit the repr b'...'."""
    import pytest as _pytest

    from traject_spark.pipeline import Pipeline
    from traject_spark.transforms import transform_udf
    from traject_spark.macros import literal

    df = spark.createDataFrame([("r1",)], "record_id string")
    p = Pipeline().to_field(
        "v", literal("x"), transform_udf(lambda v: v.encode())
    )
    with _pytest.raises(Exception, match="bytes"):
        p.apply(df).collect()


def test_translation_map_many_nil_keys_single_literal(spark):
    """>64 nil-valued entries use one str_to_map literal, not an In()
    with a literal per key — same values, constant plan size (r9)."""
    from traject_spark.translation_map import TranslationMap

    m = {f"k{i}": None for i in range(200)}
    m.update({"keep": "KEPT"})
    tm = TranslationMap(m)
    from pyspark.sql import functions as F

    out = (
        spark.createDataFrame(
            [(["k5", "keep", "nope"],)], "vals array<string>"
        )
        .select(tm.translate_array_expr(F.col("vals")).alias("v"))
        .collect()[0]["v"]
    )
    assert out == ["KEPT"]


def test_yaml_fallback_bare_nil_entry(tmp_path, monkeypatch):
    """Without PyYAML, 'key:' parses as nil (remove-this-value), only a
    QUOTED empty is the empty string — matching safe_load (r9)."""
    import builtins
    import sys

    from traject_spark.translation_map import _load_yaml

    p = tmp_path / "m.yaml"
    p.write_text('a: "A"\nsuppress:\nempty: ""\n')
    real_import = builtins.__import__

    def no_yaml(name, *a, **k):
        if name == "yaml":
            raise ImportError("forced")
        return real_import(name, *a, **k)

    monkeypatch.delitem(sys.modules, "yaml", raising=False)
    monkeypatch.setattr(builtins, "__import__", no_yaml)
    got = _load_yaml(str(p))
    assert got == {"a": "A", "suppress": None, "empty": ""}


def test_split_awk_mode_no_catastrophic_backtracking(spark):
    """awk-mode split must not wrap the whitespace-run pattern in an
    outer quantifier — '(?:[ \\t..]+)+\\Z' backtracks exponentially on a
    long interior whitespace run (~4s at 26 chars, hang at >=28) and one
    padded value would hang the executor task (r10 advice, high)."""
    import time

    from traject_spark.pipeline import Pipeline
    from traject_spark.transforms import split
    from traject_spark.macros import literal

    # 64-char interior whitespace run followed by a non-ws char: the
    # trailing-strip regex scans it but cannot match \Z — the old
    # nested-quantifier pattern hangs here, the fixed one is instant
    padded = "a" + (" " * 64) + "b" + (" " * 64)
    df = spark.createDataFrame([("r1",)], "record_id string")
    p = Pipeline().to_field("v", literal(padded), split(" "))
    t0 = time.monotonic()
    assert p.apply(df).collect()[0]["v"] == ["a", "b"]
    assert time.monotonic() - t0 < 30


def test_sql_probe_matches_lookup_semantics_random_maps(spark):
    """Property-style parity: for random simple maps, the generated-SQL
    probe (TranslationMap.sql_probe) must return exactly dict-hit/
    NULL-miss for random probe values — the contract the marc_languages
    fast path stands on. Probes include every key, near-miss mutations,
    the empty string, and NULL. Hypothesis drives map SHAPES; Spark
    evaluation is batched one DataFrame per example to keep it fast."""
    import random

    from pyspark.sql import functions as F

    from traject_spark.translation_map import TranslationMap

    rng = random.Random(0xC0FFEE)
    alphabet = (
        "abcdefghijklmnopqrstuvwxyz0123456789 '\"(),.-_|:;!?«é漢"
    )

    def rand_str(lo=0, hi=12):
        return "".join(
            rng.choice(alphabet) for _ in range(rng.randint(lo, hi))
        )

    for trial in range(12):
        n = rng.randint(1, 40)
        m = {rand_str(1, 8): rand_str(0, 16) for _ in range(n)}
        tm = TranslationMap(dict(m))
        sql = tm.sql_probe("v")
        assert sql is not None, m
        norm = {str(k): str(v) for k, v in m.items()}
        probes = list(norm) + [k + "X" for k in list(norm)[:5]] + [
            rand_str(0, 10) for _ in range(8)
        ] + ["", None]
        df = spark.createDataFrame(
            [(p,) for p in probes], "v string"
        ).select(
            "v", F.expr(sql).alias("hit")
        )
        for row in df.collect():
            want = norm.get(row["v"]) if row["v"] is not None else None
            assert row["hit"] == want, (trial, row["v"], row["hit"], want)


REF_MAPS = os.path.join(REFERENCE, "test", "translation_maps")
REF_BENCH_MAPS = os.path.join(REFERENCE, "index_bench", "translation_maps")


# Reference-only: asserts the content of traject's own map files (e.g. the
# 317-entry ht/country_map), so it skips where either map directory is
# absent and runs unchanged where a traject v3.8 checkout is present.
@pytest.mark.skipif(
    not (os.path.isdir(REF_MAPS) and os.path.isdir(REF_BENCH_MAPS)),
    reason=f"reference maps {REF_MAPS} and {REF_BENCH_MAPS} not present",
)
def test_ruby_translation_maps_reference_fixtures():
    """.rb translation maps load through the safe literal-subset
    evaluator (NO eval), against the reference's own fixtures
    (translation_map.rb:124-149 evals; files in the wild are literal
    hashes + trivial assignments): hash literal, %w arrays, index
    assignment, __default__ literal and passthrough, .rb-beats-.yaml
    precedence, and a loud error on real code."""
    import pytest as _pytest

    from traject_spark.translation_map import RubyMapError, TranslationMap

    lp = [REF_MAPS]
    m = TranslationMap("ruby_map", load_path=lp)
    assert m.as_dict() == {
        "key1": "value1",
        "array_key": ["one", "two", "three"],
        "key_to_be_overridden": "value_from_ruby",
        "also": "this",
    }
    assert TranslationMap("default_literal", load_path=lp).lookup(
        "nope"
    ) == "DEFAULT LITERAL"
    assert TranslationMap("default_passthrough", load_path=lp).lookup(
        "zzz"
    ) == "zzz"
    # .rb wins over .yaml for the same name (reference loader order)
    assert TranslationMap("both_map", load_path=lp).as_dict() == {
        "ruby": "ruby"
    }
    # a real-world 317-entry literal map
    big = TranslationMap(
        "ht/country_map",
        load_path=[REF_BENCH_MAPS],
    )
    assert big.lookup("xr") == "Czech Republic"
    assert len(big.as_dict()) == 317
    # genuinely-code maps are refused with a pointer, not mis-parsed
    with _pytest.raises(RubyMapError):
        TranslationMap("bad_ruby", load_path=lp)


def test_ruby_map_parser_subset_edges():
    """Parser edges: symbols as keys/values, ruby-1.9 key: syntax,
    numbers, nil suppression entries, comments, interpolation refusal,
    non-hash final expression refusal."""
    import pytest as _pytest

    from traject_spark.translation_map import RubyMapError, _parse_ruby_map

    d = _parse_ruby_map(
        """
        # comment
        base = { :sym_key => "v1", str: "v2", "n" => 3,
                 "supp" => nil, "f" => false }
        base["added"] = %w[a b]
        base  # final expression
        """
    )
    assert d == {
        "sym_key": "v1", "str": "v2", "n": 3,
        "supp": None, "f": False, "added": ["a", "b"],
    }
    with _pytest.raises(RubyMapError, match="interpolation"):
        _parse_ruby_map('{ "k" => "#{code}" }')
    with _pytest.raises(RubyMapError, match="Hash"):
        _parse_ruby_map('"just a string"')
    with _pytest.raises(RubyMapError):
        _parse_ruby_map('{ "k" => Foo.new }')


def test_ruby_map_parser_escapes_and_fallback(tmp_path):
    """r10 review fixes: unicode/hex/octal escapes decode (not mangle),
    %w honors backslash escapes, #$/#@ interpolation refused, malformed
    numbers raise RubyMapError (not bare ValueError), trailing .freeze
    accepted, and an unparseable .rb falls back to the converted .yaml
    next to it on the load path (the documented remedy)."""
    import pytest as _pytest

    from traject_spark.translation_map import (
        RubyMapError, TranslationMap, _parse_ruby_map,
    )

    d = _parse_ruby_map(
        '{ "u" => "caf\\u00e9", "ub" => "\\u{1F600}", "x" => "\\x41BC",'
        ' "o" => "\\101", "w" => %w{a\\ b c\\} d} }.freeze'
    )
    assert d["u"] == "café" and d["ub"] == "\U0001F600"
    assert d["x"] == "ABC" and d["o"] == "A"
    assert d["w"] == ["a b", "c}", "d"]
    assert _parse_ruby_map('{ "n" => 5.freeze }') == {"n": 5}
    for bad in ('{ "k" => "a#$g" }', '{ "k" => "a#@v" }',
                '{ "k" => 1.2.3 }', '{ "k" => "\\u00g9" }'):
        with _pytest.raises(RubyMapError):
            _parse_ruby_map(bad)
    # bad .rb + converted .yaml side by side: yaml loads
    (tmp_path / "m.rb").write_text("MatchMap.new\n")
    (tmp_path / "m.yaml").write_text("k: V\n")
    assert TranslationMap("m", load_path=[str(tmp_path)]).lookup("k") == "V"
    # bad .rb alone: the RubyMapError surfaces (with the path), not a
    # bare FileNotFoundError
    (tmp_path / "only.rb").write_text("MatchMap.new\n")
    with _pytest.raises(RubyMapError, match="only.rb"):
        TranslationMap("only", load_path=[str(tmp_path)])


def test_string_fast_shape_parity(spark):
    """translate_array_expr's string fast shape (r10: direct per-value
    probe, no array encode/split/slice, no flatten) must match the
    generic array path on every semantic branch: hit, miss, suppression
    (nil value), default, passthrough, NULL element, empty-string value,
    numeric keys, and a map too multi-valued for the shape (fallback)."""
    from pyspark.sql import functions as F

    from traject_spark.translation_map import PASSTHROUGH, TranslationMap

    cases = [
        TranslationMap({"a": "A", "supp": None, "e": "", 1990: "Y"}),
        TranslationMap({"a": "A", "supp": None}, default="DEF"),
        TranslationMap({"a": "A"}, default=PASSTHROUGH),
        TranslationMap({"a": "A", "m": ["x", "y"]}),  # multi -> generic
        TranslationMap({}),
        TranslationMap({"a": "A"}, default=["D1"]),
        # >64 nil keys exercises the nil_map branch
        TranslationMap(
            {**{f"n{i}": None for i in range(70)}, "a": "A"}
        ),
        # a LIST default whose element EQUALS the passthrough sentinel
        # is a LITERAL default (== PASSTHROUGH is False for a list) —
        # the fast shape must not collapse it into passthrough
        TranslationMap({"a": "A"}, default=[PASSTHROUGH]),
    ]
    probes = [["a", "supp", "e", "1990", "zzz", None, ""], [], None]
    df = spark.createDataFrame(
        [(p,) for p in probes], "vals array<string>"
    )
    for i, tm in enumerate(cases):
        shape = tm._string_shape()
        if i == 3:
            assert shape is None  # multi-valued map keeps the array path
        else:
            # non-vacuous: these cases MUST take the fast shape, or the
            # comparison below is generic-vs-generic and the fast path
            # could be dead/broken unnoticed
            assert shape is not None, i
        generic = F.flatten(
            F.filter(
                F.transform(
                    F.col("vals"), lambda v: tm.lookup_expr(v)
                ),
                lambda x: x.isNotNull(),
            )
        )
        got = df.select(
            tm.translate_array_expr(F.col("vals")).alias("fast"),
            generic.alias("generic"),
        ).collect()
        for row in got:
            assert row["fast"] == row["generic"], (i, row)
        # and the python-side translate_list agrees on the non-null row
        py = tm.translate_list(probes[0])
        assert got[0]["fast"] == py, (i, got[0]["fast"], py)


def test_ruby_map_octal_and_control_escapes():
    """Octal escapes decode with the leading-zero forms included
    (\\012 is \\n, \\0 is NUL — not NUL followed by stranded digits);
    control/meta escapes (\\cX, \\M-X) refuse instead of mangling."""
    import pytest as _pytest

    from traject_spark.translation_map import RubyMapError, _parse_ruby_map

    assert _parse_ruby_map(r'{ "k" => "\012" }') == {"k": "\n"}
    assert _parse_ruby_map(r'{ "k" => "\0" }') == {"k": "\0"}
    assert _parse_ruby_map(r'{ "k" => "\101" }') == {"k": "A"}
    for bad in (r'{ "k" => "\cA" }', r'{ "k" => "\C-a" }',
                r'{ "k" => "\M-x" }'):
        with _pytest.raises(RubyMapError):
            _parse_ruby_map(bad)


def test_ruby_map_hash_shorthand_without_whitespace():
    """'{k:v}' lexes as name+symbol; the parser must honor Ruby's
    key-colon shorthand (key :k, value = variable v) — defined variables
    resolve, undefined ones refuse with a message that names the
    shorthand, not a misleading 'undefined variable k' (ADVICE r10)."""
    import pytest as _pytest

    from traject_spark.translation_map import RubyMapError, _parse_ruby_map

    # defined variable as the shorthand value resolves like Ruby would
    assert _parse_ruby_map('v = "val"\n{k:v}') == {"k": "val"}
    # undefined: the message points at the missing whitespace / value
    with _pytest.raises(RubyMapError, match="shorthand.*whitespace"):
        _parse_ruby_map("{k:v}")
    # quoted-string key with no space behaves the same
    with _pytest.raises(RubyMapError, match="shorthand"):
        _parse_ruby_map('{"k":v}')
    # literal values after the colon were already fine — still are
    assert _parse_ruby_map('{k:"x"}') == {"k": "x"}


def test_rb_parse_failure_fallthrough_warns(tmp_path, caplog):
    """A broken .rb that shadows a loadable sibling .yaml falls through
    (documented remedy: convert to YAML) but must WARN, through the
    ``traject_spark.translation_map`` logger, naming both files, so a
    stale conversion can't silently serve old data (ADVICE r10)."""
    import logging

    from traject_spark.translation_map import TranslationMap

    (tmp_path / "shadow.rb").write_text('{ "k" => lambda { 1 } }')
    (tmp_path / "shadow.yaml").write_text("k: stale\n")
    with caplog.at_level(logging.WARNING, "traject_spark.translation_map"):
        tm = TranslationMap("shadow", load_path=[str(tmp_path)])
    assert tm.lookup("k") == "stale"
    [rec] = [
        r for r in caplog.records if r.name == "traject_spark.translation_map"
    ]
    assert rec.levelno == logging.WARNING
    msg = rec.getMessage()
    assert "shadow.rb" in msg and "shadow.yaml" in msg, msg
    assert "stale conversion" in msg


def test_yes_language_code_translates_deliberately():
    """VERDICT r12 #6: the reference's Psych (YAML 1.1) load turns the
    marc_languages key `yes` into boolean true, so ruby-traject can
    never translate the string code 'yes' (Nyankpa) — an accident of
    parsing, not intent. The LoC code list defines the STRING code
    'yes'; this repo stores it as one, deliberately: the lookup works
    and no boolean key exists."""
    tm = TranslationMap("marc_languages")
    d = tm.as_dict()
    assert d.get("yes") == "Nyankpa"
    assert True not in d and False not in d
    # and YAML 1.1's other boolean-word land mines stay strings too
    for k in ("no", "on", "off"):
        assert not isinstance(d.get(k, ""), bool), k
