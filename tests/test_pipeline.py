"""Pipeline/engine tests — the moral port of to_field_test.rb,
each_record_test.rb, read_write_test.rb behaviors."""

import pytest
from pyspark.sql import functions as F

from traject_spark import Pipeline, extract_marc, literal, transforms as T
from traject_spark.marc.schema import MARC_SOURCE_SCHEMA

from tests.fixtures import ALT_SCRIPT, BOOK, EMPTY, THE_TITLE


def source_df(spark, *recs):
    return spark.createDataFrame(list(recs), MARC_SOURCE_SCHEMA)


def test_map_record_minimum_slice(spark):
    # SURVEY §7 M0 acceptance: title from 245ab
    p = Pipeline().to_field("title", extract_marc("245ab"))
    out = p.map_record(BOOK, spark)
    assert out == {
        "title": ["Manufacturing consent : the political economy of the mass media /"]
    }


def test_empty_record_produces_empty_hash(spark):
    # the reference's empty-record guard (test_helper.rb:50-54)
    p = (
        Pipeline()
        .to_field("title", extract_marc("245ab"))
        .to_field("author", extract_marc("100a"))
    )
    assert p.map_record(EMPTY, spark) == {}


def test_macro_chain_within_rule(spark):
    p = Pipeline().to_field(
        "title", extract_marc("245a"), T.trim_punctuation(), T.append("!")
    )
    assert p.map_record(BOOK, spark) == {"title": ["Manufacturing consent!"]}


def test_multiple_to_field_same_name_concat_in_order(spark):
    p = (
        Pipeline()
        .to_field("names", extract_marc("100a"))
        .to_field("names", extract_marc("700a"))
    )
    assert p.map_record(BOOK, spark) == {
        "names": ["Herman, Edward S.", "Chomsky, Noam."]
    }


def test_to_field_multiple_names(spark):
    p = Pipeline().to_field(["t1", "t2"], extract_marc("245a"))
    out = p.map_record(BOOK, spark)
    assert out["t1"] == out["t2"] == ["Manufacturing consent :"]


def test_literal_and_default(spark):
    p = (
        Pipeline()
        .to_field("const", literal("always"))
        .to_field("missing", extract_marc("999z"), T.default("fallback"))
    )
    assert p.map_record(BOOK, spark) == {
        "const": ["always"],
        "missing": ["fallback"],
    }


def test_extract_marc_options(spark):
    p = (
        Pipeline()
        .to_field("first_isbn", extract_marc("020a", first=True))
        .to_field("trimmed", extract_marc("245a", trim_punctuation=True))
        .to_field("with_default", extract_marc("999a", default="NONE"))
        .to_field(
            "translated",
            extract_marc("008[35-37]", translation_map={"eng": "English"}),
        )
    )
    assert p.map_record(BOOK, spark) == {
        "first_isbn": ["0394549260 :"],
        "trimmed": ["Manufacturing consent"],
        "with_default": ["NONE"],
        "translated": ["English"],
    }


def test_extract_marc_dedups_by_default(spark):
    # two 650s with the same $a "Mass media" -> deduped by default,
    # kept with allow_duplicates (marc21.rb:133-135)
    p = (
        Pipeline()
        .to_field("subj", extract_marc("650a"))
        .to_field("subj_dup", extract_marc("650a", allow_duplicates=True))
    )
    out = p.map_record(BOOK, spark)
    assert out["subj"] == ["Mass media"]
    assert out["subj_dup"] == ["Mass media", "Mass media"]


def test_unknown_extract_marc_option_raises():
    with pytest.raises(ValueError):
        extract_marc("245a", bogus=True)


def test_out_of_range_byteslice_nil_dropped_and_no_default(spark):
    # accumulator holds [nil] -> not empty -> default does NOT fire;
    # nil then dropped at add_output -> field omitted (SURVEY §4 + §1.2)
    from traject_spark.marc.schema import marc_record

    p = Pipeline().to_field(
        "lang", extract_marc("008[35-37]", default="missing")
    )
    short_008 = marc_record(controlfields=[("008", "short")])
    no_008 = marc_record(controlfields=[("001", "x")])
    # short 008 -> [nil] -> default does NOT fire -> nil dropped -> omitted
    assert p.map_record(short_008, spark) == {}
    # absent 008 -> [] -> default DOES fire
    assert p.map_record(no_008, spark) == {"lang": ["missing"]}


def test_each_record_add_output_and_skip(spark):
    def step(ctx):
        ctx.add_output("has_title", F.array(F.lit("yes")))
        ctx.skip_when(F.size(ctx.marc["datafields"]) == 0)

    p = Pipeline().to_field("title", extract_marc("245a")).each_record(step)
    df = source_df(spark, ("b", BOOK), ("e", EMPTY))
    rows = p.apply(df).collect()
    # EMPTY has no datafields -> skipped entirely (produces nothing)
    assert len(rows) == 1
    assert rows[0]["record_id"] == "b"
    assert rows[0]["has_title"] == ["yes"]


def test_each_record_reads_earlier_output(spark):
    def step(ctx):
        ctx.add_output("title_count", F.array(F.size(ctx.output("title")).cast("string")))

    p = Pipeline().to_field("title", extract_marc("245a:700a", allow_duplicates=True)).each_record(step)
    out = p.map_record(BOOK, spark)
    assert out["title_count"] == ["2"]


def test_apply_batch_and_order(spark):
    p = Pipeline().to_field("title", extract_marc("245a", trim_punctuation=True))
    df = source_df(spark, ("r1", BOOK), ("r2", THE_TITLE), ("r3", EMPTY))
    rows = p.apply(df).collect()
    by_id = {r["record_id"]: r for r in rows}
    assert by_id["r1"]["title"] == ["Manufacturing consent"]
    assert by_id["r2"]["title"] == ["The fateful triangle"]
    assert by_id["r3"]["title"] is None  # omitted field -> NULL column


def test_settings_allow_duplicate_values_false(spark):
    p = Pipeline(allow_duplicate_values=False)
    p.to_field("names", extract_marc("100a", allow_duplicates=True))
    p.to_field("names", extract_marc("100a", allow_duplicates=True))
    assert p.map_record(BOOK, spark) == {"names": ["Herman, Edward S."]}


def test_plan_is_single_narrow_stage(spark):
    """The 100 TB property: the whole pipeline is one narrow select —
    no Exchange (shuffle) anywhere in the physical plan."""
    p = (
        Pipeline()
        .to_field("title", extract_marc("245ab", trim_punctuation=True))
        .to_field("author", extract_marc("100a:110a:111a"))
        .to_field("lang", extract_marc("008[35-37]"))
    )
    df = source_df(spark, ("b", BOOK))
    plan = p.apply(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- mapping_rescue (indexer.rb:483-517, doc/settings.md:35-58) -----------

def _make_poison():
    # defined per-test as a closure so cloudpickle ships it by value
    # (module-level test functions aren't importable on executors)
    def _poison(v):
        if "poison" in v:
            raise ValueError("boom")
        return v.upper()
    return _poison


def test_mapping_rescue_halt_default_raises(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    p = Pipeline().to_field(
        "title", extract_marc("245ab"), T.transform_udf(_make_poison())
    )
    poison = dict(BOOK)
    poison = {
        **BOOK,
        "datafields": [
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "a", "value": "a poison title"}]}
        ],
    }
    with pytest.raises((Py4JJavaError, PythonException)):
        p.map_record(poison, spark)


def test_mapping_rescue_skip_quarantines(spark):
    poison = {
        **BOOK,
        "datafields": [
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "a", "value": "a poison title"}]}
        ],
    }
    p = (
        Pipeline()
        .settings(mapping_rescue="skip")
        .to_field("title", extract_marc("245a"), T.transform_udf(_make_poison()))
    )
    df = source_df(spark, ("good", BOOK), ("bad", poison))
    good, bad = p.apply_with_quarantine(df)
    good_rows = {r["record_id"]: list(r["title"]) for r in good.collect()}
    assert good_rows == {"good": ["MANUFACTURING CONSENT :"]}
    bad_rows = bad.collect()
    assert [r["record_id"] for r in bad_rows] == ["bad"]
    assert "ValueError: boom" in bad_rows[0]["_error"]
    assert "to_field ['title']" in bad_rows[0]["_error"]
    # quarantine keeps the raw source record for later re-processing
    assert bad_rows[0]["marc"]["datafields"][0]["subfields"][0]["value"] == (
        "a poison title"
    )


def test_mapping_rescue_skip_plain_apply_drops_errored(spark):
    poison = {
        **BOOK,
        "datafields": [
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [{"code": "a", "value": "a poison title"}]}
        ],
    }
    p = (
        Pipeline()
        .settings(mapping_rescue="skip")
        .to_field("title", extract_marc("245a"), T.transform_udf(_make_poison()))
    )
    out = p.apply(source_df(spark, ("good", BOOK), ("bad", poison)))
    assert [r["record_id"] for r in out.collect()] == ["good"]


def test_after_processing_runs_in_order(spark):
    calls = []
    p = (
        Pipeline()
        .to_field("title", extract_marc("245ab"))
        .after_processing(lambda: calls.append("first"))
        .after_processing(lambda: calls.append("second"))
    )
    p.apply(source_df(spark, ("b", BOOK))).collect()
    p.run_after_processing()
    assert calls == ["first", "second"]


def test_load_config_file(spark, tmp_path):
    conf = tmp_path / "conf.py"
    conf.write_text(
        'to_field("title", extract_marc("245ab", trim_punctuation=True))\n'
    )
    p = Pipeline().load_config_file(str(conf))
    out = p.map_record(BOOK, spark)
    assert out["title"] == [
        "Manufacturing consent : the political economy of the mass media"
    ]


def test_nested_schema_pruning_at_scan(spark, tmp_path):
    """The 100 TB scan property: a datafield-only pipeline must prune the
    parquet ReadSchema down to marc.datafields — controlfields and leader
    stay unread (checked via the physical plan's ReadSchema)."""
    path = str(tmp_path / "marc_parquet")
    source_df(spark, ("b", BOOK)).write.parquet(path)
    df = spark.read.parquet(path)
    p = Pipeline().to_field("title", extract_marc("245a", alternate_script=False))
    plan = p.apply(df)._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, "expected a parquet scan with ReadSchema"
    schema_line = read_schema[0]
    assert "datafields" in schema_line
    assert "controlfields" not in schema_line
    assert "leader" not in schema_line


def test_process_record_lshift_buffered(spark):
    """indexer << record semantics (indexer.rb:440-449), batched into one
    flush job."""
    p = Pipeline().to_field("title", extract_marc("245a", alternate_script=False))
    p << BOOK
    p.process_record(THE_TITLE)
    written = []
    ids = []
    def sink(d):
        rows = d.collect()
        written.extend(sorted(r["title"][0] for r in rows if r["title"]))
        ids.extend(sorted(r["record_id"] for r in rows))
    p.flush_records(spark, destination=sink)
    assert len(written) == 2
    assert any(t.startswith("Manufacturing") for t in written)
    # the sink sees the records' REAL 001 ids, not synthetic placeholders
    assert ids == ["2710183", "the1"]
    # buffer cleared after flush
    assert p.flush_records(spark).count() == 0


def test_map_records_custom_and_none_id_col(spark):
    """map_records must correlate results for ANY id_col configuration
    (a custom name or None), not just the default 'record_id'."""
    p = Pipeline(id_col="my_id").to_field(
        "title", extract_marc("245a", alternate_script=False)
    )
    out = p.map_records([BOOK, THE_TITLE], spark)
    assert out[0]["title"][0].startswith("Manufacturing")
    assert out[1]["title"][0].startswith("The fateful")
    assert p.id_col == "my_id"  # restored

    p2 = Pipeline(id_col=None).to_field(
        "title", extract_marc("245a", alternate_script=False)
    )
    out2 = p2.map_record(BOOK, spark)
    assert out2["title"][0].startswith("Manufacturing")
    assert p2.id_col is None


def test_apply_does_not_mutate_source_col(spark):
    """Auto-adapting to a marc/xml column is per-call: a pipeline with a
    custom source_col must keep it after mapping a 'marc'-column frame."""
    p = Pipeline(source_col="record").to_field(
        "title", extract_marc("245a", alternate_script=False)
    )
    df = spark.createDataFrame([("r1", BOOK)], MARC_SOURCE_SCHEMA)
    assert p.apply(df).count() == 1
    assert p.source_col == "record"
    # and a frame that DOES carry the configured column still works
    df2 = df.withColumnRenamed("marc", "record")
    assert p.apply(df2).collect()[0]["title"][0].startswith("Manufacturing")


def test_quarantine_schema_stable_without_error_exprs(spark):
    """apply_with_quarantine returns the same quarantine schema whether
    or not any step registered a rescued error expression."""
    p = Pipeline(mapping_rescue="skip").to_field(
        "title", extract_marc("245a", alternate_script=False)
    )
    df = spark.createDataFrame([("r1", BOOK)], MARC_SOURCE_SCHEMA)
    good, bad = p.apply_with_quarantine(df)
    assert bad.columns == ["record_id", "_error", "marc"]
    assert bad.count() == 0 and good.count() == 1


def test_null_contribution_does_not_wipe_field(spark):
    """A NULL Column handed to ctx.add_output contributes nothing instead
    of nulling every other step's values (concat NULL propagation)."""
    from pyspark.sql import functions as F

    from traject_spark import Pipeline
    from traject_spark.macros import literal

    p = (
        Pipeline()
        .to_field("subject", literal("fromfield"))
        .each_record(lambda ctx: ctx.add_output(
            "subject", F.when(F.lit(False), F.array(F.lit("x")))
        ))
    )
    rows = p.apply(source_df(spark, BOOK)).collect()
    assert all(r["subject"] == ["fromfield"] for r in rows)


def test_ctx_output_sees_processed_values(spark):
    """ctx.output() applies the add-time invariants (nil drop, de-dup)
    like the reference's output_hash, so derived fields see the same
    view the writer will."""
    from pyspark.sql import functions as F

    from traject_spark import Pipeline

    p = (
        Pipeline()
        .settings(allow_duplicate_values=False)
        .to_field("t", lambda acc, ctx: F.concat(acc, F.array(
            F.lit("A"), F.lit("A"), F.lit(None).cast("string"))))
        .each_record(lambda ctx: ctx.add_output(
            "t_len", F.array(F.size(ctx.output("t")).cast("string"))
        ))
    )
    rows = p.apply(source_df(spark, BOOK)).collect()
    assert all(r["t"] == ["A"] and r["t_len"] == ["1"] for r in rows)


def test_map_record_field_named_like_id_col(spark):
    """to_field('id') with id_col='id' — the canonical traject shape —
    must not produce duplicate columns or crash map_record."""
    from traject_spark import Pipeline
    from traject_spark.macros import extract_marc
    from traject_spark.marc.schema import marc_record

    rec = marc_record(
        controlfields=[("001", "ctrl1")],
        datafields=[("245", "1", "0", [("a", "T")])],
    )
    p = (Pipeline(id_col="id")
         .to_field("id", extract_marc("001"))
         .to_field("title", extract_marc("245a")))
    out = p.map_record(rec, spark)
    assert out == {"id": ["ctrl1"], "title": ["T"]}


def test_clipboard_carries_value_to_later_rule(spark):
    """A value stashed on the clipboard by one rule is what a later rule
    reads, with unrelated rules in between."""
    from traject_spark.macros import literal

    def stash(acc, ctx):
        ctx.clipboard["t"] = acc
        return acc

    def unstash(acc, ctx):
        return ctx.clipboard["t"]

    p = (
        Pipeline()
        .to_field("title", extract_marc("245a"))
        .to_field("stashed", literal("X"), stash)
        .to_field("author", extract_marc("100a"))
        .to_field("copy", unstash)
    )
    row = p.apply(source_df(spark, ("b", BOOK))).collect()[0]
    assert row["copy"] == ["X"] and row["stashed"] == ["X"]


def test_macro_runs_once_per_compile(spark):
    """Compilation runs every macro exactly once, so a macro with a side
    effect (logging, a counter) sees one call per compile even when a
    later rule reads the clipboard."""
    from traject_spark.macros import literal

    calls = []

    def counted(acc, ctx):
        calls.append(ctx.current_step)
        return acc

    def reads_clipboard(acc, ctx):
        empty = F.array().cast("array<string>")
        return F.concat(acc, ctx.clipboard.get("t", empty))

    p = (
        Pipeline()
        .to_field("a", literal("1"), counted)
        .to_field("b", literal("2"))
        .to_field("c", literal("3"))
        .to_field("d", reads_clipboard)
    )
    p.compile()
    assert calls == ["to_field ['a']"]


def test_non_identifier_source_column_matches_marc(spark):
    """The flagship over a record column named ``my-marc``, or nested as
    ``rec.marc``, maps exactly like the same records under ``marc``; the
    kept source and the quarantine frame carry the user's column."""
    from __spark_entry__ import flagship_pipeline

    df = source_df(
        spark, ("book", BOOK), ("the", THE_TITLE), ("alt", ALT_SCRIPT),
        ("empty", EMPTY),
    )

    def rows(out, drop=()):
        return [
            {k: v for k, v in r.asDict().items() if k not in drop}
            for r in out.orderBy("record_id").collect()
        ]

    want = rows(flagship_pipeline().apply(df))
    assert any(r["title"] for r in want)
    nested = df.select("record_id", F.struct("marc").alias("rec"))
    cases = (
        (df.withColumnRenamed("marc", "my-marc"), "my-marc", "my-marc"),
        (nested, "rec.marc", "marc"),
    )
    for frame, src, shown in cases:
        p = flagship_pipeline().settings(mapping_rescue="skip")
        p.source_col = src
        out = p.apply(frame, keep_source=True)
        assert out.columns[:2] == ["record_id", shown]
        assert rows(out, drop=(shown,)) == want, src
        good, bad = p.apply_with_quarantine(frame)
        assert rows(good) == want, src
        assert bad.columns == ["record_id", "_error", shown]
        assert p.source_col == src


# --- the Column bridge: Column macros inside a text-composed pipeline -------


def test_user_column_macro_after_text_macro(spark):
    """A user macro returning a Column composes after a text macro: it
    is handed the accumulator as F.expr(text), and its Column is read
    back through a hidden column."""

    def upcase(acc, ctx):
        return F.transform(acc, lambda v: F.upper(v))

    def wraps_builtin(acc, ctx):
        # a built-in text macro called the Column way
        return F.reverse(extract_marc("100a")(acc, ctx))

    p = (
        Pipeline()
        .to_field("t", extract_marc("245a"), upcase)
        .to_field("w", literal("a"), wraps_builtin)
    )
    out = p.apply(source_df(spark, ("b", BOOK), ("e", EMPTY)))
    rows = {r.record_id: (r.t, r.w) for r in out.collect()}
    assert rows == {
        "b": (["MANUFACTURING CONSENT :"], ["Herman, Edward S.", "a"]),
        "e": (None, ["a"]),
    }
    assert out.columns == ["record_id", "t", "w"]
    assert p._materialized == []


def test_builtin_macro_called_without_context_says_so(spark):
    """A built-in text macro called the Column way projects its input as
    a hidden column, which needs the pipeline's context."""
    with pytest.raises(TypeError, match="PipelineContext"):
        literal("x")(F.array(), None)


def test_bridged_columns_project_once_per_dependency_level(spark):
    """Hidden columns that do not read each other share one projection:
    ten rules that each chain three Column transforms add three
    projections (strip, first_only, default), not thirty."""
    p = Pipeline()
    specs = ["245a", "100a", "260b", "020a", "650a",
             "700a", "300a", "250a", "490a", "035a"]
    for i, spec in enumerate(specs):
        p.to_field(f"f{i}", extract_marc(spec), T.strip(), T.first_only(),
                   T.default("none"))
    out = p.apply(source_df(spark, ("b", BOOK)))
    analyzed = out._jdf.queryExecution().analyzed().toString()
    # three hidden-column levels and the select
    assert analyzed.count("Project [") == 4
    row = out.collect()[0]
    assert [row[f"f{i}"] for i in range(10)] == [
        ["Manufacturing consent :"], ["Herman, Edward S."],
        ["Pantheon Books,"], ["0394549260 :"], ["Mass media"],
        ["Chomsky, Noam."], ["xx, 412 p. ;"], ["none"], ["none"],
        ["(OCoLC)17508918"],
    ]


def test_each_record_column_output_and_skip(spark):
    """each_record reads an earlier field (ctx.output), writes a Column
    with add_output and skips on a Column predicate."""

    def step(ctx):
        t = ctx.output("t")
        ctx.add_output("n", F.array(F.size(t).cast("string")))
        ctx.skip_when(F.size(t) == 0)

    p = (
        Pipeline()
        .to_field("t", extract_marc("245ab"))
        .each_record(step)
        .to_field("t2", literal("x"))
    )
    df = source_df(spark, ("b", BOOK), ("the", THE_TITLE), ("e", EMPTY))
    rows = {r.record_id: r.asDict() for r in p.apply(df).collect()}
    assert rows == {
        "b": {
            "record_id": "b",
            "t": [
                "Manufacturing consent : the political economy of the "
                "mass media /"
            ],
            "n": ["1"],
            "t2": ["x"],
        },
        "the": {
            "record_id": "the",
            "t": ["The fateful triangle : essays."],
            "n": ["1"],
            "t2": ["x"],
        },
    }
    skipped = []
    p.process_with(df, on_skipped=lambda s: skipped.extend(
        r.record_id for r in s.collect()
    ))
    assert skipped == ["e"]


def test_rescued_udf_through_bridge_quarantines(spark):
    """A rescued transform_udf (a Column macro) after a text macro:
    errored records leave the output and land in the quarantine frame
    with the step named in the message; only the rescued struct is
    materialized."""

    def shout(v):
        if "fateful" in v:
            raise ValueError("no fate")
        return v.upper()

    p = (
        Pipeline()
        .settings(mapping_rescue="skip")
        .to_field("t", extract_marc("245a"), T.transform_udf(shout))
        .to_field("id", extract_marc("001"))
    )
    df = source_df(spark, ("b", BOOK), ("the", THE_TITLE))
    good, bad = p.apply_with_quarantine(df)
    assert [r.asDict() for r in good.collect()] == [
        {"record_id": "b", "t": ["MANUFACTURING CONSENT :"],
         "id": ["2710183"]},
    ]
    (row,) = bad.collect()
    assert row.record_id == "the"
    assert row._error == (
        "ValueError: no fate (while executing to_field ['t'])"
    )
    assert row.marc.datafields[0].tag == "245"
    assert bad.columns == ["record_id", "_error", "marc"]
    assert len(p._materialized) == 1
    plain = p.apply(df)
    assert [r.record_id for r in plain.collect()] == ["b"]
