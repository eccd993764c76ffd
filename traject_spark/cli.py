"""Command-line entry point, mirroring the reference's ``traject`` command
(lib/traject/command_line.rb:28-36,95-142 and bin/traject).

    traject-spark -c config.py file.mrc
    traject-spark -c config.py -t json -o out/ file.ndj
    traject-spark -x marcout -s marcout.type=xml -o out.xml file.mrc
    traject-spark -x commit -u http://solr:8983/solr/core
    traject-spark -x convert -t json -o corpus_pq/ drops/*.ndj
    traject-spark -c config.py -t parquet corpus_pq/

(-t sets the INPUT type, marc_source.type; marcout's OUTPUT type is the
marcout.type setting, like the reference. ``convert`` is net-new: any
reader -> nested-struct parquet, the preferred 100 TB layout — see
:func:`command_convert`.)

Configuration files are Python scripts executed with the traject DSL in
scope (``to_field``, ``each_record``, ``after_processing``, ``settings``,
``provide``, every marc21/semantics/formats macro, and ``transforms`` as
``T``) — the moral equivalent of the reference's instance_eval'd config.rb
(indexer.rb load_config_file). The CLI builds one SparkSession, routes the
input through the format reader chosen by ``marc_source.type`` (``-t``),
applies the compiled pipeline, and writes via the writer selected by
``writer_class_name`` (``-w``) — json (NDJSON, default), csv, delimited,
debug, or solr. ``-s debug.sql=true`` prints the SQL the pipeline
compiles to (``Pipeline.to_sql``) to stderr before the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


#: settings consumed as booleans (by truthiness or `is True`) — the ONLY
#: keys -s coerces from 'true'/'false'; everything else stays a string
BOOL_SETTINGS = {
    "allow_nil_values",
    "allow_duplicate_values",
    "allow_empty_fields",
    "streaming",
    "solr_writer.commit_on_close",
    "marcout.allow_oversized",
    "marc_source.xml_strict",
    "debug.sql",
}

WRITER_SHORTCUTS = {
    "json": "json",
    "jsonwriter": "json",
    "csv": "csv",
    "csvwriter": "csv",
    "delimited": "delimited",
    "delimitedwriter": "delimited",
    "debug": "debug",
    "debugwriter": "debug",
    "yaml": "yaml",
    "yamlwriter": "yaml",
    "solr": "solr",
    "solrjsonwriter": "solr",
    "null": "null",
    "nullwriter": "null",
}


def _normalize_class_name(value) -> str:
    """Ruby-style class-name setting -> comparable short form:
    'Traject::SolrJsonWriter' / 'traject.NDJReader' -> 'solrjsonwriter' /
    'ndjreader'. One definition — read_input, command_stream, and
    write_output all compare against the same normalization."""
    return str(value).lower().replace("::", ".").rsplit(".", 1)[-1]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="traject-spark",
        description="traject-compatible MARC/XML indexing on Spark",
    )
    p.add_argument("-c", "--conf", action="append", default=[],
                   help="configuration file path (repeatable)")
    p.add_argument("-s", "--setting", action="append", default=[],
                   help="settings: -s key=value (repeatable)")
    p.add_argument("-i", "--indexer", default="marc",
                   choices=["basic", "marc", "xml"],
                   help="indexer flavor (record column)")
    p.add_argument("-r", "--reader", default=None,
                   help="shortcut for -s reader_class_name=")
    p.add_argument("-o", "--output_file", default=None,
                   help="output path for file writers")
    p.add_argument("-w", "--writer", default=None,
                   help="writer: json/csv/delimited/debug/yaml/solr/null")
    p.add_argument("-u", "--solr", default=None,
                   help="shortcut for -s solr.url=")
    p.add_argument("-t", "--marc_type", default=None,
                   choices=["xml", "json", "binary", "parquet"],
                   help="shortcut for -s marc_source.type=")
    p.add_argument("-x", "--command", default="process",
                   choices=["process", "marcout", "commit", "convert"])
    p.add_argument("-d", "--debug-mode", dest="debug_mode",
                   action="store_true",
                   help="human-readable debug output writer")
    p.add_argument("--stdin", action="store_true",
                   help="read input records from standard input")
    p.add_argument("--master", default="local[*]", help="Spark master")
    p.add_argument("files", nargs="*", help="input files")
    return p


def _spool_stdin() -> str:
    """Spool standard input to a temp file and return its path
    (command_line.rb:148-153 reads $stdin when --stdin is given).

    Spark data sources read PATHS — splittable, re-readable across
    retried tasks — so a driver-side spool is the faithful adapter: the
    bytes land once on local disk, then every reader (`-t binary/json/
    xml`, any reader_class_name) treats the spool exactly like a named
    file. Bytes, not text: ISO-2709 input is binary."""
    import sys as _sys
    import tempfile

    fd, path = tempfile.mkstemp(prefix="traject_stdin_")
    with os.fdopen(fd, "wb") as fh:
        shutil.copyfileobj(_sys.stdin.buffer, fh)
    return path


def assemble_settings(args) -> dict:
    """-s pairs + option shortcuts (command_line.rb:192-235).

    Boolean-looking values coerce to real booleans for KNOWN-boolean
    settings only: Pipeline tests those by truthiness, and the string
    'false' is truthy — without coercion ``-s allow_nil_values=false``
    would turn the behavior ON. String-valued settings are never
    coerced: a Solr password that happens to be 'false' must stay the
    literal string (blanket coercion turned it into Python False and
    the auth header silently sent an empty password).
    """
    settings: dict = {}
    for pair in args.setting:
        if "=" not in pair:
            raise SystemExit(
                f"Unrecognized setting argument {pair!r}: use -s key=value"
            )
        key, value = pair.split("=", 1)
        if key in BOOL_SETTINGS and value.lower() in ("true", "false"):
            settings[key] = value.lower() == "true"
        else:
            settings[key] = value
    if args.writer:
        settings["writer_class_name"] = args.writer
    if args.reader:
        settings["reader_class_name"] = args.reader
    if args.solr:
        settings["solr.url"] = args.solr
    if args.marc_type:
        settings["marc_source.type"] = args.marc_type
    if args.output_file:
        settings["output_file"] = args.output_file
    if args.debug_mode:
        settings["writer_class_name"] = "debug"
    return settings


def config_scope(pipeline) -> dict:
    """The DSL namespace for exec'ing config files — the analog of the
    reference's config.rb instance_eval context (indexer.rb:388-406)."""
    from traject_spark import macros as M
    from traject_spark import transforms as T
    from traject_spark.translation_map import TranslationMap
    from traject_spark.xmlrec import extract_xpath

    scope = {
        "to_field": pipeline.to_field,
        "each_record": pipeline.each_record,
        "after_processing": pipeline.after_processing,
        "settings": pipeline.settings,
        "provide": pipeline.provide,
        "pipeline": pipeline,
        "T": T,
        "transforms": T,
        "TranslationMap": TranslationMap,
        "extract_xpath": extract_xpath,
    }
    for name in dir(M):
        if not name.startswith("_"):
            scope[name] = getattr(M, name)
    return scope


def load_config_files(pipeline, conf_paths: list) -> None:
    # ONE shared scope for every -c file: helpers defined in an earlier
    # config file must be visible to later ones (the reference
    # instance_evals each file against the same indexer, so methods
    # persist across files)
    scope = config_scope(pipeline)
    for path in conf_paths:
        try:
            with open(path, "r", encoding="utf-8") as fh:
                src = fh.read()
        except OSError as e:
            raise SystemExit(
                f"Could not read configuration file {path!r}: {e}"
            )
        code = compile(src, path, "exec")
        exec(code, scope)  # noqa: S102 — the config DSL


def read_input(
    spark: SparkSession, settings: dict, files: list, indexer: str = "marc"
) -> DataFrame:
    from traject_spark.marc.io import (
        read_iso2709,
        read_marc_json,
        read_marcxml,
    )
    from traject_spark.xmlrec.io import read_xml_records

    if not files:
        raise SystemExit(
            "No input files given (use '--stdin' to read standard input)"
        )
    src_type = str(settings.get("marc_source.type", "binary"))
    reader = _normalize_class_name(settings.get("reader_class_name", ""))
    if (
        reader in ("nokogirireader", "xml_records")
        or settings.get("nokogiri.each_record_xpath")
        # -i xml with no reader/xpath settings: the NokogiriIndexer's
        # whole-document-per-record default (each_record_xpath optional)
        or (indexer == "xml" and not reader)
    ):
        tag = settings.get("nokogiri.each_record_xpath")
        if tag:
            tag = str(tag).rsplit("/", 1)[-1].split(":")[-1]
            # NCName allows '.', '-', '_' — only refuse genuinely
            # unsupported predicate/attribute/function syntax
            if not tag.replace("-", "").replace("_", "").replace(
                ".", ""
            ).isalnum():
                # a predicate / attribute / function step would be
                # silently reduced to a never-matching literal tag and
                # the run would exit 0 with EMPTY output — refuse loudly
                # (the streaming splitter matches element NAMES only)
                raise SystemExit(
                    "nokogiri.each_record_xpath: only '//tag' (optionally "
                    f"namespaced) is supported; got a step {tag!r} with "
                    "predicate/attribute syntax the record splitter "
                    "cannot honor"
                )
        return read_xml_records(spark, files, each_record_tag=tag)
    if reader == "ndjreader":
        return read_marc_json(spark, files)
    if reader and reader not in ("marcreader", "reader"):
        # an unrecognized reader must not silently dispatch to the binary
        # MARC reader and "succeed" with zero records
        raise SystemExit(
            f"Unrecognized reader_class_name {settings.get('reader_class_name')!r}: "
            "supported are MarcReader (with -t binary/json/xml), NDJReader, "
            "NokogiriReader"
        )
    if src_type == "parquet":
        # the preferred 100 TB layout: nested-struct parquet written by
        # `-x convert` (or any df.write.parquet of a reader's output) —
        # no re-parse, nested-schema pruning at the scan
        return spark.read.parquet(*files)
    if src_type == "json":
        return read_marc_json(spark, files)
    if src_type == "xml":
        # marc_source.xml_strict=true: fail fast on a malformed file
        # (reference NokogiriReader parity) instead of skip-and-continue;
        # coerced by BOOL_SETTINGS like every other boolean setting
        return read_marcxml(
            spark, files,
            strict=bool(settings.get("marc_source.xml_strict", False)),
        )
    encoding = str(settings.get("marc_source.encoding", "utf-8"))
    return read_iso2709(spark, files, encoding=encoding)


def _delimited_fields(df: DataFrame, settings: dict, kind: str) -> list:
    """delimited/csv field list from the delimited_writer.fields setting
    (comma-separated, mandatory in the reference — delimited_writer.rb
    raises without it); defaults to every output column here."""
    raw = settings.get("delimited_writer.fields")
    if raw:
        return [f.strip() for f in str(raw).split(",") if f.strip()]
    return list(df.columns)


def _solr_url_and_kwargs(settings: dict) -> tuple:
    """solr.url + solr_json_writer kwargs from settings — shared by the
    batch writer branch and the streaming foreachBatch sink so the two
    paths can never drift."""
    url = str(settings.get("solr.url", ""))
    if not url:
        raise SystemExit("solr writer needs -u/-s solr.url=")
    # solr_writer.solr_update_args: dict from a config file, or
    # "k=v,k2=v2" from -s (e.g. -s solr_writer.solr_update_args=commitWithin=1000)
    upd = settings.get("solr_writer.solr_update_args")
    if isinstance(upd, str):
        upd = dict(
            kv.split("=", 1) for kv in upd.split(",") if "=" in kv
        ) or None
    commit_close = str(
        settings.get("solr_writer.commit_on_close", "")
    ).lower() == "true"

    def _int_setting(key: str, default):
        raw = settings.get(key, default)
        try:
            return int(raw)
        except (TypeError, ValueError):
            raise SystemExit(
                f"{key} must be an integer, got {raw!r}"
            )

    # max_skipped: 'nil'/'none'/'' disable the abort threshold entirely
    # (the writer's max_skipped=None contract — reference setting value
    # nil, solr_json_writer.rb); otherwise an integer budget
    raw_skip = settings.get("solr_writer.max_skipped", 0)
    max_skipped = (
        None
        if str(raw_skip).strip().lower() in ("", "nil", "none")
        else _int_setting("solr_writer.max_skipped", 0)
    )
    # per-partition send-rate cap (docs/sec); unset/'' = unthrottled
    raw_rate = settings.get("solr_writer.max_docs_per_sec", "")
    if str(raw_rate).strip().lower() in ("", "nil", "none"):
        max_rate = None
    else:
        import math

        try:
            max_rate = float(raw_rate)
            # isfinite rejects nan/inf: nan passes a '<= 0' check and
            # then poisons the pacing schedule (wait comparisons with
            # NaN are all False), silently disabling the throttle
            if not math.isfinite(max_rate) or max_rate <= 0:
                raise ValueError
        except (TypeError, ValueError):
            raise SystemExit(
                "solr_writer.max_docs_per_sec must be a positive "
                f"finite number, got {raw_rate!r}"
            )
    return url, dict(
        batch_size=_int_setting("solr_writer.batch_size", 100),
        solr_update_args=upd,
        commit_on_close=commit_close,
        max_skipped=max_skipped,
        basic_auth_user=settings.get("solr_writer.basic_auth_user"),
        basic_auth_password=settings.get("solr_writer.basic_auth_password"),
        max_docs_per_sec=max_rate,
    )


def command_stream(spark, pipeline, settings: dict, files: list) -> bool:
    """-s streaming=true: readStream NDJSON -> pipeline -> foreachBatch
    Solr — the flagship path with Structured Streaming's checkpointed
    file tracking (a restarted run never re-reads a completed
    micro-batch). Net-new over the reference CLI (which is batch-only);
    the mapping and the sink are byte-identical to the batch path."""
    from traject_spark.streaming import stream_marc_to_solr

    if settings.get("output_file"):
        # -o with the Solr-only streaming sink would silently write
        # nothing at that path — reject like the non-solr writer below
        raise SystemExit(
            "streaming=true writes to Solr only; -o/output_file has no "
            "effect — drop it or run batch mode for file output"
        )
    src_type = str(settings.get("marc_source.type", "binary"))
    reader = _normalize_class_name(settings.get("reader_class_name", ""))
    if src_type != "json" and reader != "ndjreader":
        raise SystemExit(
            "streaming=true supports the NDJSON source only "
            "(-t json or NDJReader); binary/xml inputs are batch"
        )
    if len(files) != 1:
        raise SystemExit(
            "streaming=true takes exactly one input path "
            "(a directory or glob the stream watches)"
        )
    # the streaming sink is Solr-only: a configured non-solr writer must
    # error, not be silently overridden by a POST to solr.url
    wname = str(settings.get("writer_class_name", "solr"))
    wshort = _normalize_class_name(wname)
    if WRITER_SHORTCUTS.get(wshort) != "solr":
        raise SystemExit(
            f"streaming=true supports the solr writer only "
            f"(got writer_class_name {wname!r}); batch mode handles "
            "file writers"
        )
    url, kwargs = _solr_url_and_kwargs(settings)
    checkpoint = settings.get("streaming.checkpoint")
    if not checkpoint:
        import tempfile

        checkpoint = tempfile.mkdtemp(prefix="traject_stream_ckpt_")
        print(
            f"streaming.checkpoint not set; using {checkpoint} "
            "(pass -s streaming.checkpoint=<dir> for restartability)",
            file=sys.stderr,
        )
    mft = settings.get("streaming.max_files_per_trigger")
    if mft is not None:
        try:
            mft = int(mft)
        except (TypeError, ValueError):
            raise SystemExit(
                f"streaming.max_files_per_trigger must be a positive "
                f"integer, got {mft!r}"
            )
        if mft <= 0:
            raise SystemExit(
                f"streaming.max_files_per_trigger must be a positive "
                f"integer, got {mft}"
            )
    stream_marc_to_solr(
        spark,
        files[0],
        pipeline,
        url,
        checkpoint,
        max_files_per_trigger=mft,
        **kwargs,
    )
    return True


#: default row bound for DRIVER-SERIAL output paths (stdout streams and
#: single-file marcout): above this, refuse and point at the
#: distributed directory writers (VERDICT r12 #5 — no silent whole-
#: result pull through the driver at corpus scale)
DRIVER_STREAM_MAX_ROWS = 1_000_000


def _guard_driver_stream(df: DataFrame, settings: dict, what: str) -> None:
    """Refuse to stream a large result through the driver.

    Probes with limit(N+1).count() — a CollectLimit that short-circuits
    after N+1 rows, so the guard costs a bounded scan, never a full
    count. ``-s driver_stream.max_rows=<n>`` raises the bound; ``0``
    disables the guard (the explicit --force equivalent)."""
    raw = str(settings.get("driver_stream.max_rows", "")).strip()
    if raw.lower() in ("", "nil", "none"):
        bound = DRIVER_STREAM_MAX_ROWS
    else:
        try:
            bound = int(raw)
        except ValueError:
            raise SystemExit(
                f"driver_stream.max_rows must be an integer, got {raw!r}"
            )
    if bound <= 0:
        return
    if df.limit(bound + 1).count() > bound:
        raise SystemExit(
            f"{what} streams every row through the driver and the result "
            f"exceeds {bound} rows. Use a distributed directory writer "
            "(-o with the json/csv/delimited writers, or marcout.type="
            "json), raise -s driver_stream.max_rows=<n>, or set it to 0 "
            "to force the driver-serial path."
        )


def write_output(df: DataFrame, pipeline, settings: dict) -> bool:
    from traject_spark import writers as W

    # the pipeline's id column name rides into every id-aware sink:
    # -s id_col=ident renames the column Pipeline.apply keeps, and a
    # writer still looking for 'record_id' would POST id-less Solr docs
    # / print a blank id slot (r9 review)
    id_col = getattr(pipeline, "id_col", None) or "record_id"
    name = str(settings.get("writer_class_name", "json"))
    # accept Ruby-style qualified names too ('Traject::SolrJsonWriter')
    short = _normalize_class_name(name)
    if name != "json" and short not in WRITER_SHORTCUTS:
        # a typo'd/unknown writer must error like the reference's failed
        # class resolution, not silently fall back to NDJSON output
        raise SystemExit(
            f"Unrecognized writer_class_name {name!r}: supported are "
            + "/".join(sorted(set(WRITER_SHORTCUTS.values())))
        )
    kind = WRITER_SHORTCUTS.get(short, "json")
    out = settings.get("output_file")
    # 100 TB file-sink discipline knob (see docs/settings.md): bounds
    # records per output file on every file writer
    raw_mrpf = settings.get("output_file.max_records_per_file", "")
    if str(raw_mrpf).strip().lower() in ("", "nil", "none"):
        mrpf = None
    else:
        try:
            mrpf = int(raw_mrpf)
            if mrpf <= 0:
                raise ValueError
        except (TypeError, ValueError):
            raise SystemExit(
                "output_file.max_records_per_file must be a positive "
                f"integer, got {raw_mrpf!r}"
            )
    if kind == "solr":
        url, kwargs = _solr_url_and_kwargs(settings)
        kwargs.setdefault("id_col", id_col)
        W.solr_json_writer(df, url, **kwargs)
        return True
    if kind == "null":
        W.write_noop(df)
        return True
    if not out:
        # stream driver-side to stdout (small runs / pipes); file writers
        # are the distributed path
        if kind in ("csv", "delimited"):
            raise SystemExit(
                f"{kind} writer needs -o/-s output_file= (directory "
                "writers have no stdout mode)"
            )
        _guard_driver_stream(df, settings, f"stdout output ({kind})")
        if kind == "debug":
            for row in W.debug_lines(df, id_col).toLocalIterator():
                print(row[0])
        elif kind == "yaml":
            for row in W.yaml_lines(df, id_col).toLocalIterator():
                print(row[0])
        else:
            for line in df.toJSON().toLocalIterator():
                print(line)
        return True
    if kind == "csv":
        W.write_csv(
            df, out, _delimited_fields(df, settings, kind),
            internal_delimiter=str(
                settings.get("delimited_writer.internal_delimiter", "|")
            ),
            max_records_per_file=mrpf,
        )
    elif kind == "delimited":
        W.write_delimited(
            df, out, _delimited_fields(df, settings, kind),
            delimiter=str(settings.get("delimited_writer.delimiter", "\t")),
            internal_delimiter=str(
                settings.get("delimited_writer.internal_delimiter", "|")
            ),
            max_records_per_file=mrpf,
        )
    elif kind == "debug":
        W.write_debug(df, out, id_col, max_records_per_file=mrpf)
    elif kind == "yaml":
        W.write_yaml(df, out, id_col, max_records_per_file=mrpf)
    else:
        W.write_json(df, out, max_records_per_file=mrpf)
    return True


MARCXML_COLLECTION_OPEN = (
    '<collection xmlns="http://www.loc.gov/MARC21/slim">'
)


def command_marcout(spark, settings: dict, files: list) -> bool:
    """Read MARC, re-serialize, write — no mapping (command_line.rb:102-142).

    Output shapes match the reference's writers: ``binary`` is a real
    ISO 2709 byte stream (one FILE, not base64 lines — yaz-marcdump and
    read_iso2709 can consume it), ``xml`` is one well-formed document
    with a single <collection> root, ``json`` is NDJSON lines (the one
    type that keeps the distributed directory write under -o).

    Scale note: ``binary``/``xml`` single-file output is DRIVER-SERIAL
    by design — reference parity requires exactly one well-formed output
    file, so rows stream through the driver via ``toLocalIterator`` (one
    partition in flight, bounded memory). For corpus-scale exports use
    ``json``: it is the distributed writer (executors write partitioned
    NDJSON in parallel, no driver bottleneck)."""
    import base64
    import sys as _sys

    from pyspark.sql import functions as F

    from traject_spark.macros import serialized_marc
    from traject_spark.pipeline import Pipeline

    out_type = str(settings.get("marcout.type", "binary"))
    if out_type not in ("binary", "xml", "json"):
        raise SystemExit(f"marcout unrecognized marcout.type: {out_type}")
    # marcout.allow_oversized: zero overflowing length slots instead of
    # raising (command_line.rb:119-123)
    oversized = str(settings.get("marcout.allow_oversized", "")).lower() == "true"
    # marcout.encoding: binary OUTPUT encoding; defaults to the INPUT's
    # marc_source.encoding so `read MARC-8 -> marcout binary` is
    # bytes-in/bytes-out like the reference's MARC::Writer (which never
    # transcodes), incl. MARC-8-preserve round-tripping EACC spans
    # byte-identically (r13 verdict #5). Explicit marcout.encoding wins
    # (e.g. read MARC-8, WRITE utf-8 as a transcode pass).
    out_enc = str(
        settings.get(
            "marcout.encoding", settings.get("marc_source.encoding", "utf-8")
        )
    )
    df = read_input(spark, settings, files)
    p = Pipeline().to_field(
        "serialized",
        serialized_marc(out_type, allow_oversized=oversized, encoding=out_enc),
    )
    ser = p.apply(df).select(F.element_at("serialized", 1).alias("value"))
    out = settings.get("output_file")
    if out_type in ("binary", "xml") or not out:
        _guard_driver_stream(
            ser, settings, f"marcout {out_type} single-file output"
        )
    if out_type == "binary":
        # single-file driver-side stream, like the reference's
        # MARC::Writer on one output file
        sink = open(out, "wb") if out else _sys.stdout.buffer
        try:
            for row in ser.toLocalIterator():
                if row[0] is not None:
                    sink.write(base64.b64decode(row[0]))
        finally:
            if out:
                sink.close()
        return True
    if out_type == "xml":
        sink = open(out, "w", encoding="utf-8") if out else _sys.stdout
        try:
            sink.write(MARCXML_COLLECTION_OPEN + "\n")
            for row in ser.toLocalIterator():
                if row[0] is not None:
                    sink.write(row[0] + "\n")
            sink.write("</collection>\n")
        finally:
            if out:
                sink.close()
        return True
    if out:
        ser.write.mode("overwrite").text(out)
        return True
    for row in ser.toLocalIterator():
        # same NULL guard as the binary/xml branches: a bare 'None'
        # line would corrupt the NDJSON stream for downstream readers
        if row[0] is not None:
            print(row[0])
    return True


def command_convert(spark, settings: dict, files: list) -> bool:
    """Any reader -> nested-struct parquet: the preferred 100 TB layout
    every ingest docstring recommends (convert ONCE, then every
    pipeline run scans parquet — no re-parse, nested-schema pruning,
    splittable files regardless of source shape).

        traject-spark -x convert -t json -o /corpus/parquet drops/*.ndj
        traject-spark -c conf.py -t parquet /corpus/parquet ...

    ``convert.max_records_per_file`` (default 50,000 — the same
    many-moderate-files sizing discipline the readers document) bounds
    output file size via Spark's maxRecordsPerFile, so one oversized
    input file cannot become one oversized parquet file.
    ``convert.overwrite=true`` replaces an existing output directory;
    the default refuses (a typo'd -o must not destroy a corpus).
    Distributed end-to-end: executors parse and write in parallel,
    nothing streams through the driver."""
    out = settings.get("output_file")
    if not out:
        raise SystemExit(
            "convert requires -o OUTPUT_DIR (the parquet output path)"
        )
    try:
        max_per_file = int(settings.get("convert.max_records_per_file", 50_000))
    except (TypeError, ValueError):
        raise SystemExit(
            "convert.max_records_per_file must be an integer, got "
            f"{settings.get('convert.max_records_per_file')!r}"
        )
    if max_per_file <= 0:
        raise SystemExit(
            "convert.max_records_per_file must be positive, got "
            f"{max_per_file}"
        )
    mode = (
        "overwrite"
        if str(settings.get("convert.overwrite", "")).lower() == "true"
        else "errorifexists"
    )
    df = read_input(spark, settings, files)
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", max_per_file)
        .parquet(out)
    )
    return True


def command_commit(settings: dict) -> bool:
    from traject_spark.writers import solr_commit

    url = str(settings.get("solr.url", ""))
    if not url:
        raise SystemExit("No solr.url setting provided")
    # writers.solr_commit handles userinfo URLs, basic auth, and the
    # 10-minute commit timeout (command_line.rb:91-100 + the writer's
    # commit plumbing); the same auth settings the indexing run honors
    # apply here too (r9 review: -x commit against a protected core
    # previously sent no Authorization header)
    solr_commit(
        url,
        basic_auth_user=settings.get("solr_writer.basic_auth_user"),
        basic_auth_password=settings.get("solr_writer.basic_auth_password"),
    )
    sys.stderr.write(f"committed {url}\n")
    return True


def print_sql(pipeline, df: DataFrame) -> None:
    """``-s debug.sql=true``: one stderr line ``debug.sql {json}`` with
    the ``selectExpr`` list and ``filter`` predicate ``apply`` issues
    over ``df`` (``Pipeline.to_sql``), and the hidden columns the text
    reads when a Column macro was bridged in (empty for text-only
    pipelines, whose text runs as is over ``df``)."""
    select, where = pipeline.to_sql(df)
    hidden = [name for name, _ in pipeline._hidden]
    print(
        "debug.sql "
        + json.dumps({"select": select, "filter": where, "hidden": hidden}),
        file=sys.stderr,
    )


def make_session(master: str) -> SparkSession:
    return (
        SparkSession.builder.master(master)
        .appName("traject-spark")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def main(argv: Optional[list] = None, spark: Optional[SparkSession] = None) -> int:
    from traject_spark.pipeline import Pipeline

    args = build_parser().parse_args(argv)

    # Build the pipeline and load -c config files BEFORE dispatching any
    # command — the reference's initialize_indexer! does this for every
    # command (command_line.rb:273-274), so marcout.type / output_file /
    # solr.url defined in a config file apply to marcout and commit too.
    source_col = "xml" if args.indexer == "xml" else "marc"
    # -s keys named like constructor params must not be splatted into
    # them: -s source_col=marc crashed with 'multiple values for
    # source_col', and -s id_col=x silently bound the constructor arg
    # instead of landing in settings_dict where consumers read it
    cli_settings = assemble_settings(args)
    ctor = {}
    if "source_col" in cli_settings:
        source_col = str(cli_settings.pop("source_col"))
    if "id_col" in cli_settings:
        ctor["id_col"] = str(cli_settings.pop("id_col"))
    pipeline = Pipeline(source_col=source_col, **ctor, **cli_settings)
    if args.conf:
        load_config_files(pipeline, args.conf)
    settings = pipeline.settings_dict  # config files may add settings

    if args.command == "commit":
        return 0 if command_commit(settings) else 1

    stdin_spool = None
    if args.stdin:
        if not str(args.master).startswith("local"):
            # the spool is a DRIVER-local temp file; remote executors
            # under a cluster master cannot read it (or worse, read a
            # stale same-named file on a shared mount) — fail loudly
            raise SystemExit(
                "--stdin requires a local master (the spooled input "
                f"lives on the driver); got --master {args.master}. "
                "Write the stream to shared storage and pass the path."
            )
        # reference parity (command_line.rb:148-153): --stdin replaces
        # the file list; -t/marc_source.type still pick the reader
        # because read_input dispatches on settings, not extensions
        stdin_spool = _spool_stdin()
        args.files = [stdin_spool]

    owns_session = spark is None
    if owns_session:
        spark = make_session(args.master)
    try:
        if args.command == "marcout":
            return 0 if command_marcout(spark, settings, args.files) else 1
        if args.command == "convert":
            return 0 if command_convert(spark, settings, args.files) else 1

        if not args.conf:
            raise SystemExit("Error: Missing required configuration file (-c)")
        # accept config-file strings too ('true'), like allow_oversized
        # and commit_on_close — a silently-ignored streaming=true would
        # run batch mode and lose checkpointed restartability
        if settings.get("streaming") is True or str(
            settings.get("streaming", "")
        ).lower() == "true":
            ok = command_stream(spark, pipeline, settings, args.files)
            pipeline.run_after_processing()
            return 0 if ok else 1
        df = read_input(spark, settings, args.files, indexer=args.indexer)
        if str(settings.get("debug.sql", "")).lower() == "true":
            print_sql(pipeline, df)
        ok = write_output(pipeline.apply(df), pipeline, settings)
        pipeline.run_after_processing()  # indexer.rb:646-655 ordering
        return 0 if ok else 1
    finally:
        if owns_session:
            spark.stop()
        if stdin_spool is not None:
            # actions all ran inside this block (lazy plans over a
            # deleted spool would fail), so the spool is safe to drop
            try:
                os.unlink(stdin_spool)
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
