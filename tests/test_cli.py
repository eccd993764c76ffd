"""CLI tests — the behavioral port of the reference's command-line surface
(lib/traject/command_line.rb): -c config, -t type, -w writer, -o output,
marcout, commit, after_processing ordering.

The reference fixtures these tests read are inputs only: where traject's
checkout is absent each resolves to an in-repo stand-in (FIXTURES.md,
"In-repo stand-ins") that carries the same asserted fields."""

import json
import os

import pytest

from tests.fixtures import reference_or_local

# one record, 001 2710183, 245ab "Manufacturing consent : the political
# economy of the mass media /", 008[35-37] "eng" (stand-in: fixtures.BOOK)
MC = reference_or_local("manufacturing_consent.marc", "book.marc")
OAI_SAMPLE = reference_or_local("sample-oai-pmh.xml", "sample-oai-pmh.xml")
UTF8_JSON = reference_or_local("test_data.utf8.json", "four_records.json")


CONFIG = """
settings(mapping_rescue="halt")
to_field("title", extract_marc("245ab", trim_punctuation=True))
to_field("lang", extract_marc("008[35-37]"))
after_processing(lambda: open({marker!r}, "w").write("done"))
"""


def run_cli(spark, argv):
    from traject_spark.cli import main

    return main(argv, spark=spark)


def test_cli_process_ndjson(spark, tmp_path):
    marker = str(tmp_path / "after.txt")
    conf = tmp_path / "config.py"
    conf.write_text(CONFIG.format(marker=marker))
    out = str(tmp_path / "out")
    rc = run_cli(
        spark, ["-c", str(conf), "-o", out, "-w", "json", MC]
    )
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            with open(os.path.join(out, f)) as fh:
                lines += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(lines) == 1
    assert lines[0]["title"] == [
        "Manufacturing consent : the political economy of the mass media"
    ]
    assert lines[0]["lang"] == ["eng"]
    # after_processing ran after the write (indexer.rb:646-655)
    assert open(marker).read() == "done"


def test_cli_requires_config(spark):
    with pytest.raises(SystemExit):
        run_cli(spark, [MC])


def test_cli_bad_setting_arg(spark):
    with pytest.raises(SystemExit):
        run_cli(spark, ["-c", "x.py", "-s", "noequals", MC])


def test_cli_marcout_json_roundtrip(spark, tmp_path):
    from traject_spark.marc.serialize import from_marc_in_json

    out = str(tmp_path / "marcout")
    rc = run_cli(
        spark,
        ["-x", "marcout", "-s", "marcout.type=json", "-o", out, MC],
    )
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            lines += [
                ln for ln in open(os.path.join(out, f)) if ln.strip()
            ]
    assert len(lines) == 1
    rec = from_marc_in_json(lines[0])
    assert any(
        cf["value"] == "2710183"
        for cf in rec["controlfields"]
        if cf["tag"] == "001"
    )


def test_cli_marcout_reads_config_file_settings(spark, tmp_path):
    """-x marcout must load -c config files first (command_line.rb:273-274
    initialize_indexer!), so marcout.type/output_file provided there apply."""
    from traject_spark.marc.serialize import from_marc_in_json

    out = str(tmp_path / "marcout_conf")
    conf = tmp_path / "marcout.py"
    conf.write_text(
        "provide('marcout.type', 'json')\n"
        f"provide('output_file', {out!r})\n"
    )
    rc = run_cli(spark, ["-x", "marcout", "-c", str(conf), MC])
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            lines += [ln for ln in open(os.path.join(out, f)) if ln.strip()]
    assert len(lines) == 1
    assert from_marc_in_json(lines[0])["controlfields"]


def test_cli_commit_posts_to_solr(monkeypatch):
    import http.server
    import threading

    hits = []

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            hits.append(self.path)
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b'{"status":0}')

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from traject_spark.cli import main

        rc = main(
            ["-x", "commit", "-u",
             f"http://127.0.0.1:{srv.server_address[1]}/solr/core"]
        )
        assert rc == 0
        assert hits == ["/solr/core/update?commit=true"]
    finally:
        srv.shutdown()


XML_CONFIG = """
to_field("title", extract_xpath("//dc:title",
         ns={"dc": "http://purl.org/dc/elements/1.1/"}))
to_field("creator", extract_xpath("//dc:creator",
         ns={"dc": "http://purl.org/dc/elements/1.1/"}))
"""


def test_cli_xml_indexer_oai_sample(spark, tmp_path):
    """-i xml + nokogiri.each_record_xpath over an OAI-PMH ListRecords
    sample — the NokogiriIndexer CLI flavor."""
    conf = tmp_path / "xml_config.py"
    conf.write_text(XML_CONFIG)
    out = str(tmp_path / "out")
    rc = run_cli(
        spark,
        ["-c", str(conf), "-i", "xml",
         "-s", "nokogiri.each_record_xpath=//oai:record",
         "-o", out, "-w", "json", OAI_SAMPLE],
    )
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            with open(os.path.join(out, f)) as fh:
                lines += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(lines) > 1
    assert any("title" in d for d in lines)


def test_cli_boolean_settings_and_csv_writer(spark, tmp_path):
    """-s key=false coerces to a real boolean (the string 'false' is
    truthy and would invert the setting); -w csv works without a
    delimited_writer.fields setting (defaults to all output columns)
    and accepts a Ruby-style qualified writer name."""
    conf = tmp_path / "c.py"
    conf.write_text('to_field("title", extract_marc("245a"))\n')
    out = str(tmp_path / "csvout")
    rc = run_cli(
        spark,
        ["-c", str(conf), "-o", out,
         "-s", "writer_class_name=Traject::CSVWriter",
         "-s", "allow_nil_values=false", MC],
    )
    assert rc == 0
    body = ""
    for f in os.listdir(out):
        if f.startswith("part-"):
            body += open(os.path.join(out, f)).read()
    assert "Manufacturing consent" in body

    # csv without -o is an explicit error, not silent JSON
    import pytest
    with pytest.raises(SystemExit):
        run_cli(spark, ["-c", str(conf), "-w", "csv", MC])


def test_xml_record_split_takes_outermost_match(spark, tmp_path):
    """An OAI <record> wrapping a MARCXML <record> is ONE record."""
    from traject_spark.xmlrec.io import read_xml_records

    doc = (
        "<OAI><ListRecords>"
        "<record><header><identifier>o1</identifier></header>"
        '<metadata><record xmlns="http://www.loc.gov/MARC21/slim">'
        "<leader>x</leader></record></metadata></record>"
        "</ListRecords></OAI>"
    )
    p = tmp_path / "oai.xml"
    p.write_text(doc)
    rows = read_xml_records(spark, str(p), each_record_tag="record").collect()
    assert len(rows) == 1
    assert "identifier" in rows[0]["xml"]  # the OUTER record, whole


def test_cli_marcout_binary_is_real_iso2709(spark, tmp_path):
    """marcout binary writes a real ISO 2709 byte stream (one file),
    consumable by the repo's own reader — not base64 lines."""
    from traject_spark.marc.io import read_iso2709

    out = str(tmp_path / "out.mrc")
    rc = run_cli(spark, ["-x", "marcout", "-o", out, MC])
    assert rc == 0
    raw = open(out, "rb").read()
    assert raw.endswith(b"\x1d")
    back = read_iso2709(spark, out).collect()
    assert len(back) == 1 and back[0]["marc"]["leader"]


def test_cli_marcout_xml_is_wellformed_collection(spark, tmp_path):
    import xml.etree.ElementTree as ET

    out = str(tmp_path / "out.xml")
    rc = run_cli(
        spark, ["-x", "marcout", "-s", "marcout.type=xml", "-o", out, MC]
    )
    assert rc == 0
    root = ET.parse(out).getroot()
    assert root.tag.endswith("collection")
    assert len(root) == 1


def test_cli_unknown_reader_and_writer_error(spark, tmp_path):
    conf = tmp_path / "c.py"
    conf.write_text("to_field('t', literal('x'))\n")
    with pytest.raises(SystemExit, match="reader_class_name"):
        run_cli(spark, ["-c", str(conf), "-r", "Traject::MysteryReader", MC])
    with pytest.raises(SystemExit, match="writer_class_name"):
        run_cli(spark, ["-c", str(conf), "-w", "deliimted", MC])


def test_cli_ndjreader_name_reads_ndjson(spark, tmp_path):
    from traject_spark.marc.serialize import to_marc_in_json
    from tests.fixtures import BOOK

    ndj = tmp_path / "r.ndj"
    ndj.write_text(to_marc_in_json(BOOK) + "\n")
    conf = tmp_path / "c.py"
    conf.write_text("to_field('title', extract_marc('245a'))\n")
    out = str(tmp_path / "out")
    rc = run_cli(
        spark,
        ["-c", str(conf), "-r", "Traject::NDJReader", "-o", out, str(ndj)],
    )
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            lines += [json.loads(ln) for ln in open(os.path.join(out, f)) if ln.strip()]
    assert lines and lines[0]["title"]


def test_cli_xml_indexer_whole_doc_default(spark, tmp_path):
    """-i xml with no reader/xpath settings: whole document = one record
    (the NokogiriIndexer default), not the binary MARC reader."""
    doc = tmp_path / "d.xml"
    doc.write_text("<doc><title>T1</title></doc>")
    conf = tmp_path / "c.py"
    conf.write_text("to_field('t', extract_xpath('//title'))\n")
    out = str(tmp_path / "out")
    rc = run_cli(spark, ["-c", str(conf), "-i", "xml", "-o", out, str(doc)])
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            lines += [json.loads(ln) for ln in open(os.path.join(out, f)) if ln.strip()]
    assert lines[0]["t"] == ["T1"]


def test_cli_config_helpers_shared_across_files(spark, tmp_path):
    helpers = tmp_path / "helpers.py"
    helpers.write_text("def my_macro():\n    return literal('H')\n")
    mapping = tmp_path / "mapping.py"
    mapping.write_text("to_field('h', my_macro())\n")
    out = str(tmp_path / "out")
    rc = run_cli(
        spark, ["-c", str(helpers), "-c", str(mapping), "-o", out, MC]
    )
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            lines += [json.loads(ln) for ln in open(os.path.join(out, f)) if ln.strip()]
    assert lines[0]["h"] == ["H"]


def test_marcxml_oai_wrapped_record_not_doubled(spark, tmp_path):
    """parse_marcxml keeps only innermost record elements: an OAI-PMH
    wrapper <record> containing the MARC <record> must not emit a
    phantom empty record beside the real one."""
    from traject_spark.marc.io import read_marcxml

    xml = tmp_path / "oai.xml"
    xml.write_text(
        '<OAI-PMH xmlns="urn:oai"><ListRecords><record><header/>'
        '<metadata><record xmlns="http://www.loc.gov/MARC21/slim">'
        "<leader>00000nam a2200000 a 4500</leader>"
        '<controlfield tag="001">m1</controlfield>'
        '<datafield tag="245" ind1=" " ind2=" ">'
        '<subfield code="a">T</subfield></datafield>'
        "</record></metadata></record></ListRecords></OAI-PMH>"
    )
    rows = read_marcxml(spark, str(xml)).collect()
    assert len(rows) == 1
    assert rows[0]["record_id"] == "m1"


def test_marc_json_nonstring_subfield_value_coerced(spark, tmp_path):
    """A non-string scalar subfield value survives in ruby (duck-typed
    Subfield); both engines project it to its JSON text instead of the
    Python path crashing the Arrow batch conversion."""
    from traject_spark.marc.io import read_marc_json

    path = tmp_path / "r.ndj"
    path.write_text(
        '{"fields": [{"001": "idN"}, {"245": {"ind1": 9, "ind2": " ", '
        '"subfields": [{"a": 3}]}}]}\n'
    )
    for engine in ("python", "jvm"):
        rows = read_marc_json(spark, str(path), engine=engine).collect()
        assert len(rows) == 1, engine
        df0 = rows[0]["marc"]["datafields"][0]
        assert df0["subfields"][0]["value"] == "3", engine
        assert df0["ind1"] == "9", engine


def test_settings_bool_coercion_is_allowlisted():
    """Only known-boolean settings coerce; a password 'false' stays the
    literal string."""
    from traject_spark.cli import assemble_settings, build_parser

    args = build_parser().parse_args(
        ["-s", "allow_nil_values=false",
         "-s", "solr_writer.basic_auth_password=false",
         "-s", "streaming=TRUE", "x"]
    )
    s = assemble_settings(args)
    assert s["allow_nil_values"] is False
    assert s["solr_writer.basic_auth_password"] == "false"
    assert s["streaming"] is True


def test_solr_settings_parse_errors_and_nil_max_skipped():
    from traject_spark.cli import _solr_url_and_kwargs

    url, kw = _solr_url_and_kwargs(
        {"solr.url": "http://x/solr", "solr_writer.max_skipped": "nil"}
    )
    assert kw["max_skipped"] is None
    with pytest.raises(SystemExit, match="batch_size must be an integer"):
        _solr_url_and_kwargs(
            {"solr.url": "http://x/solr", "solr_writer.batch_size": "abc"}
        )


def test_cli_source_col_setting_does_not_crash(spark, tmp_path):
    """-s source_col=... routes to the constructor instead of crashing
    with 'multiple values for source_col'."""
    import json as _json

    from traject_spark.cli import main

    ndj = tmp_path / "in"
    ndj.mkdir()
    (ndj / "r.ndjson").write_text(
        _json.dumps({"leader": " " * 24, "fields": [
            {"001": "s1"},
            {"245": {"ind1": " ", "ind2": " ",
                     "subfields": [{"a": "T"}]}}]}) + "\n")
    conf = tmp_path / "c.py"
    conf.write_text('to_field("title", extract_marc("245a"))\n')
    out = tmp_path / "out"
    rc = main(["-c", str(conf), "-t", "json", "-s", "source_col=marc",
               "-o", str(out), str(ndj)], spark=spark)
    assert rc == 0


def test_cli_streaming_rejects_output_file(spark, tmp_path):
    from traject_spark.cli import main

    conf = tmp_path / "c.py"
    conf.write_text('to_field("title", extract_marc("245a"))\n')
    with pytest.raises(SystemExit, match="output_file"):
        main(["-c", str(conf), "-t", "json", "-w", "solr",
              "-u", "http://x/solr", "-s", "streaming=true",
              "-o", str(tmp_path / "o"), str(tmp_path)], spark=spark)


def test_basic_auth_header_no_mismatched_pair():
    """Explicit user overriding a DIFFERENT URL user must not reuse the
    URL's password (mismatched credential pair)."""
    import base64

    from traject_spark.writers import _basic_auth_header

    h = _basic_auth_header("http://alice:apw@x/solr", "bob", None)
    assert base64.b64decode(h.split()[1]).decode() == "bob:"
    # same user from both places: URL password still applies
    h2 = _basic_auth_header("http://alice:apw@x/solr", "alice", None)
    assert base64.b64decode(h2.split()[1]).decode() == "alice:apw"


def test_cli_stdin_matches_file_input(spark, tmp_path, monkeypatch):
    """--stdin reads records from standard input (command_line.rb:
    148-153,256) and produces byte-identical output to the same bytes
    passed as a file path; -t still picks the reader. Both binary MARC
    and marc-in-json go through the one spool path."""
    import io

    def collect(out_dir):
        rows = []
        for f in sorted(os.listdir(out_dir)):
            if f.startswith("part-"):
                with open(os.path.join(out_dir, f)) as fh:
                    rows += [json.loads(ln) for ln in fh if ln.strip()]
        return sorted(rows, key=lambda r: json.dumps(r, sort_keys=True))

    class FakeStdin:
        def __init__(self, data):
            self.buffer = io.BytesIO(data)

    conf = tmp_path / "config.py"
    conf.write_text(
        'to_field("title", extract_marc("245ab", trim_punctuation=True))\n'
    )
    for src, mtype in [
        (UTF8_JSON, "json"),
        (MC, "binary"),
    ]:
        via_file = str(tmp_path / f"file_{mtype}")
        rc = run_cli(
            spark,
            ["-c", str(conf), "-t", mtype, "-w", "json", "-o", via_file, src],
        )
        assert rc == 0
        with open(src, "rb") as fh:
            monkeypatch.setattr("sys.stdin", FakeStdin(fh.read()))
        via_stdin = str(tmp_path / f"stdin_{mtype}")
        rc = run_cli(
            spark,
            ["-c", str(conf), "-t", mtype, "-w", "json", "-o", via_stdin,
             "--stdin"],
        )
        assert rc == 0
        rows = collect(via_stdin)
        assert rows == collect(via_file) and rows

    # no files and no --stdin: the error now points at --stdin
    with pytest.raises(SystemExit, match="--stdin"):
        run_cli(spark, ["-c", str(conf), "-w", "json"])


def test_cli_stdin_rejects_cluster_master(spark, tmp_path):
    """--stdin spools to a DRIVER-local temp file; under a cluster
    master the executors cannot read it — fail loudly up front."""
    conf = tmp_path / "c.py"
    conf.write_text('to_field("t", extract_marc("245a"))\n')
    with pytest.raises(SystemExit, match="local master"):
        run_cli(
            spark,
            ["-c", str(conf), "-w", "json", "--stdin",
             "--master", "spark://example:7077"],
        )


def test_cli_custom_id_col_reaches_writers(spark, capsys):
    """A pipeline with a custom id_col (input that carries its own id
    column) must hand that name to the writers: the debug writer's id
    slot shows it (r9 review: every sink was invoked with the default
    'record_id' and printed a blank id / POSTed id-less Solr docs)."""
    from traject_spark.cli import write_output
    from traject_spark.pipeline import Pipeline

    mapped = spark.createDataFrame(
        [("a1", ["T1"]), ("a2", ["T2"])],
        "ident string, title array<string>",
    )
    ok = write_output(mapped, Pipeline(id_col="ident"),
                      {"writer_class_name": "debug"})
    assert ok
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert {ln.split()[0] for ln in lines} == {"a1", "a2"}, lines


def test_cli_xpath_predicate_refused_loudly(spark, tmp_path):
    """An each_record_xpath with predicate syntax would silently match
    ZERO records after the tag-split; refuse instead (r9 review)."""
    conf = tmp_path / "c.py"
    conf.write_text('to_field("t", extract_xpath("//x"))\n')
    with pytest.raises(SystemExit, match="predicate"):
        run_cli(
            spark,
            ["-c", str(conf), "-i", "xml", "-w", "json",
             "-s", "nokogiri.each_record_xpath=//record[@status='d']",
             "-o", str(tmp_path / "o"), str(conf)],
        )


def test_cli_xpath_dotted_element_name_accepted(spark, tmp_path):
    """NCName allows '.' — //foo.bar is a legal element-name step and
    must pass the predicate guard, not SystemExit (r10 advice)."""
    conf = tmp_path / "c.py"
    conf.write_text('to_field("t", extract_xpath("//t"))\n')
    xml = tmp_path / "in.xml"
    xml.write_text(
        "<root><foo.bar><t>one</t></foo.bar>"
        "<foo.bar><t>two</t></foo.bar></root>"
    )
    out = str(tmp_path / "out")
    rc = run_cli(
        spark,
        ["-c", str(conf), "-i", "xml", "-w", "json",
         "-s", "nokogiri.each_record_xpath=//foo.bar",
         "-o", out, str(xml)],
    )
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            with open(os.path.join(out, f)) as fh:
                lines += [json.loads(ln) for ln in fh if ln.strip()]
    assert sorted(d["t"][0] for d in lines) == ["one", "two"]


def test_cli_marcxml_strict_fails_fast(spark, tmp_path):
    """marc_source.xml_strict=true restores reference NokogiriReader
    fail-fast parity on a malformed file; the default skips it but the
    skipped_files accumulator surfaces the count (r10 advice)."""
    from traject_spark.marc.io import read_marcxml

    bad = tmp_path / "bad.xml"
    bad.write_text("<collection><record><leader>truncated")
    # strict: job fails with a driver-visible error
    with pytest.raises(Exception, match="malformed XML"):
        read_marcxml(spark, str(bad), strict=True).collect()
    # lenient: empty result, accumulator counts the skipped file
    acc = spark.sparkContext.accumulator(0)
    rows = read_marcxml(spark, str(bad), skipped_files=acc).collect()
    assert rows == []
    assert acc.value == 1


def test_marcxml_truncated_file_salvages_complete_records(spark, tmp_path):
    """Streaming-parse salvage (r13 verdict #1): a file truncated midway
    keeps the records whose elements closed before the error (like the
    ISO-2709 reader's per-record recovery) and still counts the file in
    the skipped_files accumulator."""
    from traject_spark.marc.io import read_marcxml

    good = (
        "<record><leader>00000nam a2200000 a 4500</leader>"
        '<controlfield tag="001">ok1</controlfield></record>'
    )
    bad = tmp_path / "trunc.xml"
    bad.write_text(f"<collection>{good}<record><leader>trunc")
    acc = spark.sparkContext.accumulator(0)
    rows = read_marcxml(spark, str(bad), skipped_files=acc).collect()
    assert [r["record_id"] for r in rows] == ["ok1"]
    assert acc.value == 1
    # strict still fails fast on the same file
    with pytest.raises(Exception, match="malformed XML"):
        read_marcxml(spark, str(bad), strict=True).collect()


def test_marcxml_gzip_magic_byte_streaming(spark, tmp_path):
    """read_marcxml sniffs gzip by magic bytes (binaryFile does not
    decompress) — a RENAMED .gz still streams, and a corrupt gzip body
    is a skip, not a task crash."""
    import gzip

    from traject_spark.marc.io import read_marcxml

    body = (
        '<collection xmlns="http://www.loc.gov/MARC21/slim">'
        "<record><leader>00000nam a2200000 a 4500</leader>"
        '<controlfield tag="001">gz1</controlfield>'
        '<datafield tag="245" ind1=" " ind2=" ">'
        '<subfield code="a">T</subfield></datafield></record>'
        "</collection>"
    )
    renamed = tmp_path / "looks_plain.xml"  # gz content, no .gz suffix
    renamed.write_bytes(gzip.compress(body.encode()))
    rows = read_marcxml(spark, str(renamed)).collect()
    assert [r["record_id"] for r in rows] == ["gz1"]

    corrupt = tmp_path / "corrupt.xml.gz"
    corrupt.write_bytes(b"\x1f\x8b" + b"\x00" * 40)
    acc = spark.sparkContext.accumulator(0)
    assert read_marcxml(spark, str(corrupt), skipped_files=acc).collect() == []
    assert acc.value == 1


def test_marcxml_corrupt_gzip_deflate_body_is_skipped(spark, tmp_path):
    """Advice fix (r15): a gzip member with a valid header but corrupt
    DEFLATE body raises zlib.error — which is NOT an OSError subclass —
    so it must be in the skip tuple or one bad .gz fails the whole
    ingest even with strict=False. Records salvaged before the corrupt
    span are kept, and a good sibling file is unaffected."""
    import gzip

    from traject_spark.marc.io import read_marcxml

    def rec(rid):
        return (
            "<record><leader>00000nam a2200000 a 4500</leader>"
            f'<controlfield tag="001">{rid}</controlfield></record>'
        )

    body = ("<collection>" + "".join(rec(f"r{i}") for i in range(60))
            + "</collection>").encode()
    gz = bytearray(gzip.compress(body))
    gz[len(gz) // 2 : len(gz) // 2 + 8] = b"\xff\x00\xaa\x55" * 2
    (tmp_path / "corrupt_body.xml.gz").write_bytes(bytes(gz))
    (tmp_path / "good.xml").write_text(f"<collection>{rec('ok')}</collection>")

    acc = spark.sparkContext.accumulator(0)
    rows = read_marcxml(spark, str(tmp_path), skipped_files=acc).collect()
    ids = {r["record_id"] for r in rows}
    assert "ok" in ids  # the good sibling survived the corrupt .gz
    assert acc.value == 1
    # strict still fails fast on the zlib error
    with pytest.raises(Exception, match="malformed XML"):
        read_marcxml(
            spark, str(tmp_path / "corrupt_body.xml.gz"), strict=True
        ).collect()


def test_marcxml_bz2_and_xz_codecs(spark, tmp_path):
    """Review fix (r14): the old text source decompressed any Hadoop
    codec by extension; the binaryFile rewrite must keep at least the
    stdlib-speakable ones (bzip2, xz) — sniffing magic bytes, so
    renamed files still work."""
    import bz2
    import lzma

    from traject_spark.marc.io import read_marcxml

    def body(rid):
        return (
            '<collection xmlns="http://www.loc.gov/MARC21/slim">'
            "<record><leader>00000nam a2200000 a 4500</leader>"
            f'<controlfield tag="001">{rid}</controlfield>'
            "</record></collection>"
        )

    (tmp_path / "a.xml.bz2").write_bytes(bz2.compress(body("bz1").encode()))
    (tmp_path / "b.xml.xz").write_bytes(lzma.compress(body("xz1").encode()))
    rows = read_marcxml(spark, str(tmp_path)).collect()
    assert sorted(r["record_id"] for r in rows) == ["bz1", "xz1"]


def test_iterparse_marcxml_oai_wrapper_and_encoding(tmp_path):
    """iterparse keeps only innermost records through an OAI wrapper
    (cleared inner element still suppresses the wrapper) and honors the
    XML declaration's encoding instead of assuming UTF-8."""
    import io

    from traject_spark.marc.io import iterparse_marcxml

    oai = (
        '<OAI-PMH xmlns="urn:oai"><ListRecords><record><header/>'
        '<metadata><record xmlns="http://www.loc.gov/MARC21/slim">'
        "<leader>00000nam a2200000 a 4500</leader>"
        '<controlfield tag="001">m1</controlfield>'
        "</record></metadata></record></ListRecords></OAI-PMH>"
    )
    recs = list(iterparse_marcxml(io.BytesIO(oai.encode())))
    assert len(recs) == 1
    assert recs[0]["controlfields"] == [{"tag": "001", "value": "m1"}]

    latin1 = (
        '<?xml version="1.0" encoding="ISO-8859-1"?>'
        "<collection><record><leader>00000nam a2200000 a 4500</leader>"
        '<datafield tag="245" ind1=" " ind2=" ">'
        '<subfield code="a">caf\xe9</subfield></datafield>'
        "</record></collection>"
    ).encode("latin-1")
    recs = list(iterparse_marcxml(io.BytesIO(latin1)))
    assert recs[0]["datafields"][0]["subfields"][0]["value"] == "caf\xe9"


def test_cli_marcout_preserve_eacc_roundtrip(spark, tmp_path):
    """r13 verdict #5: a CJK-holding user passes
    -s marc_source.encoding=MARC-8-preserve and an EACC-bearing binary
    file survives read -> marcout binary BYTE-IDENTICALLY (the EACC
    span parks on plane-15 PUA through the struct and re-encodes to
    the original escape sequence on write; docs/settings.md example)."""
    from tests.test_marc8 import _eacc_bytes
    from traject_spark.marc.serialize import to_iso2709

    title_m8 = b"Tokyo " + _eacc_bytes(3)
    carrier = {
        # leader/09 = ' ' (MARC-8), consistent with the MARC-8 bytes —
        # the writer forces leader/09 to match what it writes
        "leader": "00000cam  22000002 4500",
        "controlfields": [{"tag": "001", "value": "eacc1"}],
        "datafields": [
            {"tag": "245", "ind1": "1", "ind2": "0",
             "subfields": [
                 {"code": "a", "value": title_m8.decode("latin-1")}
             ]},
        ],
    }
    raw = to_iso2709(carrier, encoding="latin-1")
    src = tmp_path / "eacc.mrc"
    src.write_bytes(raw)
    out = str(tmp_path / "out.mrc")
    rc = run_cli(
        spark,
        ["-x", "marcout", "-s", "marc_source.encoding=MARC-8-preserve",
         "-o", out, str(src)],
    )
    assert rc == 0
    assert open(out, "rb").read() == raw


def test_cli_max_records_per_file_setting(spark, tmp_path):
    """-s output_file.max_records_per_file=N bounds records per output
    file on the CLI's file writers (the 100 TB sink-discipline knob)."""
    from tests.fixtures import ALT_SCRIPT, BOOK, THE_TITLE
    from traject_spark.marc.serialize import to_marc_in_json

    conf = tmp_path / "c.py"
    conf.write_text('to_field("title", extract_marc("245a"))\n')
    src = tmp_path / "recs.ndjson"
    src.write_text(
        "\n".join(to_marc_in_json(r) for r in (BOOK, THE_TITLE, ALT_SCRIPT))
        + "\n"
    )
    out = str(tmp_path / "out")
    rc = run_cli(
        spark,
        ["-c", str(conf), "-o", out, "-w", "json", "-r", "NDJReader",
         "-s", "output_file.max_records_per_file=1", str(src)],
    )
    assert rc == 0
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    total = 0
    for f in parts:
        with open(os.path.join(out, f)) as fh:
            n = sum(1 for ln in fh if ln.strip())
        assert n <= 1, (f, n)
        total += n
    assert total >= 2 and len(parts) >= 2
    # bad value refused loudly
    with pytest.raises(SystemExit, match="max_records_per_file"):
        run_cli(
            spark,
            ["-c", str(conf), "-o", str(tmp_path / "o2"), "-w", "json",
             "-s", "output_file.max_records_per_file=zero", MC],
        )


def test_cli_binary_marc8_encoding_setting(spark, tmp_path):
    """`-s marc_source.encoding=MARC-8` decodes a MARC-8 binary file to
    the same output the UTF-8 twin produces — the CLI end of
    marc_reader.rb:27-35 (r11)."""
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from test_marc8 import _twin_records

    _rec, utf8_bytes, marc8_bytes = _twin_records()
    f_utf8 = tmp_path / "r.utf8.mrc"
    f_m8 = tmp_path / "r.marc8.mrc"
    f_utf8.write_bytes(utf8_bytes * 2)
    f_m8.write_bytes(marc8_bytes * 2)
    conf = tmp_path / "config.py"
    conf.write_text('to_field("title", extract_marc("245a"))\n')

    def collect(out_dir):
        rows = []
        for f in sorted(os.listdir(out_dir)):
            if f.startswith("part-"):
                with open(os.path.join(out_dir, f)) as fh:
                    rows += [json.loads(ln) for ln in fh if ln.strip()]
        return sorted(rows, key=lambda r: json.dumps(r, sort_keys=True))

    out_u = str(tmp_path / "out_utf8")
    rc = run_cli(spark, ["-c", str(conf), "-t", "binary", "-w", "json",
                         "-o", out_u, str(f_utf8)])
    assert rc == 0
    out_m = str(tmp_path / "out_marc8")
    rc = run_cli(spark, ["-c", str(conf), "-t", "binary",
                         "-s", "marc_source.encoding=MARC-8",
                         "-w", "json", "-o", out_m, str(f_m8)])
    assert rc == 0
    got_u, got_m = collect(out_u), collect(out_m)
    assert got_m == got_u and got_m
    assert got_m[0]["title"] == ["Dvořák in København : šest écrits"]
    # WITHOUT the setting, the MARC-8 bytes mis-decode (latin-1-ish
    # replacement soup) — proving the setting is load-bearing
    out_bad = str(tmp_path / "out_bad")
    rc = run_cli(spark, ["-c", str(conf), "-t", "binary", "-w", "json",
                         "-o", out_bad, str(f_m8)])
    assert rc == 0
    assert collect(out_bad) != got_u


def test_driver_stream_guard_refuses_large_results(spark, tmp_path):
    """VERDICT r12 #5: the driver-serial paths (stdout streams, marcout
    single-file) refuse above driver_stream.max_rows, pointing at the
    distributed writers; 0 disables the guard; the probe short-circuits
    (CollectLimit, never a full count)."""
    import gzip

    # 4 records via NDJSON (MC fixture has one; synthesize four)
    rec = {"leader": " " * 24, "fields": [
        {"001": "idX"},
        {"245": {"ind1": "1", "ind2": "0",
                 "subfields": [{"a": "T"}]}}]}
    src = tmp_path / "four.json"
    with open(src, "w") as fh:
        for i in range(4):
            r = json.loads(json.dumps(rec))
            r["fields"][0]["001"] = f"id{i}"
            fh.write(json.dumps(r) + "\n")
    conf = tmp_path / "c.py"
    conf.write_text('to_field("title", extract_marc("245a"))\n')
    out = str(tmp_path / "out.mrc")
    base = ["-x", "marcout", "-s", "marc_source.type=json",
            "-o", out, str(src)]
    # over the bound -> refuse with the directory-writer pointer
    with pytest.raises(SystemExit, match="distributed directory writer"):
        run_cli(spark, base + ["-s", "driver_stream.max_rows=2"])
    # at/under the bound -> writes
    assert run_cli(spark, base + ["-s", "driver_stream.max_rows=4"]) == 0
    assert open(out, "rb").read().count(b"\x1d") == 4
    # 0 disables the guard entirely
    os.remove(out)
    assert run_cli(spark, base + ["-s", "driver_stream.max_rows=0"]) == 0
    assert open(out, "rb").read().count(b"\x1d") == 4
    # stdout mapping path guarded too (writer with no -o)
    with pytest.raises(SystemExit, match="driver"):
        run_cli(spark, ["-c", str(conf),
                        "-s", "marc_source.type=json",
                        "-s", "driver_stream.max_rows=2", str(src)])
    # bad value errors loudly
    with pytest.raises(SystemExit, match="must be an integer"):
        run_cli(spark, base + ["-s", "driver_stream.max_rows=lots"])


def _ndjson_fixture(spark, tmp_path, n=40):
    """n distinct records as an NDJSON file (marc-in-json lines)."""
    from tests.fixtures import marc_record
    from traject_spark.marc.serialize import to_marc_in_json

    lines = []
    for i in range(n):
        lines.append(
            to_marc_in_json(
                marc_record(
                    controlfields=[("001", f"cv{i:03d}")],
                    datafields=[("245", "1", "0", [("a", f"Title {i} /")])],
                )
            )
        )
    path = tmp_path / "recs.ndj"
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_cli_convert_then_parquet_process_equals_direct(spark, tmp_path):
    """The preferred 100 TB layout as a CLI verb (VERDICT r14 #5):
    `-x convert` writes any reader's output as nested-struct parquet
    (maxRecordsPerFile-bounded), and a `-t parquet` pipeline run over
    it produces EXACTLY what the direct NDJSON run produces."""
    ndj = _ndjson_fixture(spark, tmp_path, n=40)
    pq = str(tmp_path / "corpus_pq")
    rc = run_cli(
        spark,
        ["-x", "convert", "-t", "json", "-o", pq,
         "-s", "convert.max_records_per_file=7", ndj],
    )
    assert rc == 0
    # maxRecordsPerFile honored: 40 records at <=7/file -> >= 6 files
    parts = [f for f in os.listdir(pq) if f.startswith("part-")]
    assert len(parts) >= 6

    conf = tmp_path / "conf.py"
    conf.write_text(
        'to_field("title", extract_marc("245a", trim_punctuation=True))\n'
    )

    def run(src_args, outdir):
        rc = run_cli(
            spark, ["-c", str(conf), "-w", "json", "-o", outdir] + src_args
        )
        assert rc == 0
        rows = []
        for f in os.listdir(outdir):
            if f.startswith("part-"):
                with open(os.path.join(outdir, f)) as fh:
                    rows += [json.loads(ln) for ln in fh if ln.strip()]
        return sorted(rows, key=lambda r: r["record_id"])

    direct = run(["-t", "json", ndj], str(tmp_path / "out_direct"))
    via_pq = run(["-t", "parquet", pq], str(tmp_path / "out_pq"))
    assert len(direct) == 40
    assert via_pq == direct


def test_cli_convert_refuses_missing_output_and_overwrite(spark, tmp_path):
    """convert without -o refuses; an existing output refuses unless
    convert.overwrite=true (a typo'd -o must not destroy a corpus)."""
    ndj = _ndjson_fixture(spark, tmp_path, n=3)
    with pytest.raises(SystemExit, match="requires -o"):
        run_cli(spark, ["-x", "convert", "-t", "json", ndj])

    pq = str(tmp_path / "pq")
    assert run_cli(spark, ["-x", "convert", "-t", "json", "-o", pq, ndj]) == 0
    with pytest.raises(Exception):  # AnalysisException: path exists
        run_cli(spark, ["-x", "convert", "-t", "json", "-o", pq, ndj])
    assert run_cli(
        spark,
        ["-x", "convert", "-t", "json", "-o", pq,
         "-s", "convert.overwrite=true", ndj],
    ) == 0
    with pytest.raises(SystemExit, match="positive"):
        run_cli(
            spark,
            ["-x", "convert", "-t", "json", "-o", str(tmp_path / "pq2"),
             "-s", "convert.max_records_per_file=0", ndj],
        )


def test_cli_debug_sql_prints_runnable_projection(spark, tmp_path, capsys):
    """-s debug.sql=true prints Pipeline.to_sql() to stderr; that text,
    fed to selectExpr over the same input, gives the rows the run
    wrote."""
    from traject_spark.cli import read_input

    conf = tmp_path / "config.py"
    conf.write_text(
        'to_field("title", extract_marc("245ab", trim_punctuation=True))\n'
        'to_field("lang", marc_languages())\n'
        'to_field("format", marc_formats())\n'
    )
    out = str(tmp_path / "out")
    rc = run_cli(
        spark, ["-c", str(conf), "-s", "debug.sql=true", "-o", out, MC]
    )
    assert rc == 0
    (line,) = [
        ln for ln in capsys.readouterr().err.splitlines()
        if ln.startswith("debug.sql ")
    ]
    printed = json.loads(line[len("debug.sql "):])
    assert printed["filter"] is None and printed["hidden"] == []
    df = read_input(spark, {}, [MC])
    rows = [
        {k: v for k, v in r.asDict().items() if v is not None}
        for r in df.selectExpr(*printed["select"]).collect()
    ]
    written = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            with open(os.path.join(out, f)) as fh:
                written += [json.loads(ln) for ln in fh if ln.strip()]
    assert rows == written
    assert written[0]["title"] == [
        "Manufacturing consent : the political economy of the mass media"
    ]
    assert written[0]["lang"] == ["English"]
