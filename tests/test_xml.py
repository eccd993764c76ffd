"""XML path: read_xml_records splitting, extract_xpath macro, OAI-PMH
harvest pagination.  Mirrors test/nokogiri_reader_test.rb and
test/oai_pmh_nokogiri_reader_test.rb shapes (golden values inline)."""

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from traject_spark import Pipeline
from traject_spark.xmlrec import (
    extract_xpath,
    harvest_oai_pmh,
    localname_path,
    read_xml_records,
)

from tests.fixtures import REFERENCE_SUPPORT, reference_or_local

DOC = textwrap.dedent("""\
    <collection xmlns:dc="http://purl.org/dc/elements/1.1/">
      <item id="r1">
        <dc:title>First   Title</dc:title>
        <dc:creator>Alice</dc:creator>
        <dc:creator>Bob</dc:creator>
      </item>
      <item id="r2">
        <dc:title>
          Second
          Title
        </dc:title>
      </item>
    </collection>
""")


@pytest.fixture(scope="module")
def xml_df(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("xml")
    (d / "a.xml").write_text(DOC)
    return read_xml_records(spark, str(d), each_record_tag="item").cache()


def test_split_into_records(xml_df):
    rows = xml_df.orderBy("position_in_input").collect()
    assert len(rows) == 2
    assert rows[0].position_in_input == 1
    assert "First" in rows[0].xml and "Second" in rows[1].xml
    assert rows[0].input_name.endswith("a.xml")


def test_whole_doc_is_one_record(spark, tmp_path):
    (tmp_path / "b.xml").write_text(DOC)
    df = read_xml_records(spark, str(tmp_path))
    assert df.count() == 1


def test_localname_rewrite():
    assert (
        localname_path("//dc:title", {"dc": "http://purl.org/dc/elements/1.1/"})
        == "//*[local-name()='title']"
    )
    assert localname_path("//@xsi:type") == "//@*[local-name()='type']"
    with pytest.raises(ValueError):
        localname_path("//dc:title", {})


def test_extract_xpath_pipeline(xml_df):
    ns = {"dc": "http://purl.org/dc/elements/1.1/"}
    p = (
        Pipeline(source_col="xml", id_col="position_in_input")
        .to_field("title", extract_xpath("//dc:title", ns=ns))
        .to_field("creator", extract_xpath("//dc:creator", ns=ns))
        .to_field("rec_id", extract_xpath("/item/@id"))
    )
    out = {
        r.position_in_input: r
        for r in p.apply(xml_df).collect()
    }
    # whitespace normalized: internal runs collapse, edges trimmed
    assert out[1].title == ["First Title"]
    assert out[2].title == ["Second Title"]
    assert out[1].creator == ["Alice", "Bob"]
    # empty field omitted -> NULL (allow_empty_fields=False default)
    assert out[2].creator is None
    assert out[1].rec_id == ["r1"]


def test_extract_xpath_to_text_false_accepts_all_node_kinds():
    # node mode yields whatever node kind the path selects (reference
    # returns Attr / Text / Element nodes alike, nokogiri_macros.rb:38-42)
    extract_xpath("//a/@href", to_text=False)
    extract_xpath("//a/text()", to_text=False)
    extract_xpath("//a", to_text=False)


def _oai_page(ids, token):
    recs = "".join(
        f"<record><header><identifier>{i}</identifier></header>"
        f"<metadata><title>T{i}</title></metadata></record>"
        for i in ids
    )
    tok = f"<resumptionToken>{token}</resumptionToken>" if token else ""
    return (
        '<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">'
        f"<ListRecords>{recs}{tok}</ListRecords></OAI-PMH>"
    )


def test_oai_pmh_pagination(spark):
    pages = {
        "verb=ListRecords&metadataPrefix=oai_dc": _oai_page([1, 2], "tokA"),
        "verb=ListRecords&resumptionToken=tokA": _oai_page([3], None),
    }
    urls = []

    def fetch(url):
        urls.append(url)
        return pages[url.split("?", 1)[1]]

    df = harvest_oai_pmh(spark, "http://x/oai", fetch=fetch)
    assert len(urls) == 2
    ids = (
        df.select(F.xpath("xml", F.lit("//identifier/text()")).alias("i"))
        .collect()
    )
    assert sorted(r.i[0] for r in ids) == ["1", "2", "3"]
    # harvested records flow into the same pipeline machinery
    p = Pipeline(source_col="xml", id_col="position").to_field(
        "title", extract_xpath("//title")
    )
    titles = {r.position: r.title for r in p.apply(df).collect()}
    assert titles == {1: ["T1"], 2: ["T2"], 3: ["T3"]}


def test_oai_pmh_selective_harvest_from_until(spark):
    """Incremental harvest (r13 verdict #2): from/until ride the initial
    request; the page-2 resumptionToken request carries ONLY verb+token
    (the token encodes the window, per the protocol)."""
    pages = {
        "verb=ListRecords&metadataPrefix=oai_dc"
        "&from=2024-01-01&until=2024-01-31": _oai_page([1], "tokA"),
        "verb=ListRecords&resumptionToken=tokA": _oai_page([2], None),
    }
    urls = []

    def fetch(url):
        urls.append(url)
        return pages[url.split("?", 1)[1]]

    df = harvest_oai_pmh(
        spark, "http://x/oai", fetch=fetch,
        from_date="2024-01-01", until_date="2024-01-31",
    )
    assert df.count() == 2
    assert len(urls) == 2
    assert "from=2024-01-01" in urls[0] and "until=2024-01-31" in urls[0]
    assert "from" not in urls[1].split("?", 1)[1]
    assert "resumptionToken=tokA" in urls[1]


def test_oai_pmh_start_url_verbatim_and_extra_params(spark):
    """Reference oai_pmh.start_url parity (oai_pmh_nokogiri_reader.rb:
    12-17,53): a query-bearing base_url is fetched VERBATIM for page 1
    (its verb wins for parsing), and token pages use the bare path +
    verb + token only; extra_params passes through on the plain path."""
    start = (
        "http://x/oai?verb=ListIdentifiers&metadataPrefix=marc21"
        "&from=2024-02-01"
    )
    hdr = (
        "<header><identifier>oai:h1</identifier>"
        "<datestamp>2024-02-02</datestamp></header>"
    )
    pages = {
        start: (
            '<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">'
            f"<ListIdentifiers>{hdr}"
            "<resumptionToken>tokZ</resumptionToken>"
            "</ListIdentifiers></OAI-PMH>"
        ),
        "http://x/oai?verb=ListIdentifiers&resumptionToken=tokZ": (
            '<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">'
            f"<ListIdentifiers>{hdr.replace('h1', 'h2')}"
            "</ListIdentifiers></OAI-PMH>"
        ),
    }
    urls = []

    def fetch(url):
        urls.append(url)
        return pages[url]

    df = harvest_oai_pmh(spark, start, fetch=fetch)
    assert df.count() == 2  # ListIdentifiers headers, from the URL's verb
    assert urls[0] == start

    # extra_params raw passthrough on the no-query path
    urls2 = []

    def fetch2(url):
        urls2.append(url)
        return _oai_page([9], None)

    harvest_oai_pmh(
        spark, "http://x/oai", fetch=fetch2,
        extra_params={"customArg": "v1"},
    ).count()
    assert "customArg=v1" in urls2[0]


def test_oai_pmh_restartable_window_signature_guard(spark, tmp_path):
    """Resuming a restartable harvest under a DIFFERENT from/until window
    raises loudly (a resumptionToken is only meaningful for the request
    that minted it); the SAME window resumes from the committed token."""
    from traject_spark.xmlrec.io import OaiPmhError, harvest_oai_pmh_restartable

    pages = {
        None: _oai_page([1], "tokA"),
        "tokA": _oai_page([2], None),
    }

    def fetch(url):
        import urllib.parse

        q = urllib.parse.parse_qs(url.split("?", 1)[1])
        assert q.get("from", ["2024-03-01"]) == ["2024-03-01"]
        return pages[q.get("resumptionToken", [None])[0]]

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df1 = harvest_oai_pmh_restartable(
        spark, "http://x/oai", out, ckpt, fetch=fetch,
        from_date="2024-03-01", max_pages=1,
    )
    assert df1.count() == 1
    # different window, same checkpoint: refuse
    with pytest.raises(OaiPmhError, match="different request"):
        harvest_oai_pmh_restartable(
            spark, "http://x/oai", out, ckpt, fetch=fetch,
            from_date="2024-04-01",
        )
    # same window: resumes from tokA and completes
    df2 = harvest_oai_pmh_restartable(
        spark, "http://x/oai", out, ckpt, fetch=fetch,
        from_date="2024-03-01",
    )
    assert df2.count() == 2


def test_oai_pmh_restartable_harvest(spark, tmp_path):
    """Interrupt-and-resume: the token checkpoint makes a second
    invocation continue from the committed page, not page 1; the done
    marker stops further fetches."""
    from traject_spark.xmlrec import harvest_oai_pmh_restartable

    pages = {
        "verb=ListRecords&metadataPrefix=oai_dc": _oai_page([1, 2], "tokA"),
        "verb=ListRecords&resumptionToken=tokA": _oai_page([3, 4], "tokB"),
        "verb=ListRecords&resumptionToken=tokB": _oai_page([5], None),
    }
    urls = []

    def fetch(url):
        urls.append(url.split("?", 1)[1])
        return pages[urls[-1]]

    out, ckpt = str(tmp_path / "recs"), str(tmp_path / "ckpt")

    def ids(df):
        return sorted(
            r.i[0]
            for r in df.select(
                F.xpath("xml", F.lit("//identifier/text()")).alias("i")
            ).collect()
        )

    # run 1: one page, then "interrupted"
    df1 = harvest_oai_pmh_restartable(
        spark, "http://x/oai", out, ckpt, fetch=fetch, max_pages=1
    )
    assert ids(df1) == ["1", "2"]
    assert urls == ["verb=ListRecords&metadataPrefix=oai_dc"]

    # run 2: resumes from tokA, drains the rest
    df2 = harvest_oai_pmh_restartable(
        spark, "http://x/oai", out, ckpt, fetch=fetch
    )
    assert ids(df2) == ["1", "2", "3", "4", "5"]
    assert urls[1:] == [
        "verb=ListRecords&resumptionToken=tokA",
        "verb=ListRecords&resumptionToken=tokB",
    ]

    # run 3: done marker committed -> no further fetches
    df3 = harvest_oai_pmh_restartable(
        spark, "http://x/oai", out, ckpt, fetch=fetch
    )
    assert ids(df3) == ["1", "2", "3", "4", "5"]
    assert len(urls) == 3


# --- reference-fixture golden: extra_xpath_hooks + namespaces -------------

OAI_SAMPLE = os.path.join(REFERENCE_SUPPORT, "sample-oai-pmh.xml")
OAI_PAGES = [
    os.path.join(REFERENCE_SUPPORT, "oai-pmh-one-record-first.xml"),
    os.path.join(REFERENCE_SUPPORT, "oai-pmh-one-record-2.xml"),
]
# the stand-in declares its record prefix on the root only, so a split
# record that lost the declaration would not parse
NS_SAMPLE = reference_or_local("namespace-test.xml", "namespace-root.xml")


# Reference-only: asserts the literal resumptionToken of traject's own OAI
# sample, so it skips where that file is absent and runs unchanged where
# a traject v3.8 checkout is present. extra_xpath_hooks is checked on
# in-repo input by test_hooks_scrape_outside_records_only.
@pytest.mark.skipif(
    not os.path.exists(OAI_SAMPLE),
    reason=f"reference fixture {OAI_SAMPLE} not present",
)
def test_extra_xpath_hooks_resumption_token(spark):
    """nokogiri_reader_test.rb:59-72 on the reference's own OAI sample."""
    from traject_spark.xmlrec.io import read_xml_records

    df = read_xml_records(
        spark,
        OAI_SAMPLE,
        each_record_tag="record",
        extra_xpath_hooks={"resumptionToken": "//oai:resumptionToken"},
    )
    rows = df.collect()
    assert len(rows) > 0
    expected = (
        "oai_dc.f(2018-05-03T18:09:08Z).u(2018-06-15T19:25:21Z).t(6387):100"
    )
    # clipboard repeats on every record row of the file
    for r in rows:
        assert list(r["clipboard"]["resumptionToken"]) == [expected]


def test_namespace_test_records_split(spark):
    """nokogiri_reader_test.rb outer-namespaces case: records under a
    namespaced root split out and stay parseable with their namespace."""
    import xml.etree.ElementTree as ET

    from traject_spark.xmlrec.io import read_xml_records

    rows = read_xml_records(spark, NS_SAMPLE, each_record_tag="record").collect()
    assert len(rows) > 0
    for r in rows:
        root = ET.fromstring(r["xml"])
        assert root.tag.endswith("}record") or root.tag == "record"


# Reference-only: harvests traject's own two OAI-PMH pages, so it skips
# where they are absent and runs unchanged where a traject v3.8 checkout
# is present. Harvest paging is checked on in-repo pages by
# test_oai_pmh_pagination.
@pytest.mark.skipif(
    not all(os.path.exists(p) for p in OAI_PAGES),
    reason=f"reference fixtures {' and '.join(OAI_PAGES)} not present",
)
def test_harvest_oai_pmh_reference_fixtures(spark):
    """Two-page harvest over the reference's own OAI-PMH fixture pages
    (oai-pmh-one-record-first.xml follows 'dummy_resumption' to
    oai-pmh-one-record-2.xml, which ends the list)."""
    from traject_spark.xmlrec.io import harvest_oai_pmh

    pages = {
        None: open(OAI_PAGES[0]).read(),
        "dummy_resumption": open(OAI_PAGES[1]).read(),
    }
    calls = []

    def fetch(url):
        calls.append(url)
        token = None
        if "resumptionToken=" in url:
            token = url.split("resumptionToken=")[1].split("&")[0]
        return pages[token]

    df = harvest_oai_pmh(spark, "http://x/oai", fetch=fetch)
    rows = df.collect()
    assert len(calls) == 2
    assert "resumptionToken=dummy_resumption" in calls[1]
    assert len(rows) == 2  # one record per page
    import xml.etree.ElementTree as ET
    for r in rows:
        root = ET.fromstring(r["xml"])
        assert root.tag.rsplit("}", 1)[-1] == "record"
        assert any(
            el.tag.rsplit("}", 1)[-1] == "title" for el in root.iter()
        )


def test_extract_xpath_to_text_false_returns_node_xml(spark):
    """to_text=False: matched nodes re-serialized as XML snippets
    (nokogiri_macros.rb:13-46 node mode)."""
    import xml.etree.ElementTree as ET

    from traject_spark import Pipeline
    from traject_spark.xmlrec import extract_xpath

    xml = (
        '<rec xmlns:dc="http://purl.org/dc/elements/1.1/">'
        "<dc:title>One <b>bold</b></dc:title><dc:title>Two</dc:title>"
        "<dc:creator>X</dc:creator></rec>"
    )
    df = spark.createDataFrame([("r1", xml)], "record_id string, xml string")
    p = Pipeline(source_col="xml").to_field(
        "nodes",
        extract_xpath(
            "//dc:title",
            ns={"dc": "http://purl.org/dc/elements/1.1/"},
            to_text=False,
        ),
    )
    out = p.apply(df).collect()[0]["nodes"]
    assert len(out) == 2
    roots = [ET.fromstring(s) for s in out]
    assert all(r.tag.endswith("}title") for r in roots)
    assert "".join(roots[0].itertext()) == "One bold"


def test_extract_xpath_to_text_false_attr_and_text_nodes(spark):
    """to_text=False with @attr / text() steps: the reference yields
    Nokogiri Attr / Text nodes (nokogiri_macros.rb:38-42); here their
    string forms — attribute values and raw text-node content."""
    from traject_spark import Pipeline
    from traject_spark.xmlrec import extract_xpath

    xml = (
        '<rec><a href="u1">One <b>bold</b> tail</a>'
        '<a href="u2">Two</a><span href="skip">n/a</span></rec>'
    )
    df = spark.createDataFrame([("r1", xml)], "record_id string, xml string")
    p = (
        Pipeline(source_col="xml")
        .to_field("hrefs", extract_xpath("//a/@href", to_text=False))
        .to_field("texts", extract_xpath("//a/text()", to_text=False))
    )
    row = p.apply(df).collect()[0]
    assert row["hrefs"] == ["u1", "u2"]
    # direct text nodes only, raw: 'One ' + the tail ' tail' + 'Two'
    assert row["texts"] == ["One ", " tail", "Two"]


def test_extract_xpath_node_mode_namespaced_attribute(spark):
    """'@pfx:name' keeps its attribute-ness after the prefix strip —
    matching by local attribute name."""
    from traject_spark import Pipeline
    from traject_spark.xmlrec import extract_xpath

    xml = (
        '<r xmlns:x="http://ex"><a x:ref="n1">A</a>'
        '<a ref="n2">B</a></r>'
    )
    df = spark.createDataFrame([("r1", xml)], "record_id string, xml string")
    p = Pipeline(source_col="xml").to_field(
        "refs", extract_xpath("//a/@x:ref", to_text=False)
    )
    # local-name matching: both the namespaced and plain 'ref' match
    assert p.apply(df).collect()[0]["refs"] == ["n1", "n2"]


def test_extract_xpath_join_text_mixed_content(spark):
    """Ported reference test 'xpath to non-terminal element outputs text'
    (test/indexer/nokogiri_indexer_test.rb:92-98): each matched element
    joins its non-blank descendant texts with ' ' into ONE value."""
    from traject_spark import Pipeline
    from traject_spark.xmlrec import extract_xpath

    xml = (
        "<record><name><first>José</first><last>Lopez</last></name>"
        "<name><first>Sue</first><last>Jones</last></name></record>"
    )
    df = spark.createDataFrame([("r1", xml)], "record_id string, xml string")
    p = Pipeline(source_col="xml").to_field(
        "name", extract_xpath("/record/name", join_text=True)
    )
    assert p.apply(df).collect()[0]["name"] == ["José Lopez", "Sue Jones"]
    # the default fast path emits one value per text node for the same doc
    p2 = Pipeline(source_col="xml").to_field(
        "name", extract_xpath("/record/name")
    )
    assert p2.apply(df).collect()[0]["name"] == [
        "José", "Lopez", "Sue", "Jones",
    ]


def test_extract_xpath_join_text_attr_and_rejects_text_step(spark):
    """join_text with a trailing @attr yields the attribute value (the
    reference's Attr branch, nokogiri_macros.rb:29-31); a trailing text()
    step is rejected (already one-value-per-text-node on the default
    path)."""
    import pytest

    from traject_spark import Pipeline
    from traject_spark.xmlrec import extract_xpath

    xml = '<rec><a href="u1">One</a><a href="u2">Two</a></rec>'
    df = spark.createDataFrame([("r1", xml)], "record_id string, xml string")
    p = Pipeline(source_col="xml").to_field(
        "hrefs", extract_xpath("//a/@href", join_text=True)
    )
    assert p.apply(df).collect()[0]["hrefs"] == ["u1", "u2"]
    with pytest.raises(ValueError, match="join_text"):
        extract_xpath("//a/text()", join_text=True)


def test_extract_xpath_udf_paths_namespace_uri_exact(spark):
    """With ns URIs registered, the UDF paths match the EXACT namespace —
    two vocabularies sharing the local name 'title' select only the
    registered one (the reference registers real URIs with Nokogiri,
    nokogiri_reader.rb:153-169; its 'namespaces to extract_xpath' test
    overrides a wrong URI with the right one the same way)."""
    from traject_spark import Pipeline
    from traject_spark.xmlrec import extract_xpath

    xml = (
        '<rec xmlns:dc="http://purl.org/dc/elements/1.1/" '
        'xmlns:other="http://example.org/other">'
        "<dc:title>Wanted <b>one</b></dc:title>"
        "<other:title>Decoy</other:title></rec>"
    )
    df = spark.createDataFrame([("r1", xml)], "record_id string, xml string")
    ns = {"dc": "http://purl.org/dc/elements/1.1/"}
    joined = Pipeline(source_col="xml").to_field(
        "t", extract_xpath("//dc:title", ns=ns, join_text=True)
    )
    # double space is FAITHFUL: the reference joins raw text nodes
    # ('Wanted ' keeps its trailing space) with ' ', no normalization
    assert joined.apply(df).collect()[0]["t"] == ["Wanted  one"]
    nodes = Pipeline(source_col="xml").to_field(
        "t", extract_xpath("//dc:title", ns=ns, to_text=False)
    )
    out = nodes.apply(df).collect()[0]["t"]
    assert len(out) == 1 and "Wanted" in out[0] and "Decoy" not in out[0]
    # unprefixed steps still match across namespaces (local-name rule)
    loose = Pipeline(source_col="xml").to_field(
        "t", extract_xpath("//title", join_text=True)
    )
    assert loose.apply(df).collect()[0]["t"] == ["Wanted  one", "Decoy"]


def test_extract_xpath_ns_exact_attribute(spark):
    """Namespaced attribute steps with a registered URI match that URI
    only; without a mapping they fall back to local-name matching."""
    from traject_spark import Pipeline
    from traject_spark.xmlrec import extract_xpath

    xml = (
        '<r xmlns:x="http://ex" xmlns:y="http://why">'
        '<a x:ref="n1">A</a><a y:ref="n2">B</a><a ref="n3">C</a></r>'
    )
    df = spark.createDataFrame([("r1", xml)], "record_id string, xml string")
    p = Pipeline(source_col="xml").to_field(
        "refs", extract_xpath("//a/@x:ref", ns={"x": "http://ex"},
                              to_text=False)
    )
    assert p.apply(df).collect()[0]["refs"] == ["n1"]


def test_outermost_matches_survives_deep_nesting():
    """_outermost_matches walks with an explicit stack: a document nested
    deeper than Python's recursion limit must still split (an executor's
    default limit is ~1000 frames)."""
    import sys
    import xml.etree.ElementTree as ET

    from traject_spark.xmlrec.io import _split_doc

    depth = sys.getrecursionlimit() + 500
    xml = (
        "<root>" + "<wrap>" * depth
        + "<record><id>deep</id></record>"
        + "</wrap>" * depth + "</root>"
    )
    # guard: the stdlib parser itself must cope (expat is iterative)
    ET.fromstring(xml)
    out = _split_doc(xml, "record")
    assert len(out) == 1 and "deep" in out[0]
    # outermost-only semantics survive the rewrite: a matched record
    # wrapping another record yields ONE row
    nested = "<root><record><meta><record>inner</record></meta></record></root>"
    assert len(_split_doc(nested, "record")) == 1


def test_localname_path_ignores_quoted_literals():
    """A colon inside a predicate string literal is data, not a QName:
    [@authority='dcterms:LCSH'] must survive the local-name rewrite."""
    from traject_spark.xmlrec.macros import localname_path

    out = localname_path(
        "//mods:subject[@authority='dcterms:LCSH']/mods:topic",
        {"mods": "http://www.loc.gov/mods/v3"},
    )
    assert "'dcterms:LCSH'" in out
    assert out == (
        "//*[local-name()='subject'][@authority='dcterms:LCSH']"
        "/*[local-name()='topic']"
    )


def test_udf_paths_reject_predicates():
    import pytest as _pytest

    from traject_spark.xmlrec.macros import extract_xpath

    with _pytest.raises(ValueError, match="predicate"):
        extract_xpath("//subject[@authority='lcsh']", join_text=True)
    with _pytest.raises(ValueError, match="predicate"):
        extract_xpath("//a[1]/@href", to_text=False)


def test_oai_pmh_error_response_raises(spark, tmp_path):
    """An OAI <error> element (HTTP 200 per the protocol) must raise, not
    silently finalize a partial harvest — the restartable variant would
    otherwise durably commit the bogus done state. Deviation from the
    reference's blind loop, documented on OaiPmhError."""
    import pytest as _pytest

    from traject_spark.xmlrec.io import OaiPmhError, harvest_oai_pmh_restartable

    pages = {
        "verb=ListRecords&metadataPrefix=oai_dc": _oai_page([1], "tokA"),
        "verb=ListRecords&resumptionToken=tokA": (
            '<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">'
            '<error code="badResumptionToken">expired</error></OAI-PMH>'
        ),
    }

    def fetch(url):
        return pages[url.split("?", 1)[1]]

    with _pytest.raises(OaiPmhError, match="badResumptionToken"):
        harvest_oai_pmh(spark, "http://x/oai", fetch=fetch)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with _pytest.raises(OaiPmhError):
        harvest_oai_pmh_restartable(spark, "http://x/oai", out, ckpt, fetch=fetch)
    # page 1 landed in the sink; the committed token still points at the
    # FAILED page, so a retry (with a fixed server) resumes there
    import json as _json
    state = _json.load(open(f"{ckpt}/oai_offset.json"))
    assert state["token"] == "tokA"


def test_oai_pmh_repeated_token_raises(spark):
    import pytest as _pytest

    from traject_spark.xmlrec.io import OaiPmhError

    pages = {
        "verb=ListRecords&metadataPrefix=oai_dc": _oai_page([1], "same"),
        "verb=ListRecords&resumptionToken=same": _oai_page([2], "same"),
    }

    def fetch(url):
        return pages[url.split("?", 1)[1]]

    with _pytest.raises(OaiPmhError, match="repeated resumptionToken"):
        harvest_oai_pmh(spark, "http://x/oai", fetch=fetch)


def test_oai_error_inside_record_metadata_is_not_a_protocol_error(spark):
    """Only a DIRECT child <error> of the OAI-PMH root is a protocol
    error; an <error> element inside harvested record metadata is data."""
    page = (
        '<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">'
        "<ListRecords><record><metadata>"
        '<error xmlns="urn:other">not a protocol error</error>'
        "</metadata></record></ListRecords></OAI-PMH>"
    )
    df = harvest_oai_pmh(spark, "http://x/oai", fetch=lambda url: page)
    assert df.count() == 1


# --- r7 review-pass regressions -------------------------------------------


OAI_LIKE = (
    "<OAI-PMH><ListRecords>"
    "<record><header><identifier>oai:1</identifier></header>"
    "<metadata><identifier>doi:999</identifier>"
    "<name>Meta Name</name></metadata></record>"
    "</ListRecords></OAI-PMH>"
)


def test_udf_paths_honor_ancestor_steps(spark):
    """//record/header/identifier on the join_text / to_text=False paths
    must NOT also match the dc-style identifier inside <metadata> —
    every element step in the chain is verified, not just the last."""
    df = spark.createDataFrame([("1", OAI_LIKE)], "record_id string, xml string")
    p = (
        Pipeline(source_col="xml")
        .to_field(
            "hdr",
            extract_xpath("//record/header/identifier", join_text=True),
        )
        .to_field(
            "any_id", extract_xpath("//identifier", join_text=True)
        )
    )
    row = p.apply(df).collect()[0]
    assert row.hdr == ["oai:1"]
    assert sorted(row.any_id) == ["doi:999", "oai:1"]


def test_udf_path_absolute_anchors_at_root(spark):
    """A single-/ rooted path must match from the document root."""
    df = spark.createDataFrame(
        [("1", "<a><b><a><c>deep</c></a></b><c>top</c></a>")],
        "record_id string, xml string",
    )
    p = (
        Pipeline(source_col="xml")
        .to_field("topc", extract_xpath("/a/c", join_text=True))
        .to_field("anyc", extract_xpath("//a/c", join_text=True))
    )
    row = p.apply(df).collect()[0]
    assert row.topc == ["top"]
    assert sorted(row.anyc) == ["deep", "top"]


def test_udf_path_refuses_interior_descendant_axis():
    with pytest.raises(ValueError, match="interior"):
        extract_xpath("//a//b", join_text=True)
    with pytest.raises(ValueError, match="predicate"):
        extract_xpath("//x[1]/a/@href", to_text=False)


def test_fast_path_null_xml_keeps_accumulator(spark):
    """A NULL source xml must contribute nothing — not null the whole
    accumulator (which would also disarm a later default())."""
    from traject_spark.macros import literal
    from traject_spark.transforms import default

    df = spark.createDataFrame(
        [("1", "<r><t>v</t></r>"), ("2", None)],
        "record_id string, xml string",
    )
    p = Pipeline(source_col="xml").to_field(
        "t", literal("pre"), extract_xpath("//t"), default("dflt")
    )
    out = {r.record_id: r.t for r in p.apply(df).collect()}
    assert out["1"] == ["pre", "v"]
    assert out["2"] == ["pre"]


def test_resumption_token_ignored_inside_record_content(spark):
    """A token-like element inside a harvested record's metadata must
    not hijack (or, if empty, silently terminate) pagination — the
    protocol puts resumptionToken as a direct child of the verb element."""
    poisoned = (
        '<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">'
        "<ListRecords>"
        "<record><header><identifier>1</identifier></header>"
        "<metadata><resumptionToken>evil</resumptionToken>"
        "</metadata></record>"
        "<resumptionToken>tokA</resumptionToken>"
        "</ListRecords></OAI-PMH>"
    )
    final = _oai_page([2], None)
    pages = {
        "verb=ListRecords&metadataPrefix=oai_dc": poisoned,
        "verb=ListRecords&resumptionToken=tokA": final,
    }
    urls = []

    def fetch(url):
        urls.append(url)
        return pages[url.split("?", 1)[1]]

    df = harvest_oai_pmh(spark, "http://x/oai", fetch=fetch)
    # the REAL token (tokA) drove pagination, not the embedded 'evil'
    assert len(urls) == 2
    assert df.count() == 2


def test_hooks_scrape_outside_records_only(spark, tmp_path):
    """extra_xpath_hooks honors its contract: nodes inside matched
    record subtrees are not scraped; a zero-record file still emits a
    clipboard-only row so the scrape is observable."""
    doc = (
        "<feed><meta><identifier>feed-id</identifier></meta>"
        "<item><identifier>rec-1</identifier></item>"
        "<item><identifier>rec-2</identifier></item></feed>"
    )
    (tmp_path / "a.xml").write_text(doc)
    df = read_xml_records(
        spark,
        str(tmp_path / "a.xml"),
        each_record_tag="item",
        extra_xpath_hooks={"id": "//identifier"},
    )
    rows = df.collect()
    assert len(rows) == 2
    for r in rows:
        assert dict(r.clipboard)["id"] == ["feed-id"]

    # zero record matches: one clipboard-only row, xml NULL, position 0
    tokendoc = "<feed><meta><identifier>only-meta</identifier></meta></feed>"
    (tmp_path / "b.xml").write_text(tokendoc)
    df2 = read_xml_records(
        spark,
        str(tmp_path / "b.xml"),
        each_record_tag="item",
        extra_xpath_hooks={"id": "//identifier"},
    )
    r2 = df2.collect()
    assert len(r2) == 1
    assert r2[0].xml is None and r2[0].position_in_input == 0
    assert dict(r2[0].clipboard)["id"] == ["only-meta"]


def test_extract_xpath_attribute_wildcard(spark):
    """@* matches every attribute on the UDF path (r9 review: the
    wildcard parsed fine but compared localname == '*' and silently
    extracted nothing)."""
    from traject_spark.xmlrec.macros import extract_xpath
    from traject_spark.pipeline import Pipeline

    xml = '<r><f a="1" b="2"/><f a="3"/></r>'
    df = spark.createDataFrame([("x1", xml)], "record_id string, xml string")
    p = Pipeline(source_col="xml").to_field(
        "vals", extract_xpath("//f/@*", to_text=False)
    )
    row = p.apply(df).collect()[0]
    assert sorted(row["vals"]) == ["1", "2", "3"]


def test_batched_rows_bounds_by_count():
    """The shared flush policy behind the readers' mapInPandas fan-outs:
    bounded by rows, order kept, nothing yielded for empty input."""
    from traject_spark.arrowutil import batched_rows

    batches = list(batched_rows(iter(range(25_000)), list, chunk_rows=10_000))
    assert [len(b) for b in batches] == [10_000, 10_000, 5_000]
    assert batches[0][0] == 0 and batches[2][-1] == 24_999  # order kept

    assert list(batched_rows(iter([]), list)) == []


def test_split_batches_are_bounded(spark, tmp_path):
    """End-to-end twin of the bounded-batch property: a single 25k-
    record file splits correctly through the chunked path. The batch-
    size bound itself is pinned by the shared helper's unit test
    (test_batched_rows_bounds_by_count above — the readers' mapInPandas
    fan-outs route through batched_rows)."""
    recs = "".join(
        f"<rec><id>{i}</id></rec>" for i in range(25_000)
    )
    p = tmp_path / "big.xml"
    p.write_text(f"<root>{recs}</root>")

    from traject_spark.xmlrec.io import read_xml_records

    df = read_xml_records(spark, str(p), each_record_tag="rec")
    assert df.count() == 25_000


def test_oai_pmh_start_url_refuses_keyword_window(spark):
    """Review fix (r14): a verbatim start_url plus keyword window params
    is an un-mergeable combination — refusing loudly beats silently
    re-harvesting the whole repository while the checkpoint claims the
    window was applied."""
    from traject_spark.xmlrec.io import OaiPmhError

    start = "http://x/oai?verb=ListRecords&metadataPrefix=oai_dc"
    with pytest.raises(OaiPmhError, match="verbatim"):
        harvest_oai_pmh(
            spark, start, fetch=lambda u: "", from_date="2024-01-01"
        )
    with pytest.raises(OaiPmhError, match="verbatim"):
        harvest_oai_pmh(spark, start, fetch=lambda u: "", set_spec="s1")
