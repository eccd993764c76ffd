"""End-to-end run of the ported demo_config (the reference's flagship
sample configuration, test_support/demo_config.rb) over the reference's
own 30-record corpus test_data.utf8.mrc, through the real CLI path.

Reference-only: all four tests skip where test_data.utf8.mrc,
emptyish_record.marc or manufacturing_consent.marc of a traject v3.8
checkout is absent (the assertions are facts about those files), and
run unchanged where they are present."""

import json
import os

import pytest

from tests.fixtures import REFERENCE_SUPPORT

DATA = os.path.join(REFERENCE_SUPPORT, "test_data.utf8.mrc")
EMPTYISH = os.path.join(REFERENCE_SUPPORT, "emptyish_record.marc")
MC = os.path.join(REFERENCE_SUPPORT, "manufacturing_consent.marc")
CONF = os.path.join(os.path.dirname(__file__), "demo_config.py")

_MISSING = [p for p in (DATA, EMPTYISH, MC) if not os.path.exists(p)]
pytestmark = pytest.mark.skipif(
    bool(_MISSING),
    reason=f"reference fixtures {' and '.join(_MISSING)} not present",
)


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    from traject_spark.cli import main

    out = str(tmp_path_factory.mktemp("demo") / "out")
    rc = main(["-c", CONF, "-o", out, "-w", "json", DATA, EMPTYISH, MC],
              spark=spark)
    assert rc == 0
    rows = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            with open(os.path.join(out, f)) as fh:
                rows += [json.loads(ln) for ln in fh if ln.strip()]
    return {d["id"][0]: d for d in rows}


def test_all_records_mapped_with_prefixed_ids(docs):
    assert len(docs) == 32  # 30 corpus records + emptyish + consent
    assert all(k.startswith("bib_") for k in docs)
    assert all(d["source"] == ["traject_test_last"] for d in docs.values())


def test_emptyish_record_matches_cli_golden(docs):
    # command_line_test.rb:48: /bib_1000165 +author_sort +Collection la/
    d = docs["bib_1000165"]
    assert d["author_sort"][0].startswith("Collection la")
    # emptyish record has no date at all (semantics test expects nil)
    assert "pub_date" not in d


def test_manufacturing_consent_fields(docs):
    d = docs["bib_2710183"]
    assert d["title_display"] == [
        "Manufacturing consent : the political economy of the mass media"
    ]
    assert d["oclcnum_t"] == ["47971712"]
    assert d["pub_date"] == ["2002"]
    assert d["language_facet"] == ["English"]
    assert "Book" in d["format"]


def test_corpus_wide_invariants(docs):
    # every corpus record produced text + format; binary marc_display
    # round-trips through the reader's split on at least the leader length
    for d in docs.values():
        assert "format" in d and len(d["format"]) >= 1
        assert "text" in d
        assert "marc_display" in d
        leader_len = int(d["marc_display"][0][:5])
        assert leader_len > 24
