"""Absolute values of the curate-path text builders over edge-shaped texts.

``tests/data/corpus_goldens.json`` holds, per case and text, the value
each builder returns (``token_count_expr``, ``quality_score_expr``,
``langid_expr``, ``fingerprint_expr``, ``shingles_expr``,
``minhash_signature_expr``). The values were recorded while the builders
were still Column-API trees; each builder now has one SQL body, and this
file is its reference. The texts cover NULL, empty and whitespace-run
inputs, tabs, accented and CJK text, quotes and backslashes, and a
100-token repeat; the MinHash cases cover (num_hashes, ngram) = (64, 3),
(32, 3) and (8, 2).

A deliberate behaviour change updates the JSON in the same commit
(``collect_goldens(spark)`` yields it).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

GOLDEN_PATH = os.path.join(
    os.path.dirname(__file__), "data", "corpus_goldens.json"
)

TEXTS = [
    ("null", None),
    ("empty", ""),
    ("one_space", " "),
    ("space_run", "   "),
    ("inner_runs", "a  b   c"),
    ("edge_spaces", "  lead and trail  "),
    ("tabs", "x\ty z\t\tw"),
    ("newlines", "line one\nline two\n\nline three"),
    ("mixed_ws", "  The  QUICK\nbrown\t fox  \r\n"),
    ("accented", "café naïve Führung déjà vu à la carte"),
    ("cjk", "数据 東京 データ text 数据 東京"),
    ("quotes", "it's a \"quoted\" 'string' isn't it"),
    ("backslash", "back\\slash \\n C:\\path\\to \\\\ end"),
    ("repeat100", " ".join(f"tok{i % 7}" for i in range(100))),
    ("english", (
        "the cat sat on the mat and the dog ran to the park in the rain "
        "because it is a good day for a walk of the usual kind"
    )),
    ("english_long", " ".join(
        ["the cat sat on the mat and the dog ran to the park"] * 5
    )),
    ("german", "der hund und die katze sind nicht hier das ist gut"),
    ("french", "le chat et la souris est une histoire les enfants"),
    ("spanish", "el perro y los gatos es una casa las mesas"),
    ("tie_en_de", "the der"),
    ("one_word", "word"),
    ("two_words", "two words"),
]

#: (case name, builder) — each builder maps the text Column to a value
CASES = [
    ("token_count", lambda t, m: m["token_count_expr"](t)),
    ("quality", lambda t, m: m["quality_score_expr"](t)),
    ("quality_2_10", lambda t, m: m["quality_score_expr"](t, 2, 10)),
    ("langid", lambda t, m: m["langid_expr"](t)),
    ("fingerprint", lambda t, m: m["fingerprint_expr"](t)),
    ("fingerprint_raw", lambda t, m: m["fingerprint_expr"](t, False)),
    ("shingles_3", lambda t, m: m["shingles_expr"](t)),
    ("shingles_2", lambda t, m: m["shingles_expr"](t, 2)),
    ("shingles_13", lambda t, m: m["shingles_expr"](t, 13)),
    ("minhash_64_3", lambda t, m: m["minhash_signature_expr"](t)),
    ("minhash_32_3", lambda t, m: m["minhash_signature_expr"](t, 32, 3)),
    ("minhash_8_2", lambda t, m: m["minhash_signature_expr"](t, 8, 2)),
    ("minhash_8_2_name",
     lambda t, m: m["minhash_signature_expr"]("text", 8, 2)),
]


def _builders() -> dict:
    from traject_spark.corpus import dedup, textstats

    return {
        "token_count_expr": textstats.token_count_expr,
        "quality_score_expr": textstats.quality_score_expr,
        "langid_expr": textstats.langid_expr,
        "fingerprint_expr": textstats.fingerprint_expr,
        "shingles_expr": dedup.shingles_expr,
        "minhash_signature_expr": dedup.minhash_signature_expr,
    }


def collect_goldens(spark) -> dict:
    """{case: {text_id: value}} from one action over ``TEXTS``."""
    df = spark.createDataFrame(TEXTS, "text_id string, text string")
    m = _builders()
    rows = df.select(
        "text_id", *[fn(F.col("text"), m).alias(c) for c, fn in CASES]
    ).collect()
    out: dict = {c: {} for c, _ in CASES}
    for row in rows:
        d = row.asDict()
        tid = d.pop("text_id")
        for c, v in d.items():
            out[c][tid] = list(v) if isinstance(v, list) else v
    return out


@pytest.fixture(scope="module")
def goldens(spark):
    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        expected = json.load(fh)
    got = collect_goldens(spark)
    assert sorted(got) == sorted(expected)
    return got, expected


@pytest.mark.parametrize("case", [c for c, _ in CASES])
def test_corpus_builder_goldens(goldens, case):
    got, expected = goldens
    bad = {
        tid: (got[case].get(tid), want)
        for tid, want in expected[case].items()
        if got[case].get(tid) != want
    }
    assert not bad, (case, bad)
    assert set(got[case]) == set(expected[case])


def test_builders_resolve_in_a_new_session(spark):
    """The builders' SQL functions are registered per session: a session
    from ``newSession()`` starts with its own empty temporary-function
    registry, and every builder still resolves (and agrees with the
    goldens) there."""
    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        expected = json.load(fh)
    fresh = spark.newSession()
    try:
        assert not fresh.catalog.functionExists("traject_token_count")
        # createDataFrame makes ``fresh`` the active session
        assert collect_goldens(fresh) == expected
        assert fresh.catalog.functionExists("traject_token_count")
    finally:
        # hand the active session back to the shared fixture
        spark.createDataFrame([(1,)], "x int")


def _golden(case: str) -> dict:
    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        return json.load(fh)[case]


def test_named_builder_explodes(spark):
    """Called with a column name, a builder returns its body, which
    Spark accepts inside a generator; the registered function's call is
    refused there (UNSUPPORTED_SQL_UDF_USAGE)."""
    from traject_spark.corpus.dedup import shingles_expr

    df = spark.createDataFrame(TEXTS, "text_id string, text string")
    rows = df.select(
        "text_id", F.explode(shingles_expr("text")).alias("sh")
    ).collect()
    got: dict = {}
    for r in rows:
        got.setdefault(r["text_id"], []).append(r["sh"])
    want = {k: v for k, v in _golden("shingles_3").items() if v}
    assert got == want


def test_named_builder_sorts(spark):
    """A builder called with a column name can order rows; the
    registered function's call is refused inside a sort."""
    from traject_spark.corpus.textstats import token_count_expr

    df = spark.createDataFrame(TEXTS, "text_id string, text string")
    counts = _golden("token_count")
    rows = df.orderBy(
        token_count_expr("text").asc_nulls_first(), "text_id"
    ).collect()
    want = sorted(counts, key=lambda t: (
        -1 if counts[t] is None else counts[t], t
    ))
    assert [r["text_id"] for r in rows] == want


def test_builder_inside_a_lambda(spark):
    """A builder called inside an ``F.transform`` lambda over the
    lambda's own variable: a registered SQL function cannot bind a
    lambda variable (MISSING_ATTRIBUTES), so the body is bound in
    place."""
    from traject_spark.corpus.textstats import (
        quality_score_expr,
        token_count_expr,
    )

    df = spark.createDataFrame(TEXTS, "text_id string, text string").agg(
        F.sort_array(
            F.collect_list(F.struct("text_id", "text"))
        ).alias("docs")
    )
    row = df.select(
        F.transform("docs", lambda d: d["text_id"]).alias("ids"),
        F.transform("docs", lambda d: token_count_expr(d["text"])).alias("n"),
        F.transform(
            "docs", lambda d: quality_score_expr(d["text"], 2, 10)
        ).alias("q"),
    ).collect()[0]
    counts, quality = _golden("token_count"), _golden("quality_2_10")
    assert list(row["n"]) == [counts[t] for t in row["ids"]]
    assert list(row["q"]) == [quality[t] for t in row["ids"]]
