"""Absolute values of the vector kernels and the trigram language guess.

``tests/data/corpus_kernel_goldens.json`` holds, per case and row, what
each kernel returned while it still had a second implementation next to
it: the hyperplane buckets of ``_signs_sql`` (then also a Column
builder), the cell and probe ids of the SQL-expression quantizer
(``expr`` cases) and of the Arrow quantizer ``assign_cell_udf`` /
``probe_cells_udf`` (``udf`` cases) at 1, 4 and 300 centroids, and
``langid_ngram_expr`` by column name and by Column (then two bodies).
The Arrow quantizer is the one that remains; it must give both the
``udf`` and the ``expr`` values. The embedding rows cover NULL,
wrong-dim, NULL-element, NaN-element and all-zero vectors next to valid
ones; the 4-centroid set holds two equal centroids, so the lowest-id
tie-break is pinned. The texts cover NULL, empty, short, accented,
quoted and mixed-script input.

A deliberate behaviour change updates the JSON in the same commit
(``collect_goldens(spark)`` yields every case but the ``expr`` ones).
"""

import json
import os
import random

import pytest
from pyspark.sql import functions as F

GOLDEN_PATH = os.path.join(
    os.path.dirname(__file__), "data", "corpus_kernel_goldens.json"
)

DIM = 8
_rng = random.Random(7)
_VALID = [[round(_rng.uniform(-1, 1), 3) for _ in range(DIM)] for _ in range(8)]

VECTORS = [(i, v) for i, v in enumerate(_VALID)] + [
    (8, list(_VALID[0])),                       # copy of row 0
    (9, [-x for x in _VALID[1]]),               # row 1 negated
    (10, None),
    (11, [1.0, 2.0]),                           # wrong dim
    (12, [float("nan")] + _VALID[2][1:]),       # NaN element
    (13, [None] + _VALID[3][1:]),               # NULL element
    (14, [0.0] * DIM),                          # all zero
    (15, [1.0] + [0.0] * (DIM - 1)),            # one-hot
]

_crng = random.Random(11)
CENTROIDS = {
    "c1": [(3, list(_VALID[4]))],
    # cids 5 and 2 share a vector: ties go to the lower cid
    "c4": [(5, list(_VALID[5])), (2, list(_VALID[5])),
           (9, list(_VALID[6])), (0, [1.0] + [0.0] * (DIM - 1))],
    # listed in descending cid order: the kernels sort by cid
    "c300": [
        (cid, [round(_crng.uniform(-1, 1), 3) for _ in range(DIM)])
        for cid in range(299, -1, -1)
    ],
}
NPROBE = 3

#: (bits, table) pairs of the hyperplane bucket cases
SIGNS = [(2, 0), (6, 1), (6, 3)]

TEXTS = [
    ("null", None),
    ("empty", ""),
    ("short", "ab"),
    ("spaces", "  x  "),
    ("english", "the cat sat on the mat with the other cats"),
    ("german", "der hund und die katze sind nicht hier"),
    ("french", "le chat et la souris est une histoire les enfants"),
    ("quoted", "it's a quoted 'string' with backslash \\ chars"),
    ("mixed", "数据 mixed script データ text"),
    ("accented", "café naïve Führung déjà vu à la carte"),
]


def _cases():
    """(case name, builder of a Column over the ``embedding`` or
    ``text`` column) for every golden case."""
    from traject_spark.corpus.similarity import (
        _signs_sql,
        assign_cell_udf,
        probe_cells_udf,
    )
    from traject_spark.corpus.textstats import langid_ngram_expr

    vec = [
        (f"signs_{bits}_{table}",
         lambda b=bits, t=table: F.expr(_signs_sql("`embedding`", DIM, b, t)))
        for bits, table in SIGNS
    ]
    for name, cents in CENTROIDS.items():
        vec += [
            (f"assign_udf_{name}",
             lambda c=cents: assign_cell_udf(c, "embedding")),
            (f"probe_udf_{name}",
             lambda c=cents: probe_cells_udf(c, NPROBE, "embedding")),
        ]
    text = [
        ("langid_ngram", lambda: langid_ngram_expr("text")),
        ("langid_ngram_column", lambda: langid_ngram_expr(F.col("text"))),
    ]
    return vec, text


def collect_goldens(spark) -> dict:
    """{case: {row id: value}} from one action per input frame."""
    vec_cases, text_cases = _cases()
    emb = spark.createDataFrame(VECTORS, "vec_id long, embedding array<float>")
    txt = spark.createDataFrame(TEXTS, "text_id string, text string")
    out: dict = {}
    for df, key, cases in (
        (emb, "vec_id", vec_cases), (txt, "text_id", text_cases)
    ):
        rows = df.select(
            key, *[fn().alias(c) for c, fn in cases]
        ).collect()
        for c, _ in cases:
            out[c] = {
                str(r[key]): list(r[c]) if isinstance(r[c], list) else r[c]
                for r in rows
            }
    return out


@pytest.fixture(scope="module")
def goldens(spark):
    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        expected = json.load(fh)
    got = collect_goldens(spark)
    # the expression quantizer's cases are met by the Arrow one
    for case in list(got):
        if "_udf_" in case:
            got[case.replace("_udf_", "_expr_")] = got[case]
    assert sorted(got) == sorted(expected)
    return got, expected


CASE_NAMES = (
    [f"signs_{bits}_{table}" for bits, table in SIGNS]
    + [f"{kind}_{form}_{name}" for name in CENTROIDS
       for kind in ("assign", "probe") for form in ("expr", "udf")]
    + ["langid_ngram", "langid_ngram_column"]
)


@pytest.mark.parametrize("case", CASE_NAMES)
def test_corpus_kernel_goldens(goldens, case):
    got, expected = goldens
    bad = {
        k: (got[case].get(k), want)
        for k, want in expected[case].items()
        if got[case].get(k) != want
    }
    assert not bad, (case, bad)
    assert set(got[case]) == set(expected[case])
