"""Benchmark decontamination: exact n-gram collision against an eval set.

The standard LLM-training hygiene step (GPT-3 appendix C / The Pile):
a training document is "contaminated" when at least ``min_matches`` of
its distinct word n-grams (n=13 is the conventional window) appear
anywhere in a benchmark/eval set. This module marks and removes such
documents.

Scale design (the 100 TB story):
- The corpus side explodes to one narrow (id, shingle-hash) row per
  distinct n-gram — rows x ~tokens, but two thin columns, never the
  document text. ``xxhash64`` shingle hashing keeps the join key a
  bigint (8 bytes instead of ~80-byte strings in the shuffle);
  at 1e12 corpus shingles the 64-bit birthday bound makes false
  collisions vanishingly rare, and a false collision only ever
  OVER-marks (a training doc is dropped, never leaked) —
  ``hash_shingles=False`` joins on the exact strings when auditable
  exactness matters more than shuffle width.
- The benchmark side is distinct-ed first. Eval sets are tiny relative
  to a training corpus (thousands of documents -> a few million
  shingles), so the join is a BROADCAST hash join by default: the
  corpus-side explode streams past an in-memory set, no shuffle at
  all. For an unusually large benchmark pass ``broadcast_bench=False``
  to fall back to a shuffle join (AQE will still pick the cheaper
  side at runtime).
- Output is LINEAR: one row per contaminated document (the n-gram
  match count), never the match pairs.

Reference scope note: the reference engine (traject) has no
decontamination operator — this is part of the net-new corpus surface,
consistent with the dedup/similarity modules' design language
(``shingles_expr`` shared with MinHash, NULL text never matches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from traject_spark.corpus.dedup import _SHINGLES


def _shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str | None,
    n: int,
    hash_shingles: bool,
) -> DataFrame:
    """(id?, gram) rows: one per DISTINCT n-gram per document.

    NULL text -> NULL shingles -> explode drops the row: missing text
    is never contaminated (same invariant as the near-dup family).
    """
    ids = ["id"] if id_col else []
    # projected, then exploded (Spark does not inline SQL functions in a
    # generator). explode_outer + the NULL filter above it, not explode:
    # explode of a projected column gets a size(sh) > 0 filter pushed
    # under the projection, which would shingle every document twice
    out = (
        df.select(
            *([F.col(id_col).alias("id")] if id_col else []),
            _SHINGLES(F.col(text_col), F.lit(n), spark=df.sparkSession)
            .alias("sh"),
        )
        .select(*ids, F.explode_outer("sh").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    if hash_shingles:
        out = out.select(*ids, F.xxhash64(F.col("gram")).alias("gram"))
    return out


def contamination_mark(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
    min_matches: int = 1,
    hash_shingles: bool = True,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Mark corpus docs whose distinct word ``n``-grams collide with the
    benchmark set's n-gram POOL at least ``min_matches`` times.

    The pool is the distinct union over all benchmark documents — a doc
    matching one gram from eval item X and another from eval item Y
    counts 2. That is the conventional (GPT-3-style) reading: any
    training n-gram that appears anywhere in the eval set is tainted;
    per-eval-document thresholds would need the bench doc id kept
    through the join and a max over per-bench-doc counts instead.

    Returns (``id_col``, n_matched_ngrams) for contaminated documents
    only — join or anti-join it back to act on the corpus (or call
    ``decontaminate`` for the filtered corpus in one step).

    Documents shorter than ``n`` tokens contribute their whole text as
    the single shingle (``shingles_expr`` semantics), so a short
    benchmark item only matches a short training doc with identical
    text — the conventional reading of the n-gram rule.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_matches < 1:
        raise ValueError(f"min_matches must be >= 1, got {min_matches}")
    bench = _shingle_rows(
        benchmark, bench_text_col, None, n, hash_shingles
    ).distinct()
    if broadcast_bench:
        bench = F.broadcast(bench)
    doc_grams = _shingle_rows(corpus, text_col, id_col, n, hash_shingles)
    return (
        doc_grams.join(bench, "gram")
        # distinct grams per doc already (shingles_expr distincts), so a
        # plain count is the matched-distinct-ngram count
        .groupBy("id")
        .agg(F.count("*").alias("n_matched_ngrams"))
        .filter(F.col("n_matched_ngrams") >= min_matches)
        .select(F.col("id").alias(id_col), "n_matched_ngrams")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
    min_matches: int = 1,
    hash_shingles: bool = True,
    broadcast_bench: bool = True,
) -> DataFrame:
    """The corpus minus contaminated documents (left_anti on the marks).

    NULL-text rows are kept: they carry no n-grams, so the rule cannot
    implicate them (filter them with a quality gate, not here).
    """
    marks = contamination_mark(
        corpus, benchmark, text_col, id_col, bench_text_col,
        n, min_matches, hash_shingles, broadcast_bench,
    )
    return corpus.join(
        marks.select(F.col(id_col)), id_col, "left_anti"
    )
