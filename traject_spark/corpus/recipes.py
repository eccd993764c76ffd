"""End-to-end corpus curation recipes: the composition the individual
operators were built for.

``curate_documents`` is the one-call LLM-training-data pipeline:

    annotate (tokens / quality / language / fingerprint / minhash sig)
      -> quality + language filter          (same narrow projection)
      -> benchmark decontamination          (optional: broadcast n-gram
                                             anti-join, contamination.py)
      -> exact dedup                        (one fingerprint window)
      -> near-dup handling                  (witness mark/drop, or
                                             cluster ids via closure)

Plan shape (the 100 TB story):

- The annotate+filter stage is ONE narrow stage: one projection
  computes every derived column once, and the row filter is an explode
  of a 0/1-element array built from those columns — a separate
  ``.filter`` on computed columns would be pushed under the projection
  and re-evaluate the whole expression tree for the predicate (measured
  2x on the NDJSON parse; see ``traject_spark/expr.py``).
- Stage boundaries MATERIALIZE to parquet (``work_dir``) exactly where
  a frame has more than one consumer: the annotated frame when a
  ``benchmark`` is given (decontaminate reads it twice), and the
  survivors frame when near-dup runs (banding pass + two id-keyed
  signature fetches — the ``sig_col`` best practice from
  ``corpus/dedup.py``). A single-consumer configuration skips the
  boundary: an unconditional write would be a full extra corpus-sized
  write + scan at 100 TB.
- Exact dedup is one window shuffle on the (null-safe) fingerprint that
  was already computed in the annotate stage — no recomputation.
- Near-dup output is LINEAR: witness marking (one row per duplicate) or
  cluster ids (pointer-doubling closure), never pair enumeration.

On a multi-node cluster pass a SHARED ``work_dir`` (HDFS/S3/NFS): the
default is a driver-local temp dir, correct only where driver and
executors share a filesystem (local mode, single node).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from traject_spark.corpus.dedup import (
    _check_bands,
    _minhash_fn,
    apply_exact_dedup,
    minhash_near_dup_witness,
    witness_clusters,
)
from traject_spark.corpus.textstats import (
    _FINGERPRINT,
    _LANGID,
    _QUALITY,
    _TOKEN_COUNT,
)
from traject_spark.sqlutil import sql_ref, sql_str_lit

#: the optional ``gate_expr``, projected with the annotations
_GATE = "__traject_gate__"


def annotate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 1,
    min_quality: float = 0.0,
    langs: Optional[Sequence[str]] = None,
    num_hashes: int = 64,
    ngram: int = 3,
    with_minhash: bool = True,
    gate_expr=None,
) -> DataFrame:
    """Annotate + filter in ONE narrow projection.

    Returns (id, text, n_tokens, quality, lang, fp[, msig]) for rows
    that pass the gates: text non-NULL, ``n_tokens >= min_tokens``,
    ``quality >= min_quality``, and (when ``langs`` given) ``lang`` in
    the allowlist. The filter is the explode-in-projection pattern so
    every derived value is evaluated exactly once. ``with_minhash=False``
    skips the signature column — ``num_hashes`` xxhash64 passes per doc
    plus a 64-element array per row in the materialized output are pure
    waste when no near-dup stage will consume them.

    ``gate_expr`` (r14): an optional extra BOOLEAN Column over the input
    row that documents must satisfy — the hook for the credible paper
    gates, e.g. ``gopher_quality_expr(F.col('text'))['passes']
    & gopher_repetition_expr(F.col('text'))['passes']
    & c4_quality_expr(F.col('text'))['passes']``. It is projected with
    the annotations and read by the explode's filter, so even a heavy
    struct gate is evaluated exactly once per row in the one narrow scan
    (NULL gates drop the row, like any failed gate).

    The stage is SQL text over the builders' session functions
    (``traject_token_count``, ``traject_quality_score``,
    ``traject_langid``, ``traject_fingerprint``,
    ``traject_minhash_<num_hashes>``), registered in ``df``'s session:
    one projection computes every annotation once, and the explode
    keeps the rows that pass. Spark does not inline SQL functions
    inside a generator, so the two cannot be one operator.
    """
    spark = df.sparkSession
    t = sql_ref(text_col)
    cols = {
        "id": sql_ref(id_col),
        "text": t,
        "n_tokens": _TOKEN_COUNT.sql(spark, t),
        # quality_score_expr's default length gate
        "quality": _QUALITY.sql(spark, t, "50", "100000"),
        "lang": _LANGID.sql(spark, t),
        "fp": _FINGERPRINT.sql(spark, t, "true"),
    }
    if with_minhash:
        cols["msig"] = _minhash_fn(num_hashes).sql(
            spark, t, str(int(ngram))
        )
    row = ", ".join(f"'{k}', {k}" for k in cols)
    keep = [
        "text IS NOT NULL",
        f"n_tokens >= {min_tokens}",
        f"quality >= {float(min_quality)!r}D",
    ]
    if langs is not None:
        keep.append(
            f"lang IN ({', '.join(sql_str_lit(x) for x in langs)})"
            if langs else "false"
        )
    if gate_expr is not None:
        # a NULL gate (NULL text reaching a struct gate) drops the row
        # like any failed gate
        df = df.withColumn(_GATE, gate_expr)
        cols[_GATE] = _GATE
        keep.append(_GATE)
    # explode's input is an expression, not a projected column: Spark
    # would add a size(arr) > 0 filter on a column and push it under the
    # projection, computing every value twice. A dropped row's array is
    # NULL, which explodes to nothing.
    return (
        df.selectExpr(*(f"{v} AS {k}" for k, v in cols.items()))
        .selectExpr(
            f"explode(CASE WHEN {' AND '.join(keep)} "
            f"THEN array(named_struct({row})) END) AS r"
        )
        .selectExpr("r.*")
    )


def _check_default_work_dir_ok(master: str) -> None:
    """A driver-local temp dir is only a valid stage-boundary store when
    driver and executors share a filesystem: on a real cluster the
    executors would write partitions into THEIR local /tmp and the
    read-back would silently see partial data — fail fast instead of
    mis-running."""
    if not master.startswith("local"):
        raise ValueError(
            "curate_documents needs an executor-visible work_dir "
            "(HDFS/S3/NFS path) when spark.master is not local — "
            f"master is {master!r}; pass work_dir=..."
        )


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 1,
    min_quality: float = 0.0,
    langs: Optional[Sequence[str]] = None,
    near_dup: Optional[str] = "mark",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    min_est: float = 0.8,
    benchmark: Optional[DataFrame] = None,
    contamination_n: int = 13,
    work_dir: Optional[str] = None,
    output_path: Optional[str] = None,
    gate_expr=None,
) -> DataFrame:
    """The end-to-end curation recipe; see module docstring.

    ``benchmark``: optional eval-set DataFrame (a ``text`` column);
    when given, documents sharing any exact ``contamination_n``-gram
    with it are dropped AFTER the quality gate and BEFORE dedup
    (``corpus.contamination.decontaminate`` — the GPT-3-style
    decontamination step; benchmark shingles broadcast).

    ``near_dup``:
      - ``"mark"`` (default): keep every exact-dedup survivor, add
        ``near_dup_of`` / ``near_dup_est`` columns (NULL for clean docs).
      - ``"drop"``: keep only unmarked docs. Aggressive: a marked doc's
        witness may itself be marked, so a chain A->B->C keeps only C —
        standard LSH-dedup semantics, linear everything.
      - ``"cluster"``: keep every survivor, add ``cluster_id`` (witness
        transitive closure); survivors of near-dup dedup are the
        ``id == cluster_id`` rows, selectable downstream.
      - ``None``: skip near-dup handling entirely.

    ``output_path``: when given, the curated frame is written there as
    parquet and the returned DataFrame reads from it (the action has
    already run); otherwise the result is returned lazily.
    """
    if near_dup not in ("mark", "drop", "cluster", None):
        raise ValueError(f"unknown near_dup mode: {near_dup!r}")
    if near_dup is not None:
        # validate BEFORE the expensive annotate scan + materialization:
        # without this, a bands/num_hashes typo raises only after the
        # whole corpus has been annotated and written
        _check_bands(num_hashes, bands)
    annotated = annotate_documents(
        df, text_col, id_col, min_tokens, min_quality, langs,
        num_hashes, ngram, with_minhash=near_dup is not None,
        gate_expr=gate_expr,
    )
    needs_work_dir = benchmark is not None or near_dup is not None
    created_work_dir = work_dir is None and needs_work_dir
    if created_work_dir:
        try:
            master = df.sparkSession.sparkContext.master or ""
        except Exception:
            # Spark Connect has no sparkContext: the driver temp dir is
            # definitely not executor-visible there — same fail-fast
            master = "<connect-or-unknown>"
        _check_default_work_dir_ok(master)
        work_dir = tempfile.mkdtemp(prefix="curate_")
    spark = df.sparkSession
    if benchmark is not None:
        # materialize the annotated frame ONLY when something reads it
        # more than once: decontaminate reads it twice (shingle-explode
        # side + anti-join back). Without a benchmark the single
        # downstream consumer (exact dedup -> survivors materialization
        # or the output write) executes the annotate tree exactly once,
        # and an unconditional stage write here would be a full extra
        # corpus-sized write + scan at 100 TB for nothing (r9 review).
        ann_path = f"{work_dir}/annotated.parquet"
        annotated.write.mode("overwrite").parquet(ann_path)
        annotated = spark.read.schema(annotated.schema).parquet(ann_path)

    if benchmark is not None:
        # AFTER the stage-boundary materialization: decontaminate reads
        # `annotated` twice (shingle-explode side + the anti-join back),
        # and on the raw plan each read would re-execute the whole
        # annotate expression tree — against the parquet it is two cheap
        # scans. Ordering is unchanged: after the quality gate, before
        # dedup.
        from traject_spark.corpus.contamination import decontaminate

        annotated = decontaminate(
            annotated, benchmark, text_col="text", id_col="id",
            n=contamination_n,
        )

    # exact dedup: reuse the materialized fingerprint (fp_col) — one
    # window shuffle, min-id survivor, NULL fp rows each their own group
    survivors = apply_exact_dedup(
        annotated, text_col="text", id_col="id", fp_col="fp"
    )

    if near_dup is not None:
        # witness over the materialized narrow (id, msig) projection
        surv_path = f"{work_dir}/survivors.parquet"
        survivors.write.mode("overwrite").parquet(surv_path)
        survivors = spark.read.schema(survivors.schema).parquet(surv_path)
        wit = minhash_near_dup_witness(
            survivors,
            id_col="id",
            num_hashes=num_hashes,
            bands=bands,
            ngram=ngram,
            min_est=min_est,
            sig_col="msig",
        )
        if near_dup == "mark":
            survivors = survivors.join(
                wit.select(
                    "id",
                    F.col("witness_id").alias("near_dup_of"),
                    F.col("est_jaccard").alias("near_dup_est"),
                ),
                "id",
                "left",
            )
        elif near_dup == "drop":
            survivors = survivors.join(
                wit.select("id"), "id", "left_anti"
            )
        else:  # cluster
            survivors = witness_clusters(wit, members=survivors)

    out = survivors.drop("msig").withColumnRenamed("id", id_col)
    if output_path is not None:
        out.write.mode("overwrite").parquet(output_path)
        if created_work_dir and work_dir is not None:
            # the result now reads from output_path; the corpus-sized
            # intermediates in our own temp dir are dead weight
            shutil.rmtree(work_dir, ignore_errors=True)
        return spark.read.schema(out.schema).parquet(output_path)
    if created_work_dir:
        # the lazy result still reads the intermediates — defer cleanup
        # to interpreter exit (callers who need tighter control pass
        # work_dir and own its lifecycle)
        atexit.register(shutil.rmtree, work_dir, ignore_errors=True)
    return out
