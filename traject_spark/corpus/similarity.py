"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: the exactness baseline. The (small) query set is
  broadcast; the corpus side is a narrow scan computing cosine per row,
  then a per-query top-k via window rank. Shuffle = one repartition by
  query id of (corpus_rows x n_queries) scored rows — at 100 TB, bound
  n_queries or use the LSH variant.
- ``lsh_topk``: scale path. Random-hyperplane signs bucket both sides;
  only same-bucket candidates are scored (multi-probe over ``tables``
  independent hash tables to recover recall). Candidate volume is
  corpus/2^bits per table instead of the full corpus.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from traject_spark.expr import let2
from traject_spark.sqlutil import ident_safe


def dot_expr(a: Column, b: Column) -> Column:
    # cast each element to double BEFORE multiplying: float*float would
    # round at float precision and diverge from the SQL-oracle twin
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_expr(a: Column, b: Column) -> Column:
    return let2(
        a,
        b,
        lambda x, y: dot_expr(x, y) / (norm_expr(x) * norm_expr(y)),
    )


def _usable_vec(vec: Column) -> Column:
    """THE vector-usability rule, one definition (three hand-maintained
    copies had already diverged once): non-NULL, no NULL/NaN element,
    and at least one nonzero element (a zero vector's 0/0 cosine is a
    job-killing ANSI DivideByZero, not a score). Dimension checks are
    the caller's concern — the exact baselines take no dim parameter,
    the LSH/IVF paths add ``size == dim`` via :func:`_valid_vec`."""
    return (
        vec.isNotNull()
        & ~F.exists(vec, lambda x: x.isNull() | F.isnan(x))
        & F.exists(vec, lambda x: x != 0)
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE per-query top-k tail shared by every retrieval operator
    (brute force, IVF, IVF-from-layout, LSH): window rank over
    (score desc, neighbor_id asc), keep rank <= k, long-cast rank.
    One definition so the ranking contract cannot drift between the
    exact baseline and the ANN paths it calibrates."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: Optional[str] = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x narrow corpus scan.

    Returns (query_id, neighbor_id, score, rank), rank 1..k per query.

    Vectors containing a NULL or NaN element are EXCLUDED on both sides
    (one NaN score would otherwise rank #1 for every query — Spark's
    ordering treats NaN as greater than any value — corrupting the
    exactness baseline the ANN variants are measured against; the LSH/
    IVF paths already exclude the same rows via NULL buckets/cells).
    All-zero vectors are excluded too: their cosine is 0/0, a
    job-killing ANSI DivideByZero, not a score. Like the near-dup
    exact mode, no dimension parameter is required — but a
    length-MISMATCHED pair's NULL score is dropped rather than ranked
    (phantom NULL-score 'neighbors' would pad out queries with fewer
    than k valid candidates).
    """
    qid = query_id_col or id_col
    q = F.broadcast(
        queries.filter(_usable_vec(F.col(vec_col))).select(
            F.col(qid).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = corpus.filter(_usable_vec(F.col(vec_col))).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_similarity_expr(F.col("qvec"), F.col("cvec")), 6
        ).alias("score"),
    ).filter(F.col("score").isNotNull())
    return _rank_topk(scored, k)


# LCG stepping for the hyperplanes. The sequence decides LSH bucket
# membership, so these constants must never change: doing so silently
# re-buckets every LSH layout written to disk.
_MULT = 6364136223846793005
_INC = 1442695040888963407
_MASK = 0xFFFFFFFFFFFFFFFF


def lcg_unit_floats(state: int, n: int) -> list[float]:
    """``n`` deterministic floats in [-1, 1) from integer seed ``state``."""
    out = []
    state &= _MASK
    for _ in range(n):
        state = (state * _MULT + _INC) & _MASK
        out.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
    return out


def _hyperplane(dim: int, bit: int, table: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane (splitmix-style)."""
    seed = table * 1_000_003 + bit * 8191 + 0x9E3779B9
    return lcg_unit_floats(seed, dim)


def _signs_sql(vec_sql: str, dim: int, bits: int, table: int) -> str:
    """SQL-text twin of :func:`signs_expr` (see fast-path note): same
    projections, same NULL-proj -> 0-bit CASE, same validity guard."""
    terms = []
    for b in range(bits):
        plane = _hyperplane(dim, b, table)
        proj = (
            f"aggregate(zip_with({vec_sql}, {_arr_sql(plane)}, "
            f"(x, h) -> CAST((x * h) AS DOUBLE)), 0.0D, "
            f"(acc, v) -> acc + v)"
        )
        terms.append(
            f"(CASE WHEN {proj} >= 0 THEN {1 << b}L ELSE 0L END)"
        )
    bucket = " + ".join(terms) if terms else "0L"
    return f"(CASE WHEN {_valid_sql(vec_sql, dim)} THEN {bucket} END)"


def signs_expr(vec: Column | str, dim: int, bits: int, table: int) -> Column:
    """Random-hyperplane signature: int bucket id from ``bits`` sign bits.

    ``vec`` may be a column NAME (string) — the fast path: the whole
    signature is emitted as one parsed SQL string instead of ~70 Py4J
    round trips per hyperplane (the Column path below stays as the
    reference implementation for arbitrary Column inputs).

    NULL when ``vec`` is NULL or its length differs from ``dim``: zip_with
    pads the shorter side with nulls, so a mismatched vector's projections
    are all NULL — without the guard every such row would silently take
    the otherwise(0) branch and the whole corpus would collapse into
    bucket 0, degrading LSH to the full O(n^2) cross join with no error.
    Callers drop NULL buckets; a mismatch therefore EXCLUDES the row,
    visible in result counts rather than in runtime blowup."""
    if isinstance(vec, str):
        if ident_safe(vec):
            return F.expr(_signs_sql(_q(vec), dim, bits, table))
        # nested-field names fall back to the Column path (ADVICE r15)
        vec = F.col(vec)
    bucket = F.lit(0).cast("long")
    for b in range(bits):
        plane = _hyperplane(dim, b, table)
        proj = F.aggregate(
            F.zip_with(
                vec,
                _lit_vec(plane),
                lambda x, h: (x * h).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
    # also NULL when any element is null or NaN: such a vector passes
    # the size guard but every projection is NULL/NaN, so without this
    # it would take otherwise(0) on every bit and all such rows would
    # collapse into bucket 0 — the same O(n^2) single-bucket failure
    # shape the size guard exists to prevent
    return F.when(_valid_vec(vec, dim), bucket)


def _banded(
    side: DataFrame,
    id_col: str,
    id_alias: str,
    vec_col: str,
    vec_alias: Optional[str],
    dim: int,
    bits: int,
    tables: int,
    extra: tuple = (),
) -> DataFrame:
    """(id_alias[, vec_alias], *extra, table, bucket) rows — the ONE
    shared banding projection for every hyperplane-LSH caller.
    ``extra`` names precomputed per-row columns on ``side`` (e.g. a
    hoisted norm) carried through the explode unchanged.

    - ONE scan: all table buckets computed in a single select then
      exploded (a per-table union would read the corpus ``tables``
      times — 4x the I/O at 100 TB for the same rows).
    - wrong-dim vectors are filtered on the RAW column (pushes to the
      scan; filtering the computed bucket would re-evaluate the
      hyperplane projections for the predicate).
    - NULL buckets (NaN/null-element vectors that pass the size guard)
      are dropped AFTER the explode — the filter references the
      generator's output attribute, so nothing re-evaluates. Equi-join
      callers never match NULL buckets anyway; window-based callers
      (the witness path) MUST not see them, or every invalid vector
      lands in one (table, NULL) window partition and gets falsely
      paired.
    """
    cols = [F.col(id_col).alias(id_alias)]
    if vec_alias:
        cols.append(F.col(vec_col).alias(vec_alias))
    cols.extend(F.col(c) for c in extra)
    # the whole (table, bucket) struct array rides in ONE generated-SQL
    # expression — tables x bits x dim literal hyperplanes as a single
    # Py4J call (see fast-path note above _arr_sql)
    tb_sql = "array(" + ",".join(
        f"named_struct('table', {t}, 'bucket', "
        f"{_signs_sql(_q(vec_col), dim, bits, t)})"
        for t in range(tables)
    ) + ")"
    out = (
        side.filter(F.size(F.col(vec_col)) == dim)
        .select(
            *cols,
            F.explode(F.expr(tb_sql)).alias("tb"),
        )
        .select(
            id_alias,
            *([vec_alias] if vec_alias else []),
            *extra,
            "tb.table",
            "tb.bucket",
        )
    )
    return out.filter(F.col("bucket").isNotNull())


# --- generated-SQL fast paths -------------------------------------------
#
# Column trees for vector scoring are built from hundreds of nodes
# (64-dim literals x hyperplanes/centroids x HOF lambdas), and EVERY
# node is a Py4J round trip: r9 profiling measured cosine_near_dup's
# driver-side expression BUILD at 3.5s (7.2k Py4J commands) against
# 2.6s of actual execution at sf0.1, with _create_lambda alone at 1.2s.
# Emitting the whole expression as ONE SQL string (one round trip, JVM
# parses) removes that driver tax without touching semantics: the SQL
# forms below are written to produce the IDENTICAL expression semantics
# as the Column builders they shadow, and equality is pinned
# element-for-element by tests/test_similarity.py::test_sql_fast_paths_
# match_column_builders. The Column builders remain the reference
# implementations (and the path taken when a caller passes an arbitrary
# Column instead of a column name).


def _finite(vals) -> list:
    vs = [float(v) for v in vals]
    if any(v != v or v in (float("inf"), float("-inf")) for v in vs):
        # repr('inf')/'nan' are not SQL double literals; no caller
        # produces them (hyperplanes and k-means centroids are finite) —
        # fail loudly rather than hand the parser garbage
        raise ValueError("vector literals must be finite")
    return vs


def _arr_sql(vals) -> str:
    """array<double> literal as SQL text. repr() is Python's shortest
    round-trip form and Spark parses double literals with Java's
    parseDouble, so values are bit-identical to F.lit(float(v))."""
    return "array(" + ",".join(f"{v!r}D" for v in _finite(vals)) + ")"


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _valid_sql(vec_sql: str, dim: int) -> str:
    """SQL twin of :func:`_valid_vec`."""
    return (
        f"((size({vec_sql}) = {int(dim)}) AND NOT exists({vec_sql}, "
        f"x -> (x IS NULL) OR isnan(x)) AND exists({vec_sql}, "
        f"x -> x != 0))"
    )


def _lit_vec(vals) -> Column:
    """array<double> literal in ONE Py4J call (see fast-path note)."""
    return F.expr(_arr_sql(vals))


def _centroid_scores(vec: Column, centroids: list) -> Column:
    """array<struct<cid,score>> of cosine(vec, centroid) per centroid,
    in ASCENDING cid order: the assignment fold keeps the FIRST max, so
    list order is the tie-break — sorting here makes 'ties -> lowest
    centroid id' true for ANY caller-supplied list and keeps assign
    consistent with probe_cells' (score desc, cid asc) comparator
    (r9 review: unsorted user lists assigned ties to the first listed
    centroid while the probe preferred the lowest cid)."""
    centroids = sorted(centroids, key=lambda c: int(c[0]))
    for cid, cvec in centroids:
        # same build-time guards as _centroid_scores_sql, so the two
        # paths reject the same bad centroid lists: NaN/inf coordinates
        # (a NaN score loses every comparison and silently piles ALL
        # rows into the first cell) and zero norm (0/0 = ANSI
        # DivideByZero at runtime)
        _finite(cvec)
        if not any(float(x) != 0 for x in cvec):
            raise ValueError(
                f"centroid {cid} has zero norm; cosine against it is "
                "undefined"
            )
    return F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("cid"),
                # round: argmax must not hinge on the last ulp (keeps the
                # assignment reproducible across summation engines)
                F.round(
                    cosine_similarity_expr(vec, _lit_vec(cvec)), 9
                ).alias("score"),
            )
            for cid, cvec in centroids
        ]
    )


def _centroid_scores_sql(vec_sql: str, centroids: list) -> str:
    """SQL-text twin of :func:`_centroid_scores` (see fast-path note),
    with two value-preserving strength reductions the Column form pays
    for at runtime:

    - the VECTOR norm is hoisted once per row via the aggregate-let
      (the Column form recomputes it per centroid — same double every
      time, so hoisting is bit-identical);
    - each CENTROID's norm is precomputed driver-side. Python and the
      JVM fold the same IEEE doubles in the same order (s += x*x left
      to right, then one correctly-rounded sqrt), so the literal equals
      what norm_expr(lit) computes per row.

    Together: per row work drops from k x (dot + 2 norms) to
    k x dot + 1 norm — at 100 TB the assignment scan does ~1/3 the
    arithmetic for identical scores.
    """
    import math

    entries = []
    # ascending cid, same tie-break rationale as _centroid_scores
    for cid, cvec in sorted(centroids, key=lambda c: int(c[0])):
        vs = _finite(cvec)
        s = 0.0
        for x in vs:
            s += x * x
        cn = _finite([math.sqrt(s)])[0]
        if cn == 0.0:
            # a zero centroid scores 0/0 per row — with ANSI on that is
            # a job-killing DivideByZero at assignment time, so fail at
            # BUILD time with a pointable message (train_centroids
            # never emits one; a user-supplied list might)
            raise ValueError(
                f"centroid {cid} has zero norm; cosine against it is "
                "undefined"
            )
        dot = (
            f"aggregate(zip_with({vec_sql}, {_arr_sql(vs)}, "
            f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            f"(acc, v) -> acc + v)"
        )
        entries.append(
            f"named_struct('cid', {int(cid)}L, 'score', "
            f"round({dot} / (nv * {cn!r}D), 9))"
        )
    norm = (
        f"sqrt(aggregate(transform({vec_sql}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, "
        f"(acc, v) -> acc + v))"
    )
    return (
        f"aggregate(CAST(array() AS ARRAY<INT>), {norm}, "
        f"(acc, x) -> acc, nv -> array({','.join(entries)}))"
    )


def _valid_vec(vec: Column, dim: int) -> Column:
    """True iff the vector is usable: right length, no NULL elements
    (a NULL element nulls every projection/score and would otherwise
    fall through folds to the first branch), no NaN elements (Arrow
    surfaces null floats as NaN on the UDF side — both paths must
    agree on what is invalid), and at least one nonzero element — a
    zero vector has no direction, so its cosine is 0/0, which under
    ANSI mode is not NaN but a JOB-KILLING DivideByZero: one all-zero
    embedding in a 100 TB corpus must be excluded like the other
    invalid shapes, not crash the scan (found by the r9 SQL/Column
    equality test)."""
    return (F.size(vec) == dim) & _usable_vec(vec)


def assign_cell_expr(vec: Column | str, centroids: list) -> Column:
    """Coarse-quantizer assignment: id of the nearest centroid by cosine
    (ties -> lowest centroid id). Pure per-row expression — assignment of
    a 100 TB corpus is a narrow scan, no shuffle. NULL / wrong-length
    vectors assign NULL (parity with ``assign_cell_udf``); without the
    guard their all-NULL scores would fall through the fold to the FIRST
    centroid and every invalid row would pile into one skewed cell.

    ``vec`` as a column NAME takes the generated-SQL fast path (one
    Py4J call, scores let-bound so the fold's two references evaluate
    the centroid scoring once; see fast-path note above _arr_sql)."""
    dim = len(centroids[0][1])
    if isinstance(vec, str) and not ident_safe(vec):
        vec = F.col(vec)  # nested-field name: Column path (ADVICE r15)
    if isinstance(vec, str):
        vs = _q(vec)
        sc = _centroid_scores_sql(vs, centroids)
        fold = (
            f"aggregate(slice(sc, 2, {len(centroids) - 1}), "
            f"element_at(sc, 1), "
            f"(acc, p) -> CASE WHEN p.score > acc.score THEN p ELSE acc END)"
        )
        return F.expr(
            f"CASE WHEN {_valid_sql(vs, dim)} THEN "
            f"aggregate(CAST(array() AS ARRAY<INT>), {sc}, "
            f"(acc, x) -> acc, sc -> {fold}.cid) END"
        )
    pairs = _centroid_scores(vec, centroids)
    # slice(pairs, 2, 0) is the TYPED empty array for the 1-centroid
    # case — a bare F.array() is array<void> and fails to resolve
    # p['score'] at plan time
    best = F.aggregate(
        F.slice(pairs, 2, len(centroids) - 1),
        F.element_at(pairs, 1),
        lambda acc, p: F.when(p["score"] > acc["score"], p).otherwise(acc),
    )
    return F.when(_valid_vec(vec, dim), best["cid"])


def probe_cells_expr(vec: Column | str, centroids: list, nprobe: int) -> Column:
    """The ``nprobe`` nearest centroid ids (score desc, cid asc).
    NULL / wrong-length vectors probe NULL (parity with
    ``probe_cells_udf``) — not the lowest-cid cells. ``vec`` as a
    column NAME takes the generated-SQL fast path."""
    dim = len(centroids[0][1])
    if isinstance(vec, str) and not ident_safe(vec):
        vec = F.col(vec)  # nested-field name: Column path (ADVICE r15)
    if isinstance(vec, str):
        vs = _q(vec)
        sc = _centroid_scores_sql(vs, centroids)
        cmp = (
            "(a, b) -> CASE WHEN a.score > b.score THEN -1 "
            "WHEN a.score < b.score THEN 1 "
            "ELSE CASE WHEN a.cid < b.cid THEN -1 "
            "WHEN a.cid > b.cid THEN 1 ELSE 0 END END"
        )
        body = (
            f"transform(slice(array_sort(sc, {cmp}), 1, {int(nprobe)}), "
            f"p -> p.cid)"
        )
        return F.expr(
            f"CASE WHEN {_valid_sql(vs, dim)} THEN "
            f"aggregate(CAST(array() AS ARRAY<INT>), {sc}, "
            f"(acc, x) -> acc, sc -> {body}) END"
        )
    pairs = _centroid_scores(vec, centroids)
    ordered = F.array_sort(
        pairs,
        lambda a, b: F.when(a["score"] > b["score"], F.lit(-1))
        .when(a["score"] < b["score"], F.lit(1))
        .otherwise(
            F.when(a["cid"] < b["cid"], F.lit(-1))
            .when(a["cid"] > b["cid"], F.lit(1))
            .otherwise(F.lit(0))
        ),
    )
    return F.when(
        _valid_vec(vec, dim),
        F.transform(F.slice(ordered, 1, nprobe), lambda p: p["cid"]),
    )


def _centroid_matrix(centroids: list):
    import numpy as np

    # ascending cid: np.argmax keeps the FIRST max, so row order is the
    # assignment tie-break — must match _centroid_scores' sorted order
    centroids = sorted(centroids, key=lambda c: int(c[0]))
    for cid, cvec in centroids:
        # same build-time guards as the expression paths: under
        # method='auto' the SAME bad centroid list must not validate
        # loudly below 256 centroids and silently mis-score above
        _finite(cvec)
        if not any(float(x) != 0 for x in cvec):
            raise ValueError(
                f"centroid {cid} has zero norm; cosine against it is "
                "undefined"
            )
    cids = np.array([int(c) for c, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    return cids, Cn


def _batch_scores(vecs: "pd.Series", Cn):
    """(valid_mask, scores) for one Arrow batch; null AND wrong-length
    embeddings are masked out instead of crashing the task — np.array
    over a ragged list raises, and one malformed vector must not kill
    the job (the expression path yields NULL for the same rows)."""
    import numpy as np

    dim = Cn.shape[1]
    valid = np.array(
        [
            v is not None
            and len(v) == dim
            and not any(x is None or x != x for x in v)  # None or NaN
            and any(x != 0 for x in v)  # zero vector: no direction
            for v in vecs
        ],
        dtype=bool,
    )
    if not valid.any():
        return valid, np.empty((0, Cn.shape[0]))
    X = np.array([list(v) for v, ok in zip(vecs, valid) if ok],
                 dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    scores = Xn @ Cn.T
    # HALF_UP like F.round (np.round is half-EVEN — a score landing
    # exactly on the 9th-decimal midpoint would round differently and
    # break the expr/udf tie-breaking contract method='auto' relies on)
    return valid, np.sign(scores) * np.floor(np.abs(scores) * 1e9 + 0.5) / 1e9


def assign_cell_udf(centroids: list, vec_col: str = "embedding"):
    """Arrow-batched coarse-quantizer assignment for LARGE centroid sets.

    ``assign_cell_expr`` literal-encodes every centroid into the plan —
    fine to a few hundred, but plan size and per-row interpreted
    evaluation make it the wrong shape for IVF with thousands of cells.
    This path broadcasts the centroid matrix once per executor and
    assigns whole Arrow batches with one numpy matmul (batch x dim @
    dim x k): still a narrow scan, no shuffle. Tie-breaking matches
    ``assign_cell_expr`` exactly: scores round to 9 decimals and the
    FIRST centroid in LIST ORDER wins ties (argmax first-max == the
    expression's strict-> fold); null embeddings assign null, as the
    expression path's null score does.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cids, Cn = _centroid_matrix(centroids)

    @pandas_udf("long")
    def _assign(vecs: pd.Series) -> pd.Series:
        valid, scores = _batch_scores(vecs, Cn)
        out = np.full(len(vecs), None, dtype=object)
        if scores.shape[0]:
            out[valid] = cids[np.argmax(scores, axis=1)]
        return pd.Series(out)

    return _assign(F.col(vec_col))


def probe_cells_udf(centroids: list, nprobe: int, vec_col: str = "embedding"):
    """Arrow-batched twin of ``probe_cells_expr`` for LARGE centroid sets
    (the query side literal-encodes centroids too — at thousands of
    cells the probe plan needs the same broadcast-matrix treatment as
    assignment). Ordering matches the expression: score desc, cid asc;
    null embeddings probe nothing (null)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cids, Cn = _centroid_matrix(centroids)
    # pre-sort by cid so a stable descending-score argsort breaks score
    # ties by ascending cid, like probe_cells_expr's comparator
    order = np.argsort(cids, kind="stable")
    cids_s, Cn_s = cids[order], Cn[order]

    @pandas_udf("array<long>")
    def _probe(vecs: pd.Series) -> pd.Series:
        valid, scores = _batch_scores(vecs, Cn_s)
        out = np.full(len(vecs), None, dtype=object)
        if scores.shape[0]:
            top = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
            # elementwise: a masked assignment of a list-of-lists would
            # be coerced to a 2-D array and rejected
            for j, row in zip(np.flatnonzero(valid), top):
                out[j] = cids_s[row].tolist()
        return pd.Series(out)

    return _probe(F.col(vec_col))


def train_centroids(
    df: DataFrame,
    n_centroids: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 10,
    sample: int = 100_000,
) -> list:
    """Deterministic k-means coarse quantizer trained on a driver-side
    sample (standard IVF practice — the quantizer needs only a sketch of
    the distribution, never the full corpus). Init = lowest-id vectors of
    the sample; fixed iteration count; float64 accumulation. Returns
    [(cid, center)].

    Sampling is a deterministic hash filter (xxhash64(id) mod k), NOT a
    global orderBy — a full sort of a 100 TB corpus just to take 100k
    rows would be the dominant cost. The filter is a narrow scan; the
    driver holds only ``sample`` vectors (document the memory bound:
    sample x dim x 8 bytes).
    """
    import numpy as np

    from pyspark.sql import functions as F2

    # NULL embeddings never train (every other operator excludes them
    # too); one bad row must not crash the driver-side np.array below
    pool = df.filter(F2.col(vec_col).isNotNull()).select(id_col, vec_col)
    n = pool.count()
    # choose modulus so the expected pass-through is ~`sample` rows
    mod = max(1, n // max(sample, 1))
    sampled = pool
    if mod > 1:
        sampled = sampled.filter(
            F2.pmod(F2.xxhash64(F2.col(id_col)), F2.lit(mod)) == 0
        )
    # in-partition-stable small sort of the SAMPLE only (<= ~sample rows),
    # for deterministic init regardless of partitioning
    rows = sampled.orderBy(id_col).limit(sample).collect()
    if not rows:
        return []
    # wrong-length / null-element vectors would make np.array ragged and
    # raise — drop them against the sample's modal dimension
    # x != x catches NaN: one NaN element would make its centroid mean
    # all-NaN, and at assignment time a NaN score compares GREATER than
    # every real score (Spark nanSafeCompare), collapsing the whole
    # corpus into that centroid's cell — the single-cell O(n^2) shape
    vec_lists = [
        r[vec_col]
        for r in rows
        if r[vec_col] is not None
        and not any(x is None or x != x for x in r[vec_col])
        # zero vectors train nothing (no direction) and a zero INIT
        # seed would become a zero centroid, whose norm-0 score is an
        # ANSI DivideByZero at assignment time
        and any(x != 0 for x in r[vec_col])
    ]
    if not vec_lists:
        return []
    from collections import Counter

    dim = Counter(len(v) for v in vec_lists).most_common(1)[0][0]
    vec_lists = [v for v in vec_lists if len(v) == dim]
    X = np.array(vec_lists, dtype=np.float64)
    k = min(n_centroids, len(X))
    C = X[:k].copy()
    # X is constant across iterations; only C (and Cn) changes
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        # cosine assignment
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        cells = np.argmax(Xn @ Cn.T, axis=1)
        for c in range(k):
            members = X[cells == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return [(i, C[i].tolist()) for i in range(k)]


#: above this many centroids the literal-encoded assignment expression
#: is replaced by the broadcast-matrix Arrow path (plan size + per-row
#: interpreted cost grow linearly with the literal count)
ASSIGN_EXPR_MAX_CENTROIDS = 256


def _use_udf(centroids: list, method: str) -> bool:
    if method not in ("auto", "expr", "udf"):
        raise ValueError(f"method must be auto/expr/udf, got {method!r}")
    return method == "udf" or (
        method == "auto" and len(centroids) > ASSIGN_EXPR_MAX_CENTROIDS
    )


def _assign_cell(vec_col: str, centroids: list, method: str = "auto"):
    if _use_udf(centroids, method):
        return assign_cell_udf(centroids, vec_col)
    return assign_cell_expr(vec_col, centroids)


def _probe_cells(vec_col: str, centroids: list, nprobe: int, method: str):
    if _use_udf(centroids, method):
        return probe_cells_udf(centroids, nprobe, vec_col)
    return probe_cells_expr(vec_col, centroids, nprobe)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """IVF approximate top-k: corpus rows are assigned to their nearest
    centroid's cell (narrow scan); each query probes its ``nprobe``
    nearest cells and exactly rescores only those candidates.

    Scale path: persist the corpus partitioned/bucketed by ``cell`` so a
    query's probe set prunes to nprobe/n_centroids of the data at the
    file level; the per-query candidate join stays broadcast as long as
    the query batch is small. Returns (query_id, neighbor_id, score,
    rank) — ANN, not guaranteed equal to brute force."""
    corp = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _assign_cell(vec_col, centroids, method).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(
            _probe_cells(vec_col, centroids, nprobe, method)
        ).alias("cell"),
    )
    scored = corp.join(F.broadcast(q), "cell").select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity_expr(F.col("qvec"), F.col("cvec")), 6).alias(
            "score"
        ),
    )
    return _rank_topk(scored, k)


def write_ivf_layout(
    df: DataFrame,
    centroids: list,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    method: str = "auto",
) -> None:
    """Persist the corpus hive-partitioned by IVF cell.

    THE 100 TB layout: cell assignment is a narrow scan (no shuffle
    beyond the write), and ``cell=N/`` directories make the probe-side
    join prunable at the FILE level — a query batch probing nprobe of
    n_centroids cells reads nprobe/n_centroids of the data, enforced by
    dynamic partition pruning, not just a post-scan filter. Past
    ``ASSIGN_EXPR_MAX_CENTROIDS`` cells the assignment switches to the
    broadcast-matrix Arrow path automatically (``method='auto'``)."""
    corp = df.select(
        F.col(id_col),
        F.col(vec_col),
        _assign_cell(vec_col, centroids, method).alias("cell"),
    )
    corp.write.mode(mode).partitionBy("cell").parquet(path)


def ivf_topk_from_layout(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """IVF top-k over a ``write_ivf_layout`` corpus: the broadcast
    probe-cell join triggers dynamic partition pruning on the ``cell``
    partition column, so unprobed cells' files are never read (verify
    with ``dynamicpruning`` in ``.explain``)."""
    corp = spark.read.parquet(path).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(
            _probe_cells(vec_col, centroids, nprobe, method)
        ).alias("cell"),
    )
    scored = corp.join(F.broadcast(q), "cell").select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_similarity_expr(F.col("qvec"), F.col("cvec")), 6
        ).alias("score"),
    )
    return _rank_topk(scored, k)


def auto_lsh_bits(
    n_rows: int, target_bucket: int = 128, lo: int = 4, hi: int = 16
) -> int:
    """Hyperplane count sized to the corpus: 2^bits buckets such that an
    average bucket holds ~``target_bucket`` rows.

    With FIXED bits the per-bucket candidate-pair volume grows as
    (n/2^bits)^2 — quadratic in n — which is exactly the super-linear
    cliff a 10x soak exposes (16 buckets over 20k vectors = ~1.2k rows
    per bucket per table). Scaling bits with log2(n/target) keeps bucket
    occupancy — and therefore pairs-per-row — constant as the corpus
    grows. The recall trade-off is the standard LSH one: for true
    near-duplicates (cos >= ~0.95, collision prob per bit ~0.93) even 16
    bits retains high per-table recall, and ``tables`` OR-amplifies it.
    """
    import math

    if n_rows <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket))))


def cosine_near_dup(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "exact",
    dim: int = 64,
    bits: int | None = None,
    tables: int = 4,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a < id_b, cosine >= threshold).

    ``mode='exact'`` scores all pairs — the correctness baseline, O(n^2).
    ``mode='lsh'`` is the scale path: only pairs sharing a random-
    hyperplane bucket in any of ``tables`` hash tables are scored, so
    candidate volume is ~n^2/2^bits per table; output is a (deterministic)
    subset of the exact result. ``bits=None`` sizes the table from the
    corpus row count (one count() job) via :func:`auto_lsh_bits`, keeping
    bucket occupancy constant as the corpus grows — at a fixed ``bits``
    the candidate volume is quadratic in n.

    PAIR OUTPUT IS A DIAGNOSTIC: even with healthy buckets, emitted
    pairs are quadratic in duplicate-CLIQUE size (k copies -> k(k-1)/2
    rows), so on a large corpus with big cliques this is the slowest
    operator in the family (sf10 soak: 158-378s vs 16-27s for the
    witness twin). For production dedup semantics — one row per
    duplicate document — use :func:`cosine_near_dup_witness` (linear
    output, same bucketing)."""
    # norms are hoisted to per-ROW columns before the pair join: scoring
    # recomputed both norms per candidate PAIR (the dominant cost of the
    # lsh path — candidate volume x two 64-element reductions), while
    # dot/(na*nb) is the bit-identical arithmetic (same sqrt values,
    # same division) at one norm per row. Sides are filtered on the RAW
    # column to usable vectors (no NULL/NaN element, not all-zero):
    # exact mode previously relied on NULL/NaN cos dropping at the
    # threshold filter, but a ZERO vector's 0/0 is an ANSI DivideByZero
    # that kills the job, and the raw-column filter pushes to the scan
    # either way. Exact mode deliberately does NOT require size == dim:
    # it never did (the 'scores all pairs' baseline works on any
    # uniform dimension without the caller passing dim), and mismatched-
    # length pairs still drop via their NULL zip_with dot — only the
    # lsh path's banding contract needs the size clause.
    vec = F.col(vec_col)
    valid = _usable_vec(vec)
    if mode != "exact":
        valid = valid & (F.size(vec) == dim)
    a = df.filter(valid).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm_expr(F.col(vec_col)).alias("na"),
    )
    b = df.filter(valid).select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm_expr(F.col(vec_col)).alias("nb"),
    )
    if mode == "exact":
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        if bits is None:
            # the one eager job this builder runs, and only on the lsh
            # path that needs the row count to size the tables. Count
            # the VALID population (null / wrong-dim rows never bucket):
            # raw counting over-sizes bits when many embeddings are
            # invalid and silently undershoots the occupancy (= recall)
            # target
            bits = auto_lsh_bits(
                df.filter(F.size(F.col(vec_col)) == dim).count()
            )
        # shared banding projection (_banded): one scan per side,
        # raw-column size filter, NULL buckets dropped post-explode
        pairs = (
            _banded(
                a, "id_a", "id_a", "va", "va", dim, bits, tables,
                extra=("na",),
            )
            .join(
                _banded(
                    b, "id_b", "id_b", "vb", "vb", dim, bits, tables,
                    extra=("nb",),
                ),
                ["table", "bucket"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            # payload-carrying de-dup KEPT deliberately (r15 A/B,
            # history/OPTIMIZATION_r15.md): moving it after scoring (narrow
            # HashAggregate instead of this SortAggregate of vectors)
            # measured 3x SLOWER — near-identical vectors collide in
            # ALL `tables` hash tables, so score-first multiplies the
            # dominant per-pair cost (the HOF dot) by ~tables. An
            # unrolled codegen dot was also measured and is slower
            # than the HOF dot (5.0s vs 3.2s min). A vectorized Arrow
            # dot (r16 A/B, history/AB_FINDINGS_r16.md §3, bit-identical
            # scores) is ALSO slower: post-dedup only ~2k unique pairs
            # are scored, so the Python boundary's fixed cost exceeds
            # the interpreted-dot saving.
            .dropDuplicates(["id_a", "id_b"])
        )
    return (
        # threshold on the 9-decimal rounding: keeps the boundary decision
        # reproducible across summation engines (same rationale as argmax)
        pairs.withColumn(
            "cos",
            F.round(
                dot_expr(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                9,
            ),
        )
        # ~isnan: exact mode joins RAW vectors, so a NaN-element pair
        # scores NaN — which passes >= threshold under Spark's ordering
        # (NaN compares greater than everything) and would emit a false
        # near-dup pair; the lsh path already excludes such rows via
        # NULL buckets, and the two modes must agree
        .filter(~F.isnan(F.col("cos")) & (F.col("cos") >= threshold))
        .select("id_a", "id_b", F.round("cos", 6).alias("score"))
    )


def cosine_near_dup_witness(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int | None = None,
    tables: int = 4,
) -> DataFrame:
    """Witness-bounded embedding near-dup marking: LINEAR output — the
    ``minhash_near_dup_witness`` pattern over random-hyperplane buckets.

    ``cosine_near_dup(mode='lsh')`` enumerates pairs, whose output (and
    candidate volume) is quadratic in the duplicate-CLIQUE size — a
    boilerplate embedding with 100k copies lands in one bucket and
    produces ~5e9 pairs. Here each vector is checked against at most two
    candidates per (table, bucket) — the bucket minimum id and the
    sorted-neighborhood predecessor — computed on the NARROW
    (id, table, bucket) projection; vectors are fetched afterwards by
    two id-keyed joins, so the heavy column never rides a per-bucket
    shuffle. A vector is marked when its best candidate's cosine reaches
    ``threshold``. Every member of an exact-copy clique except its
    global minimum is marked in any table where the clique shares a
    bucket. ``bits=None`` auto-sizes from the corpus count
    (:func:`auto_lsh_bits`). Compose with
    ``traject_spark.corpus.witness_clusters`` for cluster ids.

    Returns (id, witness_id, score) for marked vectors only.
    """
    from traject_spark.corpus.dedup import _witness_candidates

    # one shared valid-row projection: null / wrong-dim vectors excluded
    # on the RAW column (their bucket would be NULL -> at scale a single
    # collapsed bucket is the O(n^2) failure shape); both the banding
    # pass and the two vector fetches read it
    vecs = df.filter(F.size(F.col(vec_col)) == dim).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    if bits is None:
        # size from the VALID population — counting raw rows would
        # over-size bits when many embeddings are null/wrong-dim and
        # undershoot the occupancy (= recall) target
        bits = auto_lsh_bits(vecs.count())
    # narrow bucket projection via the shared _banded helper — which
    # also drops NULL buckets (NaN-element vectors): the window-based
    # candidate search below partitions by (table, bucket), and NULL
    # buckets would otherwise gather every invalid vector into one
    # partition and falsely pair them (their cosine is NaN, and NaN
    # compares GREATER than any threshold under Spark ordering)
    banded = _banded(vecs, "id", "id", "vec", None, dim, bits, tables)
    candidates = _witness_candidates(banded, ["table", "bucket"])
    scored = (
        candidates.join(vecs, "id")
        .join(
            vecs.select(
                F.col("id").alias("cand"), F.col("vec").alias("wvec")
            ),
            "cand",
        )
        .select(
            "id",
            F.col("cand").alias("witness_id"),
            # 9-decimal rounding for the THRESHOLD decision — the same
            # boundary rule as cosine_near_dup, so witness marking is a
            # consistent companion of the pair enumerator; 6 decimals
            # only on the reported score
            F.round(
                cosine_similarity_expr(F.col("vec"), F.col("wvec")), 9
            ).alias("cos"),
        )
    )
    best = Window.partitionBy("id").orderBy(
        F.col("cos").desc(), F.col("witness_id").asc()
    )
    return (
        scored.filter(F.col("cos") >= threshold)
        .withColumn("_rn", F.row_number().over(best))
        .filter(F.col("_rn") == 1)
        .select("id", "witness_id", F.round("cos", 6).alias("score"))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    bits: int | None = None,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane LSH candidate buckets,
    exact rescoring of candidates only. Returns (query_id, neighbor_id,
    score, rank) — an ANN result, NOT guaranteed equal to brute force.

    ``bits=None`` sizes the hash tables from the CORPUS row count (one
    count() job) via :func:`auto_lsh_bits` — the same quadratic-occupancy
    argument as ``cosine_near_dup``: at fixed bits, candidates per query
    grow linearly with corpus size (n/2^bits per bucket per table), so
    the rescoring stage degrades toward brute force as the corpus grows;
    scaling bits with log2(n/target) keeps per-query candidate volume
    constant."""
    if bits is None:
        # valid population, not raw rows — see cosine_near_dup
        bits = auto_lsh_bits(
            corpus.filter(F.size(F.col(vec_col)) == dim).count()
        )
    def with_buckets(df: DataFrame, idname: str) -> DataFrame:
        # shared banding projection (_banded): one scan, raw-column
        # size filter, NULL buckets dropped post-explode
        return _banded(
            df, id_col, idname, vec_col, f"{idname}_vec", dim, bits, tables
        )

    cb = with_buckets(corpus, "neighbor_id")
    qb = F.broadcast(with_buckets(queries, "query_id"))
    cand = (
        cb.join(qb, ["table", "bucket"])
        .select("query_id", "neighbor_id", "query_id_vec", "neighbor_id_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_similarity_expr(
                F.col("query_id_vec"), F.col("neighbor_id_vec")
            ),
            6,
        ).alias("score"),
    )
    return _rank_topk(scored, k)


def topk_recall(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Mean recall@k of an approximate retrieval against an exact one.

    Both inputs are (query_id, neighbor_id, ...) top-k frames (the
    shared _rank_topk shape). Per query: |approx ∩ truth| / |truth|;
    queries the approximate path returned NOTHING for count as recall 0
    (a left join, not inner — an ANN path that silently drops a query
    must lower the metric, not vanish from it). Returns ONE row
    (n_queries, mean_recall) — the recall gate the fixed-seed ANN
    oracle rows cannot express: a retune (e.g. auto_lsh_bits) that
    silently tanked recall would still hash-match its own changed
    candidate set on re-lock, but not this.

    Scale: both sides are top-k outputs (rows = queries x k, never
    corpus-sized); the join keys on (query_id, neighbor_id) and the
    aggregate is one narrow pass.
    """
    t = truth.select("query_id", "neighbor_id")
    a = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    ).dropDuplicates(["query_id", "neighbor_id"])
    per_q = (
        t.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                / F.count(F.lit(1))
            ).alias("recall")
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.avg("recall").alias("mean_recall"),
    )
