"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: the exactness baseline. The (small) query set is
  broadcast; the corpus side is a narrow scan computing cosine per row,
  then a per-query top-k via window rank. Shuffle = one repartition by
  query id of (corpus_rows x n_queries) scored rows — at 100 TB, bound
  n_queries or use the IVF path.
- ``ivf_topk`` / ``write_ivf_layout`` + ``ivf_topk_from_layout``: the
  scale path. A coarse quantizer assigns every corpus row to a cell;
  each query probes its ``nprobe`` nearest cells and rescores only
  those rows exactly.
- ``cosine_near_dup``: exact embedding near-dup pairs, the O(n^2)
  correctness baseline; ``cosine_near_dup_witness`` is the linear
  production form over random-hyperplane buckets.

The hyperplane bucket kernel is SQL text; centroid assignment and probe
score whole Arrow batches against a broadcast numpy centroid matrix.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from traject_spark.arrowutil import release_spark_zip_finders
from traject_spark.expr import let2


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
    the bucket kernel adds ``size == dim`` in :func:`_valid_sql`, the
    Arrow centroid scorers in :func:`_batch_scores`."""
    return (
        vec.isNotNull()
        & ~F.exists(vec, lambda x: x.isNull() | F.isnan(x))
        & F.exists(vec, lambda x: x != 0)
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE per-query top-k tail shared by every retrieval operator
    (brute force, IVF, IVF-from-layout): window rank over
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
    exactness baseline the ANN variants are measured against; the IVF
    paths already exclude the same rows via NULL cells).
    All-zero vectors are excluded too: their cosine is 0/0, a
    job-killing ANSI DivideByZero, not a score. Like
    ``cosine_near_dup``, no dimension parameter is required — but a
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
    """Random-hyperplane signature of ``vec_sql`` for hash table
    ``table``: bucket id from ``bits`` sign bits (bit b set when the
    projection on hyperplane b is >= 0).

    NULL for an unusable vector (:func:`_valid_sql`): NULL, wrong
    length, a NULL or NaN element, or all zeros. zip_with pads a shorter
    vector with nulls, so without the guard every mismatched row would
    take the 0 branch on every bit and the corpus would collapse into
    bucket 0 — the full O(n^2) cross join with no error. Callers drop
    NULL buckets; an unusable vector is therefore EXCLUDED, visible in
    result counts rather than in runtime blowup."""
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


def _banded(vecs: DataFrame, dim: int, bits: int, tables: int) -> DataFrame:
    """(id, vec) -> (id, table, bucket) rows: the hyperplane banding
    projection of ``cosine_near_dup_witness``.

    - ONE scan: all table buckets computed in a single select then
      exploded (a per-table union would read the corpus ``tables``
      times — 4x the I/O at 100 TB for the same rows).
    - wrong-dim vectors are filtered on the RAW column (pushes to the
      scan; filtering the computed bucket would re-evaluate the
      hyperplane projections for the predicate).
    - NULL buckets (NaN/null-element vectors that pass the size guard)
      are dropped AFTER the explode — the filter references the
      generator's output attribute, so nothing re-evaluates. The
      witness's per-bucket window MUST not see them, or every invalid
      vector lands in one (table, NULL) window partition and gets
      falsely paired.
    """
    # the whole (table, bucket) struct array rides in ONE SQL
    # expression — tables x bits x dim literal hyperplanes as a single
    # Py4J call (see the note above _arr_sql)
    tb_sql = "array(" + ",".join(
        f"named_struct('table', {t}, 'bucket', "
        f"{_signs_sql('vec', dim, bits, t)})"
        for t in range(tables)
    ) + ")"
    return (
        vecs.filter(F.size(F.col("vec")) == dim)
        .select("id", F.explode(F.expr(tb_sql)).alias("tb"))
        .select("id", "tb.table", "tb.bucket")
        .filter(F.col("bucket").isNotNull())
    )


# --- the bucket kernel's SQL pieces ---------------------------------------
#
# A Column tree for vector scoring has hundreds of nodes (64-dim
# literals x hyperplanes x HOF lambdas), and EVERY node is a Py4J round
# trip: r9 profiling measured a Column-built pair scorer's driver-side
# BUILD at 3.5s (7.2k Py4J commands) against 2.6s of actual execution
# at sf0.1, with _create_lambda alone at 1.2s. _signs_sql is therefore
# written once, as SQL text (one round trip, the JVM parses). Its
# buckets are pinned by tests/data/corpus_kernel_goldens.json, recorded
# when it still had a Column twin.


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


def _valid_sql(vec_sql: str, dim: int) -> str:
    """True iff the vector is usable: right length, no NULL or NaN
    elements (either makes every projection NULL/NaN), and at least
    one nonzero element — a zero vector has no direction. The Arrow
    centroid scorers (:func:`_batch_scores`) apply the same rule."""
    return (
        f"((size({vec_sql}) = {int(dim)}) AND NOT exists({vec_sql}, "
        f"x -> (x IS NULL) OR isnan(x)) AND exists({vec_sql}, "
        f"x -> x != 0))"
    )


def _centroid_matrix(centroids: list):
    import numpy as np

    # ascending cid: np.argmax keeps the FIRST max, so row order is the
    # assignment tie-break — ties go to the lowest centroid id for ANY
    # caller-supplied list order
    centroids = sorted(centroids, key=lambda c: int(c[0]))
    for cid, cvec in centroids:
        # build-time guards: a NaN coordinate scores NaN against every
        # row, and a zero centroid has no direction (train_centroids
        # never emits either; a user-supplied list might)
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
    """(valid_mask, scores) for one Arrow batch. Unusable embeddings
    (:func:`_valid_sql`'s rule: NULL, wrong length, a NULL or NaN
    element, all zeros) are masked out instead of crashing the task —
    np.array over a ragged list raises, and one malformed vector must
    not kill the job; their cell is NULL."""
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
    # 9 decimals HALF_UP, like SQL round (np.round is half-EVEN): the
    # argmax must not hinge on the last ulp, and a score landing exactly
    # on the midpoint rounds the way the cell goldens were recorded
    return valid, np.sign(scores) * np.floor(np.abs(scores) * 1e9 + 0.5) / 1e9


def assign_cell_udf(centroids: list, vec_col: str = "embedding"):
    """Coarse-quantizer assignment of the vector column ``vec_col``: id
    of the nearest centroid by cosine, ties -> lowest centroid id.

    The centroid matrix is broadcast once per executor and whole Arrow
    batches are assigned with one numpy matmul (batch x dim @ dim x k):
    a narrow scan, no shuffle. Scores round to 9 decimals before the
    argmax. Unusable embeddings assign NULL — not the first cell, where
    every invalid row would pile into one skewed cell.

    Measured against the SQL-text form it replaced (per-centroid cosine
    literals in one expression), assigning 2,000 64-dim embeddings on 4
    cores, median of 7 interleaved runs: 0.35 s vs 1.71 s at 64
    centroids, 0.30 s vs 6.29 s at 256, 0.49 s vs 30.3 s at 1,024,
    identical cells.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cids, Cn = _centroid_matrix(centroids)

    @pandas_udf("long")
    def _assign(vecs: pd.Series) -> pd.Series:
        release_spark_zip_finders()
        valid, scores = _batch_scores(vecs, Cn)
        out = np.full(len(vecs), None, dtype=object)
        if scores.shape[0]:
            out[valid] = cids[np.argmax(scores, axis=1)]
        return pd.Series(out)

    return _assign(F.col(vec_col))


def probe_cells_udf(centroids: list, nprobe: int, vec_col: str = "embedding"):
    """The ``nprobe`` nearest centroid ids of the vector column
    ``vec_col``, ordered by score desc, cid asc; the same broadcast
    matrix and batch scoring as :func:`assign_cell_udf`. Unusable
    embeddings probe nothing (NULL)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # rows in ascending cid order: a stable descending-score argsort
    # breaks score ties by ascending cid
    cids_s, Cn_s = _centroid_matrix(centroids)

    @pandas_udf("array<long>")
    def _probe(vecs: pd.Series) -> pd.Series:
        release_spark_zip_finders()
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


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
        assign_cell_udf(centroids, vec_col).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(
            probe_cells_udf(centroids, nprobe, vec_col)
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
) -> None:
    """Persist the corpus hive-partitioned by IVF cell.

    THE 100 TB layout: cell assignment is a narrow scan (no shuffle
    beyond the write), and ``cell=N/`` directories make the probe-side
    join prunable at the FILE level — a query batch probing nprobe of
    n_centroids cells reads nprobe/n_centroids of the data, enforced by
    dynamic partition pruning, not just a post-scan filter."""
    corp = df.select(
        F.col(id_col),
        F.col(vec_col),
        assign_cell_udf(centroids, vec_col).alias("cell"),
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
            probe_cells_udf(centroids, nprobe, vec_col)
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
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a < id_b, cosine >= threshold)
    over ALL pairs — the exact correctness baseline, O(n^2).

    Pair output is quadratic in duplicate-CLIQUE size too (k copies ->
    k(k-1)/2 rows). For production dedup semantics — one row per
    duplicate document, linear output over random-hyperplane buckets —
    use :func:`cosine_near_dup_witness`."""
    # norms are hoisted to per-ROW columns before the pair join:
    # dot/(na*nb) is the bit-identical arithmetic at one norm per row
    # instead of two per candidate pair. Sides are filtered on the RAW
    # column to usable vectors (no NULL/NaN element, not all-zero): a
    # ZERO vector's 0/0 is an ANSI DivideByZero that kills the job, and
    # the raw-column filter pushes to the scan. No size == dim clause:
    # the baseline works on any uniform dimension without the caller
    # passing one, and mismatched-length pairs drop via their NULL
    # zip_with dot.
    valid = _usable_vec(F.col(vec_col))
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
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        # threshold on the 9-decimal rounding: keeps the boundary decision
        # reproducible across summation engines (same rationale as argmax)
        .withColumn(
            "cos",
            F.round(
                dot_expr(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                9,
            ),
        )
        # ~isnan: an infinite element scores inf/inf = NaN, which passes
        # >= threshold under Spark's ordering (NaN compares greater than
        # everything) and would emit a false near-dup pair
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

    Pair enumeration (``cosine_near_dup``) is quadratic in the
    duplicate-CLIQUE size — a boilerplate embedding with 100k copies
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
    banded = _banded(vecs, dim, bits, tables)
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
            # consistent companion of the exact baseline; 6 decimals
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


def topk_recall(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Mean recall@k of an approximate retrieval against an exact one.

    Both inputs are (query_id, neighbor_id, ...) top-k frames (the
    shared _rank_topk shape). Per query: |approx ∩ truth| / |truth|;
    queries the approximate path returned NOTHING for count as recall 0
    (a left join, not inner — an ANN path that silently drops a query
    must lower the metric, not vanish from it). Returns ONE row
    (n_queries, mean_recall) — the recall gate the fixed-seed ANN
    oracle rows cannot express: a retune (e.g. nprobe) that
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
