"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard.

Scale design (the 100 TB story):
- ``exact_dedup``: ONE hash-aggregate shuffle keyed on a 128-bit md5
  fingerprint; with AQE on, skewed fingerprints (boilerplate dups) are
  split at runtime. Output is the canonical-survivor mapping.
- MinHash: signatures are computed narrowly per row (xxhash64 with k
  seeds over shingles — no UDF); LSH banding explodes each row into
  ``bands`` rows and self-joins on (band, band_hash) buckets, so shuffle
  volume is rows x bands, never the n^2 pair space.
- ``ngram_jaccard_pairs``: exact Jaccard on shingle sets for a bounded
  candidate pair set — the verifier stage after LSH, not a full cross
  product.

Pair-output caveat: every PAIRWISE near-dup operator's output (and its
candidate volume) is inherently quadratic in the duplicate-CLIQUE size —
a boilerplate document with 100k copies contributes ~5e9 pairs no matter
how good the bucketing is. That is a property of the pair semantics, not
of the plan. At corpus scale, bound the output instead of enumerating
it: dedup via the survivor mapping (``exact_dedup``/``apply_dedup`` for
exact cliques), or aggregate candidates to one witness per document
(min-id neighbor) before materializing, and treat full pair enumeration
as a per-bucket diagnostic.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from traject_spark.expr import sql_let
from traject_spark.corpus.textstats import _FINGERPRINT
from traject_spark.sqlutil import SessionFunction, sql_ref


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Group by content fingerprint; keep the min-id row as survivor.

    Returns (fingerprint, keep_id, n_docs) — use n_docs>1 to audit
    duplicate clusters. To FILTER the corpus, use ``apply_exact_dedup``
    (one shuffle, no join back): joining this result back on fingerprint
    would silently drop every NULL-text row, whose fingerprint is NULL
    and never equality-joins.

    NULL-text rows are NOT duplicates of each other: their fingerprint
    is null, and a plain groupBy would collapse them into one cluster —
    they group under a per-row key instead, each its own 1-doc cluster.
    """
    fp = _FINGERPRINT(
        F.col(text_col), F.lit(bool(normalize)), spark=df.sparkSession
    )
    # fingerprint is RECOVERED from the group key instead of aggregated
    # (r15): _gk equals the fingerprint for every non-null-text row and
    # the \x00-prefixed sentinel otherwise, so min(fingerprint) carried
    # no information — and min over a STRING has no mutable hash-agg
    # buffer, forcing the whole aggregate to the sort-based fallback
    # (plan was Sort + SortAggregate on both sides of the exchange;
    # now a HashAggregate over an all-primitive buffer). Output
    # identical: non-sentinel groups have fingerprint == _gk, sentinel
    # groups are single null-text rows whose fingerprint is NULL.
    return (
        df.select(
            _null_safe_group_key(fp, id_col).alias("_gk"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("_gk")
        .agg(
            F.min("_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            F.when(
                ~F.col("_gk").startswith("\x00null:"), F.col("_gk")
            ).alias("fingerprint"),
            "keep_id",
            "n_docs",
        )
    )


def _null_safe_group_key(fp: Column, id_col: str) -> Column:
    """fingerprint, or a per-row unique sentinel when it is null (so
    null-text rows never merge). \\x00 prefix cannot collide with md5
    hex output."""
    return F.coalesce(
        fp, F.concat(F.lit("\x00null:"), F.col(id_col).cast("string"))
    )


def apply_exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    fp_col: Optional[str] = None,
) -> DataFrame:
    """The corpus with duplicates removed: one survivor (min id) per
    content fingerprint.

    A window rank over the fingerprint partition — the same single
    shuffle as ``exact_dedup``'s aggregate, with no second join back, so
    at 100 TB the cost stays one hash-partitioned pass. AQE splits skewed
    fingerprints (boilerplate dups) at runtime.

    ``fp_col``: name of a PRECOMPUTED fingerprint column (the ``sig_col``
    convention used throughout this module) — pass it when the
    fingerprint is already materialized (e.g. the curation recipe's
    annotate stage) so it isn't recomputed from text here.
    """
    fp = (
        F.col(fp_col)
        if fp_col
        else _FINGERPRINT(
            F.col(text_col), F.lit(bool(normalize)), spark=df.sparkSession
        )
    )
    w = Window.partitionBy(
        _null_safe_group_key(fp, id_col)
    ).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: distinct word ``ngram``-gram shingles of ``text``, as SQL text over
#: the two parameter names
_SHINGLES_SQL = "CASE WHEN text IS NOT NULL THEN " + sql_let(
    "split(text, ' ')",
    "tk",
    "array_distinct(CASE WHEN size(tk) >= ngram THEN "
    "transform(sequence(0, size(tk) - ngram), "
    "i -> array_join(slice(tk, i + 1, ngram), ' ')) "
    "ELSE array(array_join(tk, ' ')) END)",
) + " END"

_SHINGLES = SessionFunction(
    "traject_shingles", "text STRING, ngram INT", _SHINGLES_SQL
)


def shingles_expr(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings (distinct). NULL text -> NULL
    (NOT ``[null]`` — that constant would make every NULL-text document
    hash identically and form one giant false near-dup clique, the exact
    quadratic blowup the module docstring warns about; the same invariant
    exact_dedup enforces via its null-safe group key). Empty text keeps
    its ``[""]`` shingle: empty documents ARE duplicates of each other,
    consistent with exact_dedup merging them."""
    return _SHINGLES(text, int(n))


def _minhash_fn(num_hashes: int) -> SessionFunction:
    """The ``num_hashes``-seed signature function: per seed, the min
    xxhash64 over the shingle array (one session function per width)."""
    num_hashes = int(num_hashes)
    mins = ", ".join(
        f"array_min(transform(sh, s -> xxhash64(s, {seed})))"
        for seed in range(num_hashes)
    )
    return SessionFunction(
        f"traject_minhash_{num_hashes}",
        "text STRING, ngram INT",
        sql_let(
            _SHINGLES_SQL,
            "sh",
            f"CASE WHEN sh IS NOT NULL THEN array({mins}) END",
        ),
    )


def minhash_signature_expr(
    text: Column | str, num_hashes: int = 64, ngram: int = 3
) -> Column:
    """array<bigint> MinHash signature: per seed, min over shingle hashes.

    xxhash64(shingle, seed) is a JVM built-in — the whole signature is
    narrow array algebra, no UDF, no shuffle. ``text`` is a Column or a
    column name (read as ``F.col(name)`` reads it, so nested fields
    resolve).

    NULL text -> NULL signature (not an array OF nulls, whose band hashes
    would still collide into one constant bucket); the pair operators
    exclude NULL signatures from candidate generation.
    """
    return _minhash_fn(num_hashes)(text, int(ngram))


def _check_bands(num_hashes: int, bands: int) -> None:
    if not 1 <= bands <= num_hashes or num_hashes % bands:
        # bands > num_hashes would make every band hash an empty slice
        # (one constant bucket = the full O(n^2) cross join this module
        # exists to avoid); a non-dividing count silently ignores the
        # tail hashes
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, "
            f"num_hashes={num_hashes})"
        )


def _signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    ngram: int,
    sig_col: Optional[str] = None,
) -> DataFrame:
    """(id, sig), NULL signatures excluded: a NULL-text document is not a
    near-duplicate of anything, so it never enters candidate generation.

    ``sig_col`` uses a precomputed ``array<bigint>`` signature column
    instead of recomputing from text — at scale, materialize the narrow
    (id, sig) projection FIRST (parquet/table) and pass it here.

    Text-path materialization (r15): every caller of the text path
    consumes the signature frame MORE THAN ONCE (banding side + join
    fetches, or both sides of the band self-join), and an unmaterialized
    signature expression re-runs tokenize + shingle + num_hashes
    xxhash64 passes per consumer. The computed narrow (id, sig) frame is
    therefore ``localCheckpoint``-ed (LAZY as of r16 — no job at
    builder time; executor memory+disk at first action; recomputed fresh
    on every invocation — in-query reuse, not a cache across runs; see
    :func:`_checkpoint_sigs` for the executor-loss failure mode and the
    size warning). Isolated bench: dedup_witness_clusters 4.54 → 3.68s,
    dedup_minhash_lsh 3.59 → 3.32s (history/OPTIMIZATION_r15.md). The
    explicit ``sig_col`` path stays the durable-storage posture for clusters
    where executor-local checkpoint storage is not wanted."""
    # filter on the RAW column, never on the computed signature: a filter
    # over the aliased expression re-evaluates the whole signature tree
    # for the predicate (measured 2x the scan cost). The expression's
    # signature is NULL iff text is NULL, so the raw filter is equivalent
    # — and it pushes down to the parquet scan.
    if sig_col:
        return df.filter(F.col(sig_col).isNotNull()).select(
            F.col(id_col).alias("id"), F.col(sig_col).alias("sig")
        )
    return _checkpoint_sigs(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            _minhash_fn(num_hashes)(
                F.col(text_col), F.lit(ngram), spark=df.sparkSession
            ).alias("sig"),
        )
    )


#: estimated-input threshold for the signature-checkpoint warning below;
#: past this, executor memory+disk storage of the (id, sig) frame is a
#: real §5 pressure and the precomputed sig_col posture is the answer
_SIG_CHECKPOINT_WARN_BYTES = 32 << 30


def _checkpoint_sigs(sig: DataFrame) -> DataFrame:
    """In-query materialization of the computed (id, sig) frame of the
    MinHash text path.

    ``localCheckpoint(eager=False)``: the builder stays LAZY (no Spark
    job at DataFrame-construction time — constructing a query must not
    run one; ADVICE r15), the blocks materialize at the first action and
    every consumer in that query reads them. Failure mode, documented:
    local checkpoint blocks live only in executor storage — an executor
    loss (decommission, spot kill) after materialization and before the
    consumers finish fails the query unrecoverably; clusters that cannot
    tolerate that should precompute the signature column (``sig_col``),
    the durable posture. A size-aware warning (the ISO-2709 splitter
    pattern) fires when the OPTIMIZER'S input estimate exceeds
    ``_SIG_CHECKPOINT_WARN_BYTES`` — driver-side metadata only, no job.
    An input without statistics (``createDataFrame``, an RDD) reports
    Spark's default size, Long.MaxValue; that is no estimate, so it
    does not warn."""
    try:
        plan = sig._jdf.queryExecution().optimizedPlan()
        unknown = sig.sparkSession._jsparkSession.sessionState().conf() \
            .defaultSizeInBytes()
        leaves = plan.collectLeaves()
        est = int(plan.stats().sizeInBytes())
        if any(
            int(leaves.apply(i).stats().sizeInBytes()) >= unknown
            for i in range(leaves.size())
        ):
            est = None
    except Exception:
        est = None
    if est is not None and est > _SIG_CHECKPOINT_WARN_BYTES:
        import warnings

        warnings.warn(
            f"in-query signature checkpoint over an estimated {est >> 30} GiB "
            "input: localCheckpoint stores the (id, sig) frame in executor "
            "memory+disk and is lost on executor failure. At this scale, "
            "materialize the signature column once (parquet/table) and pass "
            "sig_col= instead.",
            UserWarning,
            stacklevel=3,
        )
    return sig.localCheckpoint(eager=False)


def _band_explode(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig) -> one row per (id, sig, band, band_hash)."""
    rows = num_hashes // bands
    return sig.selectExpr(
        "id",
        "sig",
        f"inline(transform(sequence(0, {bands - 1}), b -> named_struct("
        "'band', b, 'band_hash', xxhash64(array_join(transform("
        f"slice(sig, b * {rows} + 1, {rows}), x -> CAST(x AS STRING)), ','))"
        ")))",
    )


def _sig_agreement(a: str, b: str, num_hashes: int) -> Column:
    """Estimated Jaccard: fraction of agreeing positions of the
    signature columns named ``a`` and ``b``."""
    return F.expr(
        f"round(size(filter(zip_with({sql_ref(a)}, {sql_ref(b)}, "
        "(x, y) -> x = y), "
        f"e -> e)) / {float(num_hashes)!r}D, 4)"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    sig_col: Optional[str] = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    rows -> (id, signature) -> explode to ``bands`` band-hash rows ->
    self-join per (band, band_hash) bucket -> distinct (a < b) pairs with
    estimated Jaccard (signature agreement fraction).

    ``sig_col``: precomputed ``array<bigint>`` signature column (see
    ``_signatures`` — materialize signatures first at scale, or the
    signature expression is recomputed on both sides of the self-join).
    NULL-text / NULL-signature rows never pair.
    """
    _check_bands(num_hashes, bands)
    banded = _band_explode(
        _signatures(df, text_col, id_col, num_hashes, ngram, sig_col),
        num_hashes,
        bands,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # NOTE (r15): scoring BEFORE the multi-band de-dup (to turn the
    # payload-carrying SortAggregate into a narrow HashAggregate) was
    # measured and REJECTED: true duplicates collide in every band, so
    # score-first multiplies the per-pair agreement computation by up to
    # ``bands`` — the same failure mode measured at 3x for the cosine
    # path (history/OPTIMIZATION_r15.md, embed_near_dup_lsh). De-dup the
    # candidate rows first, score each surviving pair once.
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.select(
        "id_a",
        "id_b",
        _sig_agreement("sig_a", "sig_b", num_hashes).alias("est_jaccard"),
    )


def _witness_candidates(
    banded_ids: DataFrame, bucket_cols: list
) -> DataFrame:
    """(id, *bucket_cols) -> deduped (id, cand) witness candidates:
    per-bucket minimum id + sorted-neighborhood predecessor id.

    The shared skew-aware core of both ``*_near_dup_witness`` operators
    (MinHash bands, cosine hyperplane buckets): BOTH candidate kinds
    come out of a single per-bucket window over the NARROW id
    projection (r15, guide §2.4: operations keyed the same way share
    one exchange) — over a window ordered by id, the running ``first``
    IS the bucket minimum (the first row of an ascending sort) and
    ``lag`` is the sorted-neighborhood predecessor. The previous formulation computed minima
    via groupBy + join-back plus a separate window: three full shuffles
    of the banded rows where one suffices (measured plan: 4 Exchange ->
    2, the survivor being this window plus the narrow candidate de-dup).
    Signatures/vectors never ride through the per-bucket shuffle (a
    100k-row bucket of ~16-byte rows sorts in milliseconds); callers
    fetch them afterwards by id-keyed joins. At most two candidates per
    (row, bucket), so candidate volume is linear in rows x buckets
    regardless of duplicate-clique size.

    Skew posture (ADVICE r15, explicit): the r15 fusion traded the old
    hash-aggregate bucket minima (map-side partial aggregation — immune
    to a single giant bucket) for this one window sort, so a
    pathological bucket — a giant duplicate clique, or a degenerate
    banding constant — now sorts entirely in ONE task. The rows are
    ~16 bytes, so even a 100M-row bucket is ~1.6 GB in one task's sort
    (spillable) — slow but not fatal; the measured win on healthy
    distributions was 7 -> 5 Exchange / 3 -> 1 banded-side scans per
    witness operator. Escape hatch for adversarial distributions: cap
    or split hot buckets upstream by salting the banding input (e.g.
    extend bucket_cols with ``pmod(xxhash64(id), k)`` for the known-hot
    band values — each salt shard still yields a valid minimum +
    predecessor, at the cost of up to 2*k candidates per row in that
    bucket; recall is unaffected because every shard still offers a
    clique candidate)."""
    w = Window.partitionBy(*bucket_cols).orderBy("id")
    return (
        banded_ids.select(
            "id",
            # ids are unique within a bucket, so lag < id strictly and
            # first == id exactly for the bucket-minimum row itself —
            # the cand < id filter reproduces the old min_cands filter
            F.array(F.first("id").over(w), F.lag("id").over(w)).alias(
                "_cands"
            ),
        )
        .select("id", F.explode("_cands").alias("cand"))
        .filter(F.col("cand").isNotNull() & (F.col("cand") < F.col("id")))
        .dropDuplicates(["id", "cand"])
    )


def minhash_near_dup_witness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    min_est: float = 0.8,
    sig_col: Optional[str] = None,
    verify: bool = False,
    min_jaccard: Optional[float] = None,
) -> DataFrame:
    """Witness-bounded near-dup marking: LINEAR output, no pair join.

    The 100 TB answer to the pair-output caveat (module docstring): a
    boilerplate document with 100k copies contributes 100k witness rows,
    not ~5e9 pairs. Each document is checked against at most TWO
    candidates per band bucket — the bucket's minimum id and the
    document's immediate predecessor id in that bucket (sorted-
    neighborhood) — and marked duplicate when the best candidate's
    signature agreement reaches ``min_est``.

    Guarantees and recall: every member of an exact/near-exact clique
    except its GLOBAL minimum id is marked PROVIDED some shared bucket
    offers it a clique candidate — i.e. in at least one of its buckets
    the bucket minimum or its immediate predecessor is a clique member.
    Dissimilar colliders stealing BOTH slots in every shared bucket is
    the shadowing case quantified below (multiple rare whole-band
    collisions at once), so treat the marking as high-recall, not
    absolute. A bucket minimum is NOT necessarily a
    survivor — it can be marked through another bucket where it is not
    minimal; the unmarked set are documents for which no checked
    candidate cleared ``min_est``. Marking can miss a true near-dup pair
    only when, in EVERY bucket the pair shares, both the bucket minimum
    and the larger doc's predecessor are dissimilar colliders — dissimilar
    docs must agree on a whole band (p ~ jaccard^rows_per_band) for that,
    so shadowing needs multiple rare collisions at once. Exhaustive
    enumeration is ``minhash_lsh_candidates`` (quadratic in clique size).

    Plan shape: candidates are computed on the NARROW
    (id, band, band_hash) projection — both bucket minima AND
    predecessors from ONE per-bucket window over ~16-byte rows (r15
    fusion; a 100k-row bucket sorts in milliseconds; the full
    64-element signatures never ride through a per-bucket shuffle).
    Skew posture: see the note on :func:`_witness_candidates`.
    Signatures are fetched by two id-keyed joins afterwards. Every stage
    is linear in rows x bands. Witness semantics are one-hop: A's witness
    B may itself have witness C; iterate or run connected components for
    transitive closure.

    Returns (id, witness_id, est_jaccard) for marked duplicates only.
    ``sig_col``: precomputed ``array<bigint>`` signature column — at
    scale pass one (the signature plan otherwise re-executes for the
    banding pass and each of the two id-keyed signature fetches).

    ``verify=True`` upgrades the estimate to a PRECISION GUARANTEE:
    because witness output is LINEAR, computing the EXACT n-gram
    Jaccard on just the marked (id, witness) pairs is affordable at any
    scale (one shingle rebuild + one pair join over rows that are
    already O(corpus), reusing ``ngram_jaccard_pairs``). The output
    gains an exact ``jaccard`` column and rows below ``min_jaccard``
    (default: ``min_est``, the same threshold the estimate cleared) are
    dropped — a chance whole-band collision that inflated ``est_jaccard``
    can no longer mark a genuinely dissimilar document. Requires
    ``text_col`` on ``df`` even when ``sig_col`` is passed.
    """
    _check_bands(num_hashes, bands)
    if min_jaccard is not None and not verify:
        raise ValueError("min_jaccard requires verify=True")
    if verify and text_col not in df.columns:
        raise ValueError(
            f"verify=True recomputes exact shingles and needs {text_col!r} "
            "on df (sig_col alone is not enough)"
        )
    sig = _signatures(df, text_col, id_col, num_hashes, ngram, sig_col)
    banded_ids = _band_explode(sig, num_hashes, bands).select(
        "id", "band", "band_hash"
    )
    candidates = _witness_candidates(banded_ids, ["band", "band_hash"])
    scored = (
        candidates.join(sig, "id")
        .join(
            sig.select(
                F.col("id").alias("cand"), F.col("sig").alias("wsig")
            ),
            "cand",
        )
        .select(
            "id",
            F.col("cand").alias("witness_id"),
            _sig_agreement("sig", "wsig", num_hashes).alias("est_jaccard"),
        )
    )
    best = Window.partitionBy("id").orderBy(
        F.col("est_jaccard").desc(), F.col("witness_id").asc()
    )
    wit = (
        scored.filter(F.col("est_jaccard") >= min_est)
        .withColumn("_rn", F.row_number().over(best))
        .filter(F.col("_rn") == 1)
        .select("id", "witness_id", "est_jaccard")
    )
    if not verify:
        return wit
    exact = ngram_jaccard_pairs(
        df,
        pairs=wit.select("id", "witness_id"),
        text_col=text_col,
        id_col=id_col,
        ngram=ngram,
    )
    threshold = min_est if min_jaccard is None else min_jaccard
    # LEFT join + execution-time raise_error on a missing exact score:
    # ngram_jaccard_pairs shingles from text_col, so with a precomputed
    # sig_col a marked pair whose text is NULL has no exact row — an
    # inner join would silently drop it, quietly voiding the precision
    # guarantee verify= promises (ADVICE r8)
    jacc = F.when(
        F.col("jaccard").isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "minhash_near_dup_witness(verify=True): no exact "
                    "jaccard for marked pair (id="
                ),
                F.col("id").cast("string"),
                F.lit(", witness_id="),
                F.col("witness_id").cast("string"),
                F.lit(
                    ") — its text_col is NULL while its sig_col is not; "
                    "verify cannot certify a pair it cannot rescore"
                ),
            )
        ).cast("double"),
    ).otherwise(F.col("jaccard"))
    return (
        wit.join(
            exact.select(
                F.col("id_a").alias("id"),
                F.col("id_b").alias("witness_id"),
                "jaccard",
            ),
            ["id", "witness_id"],
            "left",
        )
        .withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= threshold)
        .select("id", "witness_id", "est_jaccard", "jaccard")
    )


def witness_clusters(
    witness: DataFrame,
    members: Optional[DataFrame] = None,
    id_col: str = "id",
    witness_col: str = "witness_id",
    max_iters: int = 20,
    stats: Optional[dict] = None,
) -> DataFrame:
    """Transitive closure over witness edges: (id, cluster_id) labels.

    ``minhash_near_dup_witness`` is one-hop by design (A's witness B may
    itself have witness C); this computes the connected components of
    the witness forest so survivors are pickable without driver logic:
    ``cluster_id`` is the smallest id reachable through witness edges,
    and the survivor of each cluster is the row with
    ``id == cluster_id``.

    Algorithm: pointer doubling (iterated hash-to-min on a functional
    graph). The witness relation always points to a STRICTLY smaller id
    (enforced here), so the edge set is a forest — no cycles, and each
    round of ``parent := parent(parent)`` halves every chain's remaining
    depth. Convergence needs ceil(log2(max chain depth)) rounds: the
    default ``max_iters=20`` covers chains a million hops deep. Each
    round is ONE left self-join shuffled on id — O(E) per round,
    O(E log D) total, no driver-side graph — and ONE action: the round's
    ``localCheckpoint`` job also counts the pointers that advanced, via
    ``DataFrame.observe``, and a round that advanced none ends the loop.
    The driver runs up to ``max_iters`` such jobs (+1 convergence probe
    when the budget is exhausted); if the budget runs out before the
    deepest chain resolves, a RuntimeWarning flags that labels are
    intermediate.

    Lineage is truncated per round with ``localCheckpoint`` (without it
    the self-join plan doubles every iteration and planning time
    explodes). On a cluster with executor churn, set a reliable
    checkpoint dir and swap to ``checkpoint`` if recomputation-on-loss
    matters for a long chain of rounds.

    ``stats`` (optional dict): filled in place with ``rounds`` (doubling
    rounds actually run) and ``converged`` — per-call observability for
    soak harnesses. A caller-owned dict, not function-global state, so
    concurrent callers in one driver can't clobber each other's value.

    ``members`` (optional, with an id column named ``id_col``): the rows
    to label. Every column of ``members`` is kept and ``cluster_id`` is
    appended by one left join; unmarked ids label themselves
    (``cluster_id = id``). Default: only ids appearing in the edge set,
    as (``id_col``, cluster_id).
    """
    parents = witness.select(
        F.col(id_col).alias("id"), F.col(witness_col).alias("parent")
    )
    # the no-cycle guarantee the doubling relies on: drop any edge that
    # does not point strictly downward (witness construction never emits
    # one, but a user-supplied edge set might), and keep ONE parent per
    # id (the minimum) so the self-join can never fan out and the output
    # has exactly one label per member. Note this makes the input a
    # forest by construction: components are those of the min-parent
    # forest, which is the witness contract — general-graph connected
    # components over an arbitrary multi-edge set need iterated
    # min-label propagation over BOTH directions, not pointer doubling.
    parents = (
        parents.filter(F.col("parent") < F.col("id"))
        .groupBy("id")
        .agg(F.min("parent").alias("parent"))
        .localCheckpoint()
    )
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        a, b = parents.alias("a"), parents.alias("b")
        # the advanced-pointer count rides the checkpoint's own job
        seen = Observation()
        step = (
            a.join(b, F.col("a.parent") == F.col("b.id"), "left")
            .select(
                F.col("a.id").alias("id"),
                F.col("a.parent").alias("old"),
                F.coalesce(F.col("b.parent"), F.col("a.parent")).alias(
                    "parent"
                ),
            )
            .observe(
                seen,
                F.count_if(F.col("parent") != F.col("old")).alias("advanced"),
            )
            .localCheckpoint()
        )
        # storage note: Dataset.unpersist does NOT release localCheckpoint
        # blocks (they are RDD storage, not CacheManager entries); the
        # working release mechanism is reference dropping — each round
        # rebinds `parents`, the superseded round's checkpoint RDD loses
        # its last reference (the new step's lineage STARTS at its own
        # checkpoint), and Spark's ContextCleaner reclaims the blocks
        # asynchronously on driver GC. Peak pinned storage is therefore a
        # few |E|-row copies between GC cycles, not rounds+1 forever.
        parents = step.select("id", "parent")
        if seen.get["advanced"] == 0:
            converged = True
            break
    if not converged:
        # the last round still advanced pointers — probe once more
        # before alarming: convergence ON the final round looks
        # identical inside the loop (that round's count was nonzero)
        a, b = parents.alias("a"), parents.alias("b")
        converged = (
            a.join(b, F.col("a.parent") == F.col("b.id"), "inner")
            .filter(F.col("b.parent") != F.col("a.parent"))
            .limit(1)
            .count()
            == 0
        )
    if not converged:
        # some chain is deeper than 2^max_iters and the labels below are
        # intermediate ancestors, not roots — silent partial labels
        # would corrupt survivor selection (id == cluster_id picks too
        # many rows)
        import warnings

        warnings.warn(
            f"witness_clusters did not converge within max_iters="
            f"{max_iters} doubling rounds; returned cluster_id values "
            "may be intermediate ancestors, not cluster roots — raise "
            "max_iters (each round doubles resolvable chain depth)",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        # chains of depth d converge in ceil(log2(d)) + 1 rounds (the
        # last round is the no-advance probe)
        stats["rounds"] = rounds
        stats["converged"] = converged
    if members is None:
        members = (
            witness.select(F.col(id_col))
            .union(witness.select(F.col(witness_col).alias(id_col)))
            .distinct()
        )
    labels = parents.select(
        F.col("id").alias("__wc_id"), F.col("parent").alias("__wc_parent")
    )
    return (
        members.join(labels, F.col(id_col) == F.col("__wc_id"), "left")
        .withColumn("cluster_id", F.coalesce("__wc_parent", F.col(id_col)))
        .drop("__wc_id", "__wc_parent")
    )


def minhash_near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    min_est: float = 0.8,
    sig_col: Optional[str] = None,
    max_iters: int = 20,
) -> DataFrame:
    """Near-dup cluster ids for EVERY document: witness marking
    (``minhash_near_dup_witness``) followed by transitive closure
    (``witness_clusters``).

    Returns (``id_col``, cluster_id) for every input row; unmarked
    documents (including NULL-text rows) are their own singleton
    cluster. Survivor selection is ``filter(id == cluster_id)``; corpus
    dedup is one join away. Output is LINEAR in corpus size regardless
    of duplicate-clique size — the 100 TB composition the witness
    operator was built for.
    """
    wit = minhash_near_dup_witness(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        ngram=ngram,
        min_est=min_est,
        sig_col=sig_col,
    )
    out = witness_clusters(
        wit,
        members=df.select(F.col(id_col).alias("id")),
        max_iters=max_iters,
    )
    return out.select(F.col("id").alias(id_col), "cluster_id")


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verifier stage)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    bucket_col: Optional[str] = None,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets.

    ``pairs`` (id_a, id_b) bounds the comparison set (e.g. LSH output).
    Without ``pairs``, compares within ``bucket_col`` groups only — never
    the full cross product (that's the non-scalable shape).

    NULL-text documents have no shingle set and are excluded: a ``pairs``
    row naming one drops (its similarity is undefined, not 1.0).
    """
    sh = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        _SHINGLES(
            F.col(text_col), F.lit(ngram), spark=df.sparkSession
        ).alias("sh"),
        *([F.col(bucket_col).alias("bucket")] if bucket_col else []),
    )
    if pairs is None:
        if bucket_col is None:
            raise ValueError("need pairs or bucket_col to bound the pair space")
        a, b = sh.alias("a"), sh.alias("b")
        joined = a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        joined = (
            pairs.select(
                F.col(pairs.columns[0]).alias("pid_a"),
                F.col(pairs.columns[1]).alias("pid_b"),
            )
            .join(a, F.col("pid_a") == F.col("a.id"))
            .join(b, F.col("pid_b") == F.col("b.id"))
        )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return joined.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    )
