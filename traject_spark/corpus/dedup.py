"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the 100 TB story):
- ``exact_dedup``: ONE hash-aggregate shuffle keyed on a 128-bit md5
  fingerprint; with AQE on, skewed fingerprints (boilerplate dups) are
  split at runtime. Output is the canonical-survivor mapping.
- MinHash: signatures are computed narrowly per row (xxhash64 with k
  seeds over shingles — no UDF); LSH banding explodes each row into
  ``bands`` rows and self-joins on (band, band_hash) buckets, so shuffle
  volume is rows x bands, never the n^2 pair space.
- SimHash: 64-bit signature via per-bit majority vote over token hashes,
  computed with array algebra; near-dup = hamming distance <= t on a
  band-bucketed join (here: exact-signature grouping as the first cut).
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

from traject_spark.expr import let, sql_let
from traject_spark.corpus.textstats import _FINGERPRINT, tokens_expr
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


def shingles_expr(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings (distinct). NULL text -> NULL
    (NOT ``[null]`` — that constant would make every NULL-text document
    hash identically and form one giant false near-dup clique, the exact
    quadratic blowup the module docstring warns about; the same invariant
    exact_dedup enforces via its null-safe group key). Empty text keeps
    its ``[""]`` shingle: empty documents ARE duplicates of each other,
    consistent with exact_dedup merging them."""
    return _SHINGLES(text, F.lit(n))


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
    column name (read as ``F.col(name)``, so nested fields resolve).

    NULL text -> NULL signature (not an array OF nulls, whose band hashes
    would still collide into one constant bucket); the pair operators
    exclude NULL signatures from candidate generation.
    """
    if isinstance(text, str):
        text = F.col(text)
    return _minhash_fn(num_hashes)(text, F.lit(ngram))


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
    """In-query materialization of a computed (id, sig) frame — shared
    by the MinHash and SimHash text paths.

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

    The shared skew-aware core of every ``*_near_dup_witness`` operator
    (MinHash, SimHash, cosine-LSH): BOTH candidate kinds come out of a
    single per-bucket window over the NARROW id projection (r15, guide
    §2.4: operations keyed the same way share one exchange) — over a
    window ordered by id, the running ``first`` IS the bucket minimum
    (the first row of an ascending sort) and ``lag`` is the sorted-
    neighborhood predecessor. The previous formulation computed minima
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

    ``members`` (optional, one id column named ``id_col``): the id
    universe for the output — unmarked ids label themselves
    (``cluster_id = id``). Default: only ids appearing in the edge set.
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
            witness.select(F.col(id_col).alias("id"))
            .union(witness.select(F.col(witness_col).alias("id")))
            .distinct()
        )
    else:
        members = members.select(F.col(id_col).alias("id"))
    return members.join(parents, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("parent", F.col("id")).alias("cluster_id"),
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
# SimHash
# ---------------------------------------------------------------------------

#: bit-spread multiply for the packed simhash counters: for a 4-bit
#: nibble x = b0 + 2*b1 + 4*b2 + 8*b3, (x * _SIMHASH_SPREAD) &
#: _SIMHASH_LANES lands b_k at bit 16k — all 16 partial products hit
#: distinct bit positions, so there are no carries and the masked result
#: is exactly b0 + b1<<16 + b2<<32 + b3<<48.
_SIMHASH_SPREAD = 0x200040008001   # 1 + 2^15 + 2^30 + 2^45
_SIMHASH_LANES = 0x0001000100010001  # bits 0, 16, 32, 48

#: fast-path token bound: with n <= 32767 no 16-bit counter lane can
#: saturate and the top lane's accumulation stays under 2^63 (no signed
#: overflow under ANSI). Longer docs take the per-bit-pass path.
_SIMHASH_MAX_FAST_TOKENS = 32767


def _simhash_vote(ones: Column, n: Column, i: int) -> Column:
    """Majority-vote contribution of bit i given its set-count."""
    bit_val = (1 << i) if i < 63 else -(1 << 63)  # two's-complement top bit
    return F.when(ones * 2 > n, F.lit(bit_val).cast("long")).otherwise(
        F.lit(0).cast("long")
    )


def _simhash_sql(text_sql: str, bits: int) -> str:
    """SQL-text twin of the Column path of :func:`simhash_expr` — same
    packed-counter aggregate, same per-bit fallback, same guards, emitted
    as ONE parsed SQL string. Rationale (r15): driver-side Column
    construction of the combined packed+fallback tree is ~2.4s of Py4J
    round trips per build — more than the 600k-row execution itself —
    and every fresh query pays it; the SQL text parses JVM-side in one
    round trip (the signs_expr/_signs_sql pattern in similarity.py)."""
    from traject_spark.expr import sql_let

    n_longs = (bits + 3) // 4
    long_min = "(-9223372036854775807L - 1L)"  # Long.MIN literal-safe

    def vote(ones: str, i: int) -> str:
        bit_val = f"{1 << i}L" if i < 63 else long_min
        return f"(CASE WHEN ({ones}) * 2 > n THEN {bit_val} ELSE 0L END)"

    init = "named_struct(" + ", ".join(
        f"'c{j}', 0L" for j in range(n_longs)
    ) + ")"
    step_fields = ", ".join(
        f"'c{j}', acc.c{j} + (((shiftrightunsigned(h, {4 * j}) & 15L) * "
        f"{_SIMHASH_SPREAD}L) & {_SIMHASH_LANES}L)"
        for j in range(n_longs)
    )
    finish_terms = []
    for i in range(bits):
        j, k = divmod(i, 4)
        ones = f"(shiftrightunsigned(acc.c{j}, {16 * k}) & 65535L)"
        finish_terms.append(vote(ones, i))
    packed = (
        f"aggregate(hs, {init}, (acc, h) -> named_struct({step_fields}), "
        f"acc -> ({' + '.join(finish_terms)}))"
    )
    perbit_terms = [
        vote(
            f"size(filter(hs, h -> (shiftright(h, {i}) & 1L) = 1L))", i
        )
        for i in range(bits)
    ]
    body = (
        f"CASE WHEN n <= {_SIMHASH_MAX_FAST_TOKENS} THEN {packed} "
        f"ELSE ({' + '.join(perbit_terms)}) END"
    )
    return sql_let(
        f"transform(split({text_sql}, ' '), w -> xxhash64(w))",
        "hs",
        "CASE WHEN hs IS NOT NULL THEN "
        + sql_let("size(hs)", "n", body)
        + " END",
    )


def simhash_expr(text: Column | str, bits: int = 64) -> Column:
    """64-bit SimHash as bigint: per-bit majority vote over token hashes.

    For each bit position i, count tokens whose xxhash64 has bit i set;
    bit i of the signature is 1 when the count exceeds half the tokens.
    The whole signature is intra-row array algebra, JVM-side.

    ``text`` may be a column NAME (string) — the fast path: the whole
    signature is emitted as one parsed SQL string (`_simhash_sql`)
    instead of thousands of Py4J Column round trips per build; the
    Column path below stays as the reference implementation for
    arbitrary Column inputs. Values are identical (cross-checked 0-diff
    in the focused formulation test; history/OPTIMIZATION_r15.md,
    dedup_simhash).

    Formulation (r15 optimization): Spark higher-order functions are
    CodegenFallback — every lambda invocation is interpreted — so the
    original shape (one `filter` pass per bit = 64 * n_tokens lambda
    invocations per row) paid invocation overhead 64x per token. The
    fast path is ONE `aggregate` pass whose accumulator is 16 packed
    longs of 4 x 16-bit bit-counters each; per token each long adds the
    carry-free bit-spread product of one nibble of the hash (see
    _SIMHASH_SPREAD). Counts are extracted once per row afterwards and
    the identical majority votes taken, so signatures are BIT-IDENTICAL
    (cross-checked 0-diff over the bench corpus,
    history/OPTIMIZATION_r15.md; isolated lane min 1.287 -> 1.049s). Rows with more than
    _SIMHASH_MAX_FAST_TOKENS tokens (counter-saturation bound) take the
    original per-bit-pass path, same values.

    NULL text -> NULL signature (every majority vote on NULL token counts
    would otherwise take the otherwise(0) branch, giving all NULL-text
    documents the identical signature 0 — a false distance-0 clique).
    Empty text gets xxhash64('')'s bit pattern (a constant, NOT 0):
    all empty documents share one signature and so ARE mutual
    duplicates, consistent with exact_dedup — but don't filter on
    sig = 0 to find them.
    """
    if not 1 <= bits <= 64:
        # bits > 64 would silently produce garbage: shiftright wraps its
        # shift amount mod 64 on the JVM (bit 64 re-tests bit 0) and
        # every i >= 63 adds the same sign-bit constant
        raise ValueError(f"bits must be in [1, 64], got {bits}")

    if isinstance(text, str):
        from traject_spark.corpus.similarity import _q
        from traject_spark.sqlutil import ident_safe

        if ident_safe(text):
            return F.expr(_simhash_sql(_q(text), bits))
        # nested-field names fall back to the Column path (ADVICE r15)
        text = F.col(text)

    def per_bit_body(hashes: Column, n: Column) -> Column:
        sig = F.lit(0).cast("long")
        for i in range(bits):
            ones = F.size(
                F.filter(
                    hashes,
                    lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1,
                )
            )
            sig = sig + _simhash_vote(ones, n, i)
        return sig

    # nibbles that carry at least one voted bit (for bits < 64 the
    # higher counters would be dead weight in the accumulator struct)
    n_longs = (bits + 3) // 4

    def packed_body(hashes: Column, n: Column) -> Column:
        def step(acc: Column, h: Column) -> Column:
            fields = []
            for j in range(n_longs):
                x = F.shiftrightunsigned(h, 4 * j).bitwiseAND(F.lit(15))
                add = (x * F.lit(_SIMHASH_SPREAD)).bitwiseAND(
                    F.lit(_SIMHASH_LANES)
                )
                fields.append((acc[f"c{j}"] + add).alias(f"c{j}"))
            return F.struct(*fields)

        init = F.struct(
            *[F.lit(0).cast("long").alias(f"c{j}") for j in range(n_longs)]
        )

        def finish(acc: Column) -> Column:
            sig = F.lit(0).cast("long")
            for i in range(bits):
                j, k = divmod(i, 4)
                ones = F.shiftrightunsigned(
                    acc[f"c{j}"], 16 * k
                ).bitwiseAND(F.lit(0xFFFF))
                sig = sig + _simhash_vote(ones, n, i)
            return sig

        return F.aggregate(hashes, init, step, finish)

    return let(
        F.transform(tokens_expr(text), lambda t: F.xxhash64(t)),
        lambda hashes: F.when(
            hashes.isNotNull(),
            let(
                F.size(hashes),
                lambda n: F.when(
                    n <= _SIMHASH_MAX_FAST_TOKENS, packed_body(hashes, n)
                ).otherwise(per_bit_body(hashes, n)),
            ),
        ),
    )


def hamming64_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int,
    bands: int,
    sig_col: Optional[str],
):
    """Shared pigeonhole-banding build: validated params, then the
    (id, sig) frame and its (id, sig, band, band_bits) explode."""
    if max_distance >= bands:
        raise ValueError(
            f"pigeonhole banding needs max_distance < bands "
            f"(got {max_distance} >= {bands})"
        )
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    width = 64 // bands
    # width 64 (bands=1): 2^64-1 overflows a JVM long literal; -1 is the
    # same all-ones mask in two's complement
    mask = -1 if width == 64 else (1 << width) - 1
    # NULL signatures (NULL text, or nulls in a user sig_col) never pair.
    # Filter the RAW column (pushes to the scan); filtering the computed
    # signature would re-evaluate the majority-vote tree for the predicate
    raw = F.col(sig_col) if sig_col else F.col(text_col)
    sig_src = (
        F.col(sig_col)
        if sig_col
        # name form -> the generated-SQL build fast path (r15)
        else simhash_expr(text_col)
    )
    sig = df.filter(raw.isNotNull()).select(
        F.col(id_col).alias("id"), sig_src.alias("sig")
    )
    if not sig_col:
        # text path: the majority-vote tree would otherwise re-run for
        # the banding explode AND each id-keyed signature fetch — same
        # in-query materialization rationale as _signatures (r15);
        # lazy + size-warned via the shared helper (r16)
        sig = _checkpoint_sigs(sig)
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_bits"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.band_bits")
    return sig, banded


def simhash_near_dup_witness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    bands: int = 4,
    sig_col: Optional[str] = None,
) -> DataFrame:
    """Witness-bounded SimHash near-dup marking: LINEAR output — the
    ``minhash_near_dup_witness`` pattern over pigeonhole band buckets.

    Each document is checked against at most two candidates per band
    bucket (bucket minimum + sorted-neighborhood predecessor, computed
    on the narrow (id, band, band_bits) projection — signatures fetched
    afterwards by two id-keyed joins) and marked when the best
    candidate's hamming distance is <= ``max_distance``. Every member
    of an exact clique except its global minimum id is marked whenever
    some band bucket offers it a clique candidate (identical signatures
    agree on every band; the minhash witness docstring's shadowing
    caveat applies here too). Exhaustive enumeration is
    ``simhash_near_dup`` (quadratic in clique size). Compose with
    ``witness_clusters`` for transitive cluster ids.

    Returns (id, witness_id, distance) for marked duplicates only.
    """
    sig, banded = _simhash_banded(
        df, text_col, id_col, max_distance, bands, sig_col
    )
    candidates = _witness_candidates(
        banded.select("id", "band", "band_bits"), ["band", "band_bits"]
    )
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
            hamming64_expr(F.col("sig"), F.col("wsig"))
            .cast("long")
            .alias("distance"),
        )
    )
    best = Window.partitionBy("id").orderBy(
        F.col("distance").asc(), F.col("witness_id").asc()
    )
    return (
        scored.filter(F.col("distance") <= max_distance)
        .withColumn("_rn", F.row_number().over(best))
        .filter(F.col("_rn") == 1)
        .select("id", "witness_id", "distance")
    )


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    bands: int = 4,
    sig_col: Optional[str] = None,
) -> DataFrame:
    """Near-duplicate pairs with hamming(simhash_a, simhash_b) <= t.

    Pigeonhole banding: the 64-bit signature splits into ``bands``
    contiguous equal-width bands; any pair within hamming distance
    < ``bands`` must agree EXACTLY on at least one band, so the candidate
    set is pairs sharing a (band, band_bits) bucket — shuffle volume is
    rows x bands, never the n^2 pair space — and the exact hamming filter
    then verifies. Requires ``max_distance < bands`` for the guarantee.

    ``sig_col`` uses a precomputed signature column instead of computing
    SimHash from ``text_col``. At scale, materialize signatures FIRST
    (one scan writing the narrow (id, sig) table) and pass ``sig_col`` —
    a self-join over an unmaterialized signature expression recomputes
    the 64-bit majority vote on both join sides. Returns
    (id_a, id_b, distance).
    """
    sig, banded = _simhash_banded(
        df, text_col, id_col, max_distance, bands, sig_col
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
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
    return (
        pairs.withColumn(
            "distance",
            hamming64_expr(F.col("sig_a"), F.col("sig_b")).cast("long"),
        )
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "distance")
    )


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
