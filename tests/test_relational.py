"""Dedup, MinHash, langid and witness operators (traject_spark.corpus)."""

from pyspark.sql import functions as F


def test_exact_dedup_null_text_rows_are_not_duplicates(spark):
    """NULL-text rows must each survive dedup (a null fingerprint is not
    evidence of duplication)."""
    from traject_spark.corpus import apply_exact_dedup, exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, "x")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in apply_exact_dedup(df).collect())
    assert kept == [1, 2, 3]
    clusters = exact_dedup(df).collect()
    assert sorted(r["n_docs"] for r in clusters) == [1, 1, 2]


def test_minhash_validates_band_count(spark):
    import pytest
    from traject_spark.corpus import minhash_lsh_candidates

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        minhash_lsh_candidates(df, num_hashes=8, bands=16)
    with pytest.raises(ValueError):
        minhash_lsh_candidates(df, num_hashes=10, bands=3)


def test_langid_null_text_is_null(spark):
    from traject_spark.corpus import langid_expr
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(None,), ("the of and",)], "text string")
    out = [r["g"] for r in df.select(langid_expr(F.col("text")).alias("g")).collect()]
    assert out == [None, "en"]


def test_minhash_near_dup_witness_linear_output(spark):
    """Witness marking bounds output to one row per duplicate document —
    a 6-copy clique yields 5 witness rows (not 15 pairs), the clique
    minimum survives unmarked, and every witness points at a smaller id
    with agreement >= min_est."""
    from traject_spark.corpus import (
        minhash_lsh_candidates, minhash_near_dup_witness,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet green field toward the river bend"
    )
    rows = [(i, base) for i in range(6)]  # 6-way exact clique
    rows += [(100 + i, f"totally unrelated document number {i} about "
                       f"spark catalyst optimizer internals part {i}")
             for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = minhash_near_dup_witness(
        df, num_hashes=32, bands=8, min_est=0.9
    ).collect()
    marked = {r["id"]: r["witness_id"] for r in out}
    # the five non-minimum clique members are marked, each against a
    # smaller id; survivor 0 and the unrelated docs are absent
    assert set(marked) == {1, 2, 3, 4, 5}
    assert all(w < i for i, w in marked.items())
    assert all(r["est_jaccard"] == 1.0 for r in out)
    # linear vs quadratic: the pair operator enumerates the same clique
    pairs = minhash_lsh_candidates(df, num_hashes=32, bands=8).filter(
        "est_jaccard >= 0.9"
    )
    assert pairs.count() == 15 and len(out) == 5


def test_minhash_near_dup_witness_validates_bands(spark):
    import pytest

    from traject_spark.corpus import minhash_near_dup_witness

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_near_dup_witness(df, num_hashes=8, bands=16)


def test_minhash_near_dup_witness_predecessor_beats_shadowing(spark):
    """A dissimilar smaller-id doc that happens to share buckets must not
    shadow a true near-dup pair: the sorted-neighborhood predecessor
    candidate still pairs the true dups (ids 50/51 here), whatever the
    bucket minimum is."""
    from traject_spark.corpus import minhash_near_dup_witness

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    rows = [
        (50, base),
        (51, base),  # exact dup of 50 -> every band bucket shared
        (1, "completely different text about catalyst plans and codegen"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in minhash_near_dup_witness(
        df, num_hashes=32, bands=8, min_est=0.9
    ).collect()}
    assert 51 in out and out[51]["witness_id"] == 50
    assert out[51]["est_jaccard"] == 1.0


def test_minhash_near_dup_clusters_transitive_closure(spark):
    """Multi-hop witness chains resolve to the GLOBAL minimum: a 6-copy
    clique (witness edges form a chain/forest toward smaller ids) labels
    every member with cluster_id 0, unrelated docs and NULL-text rows
    label themselves, and survivors are exactly the id==cluster_id set."""
    from traject_spark.corpus import minhash_near_dup_clusters

    base = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet green field toward the river bend"
    )
    rows = [(i, base) for i in range(6)]
    rows += [(100 + i, f"totally unrelated document number {i} about "
                       f"spark catalyst optimizer internals part {i}")
             for i in range(4)]
    rows += [(200, None), (201, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["cluster_id"] for r in minhash_near_dup_clusters(
        df, num_hashes=32, bands=8, min_est=0.9
    ).collect()}
    assert len(out) == 12  # one label per input row
    assert all(out[i] == 0 for i in range(6))
    assert all(out[i] == i for i in (100, 101, 102, 103, 200, 201))
    survivors = {i for i, c in out.items() if i == c}
    assert survivors == {0, 100, 101, 102, 103, 200, 201}


def test_witness_clusters_deep_chain_and_guards(spark):
    """Pointer doubling closes a deep chain (0<-1<-2<-...<-40) in
    log-depth rounds; an upward/self edge (user-supplied) is dropped
    rather than cycling forever."""
    from traject_spark.corpus import witness_clusters

    edges = [(i, i - 1) for i in range(1, 41)]  # depth-40 chain
    edges += [(5, 7), (9, 9)]  # upward + self edge: must be ignored
    wit = spark.createDataFrame(edges, "id long, witness_id long")
    jss = spark._jsparkSession
    store, bus = jss.sharedState().statusStore(), jss.sparkContext().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        return store.executionsList().size()

    stats: dict = {}
    before = executions()
    labels = witness_clusters(wit, stats=stats)
    # ceil(log2(40)) = 6 doubling rounds + the round that advances nothing
    assert stats == {"rounds": 7, "converged": True}
    # one execution for the min-parent checkpoint, then ONE per round:
    # the advanced-pointer count rides the round's checkpoint job
    assert executions() - before == 1 + stats["rounds"]
    out = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert all(out[i] == 0 for i in range(41))
    # two disjoint components stay disjoint
    wit2 = spark.createDataFrame(
        [(1, 0), (2, 1), (11, 10), (12, 11)], "id long, witness_id long"
    )
    out2 = {r["id"]: r["cluster_id"] for r in witness_clusters(wit2).collect()}
    assert out2[2] == 0 and out2[12] == 10 and out2[0] == 0 and out2[10] == 10


def test_band_explode_and_agreement_py4j_budget(spark, py4j_calls):
    """Banding and signature agreement are SQL text over the fixed
    internal column names: a few JVM calls, not one per Column node."""
    from traject_spark.corpus.dedup import _band_explode, _sig_agreement

    sig = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 5])], "id long, sig array<bigint>"
    )
    n, banded = py4j_calls(lambda: (
        _band_explode(sig, 4, 2), _sig_agreement("sig", "sig", 4)
    ))
    assert n <= 20, n
    rows = banded[0].collect()
    assert [(r["id"], r["band"]) for r in rows] == [(1, 0), (1, 1), (2, 0), (2, 1)]
    assert rows[0]["band_hash"] == rows[2]["band_hash"]
    assert rows[1]["band_hash"] != rows[3]["band_hash"]
    pair = sig.alias("a").join(sig.alias("b"), F.col("a.id") < F.col("b.id"))
    est = pair.select(
        _sig_agreement("a.sig", "b.sig", 4).alias("est")
    ).collect()
    assert est[0]["est"] == 0.75


def test_near_dup_operators_exclude_null_text(spark):
    """NULL-text documents are not near-duplicates of each other: without
    NULL signature propagation they all share one constant shingle/token
    hash and form a giant false clique (quadratic pair output at scale) —
    the same invariant exact_dedup enforces via its null-safe group key."""
    from traject_spark.corpus.dedup import (
        minhash_lsh_candidates,
        minhash_near_dup_witness,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (4, None),
         (5, "the quick brown fox jumps over the lazy dog"),
         (6, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    mh = minhash_lsh_candidates(df).collect()
    assert [(r["id_a"], r["id_b"]) for r in mh] == [(5, 6)]
    wit = minhash_near_dup_witness(df).collect()
    assert [(r["id"], r["witness_id"]) for r in wit] == [(6, 5)]
    pairs = spark.createDataFrame(
        [(1, 2), (5, 6)], "id_a long, id_b long"
    )
    jc = ngram_jaccard_pairs(df, pairs=pairs).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in jc] == [(5, 6, 1.0)]


def test_minhash_sig_col_precomputed(spark):
    """sig_col uses a precomputed signature instead of re-deriving from
    text (the materialize-signatures-first scale path)."""
    from pyspark.sql import functions as F
    from traject_spark.corpus.dedup import (
        minhash_lsh_candidates,
        minhash_near_dup_witness,
        minhash_signature_expr,
    )

    df = spark.createDataFrame(
        [(1, "one two three four five six"),
         (2, "one two three four five six"),
         (3, "completely different words here entirely")],
        "doc_id long, text string",
    )
    mat = df.select(
        "doc_id", minhash_signature_expr(F.col("text")).alias("msig")
    )
    out = minhash_lsh_candidates(mat, sig_col="msig").collect()
    assert [(r["id_a"], r["id_b"], r["est_jaccard"]) for r in out] == [
        (1, 2, 1.0)
    ]
    wit = minhash_near_dup_witness(mat, sig_col="msig").collect()
    assert [(r["id"], r["witness_id"]) for r in wit] == [(2, 1)]


def test_minhash_witness_verify_exact_jaccard(spark):
    """verify=True attaches the EXACT n-gram jaccard to each witness row
    and enforces it as the precision threshold: exact copies agree at
    1.0 on both columns, a genuinely-similar pair's estimate tracks its
    exact value, and raising min_jaccard above the true similarity
    drops the pair even though the estimate cleared min_est."""
    import pytest

    from traject_spark.corpus import minhash_near_dup_witness

    base_toks = [f"tok{i}" for i in range(40)]
    base = " ".join(base_toks)
    # near-dup: swap the final 4 tokens -> shingle overlap high but < 1.0
    near = " ".join(base_toks[:-4] + [f"alt{i}" for i in range(4)])
    rows = [(0, base), (1, base), (2, near)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = minhash_near_dup_witness(
        df, num_hashes=64, bands=16, min_est=0.5, verify=True
    )
    assert out.columns == ["id", "witness_id", "est_jaccard", "jaccard"]
    got = {r["id"]: r for r in out.collect()}
    # exact copy: both columns exactly 1.0
    assert got[1]["jaccard"] == 1.0 and got[1]["est_jaccard"] == 1.0
    # near-dup: exact jaccard is deterministic set algebra — 38 distinct
    # 3-gram shingles each; the 4 swapped tail tokens touch the 4
    # shingles starting at positions 34-37 -> 34 shared / 42 union
    assert got[2]["jaccard"] == pytest.approx(34 / 42, abs=1e-4)
    # the 64-hash estimate tracks the exact value (std ~ 0.06)
    assert abs(got[2]["est_jaccard"] - got[2]["jaccard"]) < 0.25

    # precision gate: demand more similarity than doc 2 truly has
    strict = minhash_near_dup_witness(
        df, num_hashes=64, bands=16, min_est=0.5,
        verify=True, min_jaccard=0.9,
    )
    assert {r["id"] for r in strict.collect()} == {1}

    # guardrails
    with pytest.raises(ValueError, match="min_jaccard requires"):
        minhash_near_dup_witness(df, min_jaccard=0.9)
    with pytest.raises(ValueError, match="needs 'text'"):
        minhash_near_dup_witness(
            df.select("doc_id"), sig_col="nope", verify=True
        )


def test_minhash_witness_verify_null_text_raises(spark):
    """With a precomputed sig_col, a MARKED pair whose text_col is NULL
    cannot be rescored by the exact verifier — verify=True must fail
    loudly (execution-time raise_error), not silently drop the pair it
    promised to certify (ADVICE r8)."""
    import pytest

    from traject_spark.corpus import minhash_near_dup_witness

    sig = list(range(64))
    rows = [(0, "shared text", sig), (1, None, sig)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, msig array<long>"
    )
    out = minhash_near_dup_witness(
        df, sig_col="msig", num_hashes=64, bands=16, verify=True
    )
    with pytest.raises(Exception, match="no exact jaccard"):
        out.collect()
