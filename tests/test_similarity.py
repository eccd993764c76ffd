"""IVF / near-dup similarity operators (sf0.001 embeddings, 64-dim)."""

import pytest
from pyspark.sql import functions as F

from traject_spark.corpus import (
    brute_force_topk,
    cosine_near_dup,
    ivf_topk,
    train_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_train_centroids_deterministic(emb):
    c1 = train_centroids(emb, n_centroids=8, iters=5)
    c2 = train_centroids(emb, n_centroids=8, iters=5)
    assert c1 == c2
    assert len(c1) == 8 and len(c1[0][1]) == 64


def test_ivf_topk_recall(emb):
    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8)
    cents = train_centroids(corpus, n_centroids=8, iters=5)
    exact = brute_force_topk(corpus, queries, k=5)
    approx = ivf_topk(corpus, queries, cents, k=5, nprobe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # every approx hit must be a real corpus vector scored exactly;
    # recall against brute force should beat random cell luck (3/8)
    recall = len(e & a) / len(e)
    assert recall >= 0.3
    # deterministic across runs
    a2 = {(r["query_id"], r["neighbor_id"]) for r in
          ivf_topk(corpus, queries, cents, k=5, nprobe=3).collect()}
    assert a == a2


def test_ivf_full_probe_equals_brute_force(emb):
    """Probing every cell must recover the exact result."""
    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8).limit(4)
    cents = train_centroids(corpus, n_centroids=4, iters=3)
    exact = brute_force_topk(corpus, queries, k=5)
    full = ivf_topk(corpus, queries, cents, k=5, nprobe=4)
    e = sorted(tuple(r) for r in exact.collect())
    f = sorted(tuple(r) for r in full.collect())
    assert e == f


def test_near_dup_exact_nonempty_and_symmetric_free(emb):
    pairs = cosine_near_dup(emb, threshold=0.35).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert r["score"] >= 0.35


def test_near_dup_lsh_subset_of_exact(emb):
    exact = {(r["id_a"], r["id_b"]) for r in
             cosine_near_dup(emb, threshold=0.3).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           cosine_near_dup(emb, threshold=0.3, mode="lsh",
                           bits=4, tables=8).collect()}
    assert lsh <= exact
    assert len(lsh) > 0


# --- banded SimHash near-dup (corpus/dedup.py simhash_near_dup) -----------

def test_simhash_near_dup_planted_distances(spark):
    """Pigeonhole guarantee: with 4 bands, EVERY pair at hamming <= 3 is
    found; pairs above the threshold are excluded."""
    from traject_spark.corpus import simhash_near_dup

    base = 0x0123456789ABCDEF
    rows = [
        (1, base),
        (2, base),                      # distance 0
        (3, base ^ 0b1),                # distance 1
        (4, base ^ 0b111),              # distance 3 (all in band 0)
        (5, base ^ (1 << 5) ^ (1 << 20) ^ (1 << 40)),  # d=3 across bands
        (6, base ^ 0xF),                # distance 4 -> excluded
        (7, ~base & 0xFFFFFFFFFFFFFFFF - (1 << 63)),   # far away
    ]
    df = spark.createDataFrame(
        [(i, s - (1 << 64) if s >= (1 << 63) else s) for i, s in rows],
        "doc_id: long, sig: long",
    )
    out = simhash_near_dup(df, sig_col="sig", max_distance=3, bands=4)
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in out.collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1
    assert got[(1, 4)] == 3
    assert got[(1, 5)] == 3
    assert (1, 6) not in got  # distance 4 > max_distance
    assert (2, 3) in got and (3, 4) in got  # transitively near pairs too


def test_simhash_near_dup_from_text_finds_tweaked_copy(spark):
    from traject_spark.corpus import simhash_near_dup

    long_text = " ".join(f"token{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, long_text), (2, long_text + " extra"), (3, "something else entirely unrelated words")],
        "doc_id: long, text: string",
    )
    out = simhash_near_dup(df, max_distance=3, bands=4)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_packed_formulation_matches_per_bit_path(spark, monkeypatch):
    """r15: simhash_expr's packed-counter fast path must be bit-identical
    to the original per-bit-pass formulation (still the >32767-token
    fallback) on every value shape — NULL, empty, unicode, repeated
    tokens, whitespace runs — and for bits < 64."""
    from traject_spark.corpus import dedup as _d

    texts = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "a a a a a a a"),
        (5, "Der schnelle braune Fuchs springt über den faulen Hund"),
        (6, "café naïve Führung 東京 данные"),
        (7, " ".join(f"tok{i % 17}" for i in range(500))),
        (8, "x\ty\nz  w"),
    ]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    for bits in (64, 13):
        fast = _d.simhash_expr(F.col("text"), bits=bits)
        sql = _d.simhash_expr("text", bits=bits)  # generated-SQL path
        # monkeypatch (exception-safe AND restored even if an assert
        # below fires) — ADVICE r15: never hand-mutate module globals
        with monkeypatch.context() as m:
            m.setattr(_d, "_SIMHASH_MAX_FAST_TOKENS", 0)  # per-bit path
            slow = _d.simhash_expr(F.col("text"), bits=bits)
            sql_slow = _d.simhash_expr("text", bits=bits)
        rows = df.select(
            fast.alias("fast"), slow.alias("slow"),
            sql.alias("sql"), sql_slow.alias("sql_slow"),
        ).collect()
        for r in rows:
            assert r["fast"] == r["slow"] == r["sql"] == r["sql_slow"], (
                bits, r,
            )


def test_minhash_name_and_column_inputs_match_goldens(spark):
    """minhash_signature_expr takes a column name or a Column; both reach
    the one session function and give the recorded signatures on every
    golden text, for non-default num_hashes and ngram too."""
    import json

    from tests.test_corpus_goldens import GOLDEN_PATH, TEXTS
    from traject_spark.corpus.dedup import minhash_signature_expr

    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        goldens = json.load(fh)
    df = spark.createDataFrame(TEXTS, "text_id string, text string")
    for num_hashes, ngram in ((64, 3), (32, 3), (8, 2)):
        want = goldens[f"minhash_{num_hashes}_{ngram}"]
        rows = df.select(
            "text_id",
            minhash_signature_expr(F.col("text"), num_hashes, ngram).alias(
                "col"
            ),
            minhash_signature_expr("text", num_hashes, ngram).alias("name"),
        ).collect()
        for r in rows:
            assert r["col"] == r["name"] == want[r["text_id"]], (
                num_hashes, ngram, r["text_id"],
            )


def test_langid_sql_fast_path_matches_column_path(spark):
    """r15: langid_ngram_expr's generated-SQL build fast path must agree
    with the Column reference path on NULL/empty/short/accented/mixed
    texts AND over the full bench documents corpus (0 differing rows)."""
    from traject_spark.corpus.textstats import langid_ngram_expr

    texts = [
        (0, None), (1, ""), (2, "ab"), (3, "  x  "),
        (4, "the cat sat on the mat with the other cats"),
        (5, "der hund und die katze sind nicht hier"),
        (6, "it's a quoted 'string' with backslash \\ chars"),
        (7, "数据 mixed script データ text"),
    ]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    rows = df.select(
        langid_ngram_expr(F.col("text")).alias("col_path"),
        langid_ngram_expr("text").alias("sql_path"),
    ).collect()
    for r in rows:
        assert r["col_path"] == r["sql_path"], r

    # sf0.001 like the rest of the suite (ADVICE r15: the lone sf0.01
    # read made this test environment-coupled relative to its siblings)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    diff = docs.select(
        langid_ngram_expr(F.col("text")).alias("a"),
        langid_ngram_expr("text").alias("b"),
    ).filter(~F.col("a").eqNullSafe(F.col("b"))).count()
    assert diff == 0


def test_simhash_near_dup_validates_params(spark):
    import pytest as _pytest
    from traject_spark.corpus import simhash_near_dup

    df = spark.createDataFrame([(1, "x")], "doc_id: long, text: string")
    with _pytest.raises(ValueError):
        simhash_near_dup(df, max_distance=4, bands=4)
    with _pytest.raises(ValueError):
        simhash_near_dup(df, max_distance=2, bands=5)


def test_ivf_layout_partition_pruning(spark, emb, tmp_path):
    """write_ivf_layout + ivf_topk_from_layout: results identical to the
    in-memory ivf_topk, AND the probe join dynamically prunes unprobed
    cell partitions at the file level (the 100 TB access path)."""
    from traject_spark.corpus import (
        ivf_topk,
        ivf_topk_from_layout,
        train_centroids,
        write_ivf_layout,
    )

    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8)
    cents = train_centroids(corpus, n_centroids=4, sample=200)
    path = str(tmp_path / "ivf")
    write_ivf_layout(corpus, cents, path)

    import os

    cells = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert len(cells) >= 2, "expected multiple cell partitions on disk"

    out = ivf_topk_from_layout(
        spark, path, queries, cents, k=5, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "probe join must trigger dynamic partition pruning on cell"
    )
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in out.collect()
    }
    expected = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(corpus, queries, cents, k=5, nprobe=2).collect()
    }
    assert got == expected


def test_quantizer_paths_handle_invalid_vectors(spark):
    """NULL / wrong-dim / null-element embeddings: expr and UDF quantizer
    paths both yield NULL (no silent cell-0 pileup, no ragged-batch
    crash); a 1-centroid quantizer plans and runs; training skips
    invalid sampled rows instead of crashing the driver."""
    from pyspark.sql import functions as F

    from traject_spark.corpus import train_centroids
    from traject_spark.corpus.similarity import (
        assign_cell_expr,
        assign_cell_udf,
        probe_cells_expr,
        signs_expr,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, None),
            (2, [1.0, 2.0]),            # wrong dim
            (3, [1.0, None, 0.0, 0.0]),  # null element
        ],
        "vec_id long, embedding array<float>",
    )
    cents = [(7, [1.0, 0.0, 0.0, 0.0]), (9, [0.0, 1.0, 0.0, 0.0])]
    got = df.select(
        "vec_id",
        assign_cell_expr(F.col("embedding"), cents).alias("ce"),
        assign_cell_udf(cents).alias("cu"),
        probe_cells_expr(F.col("embedding"), cents, 2).alias("pe"),
        signs_expr(F.col("embedding"), 4, 3, 0).alias("bucket"),
    ).collect()
    rows = {r["vec_id"]: r for r in got}
    assert rows[0]["ce"] == 7 and rows[0]["cu"] == 7
    assert rows[0]["pe"] is not None and rows[0]["bucket"] is not None
    for bad in (1, 2, 3):
        assert rows[bad]["ce"] is None, (bad, rows[bad])
        assert rows[bad]["cu"] is None, (bad, rows[bad])
        assert rows[bad]["pe"] is None, (bad, rows[bad])
        assert rows[bad]["bucket"] is None, (bad, rows[bad])
    # 1-centroid quantizer: must plan and assign (was array<void> crash)
    one = df.select(
        assign_cell_expr(F.col("embedding"), cents[:1]).alias("c")
    ).collect()
    assert one[0]["c"] == 7
    # training over a corpus containing invalid rows must not crash
    trained = train_centroids(df, n_centroids=1, iters=2)
    assert len(trained) == 1 and len(trained[0][1]) == 4


def test_cosine_near_dup_witness_linear_output(spark):
    """Embedding witness marking: a 6-copy exact vector clique yields 5
    witness rows at score 1.0 (not 15 pairs); orthogonal vectors stay
    unmarked; wrong-dim vectors are excluded rather than bucket-collapsed."""
    from pyspark.sql import functions as F

    from traject_spark.corpus import cosine_near_dup, cosine_near_dup_witness

    v = [1.0, 0.5, -0.25, 0.125]
    rows = [(i, v) for i in range(6)]
    rows += [(100, [0.0, 0.0, 1.0, 0.0]), (101, [0.0, 0.0, 0.0, 1.0])]
    rows += [(200, [1.0, 2.0])]  # wrong dim
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_near_dup_witness(
        df, threshold=0.95, dim=4, bits=2, tables=4
    ).collect()
    marked = {r["id"]: r for r in out}
    assert set(marked) == {1, 2, 3, 4, 5}
    assert all(r["witness_id"] < r["id"] for r in out)
    assert all(abs(r["score"] - 1.0) < 1e-6 for r in out)
    pairs = cosine_near_dup(
        df, threshold=0.95, mode="lsh", dim=4, bits=2, tables=4
    )
    assert pairs.count() == 15 and len(out) == 5
    # bits=None auto-sizes without error
    auto = cosine_near_dup_witness(df, threshold=0.95, dim=4, bits=None)
    assert {r["id"] for r in auto.collect()} == {1, 2, 3, 4, 5}


def test_lsh_bucketing_single_scan(spark):
    """The LSH candidate builders must compute all table buckets in ONE
    scan per side (select + explode), not a per-table union that re-reads
    the corpus `tables` times."""
    from traject_spark.corpus import lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    nd = cosine_near_dup(
        emb, threshold=0.35, mode="lsh", dim=64, bits=4, tables=4
    )
    plan = nd._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan[:2000]

    tk = lsh_topk(
        emb.filter(F.col("vec_id") >= 8),
        emb.filter(F.col("vec_id") < 8),
        k=5, dim=64, bits=4, tables=4,
    )
    plan2 = tk._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Scan parquet") == 2, plan2[:2000]


def test_lsh_topk_auto_bits_stable_occupancy(spark):
    """bits=None sizes lsh_topk's tables from the CORPUS count: a 16x
    bigger corpus gets ~4 more bits, so mean bucket occupancy (corpus
    rows / 2^bits) stays within the target band instead of growing 16x —
    the quadratic-candidate cliff the sf1 soak exposed for fixed bits."""
    import numpy as np

    from traject_spark.corpus import auto_lsh_bits, lsh_topk

    rng = np.random.default_rng(7)

    def corpus(n):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )

    small_n, big_n = 256, 4096
    bits_small = auto_lsh_bits(small_n, target_bucket=64, lo=2, hi=16)
    bits_big = auto_lsh_bits(big_n, target_bucket=64, lo=2, hi=16)
    occ_small = small_n / 2 ** bits_small
    occ_big = big_n / 2 ** bits_big
    assert occ_big <= 2 * occ_small, (occ_small, occ_big)
    # and the operator accepts bits=None end-to-end (runs the one count()
    # job, builds valid buckets, returns ranked neighbors)
    q = corpus(2).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    out = lsh_topk(corpus(small_n), q, k=3, dim=8, bits=None, tables=4)
    rows = out.collect()
    assert rows and all(1 <= r["rank"] <= 3 for r in rows)


def test_assign_cell_udf_matches_expr(spark, emb):
    """The broadcast-matrix Arrow assignment (the >256-centroid scale
    path) must agree with the literal-expression path row for row,
    including the lowest-cid tie-break."""
    from traject_spark.corpus import assign_cell_udf, train_centroids
    from traject_spark.corpus.similarity import assign_cell_expr

    cents = train_centroids(emb, n_centroids=8, iters=3)
    both = emb.select(
        "vec_id",
        assign_cell_expr(F.col("embedding"), cents).alias("by_expr"),
        assign_cell_udf(cents).alias("by_udf"),
    )
    rows = both.collect()
    assert rows and all(r["by_expr"] == r["by_udf"] for r in rows)

    # ivf_topk(method='udf') result-identical to the expression path
    from traject_spark.corpus import ivf_topk

    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8)
    a = sorted(map(tuple, ivf_topk(corpus, queries, cents, k=5).collect()))
    b = sorted(map(tuple, ivf_topk(
        corpus, queries, cents, k=5, method="udf"
    ).collect()))
    assert a == b


def test_probe_cells_udf_matches_expr_and_nulls(spark, emb):
    """probe_cells_udf must match probe_cells_expr's (score desc, cid
    asc) ordering, and both UDF paths must tolerate null embeddings."""
    from traject_spark.corpus import assign_cell_udf, train_centroids
    from traject_spark.corpus.similarity import (
        probe_cells_expr, probe_cells_udf,
    )

    cents = train_centroids(emb, n_centroids=8, iters=3)
    both = emb.select(
        "vec_id",
        probe_cells_expr(F.col("embedding"), cents, 3).alias("by_expr"),
        probe_cells_udf(cents, 3).alias("by_udf"),
    ).collect()
    assert both and all(
        list(r["by_expr"]) == list(r["by_udf"]) for r in both
    )

    withnull = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, F.col("embedding")).alias("embedding"),
    )
    rows = withnull.select(
        "vec_id",
        assign_cell_udf(cents).alias("cell"),
        probe_cells_udf(cents, 2).alias("probes"),
    ).collect()
    for r in rows:
        if r["vec_id"] % 2 == 0:
            assert r["cell"] is not None and r["probes"] is not None
        else:
            assert r["cell"] is None and r["probes"] is None


def test_auto_lsh_bits_scaling():
    """bits=None sizes the hash table so bucket occupancy stays constant
    as the corpus grows (fixed bits -> quadratic candidate volume, the
    10x-soak cliff)."""
    from traject_spark.corpus import auto_lsh_bits

    assert auto_lsh_bits(100) == 4          # tiny corpus: floor
    assert auto_lsh_bits(2_000) == 4        # sf0.1 embeddings
    assert auto_lsh_bits(20_000) == 8       # sf1: 10x rows -> +~3 bits
    assert auto_lsh_bits(2_000_000) == 14
    assert auto_lsh_bits(10**12) == 16      # ceiling


def test_near_dup_lsh_auto_bits_subset_of_exact(emb):
    from traject_spark.corpus import cosine_near_dup

    exact = {(r.id_a, r.id_b)
             for r in cosine_near_dup(emb, threshold=0.3).collect()}
    lsh = {(r.id_a, r.id_b)
           for r in cosine_near_dup(
               emb, threshold=0.3, mode="lsh", bits=None, tables=4
           ).collect()}
    assert lsh and lsh <= exact


def test_signs_expr_null_and_wrong_dim_bucket_is_null(spark):
    """A NULL or wrong-length vector must bucket to NULL (excluded), not
    collapse into bucket 0 with every other mismatched row — that would
    silently degrade LSH to the full cross join."""
    from pyspark.sql import functions as F
    from traject_spark.corpus.similarity import cosine_near_dup, signs_expr

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0]), (3, None)],
        "vec_id long, embedding array<float>",
    )
    rows = df.select(
        "vec_id", signs_expr(F.col("embedding"), 4, 3, 0).alias("b")
    ).collect()
    got = {r["vec_id"]: r["b"] for r in rows}
    assert got[1] is not None
    assert got[2] is None and got[3] is None
    # and the lsh pair path neither crashes nor pairs the mismatched rows
    out = cosine_near_dup(
        df, threshold=0.5, mode="lsh", dim=4, bits=3, tables=2
    ).collect()
    assert all({r["id_a"], r["id_b"]} == {1} or True for r in out)
    assert not any(2 in (r["id_a"], r["id_b"]) or 3 in (r["id_a"], r["id_b"]) for r in out)


def test_train_centroids_empty_input(spark):
    from traject_spark.corpus.similarity import train_centroids

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert train_centroids(df, n_centroids=4) == []


def test_nan_vectors_excluded_everywhere(spark):
    """A right-length vector with a NaN element must be EXCLUDED, never
    falsely matched: Spark's ordering treats NaN as greater than any
    value, so an unguarded NaN cosine ranks #1 / passes any threshold."""
    from pyspark.sql import functions as F
    from traject_spark.corpus.similarity import (
        brute_force_topk,
        cosine_near_dup,
        cosine_near_dup_witness,
        train_centroids,
    )

    nan = float("nan")
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),   # exact copy of 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1/2
        (4, [nan, 1.0, 1.0, 1.0]),   # NaN element, right length
        (5, [1.0, nan, 0.0, 0.0]),   # NaN element, right length
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # brute force: NaN rows never appear as neighbors (or queries)
    topk = brute_force_topk(df, df.filter("vec_id = 1"), k=5).collect()
    assert {r["neighbor_id"] for r in topk} == {1, 2, 3}
    assert topk[0]["neighbor_id"] in (1, 2)  # NaN didn't steal rank 1

    # exact pair mode: no NaN pair passes the threshold
    pairs = cosine_near_dup(df, threshold=0.9, mode="exact", dim=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}

    # witness path: NULL buckets dropped, invalid vectors never marked
    wit = cosine_near_dup_witness(
        df, threshold=0.9, dim=4, bits=2, tables=2
    ).collect()
    marked = {r["id"] for r in wit}
    assert marked == {2}, wit
    assert all(r["witness_id"] == 1 for r in wit)

    # centroid training: the NaN vector cannot poison a centroid
    cents = train_centroids(df, n_centroids=2)
    assert cents and all(
        all(x == x for x in c) for _, c in cents  # no NaN coordinates
    )


def test_pair_and_witness_defaults_agree():
    """cosine_near_dup and cosine_near_dup_witness share the auto-sizing
    default (bits=None -> auto_lsh_bits): a fixed-bucket default on the
    pair enumerator is the documented quadratic-candidate cliff, so the
    signatures must not drift apart (VERDICT r8 item 3)."""
    import inspect

    from traject_spark.corpus.similarity import (
        cosine_near_dup,
        cosine_near_dup_witness,
        lsh_topk,
    )

    for fn in (cosine_near_dup, cosine_near_dup_witness, lsh_topk):
        sig = inspect.signature(fn)
        assert sig.parameters["bits"].default is None, fn.__name__
        assert sig.parameters["tables"].default == 4, fn.__name__


def test_sql_fast_paths_match_column_builders(spark):
    """The generated-SQL fast paths (vec passed as a column NAME) must
    be value-identical to the Column reference builders on every row
    shape: valid, NULL vec, wrong dim, NULL element, NaN element — the
    fast path exists for driver-side build speed, never for different
    answers."""
    nan = float("nan")
    rows = [
        (1, [1.0, 0.25, -0.5, 2.0]),
        (2, [-1.0, 0.0, 0.125, -0.375]),
        (3, None),
        (4, [1.0, 2.0]),                 # wrong dim
        (5, [1.0, None, 0.5, 0.25]),     # NULL element
        (6, [nan, 1.0, 1.0, 1.0]),       # NaN element
        (7, [0.0, 0.0, 0.0, 0.0]),       # zero vector (0/0 score)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from traject_spark.corpus.similarity import (
        assign_cell_expr,
        probe_cells_expr,
        signs_expr,
    )

    for bits, table in [(2, 0), (6, 3)]:
        got = df.select(
            signs_expr("embedding", 4, bits, table).alias("fast"),
            signs_expr(F.col("embedding"), 4, bits, table).alias("ref"),
        ).collect()
        assert all(r["fast"] == r["ref"] for r in got), (bits, table, got)

    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0]),
             (7, [0.5, 0.5, 0.5, 0.5])]
    got = df.select(
        assign_cell_expr("embedding", cents).alias("fast"),
        assign_cell_expr(F.col("embedding"), cents).alias("ref"),
        probe_cells_expr("embedding", cents, 2).alias("pfast"),
        probe_cells_expr(F.col("embedding"), cents, 2).alias("pref"),
    ).collect()
    for r in got:
        assert r["fast"] == r["ref"], got
        assert r["pfast"] == r["pref"], got

    # single-centroid edge (the slice(pairs, 2, 0) typed-empty case)
    one = [(0, [1.0, 0.0, 0.0, 0.0])]
    got = df.select(
        assign_cell_expr("embedding", one).alias("fast"),
        assign_cell_expr(F.col("embedding"), one).alias("ref"),
    ).collect()
    assert all(r["fast"] == r["ref"] for r in got), got


def test_zero_vectors_excluded_not_crash(spark):
    """An all-zero embedding has no direction: its cosine is 0/0, which
    under ANSI mode is a job-killing DivideByZero, not NaN. Every
    scoring path must EXCLUDE zero vectors like the other invalid
    shapes (r9: one zero row would otherwise crash a 100 TB scan)."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from traject_spark.corpus import (
        brute_force_topk,
        cosine_near_dup,
        cosine_near_dup_witness,
        lsh_topk,
    )
    from traject_spark.corpus.similarity import (
        assign_cell_expr,
        assign_cell_udf,
        train_centroids,
    )

    exact = cosine_near_dup(df, threshold=0.5, mode="exact", dim=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(1, 2)}
    lsh = cosine_near_dup(
        df, threshold=0.5, mode="lsh", dim=4, bits=2, tables=2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in lsh} == {(1, 2)}

    bf = brute_force_topk(df, df, k=5, id_col="vec_id").collect()
    assert 3 not in {r["neighbor_id"] for r in bf}
    assert 3 not in {r["query_id"] for r in bf}

    wit = cosine_near_dup_witness(df, threshold=0.5, dim=4, bits=2).collect()
    assert {r["id"] for r in wit} == {2}

    tk = lsh_topk(df, df, k=3, dim=4, bits=2, tables=2).collect()
    assert 3 not in {r["neighbor_id"] for r in tk}

    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    cells = df.select(
        assign_cell_expr("embedding", cents).alias("fast"),
        assign_cell_expr(F.col("embedding"), cents).alias("ref"),
        assign_cell_udf(cents).alias("udf"),
    ).collect()
    for r in cells:
        assert r["fast"] == r["ref"] == r["udf"]
    assert cells[2]["fast"] is None  # the zero row assigns NULL

    # and training tolerates it (sample filter keeps it out of centroids)
    got = train_centroids(df, n_centroids=2)
    assert got and all(any(x != 0 for x in c) for _, c in got)


def test_exact_mode_ignores_dim_parameter(spark):
    """mode='exact' is the 'scores all pairs' baseline: it must work on
    any uniform dimension WITHOUT the caller threading dim through
    (r9 review: the zero-vector filter briefly added a size==dim clause
    that silently emptied exact results for non-64-dim corpora)."""
    rows = [(1, [1.0] * 128), (2, [1.0] * 128), (3, [0.0] * 128)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from traject_spark.corpus import cosine_near_dup

    got = cosine_near_dup(df, threshold=0.9).collect()  # dim left at 64
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}


def test_centroid_guards_symmetric_across_paths(spark):
    """Both quantizer expression paths reject the same bad centroid
    lists at build time: NaN coordinates and zero norms (a NaN score
    loses every comparison — all rows silently pile into cell 0)."""
    import pytest as _pytest

    from traject_spark.corpus.similarity import assign_cell_expr

    bad_nan = [(0, [float("nan"), 1.0]), (1, [1.0, 0.0])]
    bad_zero = [(0, [0.0, 0.0]), (1, [1.0, 0.0])]
    for cents, msg in [(bad_nan, "finite"), (bad_zero, "zero norm")]:
        with _pytest.raises(ValueError, match=msg):
            assign_cell_expr("embedding", cents)
        with _pytest.raises(ValueError, match=msg):
            assign_cell_expr(F.col("embedding"), cents)


def test_topk_recall_math(spark):
    """topk_recall: per-query |approx ∩ truth|/|truth| averaged; a query
    the approximate path dropped entirely counts as recall 0."""
    from traject_spark.corpus import topk_recall

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long",
    )
    # q1: both hit; q2: one of two; q3: dropped entirely
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 99)],
        "query_id long, neighbor_id long",
    )
    row = topk_recall(truth, approx).collect()[0]
    assert row["n_queries"] == 3
    assert abs(row["mean_recall"] - (1.0 + 0.5 + 0.0) / 3) < 1e-9


def test_ann_recall_locked_values(spark):
    """EXACT recall@10 of the production ANN shapes vs brute force,
    locked per-SF (the driver's ann_recall oracle row pins only the
    SF-independent >= 0.9 boolean — this is where a retune that MOVES
    recall, even staying above the gate, surfaces and forces a
    conscious re-lock). Deterministic end to end: hash-filter sample +
    sorted init + fixed iters (train_centroids), fixed hyperplane
    seeds, 6dp score rounding, (score desc, neighbor_id) tie-break."""
    from __spark_entry__ import q_ann_recall

    rows = {
        r["method"]: r
        for r in q_ann_recall(spark, "/root/testdata/sf0.001").collect()
    }
    assert rows["ivf"]["recall_ge_090"] and rows["lsh"]["recall_ge_090"]
    assert rows["ivf"]["n_queries"] == 8 and rows["lsh"]["n_queries"] == 8
    # exact locked values (r10, sf0.001): a hash-grade pin on the
    # candidate-set quality, not just the gate
    from pyspark.sql import functions as F
    from traject_spark.corpus import (
        brute_force_topk, ivf_topk, lsh_topk, topk_recall, train_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8)
    truth = brute_force_topk(corpus, queries, k=10)
    lsh = topk_recall(
        truth, lsh_topk(corpus, queries, k=10, dim=64, bits=2, tables=12)
    ).collect()[0]
    cents = train_centroids(corpus, n_centroids=16, iters=5)
    ivf = topk_recall(
        truth, ivf_topk(corpus, queries, cents, k=10, nprobe=12)
    ).collect()[0]
    assert round(ivf["mean_recall"], 4) == 0.9375, ivf
    assert round(lsh["mean_recall"], 4) == 1.0, lsh


def test_string_name_fast_paths_accept_nested_refs(spark):
    """ADVICE r15: the string-name overloads previously backtick-quoted
    the WHOLE name, so 'payload.text' became one dotted identifier and
    failed to resolve while F.col('payload.text') worked. Non-identifier
    names must now fall back to the Column path and resolve the nested
    field identically."""
    from traject_spark.corpus.dedup import minhash_signature_expr, simhash_expr
    from traject_spark.corpus.textstats import langid_ngram_expr

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat",)],
        "doc_id: long, text: string",
    ).select("doc_id", F.struct(F.col("text").alias("text")).alias("payload"))
    row = df.select(
        minhash_signature_expr("payload.text", 8, 3).alias("m_name"),
        minhash_signature_expr(F.col("payload.text"), 8, 3).alias("m_col"),
        simhash_expr("payload.text").alias("s_name"),
        simhash_expr(F.col("payload.text")).alias("s_col"),
        langid_ngram_expr("payload.text").alias("l_name"),
        langid_ngram_expr(F.col("payload.text")).alias("l_col"),
    ).collect()[0]
    assert row["m_name"] == row["m_col"]
    assert row["s_name"] == row["s_col"]
    assert row["l_name"] == row["l_col"]


def test_signature_checkpoint_is_lazy_and_size_warned(
    spark, monkeypatch, tmp_path
):
    """ADVICE r15 (medium): building a text-path dedup query must not
    trigger a Spark job (localCheckpoint is now lazy), and the (id, sig)
    checkpoint warns when the optimizer's input estimate exceeds the
    threshold, pointing at the durable sig_col posture. The warning
    reaches the user under the interpreter's default filters (which
    drop ResourceWarning); an input without statistics
    (createDataFrame) is no estimate and does not warn."""
    import warnings

    from traject_spark.corpus import dedup as _d
    from traject_spark.corpus.dedup import minhash_lsh_candidates

    rows = spark.createDataFrame(
        [(i, f"doc {i} words {' '.join(str(j) for j in range(10))}")
         for i in range(20)],
        "doc_id: long, text: string",
    )
    rows.write.parquet(str(tmp_path / "docs"))
    df = spark.read.parquet(str(tmp_path / "docs"))
    spark.sparkContext.setJobGroup("lazy-check", "builder laziness probe")
    try:
        out = minhash_lsh_candidates(df, num_hashes=16, bands=4)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            "lazy-check"
        )
        assert jobs == [], "builder construction ran a Spark job"
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert out.count() >= 0  # still executes fine

    def warned(frame) -> bool:
        with warnings.catch_warnings(record=True) as caught:
            minhash_lsh_candidates(frame, num_hashes=16, bands=4)
        return any("sig_col" in str(w.message) for w in caught)

    assert not warned(df) and not warned(rows)
    with monkeypatch.context() as m:
        m.setattr(_d, "_SIG_CHECKPOINT_WARN_BYTES", 0)
        assert warned(df)
        assert not warned(rows)
