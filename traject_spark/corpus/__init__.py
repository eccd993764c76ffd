"""Large-scale training-data pipeline operators (beyond the reference
surface): deduplication, similarity search, text analysis, PII and
benchmark decontamination.

These are first-class engine components designed for the 100 TB path:
- text statistics are pure narrow Column expressions (no shuffle);
- exact dedup is one hash-aggregate shuffle on a 128-bit fingerprint;
- text near-dup is MinHash-LSH: shingle->minhash (narrow) + band explode
  + per-bucket witness window (shuffle bounded by band buckets, not n^2
  pairs), with ``witness_clusters`` for transitive cluster ids;
- embedding near-dup is the same witness over random-hyperplane buckets
  (``cosine_near_dup_witness``); ``cosine_near_dup`` is its exact O(n^2)
  baseline;
- brute-force cosine top-k broadcasts the (small) query set so the corpus
  side stays a narrow scan; IVF (``ivf_topk``, the partitioned
  ``write_ivf_layout`` + ``ivf_topk_from_layout``) probes only the
  nearest coarse-quantizer cells.
"""

from traject_spark.corpus.textstats import (
    token_count_expr,
    stopword_ratio_expr,
    punct_ratio_expr,
    quality_score_expr,
    langid_expr,
    langid_ngram_expr,
    char_ngrams_expr,
    fingerprint_expr,
    gopher_quality_expr,
    gopher_repetition_expr,
    c4_badword_gate_expr,
    c4_clean_expr,
    c4_quality_expr,
    mean_word_length_expr,
    symbol_word_ratio_expr,
    alpha_word_ratio_expr,
    bullet_line_fraction_expr,
    ellipsis_line_fraction_expr,
    max_token_ratio_expr,
    gopher_stopword_hits_expr,
)
from traject_spark.corpus.pii import (
    PII_PATTERNS,
    pii_redact_expr,
    pii_stats_expr,
)
from traject_spark.corpus.dedup import (
    apply_exact_dedup,
    exact_dedup,
    minhash_signature_expr,
    minhash_lsh_candidates,
    minhash_near_dup_witness,
    minhash_near_dup_clusters,
    witness_clusters,
    ngram_jaccard_pairs,
)
from traject_spark.corpus.contamination import (
    contamination_mark,
    decontaminate,
)
from traject_spark.corpus.recipes import (
    annotate_documents,
    curate_documents,
)
from traject_spark.corpus.similarity import (
    assign_cell_udf,
    cosine_similarity_expr,
    auto_lsh_bits,
    cosine_near_dup,
    cosine_near_dup_witness,
    brute_force_topk,
    ivf_topk,
    ivf_topk_from_layout,
    write_ivf_layout,
    topk_recall,
    train_centroids,
)

__all__ = [
    "token_count_expr",
    "stopword_ratio_expr",
    "punct_ratio_expr",
    "quality_score_expr",
    "langid_expr",
    "langid_ngram_expr",
    "char_ngrams_expr",
    "fingerprint_expr",
    "gopher_quality_expr",
    "gopher_repetition_expr",
    "c4_badword_gate_expr",
    "c4_clean_expr",
    "c4_quality_expr",
    "PII_PATTERNS",
    "pii_stats_expr",
    "pii_redact_expr",
    "mean_word_length_expr",
    "symbol_word_ratio_expr",
    "alpha_word_ratio_expr",
    "bullet_line_fraction_expr",
    "ellipsis_line_fraction_expr",
    "max_token_ratio_expr",
    "gopher_stopword_hits_expr",
    "apply_exact_dedup",
    "exact_dedup",
    "minhash_signature_expr",
    "minhash_lsh_candidates",
    "minhash_near_dup_witness",
    "minhash_near_dup_clusters",
    "witness_clusters",
    "ngram_jaccard_pairs",
    "annotate_documents",
    "curate_documents",
    "contamination_mark",
    "decontaminate",
    "assign_cell_udf",
    "cosine_similarity_expr",
    "auto_lsh_bits",
    "cosine_near_dup",
    "cosine_near_dup_witness",
    "brute_force_topk",
    "ivf_topk",
    "ivf_topk_from_layout",
    "write_ivf_layout",
    "topk_recall",
    "train_centroids",
]
