"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exercises the engine's operator surface (SURVEY.md §2) over
the driver's synthetic tables; ``oracle_sql()`` gives each query's ANSI-SQL
twin for the DuckDB correctness gate. MARC-engine queries run the real
Pipeline/extractor machinery over records deterministically synthesized
from the ``documents`` table (traject_spark/synth.py) so the oracle can
re-derive expected outputs with plain SQL over the same parquet.

Column-name and value-format parity rules:
- every computed column is aliased identically on both sides;
- array outputs are '|'-joined to strings (no list-representation skew);
- float outputs are rounded identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from traject_spark import Pipeline
from traject_spark.corpus import (
    brute_force_topk,
    exact_dedup,
    fingerprint_expr,
    langid_expr,
    ngram_jaccard_pairs,
    gopher_quality_expr,
    langid_ngram_expr,
    max_token_ratio_expr,
    quality_score_expr,
    stopword_ratio_expr,
    token_count_expr,
)
from traject_spark.macros import (
    extract_all_marc_values,
    extract_marc,
    extract_marc_filing_version,
    literal,
    marc_era_facet,
    marc_formats,
    marc_geo_facet,
    marc_instrument_codes_normalized,
    marc_instrumentation_humanized,
    marc_languages,
    marc_lcc_to_broad_category,
    marc_lcsh_formatted,
    marc_publication_date,
    marc_sortable_author,
    marc_sortable_title,
    oclcnum,
    serialized_marc,
)
from traject_spark import transforms as T
from traject_spark.synth import (
    SQL_ERA,
    SQL_GENRE,
    SQL_INSTR_A,
    SQL_LANG3,
    SQL_LETTER,
    SQL_OCLC,
    SQL_TITLE,
    SQL_TITLE_A,
    SQL_TITLE_B,
    SQL_XML_CREATORS,
    SQL_XML_NAME_JOINED,
    SQL_XML_NAME_PARTS,
    SQL_YEAR,
    marc_from_documents,
    xml_from_documents,
)
from traject_spark.xmlrec import extract_xpath
from traject_spark.translation_maps.builtin import BUILTIN_MAPS


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _marc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return marc_from_documents(_docs(spark, sf_dir))


def _field(spark, sf_dir, name: str, *macros, joined: bool = True) -> DataFrame:
    """Apply a one-rule pipeline to synthesized MARC; '|'-join the array."""
    p = Pipeline().to_field(name, *macros)
    out = p.apply(_marc(spark, sf_dir))
    col = F.array_join(F.col(name), "|") if joined else F.col(name)
    return out.select(F.col("record_id"), col.alias(name))


def _sq(s: str) -> str:
    """SQL single-quote a python string (apostrophes doubled — real
    marc_languages values like \"Gwich'in\" would otherwise break the
    oracle's syntax the first time the synth lang set grows)."""
    return "'" + str(s).replace("'", "''") + "'"


def _case_map(expr: str, mapping: dict, default: str | None) -> str:
    """Build a SQL CASE translating ``expr`` through a python dict."""
    arms = " ".join(
        f"WHEN {_sq(k)} THEN {_sq(v)}"
        for k, v in mapping.items()
        if v is not None
    )
    dflt = "NULL" if default is None else _sq(default)
    return f"CASE {expr} {arms} ELSE {dflt} END"


# 048 $a first-2-chars -> marc_instruments map name (values the synth hits)
_SQL_INSTR_NAME = (
    "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'Horn' WHEN 1 THEN 'Trumpet' "
    "WHEN 2 THEN 'Choruses, Mixed' ELSE 'Trombone' END"
)
# filing-version oracle: the joined 245ab value without the 'The ' prefix
_SQL_FILING_T = f"{SQL_TITLE} || ' : a ' || source || ' study /'"


def _sql_marc_binary() -> str:
    """DuckDB twin of the ISO 2709 framing arithmetic (serialize.py
    to_iso2709): per-field byte lengths from the same synthesized values,
    base address = 24 + 12*nfields + 1, total = base + data + 1, and the
    leader with its zero-padded length/base digits spliced in."""

    def ctrl(v: str) -> str:
        # DuckDB octet_length takes BLOB: encode() -> UTF-8 bytes
        return f"(octet_length(encode({v})) + 1)"

    def dat(subs) -> str:
        terms = " + ".join(
            f"(2 + octet_length(encode({v})))" for _, v in subs
        )
        return f"(3 + {terms})"

    lcc = (f"{SQL_LETTER} || CAST(doc_id % 900 + 1 AS VARCHAR) || '.5 .A' "
           "|| CAST(doc_id % 9 + 1 AS VARCHAR)")
    author = f"'Author, ' || {SQL_LETTER} || '.'"
    packed041 = f"CASE WHEN doc_id % 10 = 0 THEN 'engfre' ELSE {SQL_LANG3} END"
    f008 = f"'880520s' || {SQL_YEAR} || '    xxu{' ' * 17}' || {SQL_LANG3}"
    field_lens = [
        ctrl("CAST(doc_id AS VARCHAR)"),
        ctrl(f008),
        dat([("a", SQL_OCLC)]),
        dat([("a", packed041)]),
        dat([("a", SQL_INSTR_A)])
        + " + CASE WHEN doc_id % 3 = 0 THEN 6 ELSE 0 END",  # $b 'bd01'
        dat([("a", lcc)]),
        dat([("a", author)]),
        dat([
            ("a", SQL_TITLE_A), ("b", SQL_TITLE_B),
            ("c", f"'by Author ' || {SQL_LETTER} || '.'"),
        ]),
        dat([("b", "source || ' Press,'"), ("c", f"'c' || {SQL_YEAR} || '.'")]),
        dat([("a", "'Series ' || CAST(doc_id % 20 AS VARCHAR) || ' ;'")]),
        dat([
            ("a", "'Topic ' || CAST(doc_id % 10 AS VARCHAR)"),
            ("x", "'History'"), ("y", SQL_ERA),
            ("z", "'Region ' || CAST(doc_id % 5 AS VARCHAR) || '.'"),
        ]),
    ]
    f880 = dat([("6", "'245-01'"), ("a", f"'Alt ' || {SQL_TITLE}")])
    data_len = (
        "(" + " + ".join(field_lens)
        + f" + CASE WHEN doc_id % 4 = 0 THEN {f880} ELSE 0 END)"
    )
    nfields = "(CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 11 END)"
    base = f"(25 + 12 * {nfields})"
    total = f"({base} + {data_len} + 1)"
    leader = (
        f"lpad(CAST({total} AS VARCHAR), 5, '0') || 'c' || {SQL_GENRE} "
        f"|| ' a22' || lpad(CAST({base} AS VARCHAR), 5, '0') || ' a 4500'"
    )
    return f"""
        SELECT CAST(doc_id AS VARCHAR) AS record_id,
          CAST({total} AS BIGINT) AS bin_len,
          {leader} AS leader
        FROM documents"""


_LANG_NAME = {
    k: BUILTIN_MAPS["marc_languages"].get(k)
    for k in ("eng", "ger", "fre", "spa", "chi")
}
SQL_LANG_NAME = _case_map(SQL_LANG3, _LANG_NAME, None)


# ---------------------------------------------------------------------------
# MARC-engine queries
# ---------------------------------------------------------------------------

def q_marc_title_join(spark, sf_dir):
    """Kept as a library probe; NOT registered in queries() since r8 —
    the 245ab extract+join path stays hash-verified through
    marc_title_first_trim / pipeline_two_rules (its slot now carries
    corpus_decontaminate)."""
    return _field(spark, sf_dir, "title", extract_marc("245ab"))


def q_marc_title_first_trim(spark, sf_dir):
    return _field(
        spark, sf_dir, "title",
        extract_marc("245ab", first=True, trim_punctuation=True),
    )


def q_marc_ctrl_byteslice(spark, sf_dir):
    return _field(spark, sf_dir, "lang_code", extract_marc("008[35-37]"))


def q_marc_untraced_series(spark, sf_dir):
    return _field(spark, sf_dir, "series", extract_marc("490|0*|a"))


def q_marc_languages(spark, sf_dir):
    return _field(spark, sf_dir, "language", marc_languages())


def q_marc_oclcnum(spark, sf_dir):
    return _field(spark, sf_dir, "oclc", oclcnum())


def q_marc_lcc_category(spark, sf_dir):
    return _field(spark, sf_dir, "category", marc_lcc_to_broad_category())


def q_marc_pubdate(spark, sf_dir):
    return _field(spark, sf_dir, "pub_date", marc_publication_date())


def q_marc_sortable_title(spark, sf_dir):
    return _field(spark, sf_dir, "title_sort", marc_sortable_title())


def q_marc_sortable_author(spark, sf_dir):
    return _field(spark, sf_dir, "author_sort", marc_sortable_author())


def q_marc_lcsh(spark, sf_dir):
    return _field(spark, sf_dir, "subject", marc_lcsh_formatted())


def q_marc_geo(spark, sf_dir):
    return _field(spark, sf_dir, "geo", marc_geo_facet())


def q_marc_era(spark, sf_dir):
    return _field(spark, sf_dir, "era", marc_era_facet())


def q_marc_instruments(spark, sf_dir):
    """Kept as a library probe; NOT registered in queries() since r8 —
    the 048 spec walk stays hash-verified through marc_instrument_codes
    (its slot now carries corpus_curate_planted)."""
    return _field(
        spark, sf_dir, "instrument", marc_instrumentation_humanized()
    )


def q_marc_instrument_codes(spark, sf_dir):
    return _field(
        spark, sf_dir, "instrument_code", marc_instrument_codes_normalized()
    )


def q_marc_filing_title(spark, sf_dir):
    return _field(
        spark, sf_dir, "title_filing",
        extract_marc_filing_version("245ab", include_original=True),
    )


def q_marc_formats(spark, sf_dir):
    return _field(spark, sf_dir, "format", marc_formats())


def q_marc_all_values(spark, sf_dir):
    return _field(spark, sf_dir, "all_text", extract_all_marc_values())


def q_pipeline_skip(spark, sf_dir):
    src = marc_from_documents(_docs(spark, sf_dir), keep=("n_chars",))
    p = Pipeline().to_field("title", extract_marc("245a", first=True))
    p.each_record(lambda ctx: ctx.skip_when(F.col("n_chars") < 200))
    return p.apply(src).select(
        "record_id", F.array_join("title", "|").alias("title")
    )


def q_pipeline_two_rules(spark, sf_dir):
    p = (
        Pipeline()
        .settings(allow_duplicate_values=False)
        .to_field("subjects", extract_marc("650a"))
        .to_field("subjects", literal("Topic 0"))
    )
    out = p.apply(_marc(spark, sf_dir))
    return out.select("record_id", F.array_join("subjects", "|").alias("subjects"))


def q_pipeline_transforms(spark, sf_dir):
    """Transformation-operator chain (transformation.rb, SURVEY §2.4):
    split / gsub / select+default / delete_if+prepend+append / strip."""
    p = (
        Pipeline()
        .to_field("topic_words", extract_marc("650a"), T.split(" "))
        .to_field("year_digits", extract_marc("260c"), T.gsub("[^0-9]", ""))
        .to_field(
            "oclc_only", extract_marc("035a"),
            T.select(r"^\(OCoLC\)"), T.default("none"),
        )
        .to_field(
            "tagged", extract_marc("035a"),
            T.delete_if(r"^ABC"), T.prepend("#"), T.append("!"),
        )
        .to_field("stripped", extract_marc("100a"), T.prepend("  "), T.strip())
    )
    out = p.apply(_marc(spark, sf_dir))
    cols = ("topic_words", "year_digits", "oclc_only", "tagged", "stripped")
    return out.select(
        "record_id", *[F.array_join(c, "|").alias(c) for c in cols]
    )


def _rescue_pipeline():
    """The ONE poison pipeline behind both rescue queries — the rescue
    and quarantine oracles must always test the same predicate."""

    def upper_or_boom(v):
        # closure (cloudpickle by-value): poison = title length % 7 == 0
        if len(v) % 7 == 0:
            raise ValueError("bad title")
        return v.upper()

    return (
        Pipeline()
        .settings(mapping_rescue="skip")
        .to_field(
            "title",
            extract_marc("245a", alternate_script=False),
            T.transform_udf(upper_or_boom),
        )
    )


def q_pipeline_rescue(spark, sf_dir):
    """mapping_rescue='skip' (indexer.rb:483-517, doc/settings.md:35-58):
    a transform_udf that raises on planted poison records; errored records
    quarantine OUT of the main output, the rest map through unchanged."""
    out = _rescue_pipeline().apply(_marc(spark, sf_dir))
    return out.select(
        "record_id", F.array_join("title", "|").alias("title")
    )


def q_pipeline_rescue_quarantine(spark, sf_dir):
    """The quarantine side of q_pipeline_rescue: errored records with
    their deterministic error message (value + step context)."""
    _good, bad = _rescue_pipeline().apply_with_quarantine(_marc(spark, sf_dir))
    return bad.select("record_id", F.col("_error").alias("error"))


def q_marc_edge_shapes(spark, sf_dir):
    """Edge-record shapes from the reference's curated fixtures, oracle-
    checked (test_support/date_with_u.marc, 880_with_no_6.utf8.marc,
    packed_041a_lang.marc analogs):

    - doc_id%4==0: 008 date1 '198u' (u-range midpoint -> 1985);
    - doc_id%4==1: 008 date_type 'q' range 191u..1920 (midpoint 1915);
    - doc_id%4==2: an 880 field with NO $6 — must be ignored, not crash;
    - doc_id%4==3: odd-length packed 041a 'engfregerm' (chunks to
      eng/fre/ger + a trailing 'm' that is no language code and drops).
    """

    def cf(tag, value):
        return F.struct(F.lit(tag).alias("tag"), value.alias("value"))

    def sf(code, value):
        return F.struct(F.lit(code).alias("code"), value.alias("value"))

    def dfld(tag, ind1, ind2, subs):
        return F.struct(
            F.lit(tag).alias("tag"),
            F.lit(ind1).alias("ind1"),
            F.lit(ind2).alias("ind2"),
            F.array(*subs).alias("subfields"),
        )

    doc_id = F.col("doc_id")
    mod4 = doc_id % 4
    dtype = F.when(mod4 == 1, F.lit("q")).otherwise(F.lit("s"))
    date1 = (
        F.when(mod4 == 0, F.lit("198u"))
        .when(mod4 == 1, F.lit("191u"))
        .otherwise(F.concat(F.lit("19"), F.lpad((doc_id % 50).cast("string"), 2, "0")))
    )
    date2 = F.when(mod4 == 1, F.lit("1920")).otherwise(F.lit("    "))
    f008 = F.concat(
        F.lit("880520"), dtype, date1, date2, F.lit(" " * 20), F.lit("eng")
    )
    packed = F.when(mod4 == 3, F.lit("engfregerm")).otherwise(
        F.lit("fre")
    )
    title = F.concat(F.lit("Edge title "), doc_id.cast("string"))
    base = [
        dfld("041", "0", " ", [sf("a", packed)]),
        dfld("245", "1", "0", [sf("a", title)]),
    ]
    bad880 = dfld("880", "1", "0", [sf("a", F.lit("SHOULD NOT APPEAR"))])
    marc = F.struct(
        F.lit("01234cam a2200301 a 4500").alias("leader"),
        F.array(
            cf("001", doc_id.cast("string")), cf("008", f008)
        ).alias("controlfields"),
        F.when(mod4 == 2, F.array(*base, bad880))
        .otherwise(F.array(*base))
        .alias("datafields"),
    )
    src = _docs(spark, sf_dir).select(
        doc_id.cast("string").alias("record_id"), marc.alias("marc")
    )
    p = (
        Pipeline()
        .to_field("title", extract_marc("245a"))
        .to_field("pub_date", marc_publication_date())
        .to_field("language", marc_languages())
    )
    out = p.apply(src)
    return out.select(
        "record_id",
        F.array_join("title", "|").alias("title"),
        F.array_join("pub_date", "|").alias("pub_date"),
        F.array_join("language", "|").alias("language"),
    )


def q_marc_serialize_binary(spark, sf_dir):
    """serialized_marc('binary'): ISO 2709 encoding, oracle-checked on
    the ISO 2709 framing — total record byte length (leader+directory+
    data+terminators) and the materialized 24-byte leader (record length
    and base address digits) recomputed independently in SQL from the
    synthesized field values. Full-byte round-trip stays in
    tests/test_io_writers.py (base64 payload has no SQL twin)."""
    df = _field(spark, sf_dir, "marc_b64", serialized_marc("binary"))
    raw = F.unbase64(F.col("marc_b64"))
    return df.select(
        "record_id",
        F.length(raw).cast("long").alias("bin_len"),
        F.decode(F.substring(raw, 1, 24), "utf-8").alias("leader"),
    )


def q_xml_extract(spark, sf_dir):
    """NokogiriIndexer equivalent: extract_xpath over per-record XML
    (namespaced elements, attribute, repeated element, whitespace norm)
    plus the mixed-content <name> element extracted BOTH ways — the fast
    path (one value per text node) and join_text=True (the reference's
    one-joined-value-per-match, nokogiri_macros.rb:30-40)."""
    ns = {"dc": "http://purl.org/dc/elements/1.1/"}
    p = (
        Pipeline(source_col="xml")
        .to_field("title", extract_xpath("//dc:title", ns=ns))
        .to_field("creators", extract_xpath("//dc:creator", ns=ns))
        .to_field("rec_ref", extract_xpath("/record/@id"))
        .to_field("date", extract_xpath("//dc:date", ns=ns))
        .to_field("name_parts", extract_xpath("//name"))
        .to_field("name_joined", extract_xpath("//name", join_text=True))
    )
    out = p.apply(xml_from_documents(_docs(spark, sf_dir)))
    return out.select(
        "record_id",
        F.array_join("title", "|").alias("title"),
        F.array_join("creators", "|").alias("creators"),
        F.array_join("rec_ref", "|").alias("rec_ref"),
        F.array_join("date", "|").alias("date"),
        F.array_join("name_parts", "|").alias("name_parts"),
        F.array_join("name_joined", "|").alias("name_joined"),
    )


# ---------------------------------------------------------------------------
# corpus / text-analysis queries
# ---------------------------------------------------------------------------

def q_text_token_fingerprint(spark, sf_dir):
    """Token counting + document fingerprinting in one oracle row."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count_expr(F.col("text")).alias("n_tokens"),
        fingerprint_expr(F.col("text")).alias("fingerprint"),
    )


def q_text_quality(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        stopword_ratio_expr(F.col("text")).alias("stopword_ratio"),
        quality_score_expr(F.col("text")).alias("quality"),
    )


def q_text_langid(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", langid_expr(F.col("text")).alias("lang_guess")
    )


def q_text_gopher_quality(spark, sf_dir):
    """Gopher §A1.1 quality components (textstats.gopher_quality_expr),
    struct expanded to columns for the hash compare. Also carries the
    r12-era stopword_ratio/quality/n_tokens columns."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        # min_stopword_hits=1: the synthetic vocab carries a single
        # Gopher stopword, so the paper value of 2 would make this
        # row degenerate (all-False passes)
        gopher_quality_expr(F.col("text"), min_stopword_hits=1).alias("g"),
        token_count_expr(F.col("text")).alias("n_tokens"),
        stopword_ratio_expr(F.col("text")).alias("stopword_ratio"),
        quality_score_expr(F.col("text")).alias("quality"),
        max_token_ratio_expr(F.col("text")).alias("max_token_ratio"),
    ).select(
        "doc_id",
        F.col("g.n_words").alias("n_words"),
        F.col("g.mean_word_length").alias("mean_word_length"),
        F.col("g.symbol_word_ratio").alias("symbol_word_ratio"),
        F.col("g.alpha_word_ratio").alias("alpha_word_ratio"),
        F.col("g.bullet_line_fraction").alias("bullet_line_fraction"),
        F.col("g.ellipsis_line_fraction").alias("ellipsis_line_fraction"),
        F.col("g.stopword_hits").alias("stopword_hits"),
        F.col("g.passes").alias("passes"),
        "n_tokens",
        "stopword_ratio",
        "quality",
        "max_token_ratio",
    )


def q_text_langid_ngram(spark, sf_dir):
    """Character-trigram language ID over the generated 28-language
    profile table (textstats.langid_ngram_expr); the DuckDB twin is
    rendered from the SAME profile table (_sql_text_langid_ngram)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        langid_ngram_expr(F.col("text")).alias("lang_ngram"),
        token_count_expr(F.col("text")).alias("n_tokens"),
        fingerprint_expr(F.col("text")).alias("fingerprint"),
    )


def q_text_gopher_repetition(spark, sf_dir):
    """Gopher §A1.2 repetition signals (textstats.gopher_repetition_expr):
    dup line/paragraph fractions + char fractions + top-2/3/4-gram char
    mass, struct expanded to columns for the hash compare. The 5-10-gram
    duplicate-coverage signals are deliberately absent (position-marking
    with overlap suppression is not twin-able SQL; see the expr
    docstring). r16: runs the documented recommended Arrow single-pass
    path for full-struct scans (use_arrow=True) — bit-identical to the
    Column tree (parity test + this row's own DuckDB compare), and the
    oracle thereby pins the path the bench lane times."""
    from traject_spark.corpus import gopher_repetition_expr

    return _docs(spark, sf_dir).select(
        "doc_id",
        gopher_repetition_expr(F.col("text"), use_arrow=True).alias("r"),
    ).select(
        "doc_id",
        F.col("r.dup_line_frac").alias("dup_line_frac"),
        F.col("r.dup_para_frac").alias("dup_para_frac"),
        F.col("r.dup_line_char_frac").alias("dup_line_char_frac"),
        F.col("r.dup_para_char_frac").alias("dup_para_char_frac"),
        F.col("r.top_2gram_char_frac").alias("top_2gram_char_frac"),
        F.col("r.top_3gram_char_frac").alias("top_3gram_char_frac"),
        F.col("r.top_4gram_char_frac").alias("top_4gram_char_frac"),
        F.col("r.passes").alias("passes"),
    )


def q_text_c4_quality(spark, sf_dir):
    """C4 §2.2 cleaning (textstats.c4_quality_expr / c4_clean_expr):
    page-level struct expanded to columns PLUS the line-cleaned text —
    the string compare pins the whole line-filter pipeline, not just
    the counts."""
    from traject_spark.corpus import c4_quality_expr

    return _docs(spark, sf_dir).select(
        "doc_id",
        c4_quality_expr(F.col("text"), include_cleaned=True).alias("q"),
    ).select(
        "doc_id",
        F.col("q.n_lines").alias("n_lines"),
        F.col("q.kept_line_frac").alias("kept_line_frac"),
        F.col("q.n_sentences").alias("n_sentences"),
        F.col("q.has_curly_brace").alias("has_curly_brace"),
        F.col("q.has_lorem_ipsum").alias("has_lorem_ipsum"),
        F.col("q.passes").alias("passes"),
        F.col("q.cleaned_text").alias("cleaned_text"),
    )


def q_pii(spark, sf_dir):
    """PII detect + redact (corpus/pii.py): per-category counts struct
    expanded to columns PLUS the redacted text itself — the string
    compare pins the whole ordered-replacement pipeline, exactly like
    text_c4_quality hashes the cleaned text. Patterns are restricted to
    the Java-regex/RE2 intersection so the DuckDB twin runs the
    IDENTICAL pattern strings."""
    from traject_spark.corpus import pii_redact_expr, pii_stats_expr

    return _docs(spark, sf_dir).select(
        "doc_id",
        pii_stats_expr(F.col("text")).alias("s"),
        pii_redact_expr(F.col("text")).alias("redacted"),
    ).select(
        "doc_id",
        F.col("s.n_email").alias("n_email"),
        F.col("s.n_ipv4").alias("n_ipv4"),
        F.col("s.n_phone").alias("n_phone"),
        F.col("s.has_pii").alias("has_pii"),
        "redacted",
    )


def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_jaccard_adjacent(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # the inner join inside ngram_jaccard_pairs drops the final dangling pair
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return ngram_jaccard_pairs(docs, pairs=pairs)


def q_embed_norm(spark, sf_dir):
    """L2 norm per embedding (similarity.norm_expr), rounded to 4dp."""
    from traject_spark.corpus.similarity import norm_expr

    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.round(norm_expr(F.col("embedding")), 4).alias("norm")
    )


def q_dedup_witness_clusters(spark, sf_dir):
    """Cluster labels over witness edges (minhash_near_dup_clusters):
    planted exact-copy CHAINS — every 25th non-NULL doc copied at +1M,
    +2M and +3M — must all resolve to the ORIGINAL doc_id as cluster_id.
    Note the direct witness of each copy is usually the base id itself
    (the clique's global minimum is the bucket minimum in every shared
    bucket and wins the est-desc/id-asc tie-break), so this row
    validates marking completeness + label correctness; closure DEPTH
    (multi-hop chains) is pinned by pytest instead
    (test_witness_clusters_deep_chain_and_guards: a depth-40 chain, and
    the hypothesis property test's random forests). min_est=1.0 keeps
    the edge set SQL-predictable: full 64-hash agreement happens only
    for identical texts (the planted-pair trick), and sf0.01/sf0.001
    documents contain no natural exact-dup texts. Output restricted to
    planted ids: natural docs' cluster labels depend on hash-dependent
    near-dup edges, not SQL-predictable."""
    from traject_spark.corpus import minhash_near_dup_clusters

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = docs.filter(
        (F.col("doc_id") % 25 == 0) & F.col("text").isNotNull()
    )
    chain = docs
    for off in (1_000_000, 2_000_000, 3_000_000):
        chain = chain.unionAll(
            base.select((F.col("doc_id") + off).alias("doc_id"), "text")
        )
    out = minhash_near_dup_clusters(
        chain, num_hashes=64, bands=16, min_est=1.0
    )
    return out.filter(F.col("doc_id") >= 1_000_000).select(
        F.col("doc_id").alias("id"), "cluster_id"
    )


def q_embed_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return brute_force_topk(
        emb.filter(F.col("vec_id") >= 8),
        emb.filter(F.col("vec_id") < 8),
        k=5,
    )


def q_stream_dedup_fingerprint(spark, sf_dir):
    """Streaming exact-dedup: keyed state drops repeat fingerprints as
    they arrive (first occurrence wins)."""
    import re

    from traject_spark.streaming import run_stream_to_table, stream_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(f"{sf_dir}/documents.[p]arquet")
        .select(fingerprint_expr(F.col("text")).alias("fingerprint"))
    )
    return run_stream_to_table(
        stream_dedup(stream, "fingerprint"),
        # one memory table per sf dir: runs over two scales in one
        # session must not read each other's table
        "t_dedup" + re.sub(r"\W", "_", sf_dir),
        output_mode="append",
    )


# ---------------------------------------------------------------------------
# hash-based dedup pipelines: oracle-checked planted-pair slices
# (general retrieval output is xxhash64-dependent, no DuckDB twin)
# ---------------------------------------------------------------------------

def _with_planted_copies(docs):
    """docs + EXACT copies of every 25th doc re-id'd +1000000 — the one
    planted-pair construction behind all three dedup oracles (their SQL
    twins hard-code doc_id % 25 = 0 / +1000000 in lockstep).

    The offset assumes doc_ids < 1,000,000 (true for every driver sf
    dir); a larger corpus would collide planted ids with real documents
    and silently corrupt all three oracles — fail loudly instead."""
    max_id = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    if max_id >= 1_000_000:
        raise ValueError(
            f"planted-copy id offset 1000000 collides with real doc_ids "
            f"(max {max_id}); the planted-pair oracles assume a smaller "
            "corpus"
        )
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.unionAll(copies)


def q_dedup_minhash_exact_pairs(spark, sf_dir):
    """Fully-agreeing MinHash+LSH pairs (est_jaccard = 1.0): planted
    exact-copy docs (every 25th doc re-id'd +1000000) MUST surface
    through the banding join with full 64-hash agreement — an
    oracle-checkable slice of the LSH pipeline (identical texts have
    identical signatures, and a fully-equal signature matches in every
    band). The general candidate set stays rows-only (xxhash64 has no
    DuckDB twin)."""
    from traject_spark.corpus import minhash_lsh_candidates

    cands = minhash_lsh_candidates(
        _with_planted_copies(_docs(spark, sf_dir).select("doc_id", "text")),
        num_hashes=64,
        bands=16,
    )
    # restrict to the planted pairs: natural near-dups can reach full
    # 64-hash agreement by chance (hash-dependent, not SQL-predictable);
    # the oracle claim is completeness — every planted copy MUST surface
    # with est_jaccard exactly 1.0
    return cands.filter(
        (F.col("id_b") == F.col("id_a") + 1000000)
        & (F.col("est_jaccard") >= 1.0)
    )


def q_dedup_exact_apply(spark, sf_dir):
    """Survivor-filtered corpus (apply_exact_dedup): planted exact copies
    (every 25th doc re-id'd +1000000) must vanish, the min-id original
    surviving — one window-rank shuffle, no join-back."""
    from traject_spark.corpus import apply_exact_dedup

    return apply_exact_dedup(
        _with_planted_copies(_docs(spark, sf_dir).select("doc_id", "text"))
    ).select("doc_id")


def q_corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination (contamination.decontaminate) as an
    exact full-rule oracle: benchmark pool = every 10th document's text,
    corpus = documents + planted exact copies (+1000000 of every 25th
    doc). A corpus doc is dropped when >= 2 of its distinct word
    13-grams appear anywhere in the pool. min_matches=2 genuinely
    exercises the threshold on this data: short docs (< 14 tokens)
    carry a single whole-text shingle, so even the pool docs' own
    planted copies survive when they can't muster two matching grams.
    The default hashed-join path (xxhash64 gram keys) is what runs —
    the SQL twin joins on the gram STRINGS; a 64-bit collision among
    ~3e4 x 3e3 grams (~5e-12) is the only way they can diverge."""
    from traject_spark.corpus.contamination import decontaminate

    docs = _with_planted_copies(_docs(spark, sf_dir).select("doc_id", "text"))
    bench = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .select("text")
    )
    return decontaminate(docs, bench, n=13, min_matches=2).select("doc_id")


def _curate_cycles():
    """Planted near-dup-but-not-exact-dup families for the curate oracle.

    Each family is one 3-token cycle repeated to different lengths: the
    texts differ (different fingerprints — exact dedup keeps them all)
    but every 3-gram window is one of the same 3 rotations, so their
    DISTINCT shingle sets are identical, their MinHash signatures agree
    on all 64 components, and the witness/closure stage must label the
    whole family with the family minimum id. 54+ tokens clears the
    quality length gate (0.5 >= min_quality); zero stopwords keeps the
    ratio component at 0 so the planted docs sit exactly ON the 0.5
    gate boundary."""
    rows = []
    for fam in range(2):
        cyc = [f"cyc{fam}a", f"cyc{fam}b", f"cyc{fam}c"]
        for k in range(3):
            n = 54 + 3 * k
            rows.append(
                (2_000_000 + fam * 10 + k,
                 " ".join(cyc[i % 3] for i in range(n)))
            )
    return rows


def q_corpus_curate_planted(spark, sf_dir):
    """End-to-end curation recipe (recipes.curate_documents) with every
    stage oracle-checkable: quality gate (min_tokens=5, min_quality=0.5
    — the length/stopword components of quality_score_expr decide real
    drops on this corpus), exact dedup (planted +1000000 exact copies
    of every 25th doc must vanish, min-id original surviving), and
    near-dup clustering in mode="cluster" with min_est=1.0 (planted
    cyclic families — identical distinct-shingle sets, distinct texts —
    must resolve to the family-min cluster_id). cluster_id is masked to
    -1 outside the planted 2,000,000+ block (sentinel, not NULL — a
    nullable BIGINT turns float64 in the oracle's pandas frame and the
    value hashes diverge on format): distinct natural texts CAN
    reach full 64-hash agreement by chance (docs 110/467 do at sf0.001),
    so natural labels are hash-dependent, not SQL-predictable — the same
    output restriction dedup_witness_clusters documents. Natural rows
    still verify the gate + exact dedup columns in full.
    This is the integration row VERDICT r7 asked for: a wrong join key,
    a dropped filter, or a stale stage-boundary materialization in the
    recipe shows up here even when each operator's own unit tests pass."""
    from traject_spark.corpus.recipes import curate_documents

    docs = _with_planted_copies(_docs(spark, sf_dir).select("doc_id", "text"))
    planted = spark.createDataFrame(
        _curate_cycles(), "doc_id long, text string"
    )
    out = curate_documents(
        docs.unionAll(planted),
        min_tokens=5,
        min_quality=0.5,
        near_dup="cluster",
        min_est=1.0,
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "quality",
        F.when(F.col("doc_id") >= 2_000_000, F.col("cluster_id"))
        .otherwise(F.lit(-1).cast("long"))
        .alias("cluster_id"),
    )


def _ivf_centroids(emb):
    """The oracle's explicit centroid set (corpus vec_ids 8..11), shared
    by q_ann_ivf_topk and q_ann_ivf_layout_topk — it must stay identical
    in both for the common _SQL_IVF oracle to be valid for either."""
    return [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(
            (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
        ).orderBy("vec_id").collect()
    ]


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN with an explicit (SQL-mirrorable) coarse quantizer: the four
    lowest-id corpus vectors act as centroids, nprobe=2. Production use
    trains centroids with corpus.train_centroids (k-means on a sample)."""
    from traject_spark.corpus import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _ivf_centroids(emb)
    return ivf_topk(
        emb.filter(F.col("vec_id") >= 8),
        emb.filter(F.col("vec_id") < 8),
        cents,
        k=5,
        nprobe=2,
    )


_IVF_LAYOUT_CACHE: dict = {}


def q_ann_ivf_layout_topk(spark, sf_dir):
    """THE declared 100 TB ANN path, oracle-gated: the corpus is persisted
    hive-partitioned by IVF cell (write_ivf_layout), then probed through
    the broadcast probe-cell join that dynamic-partition-prunes unprobed
    cells at the FILE level (asserted in tests/test_similarity.py). Same
    explicit centroid set as ann_ivf_topk (corpus vec_ids 8..11, nprobe=2)
    so the result — and the SQL oracle — are identical; what this row adds
    is that the partitioned-layout read path itself is hash-verified.

    The layout is written ONCE per process per sf_dir (cached — repeated
    driver invocations reuse it) and removed at interpreter exit; it must
    outlive this callable because the returned DataFrame is lazy. The
    driver-local temp path is executor-visible in local mode, which is
    where this query runs; a cluster deployment would point
    write_ivf_layout at shared storage."""
    import atexit
    import shutil
    import tempfile

    from traject_spark.corpus import ivf_topk_from_layout, write_ivf_layout

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _ivf_centroids(emb)
    path = _IVF_LAYOUT_CACHE.get(sf_dir)
    if path is None:
        base = tempfile.mkdtemp(prefix="entry_ivf_layout_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = base + "/corpus"
        write_ivf_layout(emb.filter(F.col("vec_id") >= 8), cents, path)
        _IVF_LAYOUT_CACHE[sf_dir] = path
    return ivf_topk_from_layout(
        spark,
        path,
        emb.filter(F.col("vec_id") < 8),
        cents,
        k=5,
        nprobe=2,
    )


def q_ann_recall(spark, sf_dir):
    """Recall@10 gate for the IVF ANN path against the exact
    brute-force baseline (VERDICT r9 item 3). The fixed-seed
    ann_ivf_topk row hash-matches its own candidate set — a retune
    (quantizer training, nprobe) that silently tanked recall would
    re-lock green; this row measures recall INSIDE the query and
    returns the >= 0.9 verdict, so a recall collapse flips the row red
    (exact measured values are SF-dependent and pinned per-SF in
    tests/test_similarity.py::test_ann_recall_locked_values).

    Parameters are the PRODUCTION recall shape (measured r10 on the
    near-random synthetic embeddings, sf0.01 AND sf0.1): a k-means-
    trained 16-cell quantizer at nprobe=12 -> recall 0.9625 at both
    SFs. The registered fixed-seed row (4-cell nprobe=2) stays as-is:
    it pins candidate-set REPRODUCIBILITY; this row pins QUALITY (it
    measures 0.56-0.61 recall@10 — an aggressive-pruning shape a user
    tunes against exactly this metric, corpus.topk_recall)."""
    from traject_spark.corpus import ivf_topk, topk_recall, train_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 8)
    queries = emb.filter(F.col("vec_id") < 8)
    truth = brute_force_topk(corpus, queries, k=10)
    cents = train_centroids(corpus, n_centroids=16, iters=5)
    ivf = ivf_topk(corpus, queries, cents, k=10, nprobe=12)
    # the hashed columns are SF-independent (the measured value itself
    # varies with the synthetic vectors per sf_dir: 0.9375 at sf0.001,
    # 0.9625 at sf0.01 and sf0.1); the EXACT value is pinned per-SF by
    # tests/test_similarity.py::test_ann_recall_locked_values
    return topk_recall(truth, ivf).select(
        F.lit("ivf").alias("method"),
        F.col("n_queries").cast("long").alias("n_queries"),
        (F.col("mean_recall") >= 0.9).alias("recall_ge_090"),
    )


def q_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup marking, the production operator
    (cosine_near_dup_witness): each vector is checked against the
    bucket minimum and its sorted-neighbourhood predecessor in each of
    4 random-hyperplane tables (bits=6), and marked with its best
    witness at cosine >= 0.35. The oracle mirrors the identical
    hyperplane constants and the candidate window in SQL; the exact
    O(n^2) pair baseline stays a pytest check
    (tests/test_similarity.py)."""
    from traject_spark.corpus import cosine_near_dup_witness

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_near_dup_witness(
        emb, threshold=0.35, dim=64, bits=6, tables=4
    )


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def flagship_pipeline() -> Pipeline:
    """THE 12-rule full indexing pipeline (the reference's demo_config.rb
    shape) — single definition shared by ``entry()``, perfbench's
    ``marc8_index_ndjson`` workload and bench.py's ``map_full_pipeline``
    lane, so the benchmarks always measure exactly the contract
    pipeline."""
    return (
        Pipeline()
        .to_field("title", extract_marc("245ab", trim_punctuation=True))
        .to_field("title_sort", marc_sortable_title())
        .to_field("author", extract_marc("100a:110a:111a"))
        .to_field("author_sort", marc_sortable_author())
        .to_field("language", marc_languages())
        .to_field("oclc", oclcnum())
        .to_field("lcc_category", marc_lcc_to_broad_category())
        .to_field("subject", marc_lcsh_formatted())
        .to_field("geo", marc_geo_facet())
        .to_field("format", marc_formats())
        .to_field("pub_date", marc_publication_date())
        .to_field("all_text", extract_all_marc_values())
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full multi-field indexing pipeline over sf0.001,
    one narrow select."""
    return flagship_pipeline().apply(_marc(spark, "/root/testdata/sf0.001"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver evaluates only the FIRST 50 entries: the registry stays
    # at <= 50 rows, every one with a DuckDB oracle (asserted by
    # tests/test_entry_oracle.py). Operators whose general output has
    # no DuckDB twin (raw minhash signatures) are covered by pytest
    # instead, with an oracle-able planted-pair completeness slice
    # registered here (dedup_minhash_exact_pairs).
    return {
        "marc_title_join": q_marc_title_join,
        "marc_title_first_trim": q_marc_title_first_trim,
        "marc_ctrl_byteslice": q_marc_ctrl_byteslice,
        "marc_untraced_series": q_marc_untraced_series,
        "marc_languages": q_marc_languages,
        "marc_oclcnum": q_marc_oclcnum,
        "marc_lcc_category": q_marc_lcc_category,
        "marc_pubdate": q_marc_pubdate,
        "marc_sortable_title": q_marc_sortable_title,
        "marc_sortable_author": q_marc_sortable_author,
        "marc_lcsh": q_marc_lcsh,
        "marc_geo": q_marc_geo,
        "marc_era": q_marc_era,
        "marc_instruments": q_marc_instruments,
        "marc_instrument_codes": q_marc_instrument_codes,
        "marc_filing_title": q_marc_filing_title,
        "marc_formats": q_marc_formats,
        "marc_all_values": q_marc_all_values,
        "marc_edge_shapes": q_marc_edge_shapes,
        "marc_serialize_binary": q_marc_serialize_binary,
        "xml_extract": q_xml_extract,
        "pipeline_skip": q_pipeline_skip,
        "pipeline_two_rules": q_pipeline_two_rules,
        "pipeline_transforms": q_pipeline_transforms,
        "pipeline_rescue": q_pipeline_rescue,
        "pipeline_rescue_quarantine": q_pipeline_rescue_quarantine,
        "text_token_fingerprint": q_text_token_fingerprint,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_gopher_quality": q_text_gopher_quality,
        "text_langid_ngram": q_text_langid_ngram,
        "text_gopher_repetition": q_text_gopher_repetition,
        "text_c4_quality": q_text_c4_quality,
        "pii": q_pii,
        "dedup_exact": q_dedup_exact,
        "dedup_exact_apply": q_dedup_exact_apply,
        "dedup_jaccard_adjacent": q_dedup_jaccard_adjacent,
        "dedup_minhash_exact_pairs": q_dedup_minhash_exact_pairs,
        "dedup_witness_clusters": q_dedup_witness_clusters,
        "stream_dedup_fingerprint": q_stream_dedup_fingerprint,
        "embed_norm": q_embed_norm,
        "embed_topk": q_embed_topk,
        "embed_near_dup": q_embed_near_dup,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_layout_topk": q_ann_ivf_layout_topk,
        "ann_recall": q_ann_recall,
        "corpus_decontaminate": q_corpus_decontaminate,
        "corpus_curate_planted": q_corpus_curate_planted,
    }


def _sql_cos(a: str, b: str) -> str:
    """DuckDB cosine-similarity fragment between two FLOAT[] expressions,
    summing in the same element order / double precision as dot_expr."""
    def sq(v):
        return (f"sqrt(list_sum(list_transform({v}, "
                f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")
    return (
        f"(list_sum(list_transform(range(1, 65), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) "
        f"/ ({sq(a)} * {sq(b)}))"
    )


# IVF oracle: same centroid set (corpus vec_ids 8..11), same rounded-score
# argmax assignment, nprobe=2 probe, exact rescoring of probed cells only
_SQL_IVF = f"""
    WITH cen AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id BETWEEN 8 AND 11
    ), corp AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8
    ), qry AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8
    ), assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT v.vec_id, v.embedding, c.cid,
          row_number() OVER (PARTITION BY v.vec_id
            ORDER BY round({_sql_cos('v.embedding', 'c.cvec')}, 9) DESC,
                     c.cid) AS r
        FROM corp v CROSS JOIN cen c
      ) WHERE r = 1
    ), probe AS (
      SELECT vec_id AS query_id, embedding AS qvec, cid FROM (
        SELECT q.vec_id, q.embedding, c.cid,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY round({_sql_cos('q.embedding', 'c.cvec')}, 9) DESC,
                     c.cid) AS r
        FROM qry q CROSS JOIN cen c
      ) WHERE r <= 2
    ), scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
        round({_sql_cos('p.qvec', 'a.embedding')}, 6) AS score
      FROM probe p JOIN assign a ON a.cid = p.cid
    ), ranked AS (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
      ) AS BIGINT) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5"""


def _sql_lsh_bucket(vexpr: str, table: int, bits: int = 6, dim: int = 64) -> str:
    """DuckDB twin of similarity._signs_sql: the same deterministic
    splitmix hyperplanes as double literals, same >= 0 sign rule."""
    from traject_spark.corpus.similarity import _hyperplane

    terms = []
    for b in range(bits):
        lit = "[" + ", ".join(repr(x) for x in _hyperplane(dim, b, table)) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST({vexpr}[i] AS DOUBLE) * ({lit})[i]))"
        )
        terms.append(f"CASE WHEN {dot} >= 0 THEN {1 << b} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


# embedding witness oracle: identical hyperplane bucket constants
# (bits=6, tables=4); per (table, bucket) the bucket minimum (first) and
# the predecessor (lag) by vec_id are each row's candidates; the best
# candidate by 9-decimal cosine (ties: lower witness id) marks the row
_SQL_NEAR_DUP = f"""
    WITH buckets AS (
      {" UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"{_sql_lsh_bucket('embedding', t)} AS bucket FROM embeddings "
        "WHERE len(embedding) = 64"
        for t in range(4)
    )}
    ), win AS (
      SELECT vec_id AS id,
        first_value(vec_id) OVER w AS first_id,
        lag(vec_id) OVER w AS prev_id
      FROM buckets
      WINDOW w AS (PARTITION BY tbl, bucket ORDER BY vec_id)
    ), cand AS (
      SELECT DISTINCT id, cand FROM (
        SELECT id, first_id AS cand FROM win
        UNION ALL
        SELECT id, prev_id FROM win
      ) WHERE cand IS NOT NULL AND cand < id
    ), scored AS (
      SELECT c.id, c.cand AS witness_id,
        round({_sql_cos('a.embedding', 'b.embedding')}, 9) AS cos
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.id
      JOIN embeddings b ON b.vec_id = c.cand
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY id ORDER BY cos DESC, witness_id
      ) AS rn
      FROM scored WHERE cos >= 0.35
    )
    SELECT id, witness_id, round(cos, 6) AS score FROM ranked WHERE rn = 1"""


def _sql_text_gopher() -> str:
    """DuckDB twin of textstats.gopher_quality_expr (+ the carried
    r12-era columns): every component recomputed from the same
    definitions — non-empty space tokens, ASCII-whitespace semantics,
    4dp rounds, gates on the ROUNDED values (exactly what the Spark
    struct gates on)."""
    stop7 = "'the','a','of','and','to','in','is'"
    gstop = "'the','be','to','of','and','that','have','with'"
    return f"""
        WITH t AS (
          SELECT doc_id, text, string_split(text, ' ') AS toks,
            list_filter(string_split(text, ' '), x -> x <> '') AS ws,
            string_split(text, chr(10)) AS ls
          FROM documents
        ), c AS (
          SELECT doc_id, text, toks, ws, ls,
            CAST(len(ws) AS BIGINT) AS n_words,
            round(CAST(coalesce(list_sum(list_transform(ws, x -> len(x))), 0)
              AS DOUBLE) / greatest(len(ws), 1), 4) AS mean_word_length,
            round((
              (len(text) - len(replace(text, '#', '')))
              + (len(text) - len(replace(text, '…', '')))
              + (len(text) - len(replace(text, '...', ''))) / 3
            ) / greatest(len(ws), 1), 4) AS symbol_word_ratio,
            round(CAST(len(list_filter(ws, x -> regexp_matches(x, '\\p{{L}}')))
              AS DOUBLE) / greatest(len(ws), 1), 4) AS alpha_word_ratio,
            round(CAST(len(list_filter(ls,
              l -> regexp_matches(ltrim(l), '^[•\\-\\*]'))) AS DOUBLE)
              / greatest(len(ls), 1), 4) AS bullet_line_fraction,
            round(CAST(len(list_filter(ls,
              l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS DOUBLE)
              / greatest(len(ls), 1), 4) AS ellipsis_line_fraction,
            CAST(len(list_filter(list_distinct(toks),
              x -> x IN ({gstop}))) AS BIGINT) AS stopword_hits,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            round(CAST(len(list_filter(toks, x -> x IN ({stop7})))
              AS DOUBLE) / greatest(len(toks), 1), 4) AS stopword_ratio,
            round(CAST(coalesce((SELECT max(cnt) FROM (
              SELECT count(*) AS cnt FROM unnest(ws) AS u(w) GROUP BY w
            )), 0) AS DOUBLE) / greatest(len(ws), 1), 4) AS max_token_ratio
          FROM t
        )
        SELECT doc_id, n_words, mean_word_length, symbol_word_ratio,
          alpha_word_ratio, bullet_line_fraction, ellipsis_line_fraction,
          stopword_hits,
          (n_words BETWEEN 50 AND 100000
           AND mean_word_length BETWEEN 3 AND 10
           AND symbol_word_ratio <= 0.1
           AND alpha_word_ratio >= 0.8
           AND bullet_line_fraction <= 0.9
           AND ellipsis_line_fraction <= 0.3
           AND stopword_hits >= 1) AS passes,
          n_tokens, stopword_ratio,
          round(
            (CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 0.5 ELSE 0.0 END)
            + (CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6
                 THEN 0.5 ELSE 0.0 END), 4) AS quality,
          max_token_ratio
        FROM c"""


def _sql_text_gopher_repetition() -> str:
    """DuckDB twin of textstats.gopher_repetition_expr: same line (\\n,
    empties kept) / paragraph (2+ newlines) / non-empty-space-token
    splits, duplicate counting as occurrences-beyond-first, top-n-gram
    char mass maximized directly (deterministic under count ties on
    both engines), 4dp rounds, gates on the ROUNDED values."""

    # the NULL-text CASE guards: DuckDB's coalesce(..., 0) would turn a
    # NULL-text row's char fractions into 0.0 where the Spark expr
    # yields an all-NULL struct (review r14 finding; the c4 twin had
    # the same guard from the start)
    def dup_chars(arr: str) -> str:
        return (
            f"CASE WHEN text IS NULL THEN NULL ELSE "
            f"coalesce((SELECT sum((cnt - 1) * length(v)) FROM ("
            f"SELECT v, count(*) AS cnt FROM unnest({arr}) AS u(v) "
            f"GROUP BY v) WHERE cnt > 1), 0) END"
        )

    def top_mass(n: int) -> str:
        grams = (
            f"list_transform(range(1, greatest(len(ws) - {n} + 2, 1)), "
            f"i -> array_to_string(array_slice(ws, i, i + {n} - 1), ' '))"
        )
        return (
            f"CASE WHEN text IS NULL THEN NULL ELSE "
            f"coalesce((SELECT max(cnt * length(g)) FROM ("
            f"SELECT g, count(*) AS cnt FROM unnest({grams}) AS u(g) "
            f"GROUP BY g) WHERE cnt >= 2), 0) END"
        )

    return f"""
        WITH t AS (
          SELECT doc_id, text,
            list_filter(string_split(text, ' '), x -> x <> '') AS ws,
            string_split(text, chr(10)) AS ls,
            regexp_split_to_array(text, '\\n{{2,}}') AS ps
          FROM documents
        ), c AS (
          SELECT doc_id,
            round(CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)
              / greatest(len(ls), 1), 4) AS dup_line_frac,
            round(CAST(len(ps) - len(list_distinct(ps)) AS DOUBLE)
              / greatest(len(ps), 1), 4) AS dup_para_frac,
            round(CAST({dup_chars('ls')} AS DOUBLE)
              / greatest(length(text), 1), 4) AS dup_line_char_frac,
            round(CAST({dup_chars('ps')} AS DOUBLE)
              / greatest(length(text), 1), 4) AS dup_para_char_frac,
            round(CAST({top_mass(2)} AS DOUBLE)
              / greatest(length(text), 1), 4) AS top_2gram_char_frac,
            round(CAST({top_mass(3)} AS DOUBLE)
              / greatest(length(text), 1), 4) AS top_3gram_char_frac,
            round(CAST({top_mass(4)} AS DOUBLE)
              / greatest(length(text), 1), 4) AS top_4gram_char_frac
          FROM t
        )
        SELECT doc_id, dup_line_frac, dup_para_frac, dup_line_char_frac,
          dup_para_char_frac, top_2gram_char_frac, top_3gram_char_frac,
          top_4gram_char_frac,
          (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
           AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
           AND top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
           AND top_4gram_char_frac <= 0.16) AS passes
        FROM c"""


def _sql_text_c4_quality() -> str:
    """DuckDB twin of textstats.c4_quality_expr + c4_clean_expr: same
    line split (\\n, empties kept), same kept-line predicate (terminal
    punctuation after rtrim, >= 5 non-empty space words, no
    case-insensitive 'javascript'), sentence counting by terminal-punct
    occurrences in the CLEANED text, page drops on braces and
    'lorem ipsum', 4dp fraction, gate on the rounded value."""
    # \z anchor + explicit trailing-ws class: the Java/RE2-safe
    # terminal-punct test (see textstats._C4_TERMINAL — Java's $ also
    # matches before a final \r, RE2's does not)
    kept = (
        "list_filter(ls, l -> regexp_matches("
        "regexp_replace(l, '[ \t\r\n\f]+$', ''), '[.!?\"]\\z') "
        "AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5 "
        "AND NOT contains(lower(l), 'javascript'))"
    )
    return f"""
        WITH t AS (
          SELECT doc_id, text, string_split(text, chr(10)) AS ls
          FROM documents
        ), k AS (
          SELECT doc_id, text, ls, {kept} AS kept FROM t
        ), c AS (
          SELECT doc_id,
            CAST(len(ls) AS BIGINT) AS n_lines,
            round(CAST(len(kept) AS DOUBLE) / greatest(len(ls), 1), 4)
              AS kept_line_frac,
            -- coalesce: DuckDB array_to_string([]) is NULL where
            -- Spark array_join([]) is '' — normalize to the Spark value
            CASE WHEN text IS NULL THEN NULL ELSE
              CAST(length(coalesce(array_to_string(kept, chr(10)), ''))
                - length(regexp_replace(
                    coalesce(array_to_string(kept, chr(10)), ''),
                    '[.!?]', '', 'g')) AS BIGINT) END AS n_sentences,
            (contains(text, '{{') OR contains(text, '}}'))
              AS has_curly_brace,
            contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
            CASE WHEN text IS NULL THEN NULL ELSE
              coalesce(array_to_string(kept, chr(10)), '') END
              AS cleaned_text
          FROM k
        )
        SELECT doc_id, n_lines, kept_line_frac, n_sentences,
          has_curly_brace, has_lorem_ipsum,
          (n_sentences >= 3 AND NOT has_curly_brace
           AND NOT has_lorem_ipsum) AS passes,
          cleaned_text
        FROM c"""


def _sql_pii() -> str:
    """DuckDB twin of pii_stats_expr + pii_redact_expr, rendered from
    the SAME PII_PATTERNS table (corpus/pii.py) — identical pattern
    strings on both engines (the patterns are deliberately restricted
    to the Java-regex/RE2 intersection so this is meaningful), same
    pinned redaction order (emails, then IPv4, then phones)."""
    from traject_spark.corpus import PII_PATTERNS

    e_pat, e_tok = PII_PATTERNS["email"]
    i_pat, i_tok = PII_PATTERNS["ipv4"]
    p_pat, p_tok = PII_PATTERNS["phone"]
    return f"""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '{e_pat}')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(text, '{i_pat}')) AS BIGINT) AS n_ipv4,
          CAST(len(regexp_extract_all(text, '{p_pat}')) AS BIGINT) AS n_phone,
          (len(regexp_extract_all(text, '{e_pat}')) > 0
           OR len(regexp_extract_all(text, '{i_pat}')) > 0
           OR len(regexp_extract_all(text, '{p_pat}')) > 0) AS has_pii,
          regexp_replace(
            regexp_replace(
              regexp_replace(text, '{e_pat}', '{e_tok}', 'g'),
              '{i_pat}', '{i_tok}', 'g'),
            '{p_pat}', '{p_tok}', 'g') AS redacted
        FROM documents"""


def _sql_text_langid_ngram() -> str:
    """DuckDB twin of textstats.langid_ngram_expr, rendered from the
    SAME generated profile table (corpus/langid_data.py) — score per
    language, greatest wins, ties to the alphabetically-first code."""
    from traject_spark.corpus.langid_data import LANGID_PROFILES

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    langs = sorted(LANGID_PROFILES)
    scores = ",\n            ".join(
        f"len(list_filter(grams, g -> g IN ("
        + ", ".join(lit(g) for g in LANGID_PROFILES[lang])
        + f"))) AS s_{lang}"
        for lang in langs
    )
    mx = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    picks = "\n               ".join(
        f"WHEN s_{lang} = {mx} THEN '{lang}'" for lang in langs
    )
    return f"""
        WITH nt AS (
          SELECT doc_id, text,
            trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
          FROM documents
        ), g AS (
          SELECT doc_id, text,
            CASE WHEN len(t) >= 3
              THEN list_transform(range(1, len(t) - 1), i -> substr(t, i, 3))
              ELSE [] END AS grams
          FROM nt
        ), s AS (
          SELECT doc_id, text,
            {scores}
          FROM g
        )
        SELECT doc_id,
          CASE WHEN {mx} = 0 THEN 'und'
               {picks}
               END AS lang_ngram,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
            AS fingerprint
        FROM s"""


def _sql_grams(n: int) -> str:
    """DuckDB twin of dedup.shingles_expr(text, n): distinct word
    n-grams; short texts contribute the whole (single-space-rejoined)
    text as the one shingle."""
    toks = "string_split(text, ' ')"
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {n} "
        f"THEN list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )


# decontamination oracle: same corpus/benchmark construction as
# q_corpus_decontaminate, joined on gram STRINGS (the engine joins on
# xxhash64(gram) — identical result modulo 64-bit collisions)
_SQL_DECONTAMINATE = f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 25 = 0
    ), cg AS (
      SELECT doc_id, unnest({_sql_grams(13)}) AS gram
      FROM all_docs WHERE text IS NOT NULL
    ), pool AS (
      SELECT DISTINCT unnest({_sql_grams(13)}) AS gram
      FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL
    ), marks AS (
      SELECT doc_id FROM cg WHERE gram IN (SELECT gram FROM pool)
      GROUP BY doc_id HAVING count(*) >= 2
    )
    SELECT doc_id FROM all_docs
    WHERE doc_id NOT IN (SELECT doc_id FROM marks)"""


def _sql_curate_planted() -> str:
    """DuckDB twin of q_corpus_curate_planted: quality gate (length +
    stopword components, exactly quality_score_expr), min-id exact-dedup
    survivor per normalized-text fingerprint, and cluster labels —
    planted cyclic families resolve to the family minimum
    ((doc_id // 10) * 10 over the 2,000,000+ id block), every natural
    survivor labels itself."""
    vals = ",\n        ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in _curate_cycles()
    )
    return rf"""
    WITH planted(doc_id, text) AS (VALUES {vals}),
    base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id, text FROM planted
    ), g AS (
      SELECT doc_id, text,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(string_split(text, ' '),
          x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
          AS n_stop
      FROM base WHERE text IS NOT NULL
    ), q AS (
      SELECT doc_id, text, n_tokens,
        round(
          (CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 0.5 ELSE 0.0 END)
          + (CASE WHEN round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4)
               BETWEEN 0.05 AND 0.6 THEN 0.5 ELSE 0.0 END), 4) AS quality
      FROM g
    ), pass AS (
      SELECT * FROM q WHERE n_tokens >= 5 AND quality >= 0.5
    ), surv AS (
      SELECT doc_id, n_tokens, quality FROM (
        SELECT doc_id, n_tokens, quality,
          row_number() OVER (
            PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn
        FROM pass
      ) WHERE rn = 1
    )
    SELECT doc_id, n_tokens, quality,
      CASE WHEN doc_id >= 2000000
        THEN CAST((doc_id // 10) * 10 AS BIGINT)
        ELSE CAST(-1 AS BIGINT) END AS cluster_id
    FROM surv"""


def oracle_sql() -> dict[str, str]:
    rid = "CAST(doc_id AS VARCHAR) AS record_id"
    title_value = f"{SQL_TITLE_A} || ' ' || {SQL_TITLE_B}"
    sql_lcc = _case_map(SQL_LETTER, BUILTIN_MAPS["lcc_top_level"], "Unknown")
    sql_genre_fmt = (
        f"CASE {SQL_GENRE} WHEN 'am' THEN 'Book|Print' "
        "WHEN 'gm' THEN 'Video/Film|Print' WHEN 'em' THEN 'Map/Globe|Print' "
        "ELSE 'Print' END"
    )
    return {
        "marc_title_join": f"""
            SELECT {rid},
              CASE WHEN doc_id % 4 = 0
                THEN {title_value} || '|Alt ' || {SQL_TITLE}
                ELSE {title_value} END AS title
            FROM documents""",
        "marc_title_first_trim": f"""
            SELECT {rid},
              CASE WHEN doc_id % 5 = 0 THEN 'The ' ELSE '' END
                || {SQL_TITLE} || ' : a ' || source || ' study' AS title
            FROM documents""",
        "marc_ctrl_byteslice": f"""
            SELECT {rid}, {SQL_LANG3} AS lang_code FROM documents""",
        "marc_untraced_series": f"""
            SELECT {rid},
              CASE WHEN doc_id % 2 = 1
                THEN 'Series ' || CAST(doc_id % 20 AS VARCHAR) || ' ;'
                ELSE NULL END AS series
            FROM documents""",
        "marc_languages": f"""
            SELECT {rid},
              CASE WHEN doc_id % 10 = 0 THEN
                -- packed 041a 'engfre' joins the 008 code, then de-dup
                CASE WHEN lang = 'en' THEN 'English|French'
                     WHEN lang = 'fr' THEN 'French|English'
                     ELSE {SQL_LANG_NAME} || '|English|French' END
              ELSE {SQL_LANG_NAME} END AS language
            FROM documents""",
        "marc_oclcnum": """
            SELECT CAST(doc_id AS VARCHAR) AS record_id,
              CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id + 1000000 AS VARCHAR)
                   WHEN doc_id % 3 = 1 THEN lpad(CAST(doc_id AS VARCHAR), 8, '0')
                   ELSE NULL END AS oclc
            FROM documents""",
        "marc_lcc_category": f"""
            SELECT {rid}, {sql_lcc} AS category FROM documents""",
        "marc_pubdate": f"""
            SELECT {rid}, {SQL_YEAR} AS pub_date FROM documents""",
        "marc_sortable_title": f"""
            SELECT {rid},
              {SQL_TITLE} || ' : a ' || source || ' study' AS title_sort
            FROM documents""",
        "marc_sortable_author": f"""
            SELECT {rid},
              'Author, ' || {SQL_LETTER} || '.' || '   '
                || {SQL_TITLE} || ' a ' || source || ' study by Author '
                || {SQL_LETTER} || '.' AS author_sort
            FROM documents""",
        "marc_lcsh": f"""
            SELECT {rid},
              'Topic ' || CAST(doc_id % 10 AS VARCHAR)
                || ' — History — ' || {SQL_ERA}
                || ' — Region ' || CAST(doc_id % 5 AS VARCHAR)
                AS subject
            FROM documents""",
        "marc_geo": f"""
            SELECT {rid},
              'Region ' || CAST(doc_id % 5 AS VARCHAR) AS geo
            FROM documents""",
        "marc_era": f"""
            SELECT {rid},
              CAST(18 + doc_id % 3 AS VARCHAR) || 'th century' AS era
            FROM documents""",
        "marc_instruments": f"""
            SELECT {rid},
              CASE WHEN doc_id % 3 = 0 AND doc_id % 4 = 3 THEN 'Trombone'
                   WHEN doc_id % 3 = 0 THEN {_SQL_INSTR_NAME} || '|Trombone'
                   ELSE {_SQL_INSTR_NAME} END AS instrument
            FROM documents""",
        "marc_instrument_codes": f"""
            SELECT {rid},
              CASE WHEN doc_id % 3 != 0
                     THEN {SQL_INSTR_A} || '|' || substr({SQL_INSTR_A}, 1, 2)
                   WHEN doc_id % 4 = 3 THEN 'bd01|bd|bd01.s|bd.s'
                   ELSE {SQL_INSTR_A} || '|' || substr({SQL_INSTR_A}, 1, 2)
                     || '|bd01|bd01.s|bd|bd.s'
              END AS instrument_code
            FROM documents""",
        "marc_filing_title": f"""
            SELECT {rid},
              CASE WHEN doc_id % 5 = 0
                THEN 'The ' || {_SQL_FILING_T} || '|' || {_SQL_FILING_T}
                ELSE {_SQL_FILING_T} END
              || CASE WHEN doc_id % 4 = 0
                   THEN '|Alt ' || {SQL_TITLE} ELSE '' END AS title_filing
            FROM documents""",
        "marc_formats": f"""
            SELECT {rid}, {sql_genre_fmt} AS format FROM documents""",
        "marc_all_values": f"""
            SELECT {rid},
              'Author, ' || {SQL_LETTER} || '.'
              || '|' || {title_value} || ' by Author ' || {SQL_LETTER} || '.'
              || '|' || source || ' Press, c' || {SQL_YEAR} || '.'
              || '|Series ' || CAST(doc_id % 20 AS VARCHAR) || ' ;'
              || '|Topic ' || CAST(doc_id % 10 AS VARCHAR)
                 || ' History ' || {SQL_ERA}
                 || ' Region ' || CAST(doc_id % 5 AS VARCHAR) || '.'
              || CASE WHEN doc_id % 4 = 0
                   THEN '|245-01 Alt ' || {SQL_TITLE} ELSE '' END
              AS all_text
            FROM documents""",
        "marc_edge_shapes": f"""
            SELECT {rid},
              'Edge title ' || CAST(doc_id AS VARCHAR) AS title,
              CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN '1985'  -- 198u: (1980+1989)/2 rounded
                WHEN 1 THEN '1915'  -- type q: (1910+1920)/2
                ELSE CAST(1900 + doc_id % 50 AS VARCHAR)
              END AS pub_date,
              CASE WHEN doc_id % 4 = 3 THEN 'English|French|German'
                   ELSE 'English|French' END AS language
            FROM documents""",
        "pipeline_skip": f"""
            SELECT {rid}, {SQL_TITLE_A} AS title
            FROM documents WHERE n_chars >= 200""",
        "pipeline_rescue": f"""
            SELECT {rid}, upper({SQL_TITLE_A}) AS title
            FROM documents WHERE length({SQL_TITLE_A}) % 7 <> 0""",
        "pipeline_rescue_quarantine": f"""
            SELECT {rid},
              'ValueError: bad title (while executing to_field [''title''])'
                AS error
            FROM documents WHERE length({SQL_TITLE_A}) % 7 = 0""",
        # ann_recall: the recall measurement happens INSIDE the Spark
        # query (DuckDB cannot run the k-means quantizer training); the
        # oracle pins the asserted >= 0.9 verdict — a retune (quantizer
        # training, nprobe) that tanks recall flips the boolean and
        # this row goes red. The measured value is SF-dependent
        # (synthetic vectors differ per sf_dir) so it cannot ride an
        # SF-independent SQL constant; the EXACT value is pinned per-SF
        # by tests/test_similarity.py::test_ann_recall_locked_values.
        "ann_recall": """
            SELECT 'ivf' AS method, CAST(8 AS BIGINT) AS n_queries,
              TRUE AS recall_ge_090""",
        "pipeline_two_rules": """
            SELECT CAST(doc_id AS VARCHAR) AS record_id,
              CASE WHEN doc_id % 10 = 0 THEN 'Topic 0'
                   ELSE 'Topic ' || CAST(doc_id % 10 AS VARCHAR) || '|Topic 0'
              END AS subjects
            FROM documents""",
        "pipeline_transforms": f"""
            SELECT {rid},
              'Topic|' || CAST(doc_id % 10 AS VARCHAR) AS topic_words,
              {SQL_YEAR} AS year_digits,
              CASE WHEN doc_id % 3 = 0
                THEN '(OCoLC)' || CAST(doc_id + 1000000 AS VARCHAR)
                ELSE 'none' END AS oclc_only,
              CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE '#' || {SQL_OCLC} || '!' END AS tagged,
              'Author, ' || {SQL_LETTER} || '.' AS stripped
            FROM documents""",
        "marc_serialize_binary": _sql_marc_binary(),
        "dedup_minhash_exact_pairs": """
            SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
              CAST(1.0 AS DOUBLE) AS est_jaccard
            FROM documents WHERE doc_id % 25 = 0""",
        "pii": _sql_pii(),
        "xml_extract": f"""
            SELECT {rid},
              {SQL_TITLE} AS title,
              {SQL_XML_CREATORS} AS creators,
              'rec-' || CAST(doc_id AS VARCHAR) AS rec_ref,
              {SQL_YEAR} AS date,
              {SQL_XML_NAME_PARTS} AS name_parts,
              {SQL_XML_NAME_JOINED} AS name_joined
            FROM documents""",
        "text_token_fingerprint": r"""
            SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
            FROM documents""",
        "text_quality": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), r AS (
              SELECT doc_id,
                CAST(len(list_filter(toks,
                  x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
                  AS n_stop,
                CAST(greatest(len(toks), 1) AS BIGINT) AS n_tok,
                len(toks) AS raw_tok
              FROM t
            )
            SELECT doc_id,
              round(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stopword_ratio,
              round(
                (CASE WHEN raw_tok BETWEEN 50 AND 100000 THEN 0.5 ELSE 0.0 END)
                + (CASE WHEN round(CAST(n_stop AS DOUBLE)/n_tok, 4)
                     BETWEEN 0.05 AND 0.6 THEN 0.5 ELSE 0.0 END), 4)
                AS quality
            FROM r""",
        "text_langid": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), s AS (
              SELECT doc_id,
                len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS en,
                len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
                len(list_filter(toks, x -> x IN ('le','la','les','et','est','une'))) AS fr,
                len(list_filter(toks, x -> x IN ('el','los','las','es','una','y'))) AS es
              FROM t
            )
            SELECT doc_id,
              CASE WHEN greatest(en,de,fr,es) = 0 THEN 'und'
                   WHEN en = greatest(en,de,fr,es) THEN 'en'
                   WHEN de = greatest(en,de,fr,es) THEN 'de'
                   WHEN fr = greatest(en,de,fr,es) THEN 'fr'
                   ELSE 'es' END AS lang_guess
            FROM s""",
        "text_gopher_quality": _sql_text_gopher(),
        "text_langid_ngram": _sql_text_langid_ngram(),
        "text_gopher_repetition": _sql_text_gopher_repetition(),
        "dedup_exact": r"""
            -- null-safe group key mirrors the engine (dedup.py): NULL-text
            -- rows are NOT duplicates of each other; a plain GROUP BY on
            -- the fingerprint would merge them into one cluster
            SELECT min(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS fingerprint,
              min(doc_id) AS keep_id,
              count(*) AS n_docs
            FROM documents
            GROUP BY COALESCE(
              md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
              chr(1) || CAST(doc_id AS VARCHAR))""",
        "dedup_exact_apply": r"""
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id % 25 = 0
            ), f AS (
              -- null-safe partition key, like the engine: each NULL-text
              -- row survives as its own 1-doc cluster
              SELECT doc_id,
                COALESCE(
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
                  chr(1) || CAST(doc_id AS VARCHAR)) AS fp
              FROM all_docs
            )
            SELECT doc_id FROM (
              SELECT doc_id,
                row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              FROM f
            ) WHERE rn = 1""",
        "dedup_jaccard_adjacent": """
            WITH sh AS (
              SELECT doc_id,
                list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
                  THEN list_transform(
                    range(1, len(string_split(text,' ')) - 1),
                    i -> array_to_string(
                      list_slice(string_split(text,' '), i, i + 2), ' '))
                  ELSE [text] END) AS sh
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""",
        "dedup_witness_clusters": """
            SELECT doc_id + 1000000 * h.h AS id,
              CAST(doc_id AS BIGINT) AS cluster_id
            FROM documents, (VALUES (1), (2), (3)) h(h)
            WHERE doc_id % 25 = 0 AND text IS NOT NULL""",
        "embed_norm": """
            SELECT vec_id,
              round(sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
            FROM embeddings""",
        "embed_topk": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                round(
                  list_sum(list_transform(range(1, 65),
                    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(q.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(c.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS score
              FROM embeddings q CROSS JOIN embeddings c
              WHERE q.vec_id < 8 AND c.vec_id >= 8
            ), ranked AS (
              SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
              ) AS BIGINT) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, score, rank
            FROM ranked WHERE rank <= 5""",
        "text_c4_quality": _sql_text_c4_quality(),
        "stream_dedup_fingerprint": r"""
            SELECT DISTINCT
              md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
            FROM documents""",
        "ann_ivf_topk": _SQL_IVF,
        # the layout path is result-identical by construction (same
        # centroids, same assignment/probe/rescore semantics over the
        # persisted partitioning) — same oracle
        "ann_ivf_layout_topk": _SQL_IVF,
        "embed_near_dup": _SQL_NEAR_DUP,
        "corpus_decontaminate": _SQL_DECONTAMINATE,
        "corpus_curate_planted": _sql_curate_planted(),
    }
