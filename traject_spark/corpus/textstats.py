"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

All JVM-side expressions (whole-stage codegen, no UDF/shuffle) — at
100 TB these run at scan speed. The curate-path builders
(``token_count_expr``, ``quality_score_expr``, ``langid_expr``,
``fingerprint_expr``) and ``langid_ngram_expr`` are session SQL
functions (``SessionFunction``): one SQL body each, inlined by Spark
wherever the returned Column is used. They take a Column or a column
name; a name returns the body itself, usable in every position
(generators, sorts and lambdas included). Each operator has an exact
ANSI-SQL twin used by the DuckDB oracle in ``__spark_entry__``; keep
semantics SQL-expressible (simple space tokenization, fixed stopword
lists) so the correctness gate stays meaningful.
"""

from __future__ import annotations

import functools
import hashlib
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from traject_spark.expr import let, sql_let
from traject_spark.sqlutil import SessionFunction, sql_str_lit

#: small fixed stopword list (quality scoring + language id)
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
DE_MARKERS = ["der", "die", "das", "und", "ist", "nicht"]
FR_MARKERS = ["le", "la", "les", "et", "est", "une"]
ES_MARKERS = ["el", "los", "las", "es", "una", "y"]


def tokens_expr(text: Column) -> Column:
    """Simple space tokenization (SQL-twin: string_split(text, ' '))."""
    return F.split(text, " ")


def _count_in_sql(toks: str, words: list[str]) -> str:
    return (
        f"CAST(size(filter({toks}, w -> w IN "
        f"({', '.join(sql_str_lit(x) for x in words)}))) AS BIGINT)"
    )


# CASE WHEN text IS NOT NULL: size(NULL) is -1, not NULL, under
# spark.sql.legacy.sizeOfNull; the guard pins NULL-in -> NULL-out
_TOKEN_COUNT = SessionFunction(
    "traject_token_count", "text STRING",
    "CASE WHEN text IS NOT NULL THEN CAST(size(split(text, ' ')) AS BIGINT) END",
)


def token_count_expr(text: Column | str) -> Column:
    """Number of single-space tokens (BIGINT); NULL text -> NULL."""
    return _TOKEN_COUNT(text)


def _count_in(tokens: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(words))).cast("long")


def stopword_ratio_expr(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords, 4dp. An explicitly-passed
    empty list means "no stopwords" (ratio 0), not the English default."""
    sw = EN_STOPWORDS if stopwords is None else stopwords
    # when(): NULL text -> NULL ratio on Spark 3.x legacy sizeOfNull too
    return F.when(
        text.isNotNull(),
        let(
            tokens_expr(text),
            lambda toks: F.round(
                _count_in(toks, sw) / F.greatest(F.size(toks), F.lit(1)), 4
            ),
        ),
    )


def punct_ratio_expr(text: Column) -> Column:
    """Fraction of characters that are punctuation, 4dp."""
    return let(
        text,
        lambda t: F.round(
            (F.length(t) - F.length(F.regexp_replace(t, r"[\.,;:!\?]", "")))
            / F.greatest(F.length(t), F.lit(1)),
            4,
        ),
    )


_QUALITY = SessionFunction(
    "traject_quality_score", "text STRING, min_tokens BIGINT, max_tokens BIGINT",
    # tokenizes ONCE: the count and the stopword ratio share one split
    sql_let("split(text, ' ')", "toks", sql_let(
        "CAST(size(toks) AS BIGINT)", "n", sql_let(
            f"round({_count_in_sql('toks', EN_STOPWORDS)} "
            "/ greatest(size(toks), 1), 4)", "swr",
            "round(CASE WHEN n >= min_tokens AND n <= max_tokens THEN 0.5D "
            "ELSE 0.0D END + CASE WHEN swr >= 0.05D AND swr <= 0.6D "
            "THEN 0.5D ELSE 0.0D END, 4)",
        ),
    )),
)


def quality_score_expr(
    text: Column | str, min_tokens: int = 50, max_tokens: int = 100000
) -> Column:
    """Heuristic quality score in [0,1]: length gate x stopword signal.

    A document scores 1.0 when it has a plausible token count AND a
    plausible stopword ratio; components degrade independently. 4dp.
    """
    return _QUALITY(text, min_tokens, max_tokens)


# each marker count is let-bound once, so the CASE chain compares bound
# variables instead of re-scanning the token array per comparison; the
# outer guard pins NULL text -> NULL guess under legacy sizeOfNull too
_LANGID = SessionFunction(
    "traject_langid", "text STRING",
    "CASE WHEN text IS NOT NULL THEN " + sql_let(
        "split(text, ' ')", "toks",
        sql_let(_count_in_sql("toks", EN_STOPWORDS), "e", sql_let(
            _count_in_sql("toks", DE_MARKERS), "d", sql_let(
                _count_in_sql("toks", FR_MARKERS), "f", sql_let(
                    _count_in_sql("toks", ES_MARKERS), "s", sql_let(
                        "greatest(e, d, f, s)", "mx",
                        "CASE WHEN mx IS NULL THEN CAST(NULL AS STRING) "
                        "WHEN mx = 0 THEN 'und' WHEN e = mx THEN 'en' "
                        "WHEN d = mx THEN 'de' WHEN f = mx THEN 'fr' "
                        "ELSE 'es' END",
                    ),
                ),
            ),
        )),
    ) + " END",
)


def langid_expr(text: Column | str) -> Column:
    """Marker-word language guess: highest marker count wins, ties broken
    en > de > fr > es; 'und' when no markers hit."""
    return _LANGID(text)


_WS_RUN = sql_str_lit(r"\s+")

_FINGERPRINT = SessionFunction(
    "traject_fingerprint", "text STRING, normalize BOOLEAN",
    "md5(CASE WHEN normalize THEN trim(regexp_replace(lower(text), "
    f"{_WS_RUN}, ' ')) ELSE text END)",
)


def fingerprint_expr(text: Column | str, normalize: bool = True) -> Column:
    """128-bit content fingerprint (md5 hex). ``normalize`` lowercases,
    collapses whitespace, and trims the ends first — the usual
    exact-dedup key (web-scraped corpora routinely differ only by a
    trailing newline; without the trim those are distinct fingerprints
    and exact dedup silently misses them)."""
    return _FINGERPRINT(text, bool(normalize))


# ---------------------------------------------------------------------------
# Gopher-style quality components (round 13, VERDICT r12 #4)
#
# The component definitions follow Rae et al. 2021 (Gopher), §A1.1
# "quality filtering" — the same gates DataTrove/Dolma ship. All pure
# Column expressions with exact DuckDB twins; the combined struct is
# oracle row `text_gopher_quality`.
# ---------------------------------------------------------------------------

#: Gopher's required-stopword list ("must contain ≥2 of"): the, be/to
#: variants, of, and, that, have, with
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _nonempty_tokens(toks: Column) -> Column:
    # split(' ') yields '' for runs of spaces; word stats exclude them
    return F.filter(toks, lambda t: t != "")


def mean_word_length_expr(text: Column) -> Column:
    """Mean length of non-empty space tokens, 4dp (Gopher gate: 3..10)."""
    return F.when(
        text.isNotNull(),
        let(
            _nonempty_tokens(tokens_expr(text)),
            lambda ws: F.round(
                F.aggregate(
                    ws, F.lit(0).cast("long"),
                    lambda acc, w: acc + F.length(w),
                )
                / F.greatest(F.size(ws), F.lit(1)),
                4,
            ),
        ),
    )


def symbol_word_ratio_expr(text: Column) -> Column:
    """(# of '#' chars + # of '...' / '…' ellipses) per non-empty word,
    4dp (Gopher gate: ≤ 0.1)."""
    return F.when(
        text.isNotNull(),
        let(
            text,
            lambda t: F.round(
                (
                    (F.length(t) - F.length(F.replace(t, F.lit("#"))))
                    + (F.length(t) - F.length(F.replace(t, F.lit("…"))))
                    + (F.length(t) - F.length(F.replace(t, F.lit("..."))))
                    / 3
                )
                / F.greatest(
                    F.size(_nonempty_tokens(tokens_expr(t))), F.lit(1)
                ),
                4,
            ),
        ),
    )


def alpha_word_ratio_expr(text: Column) -> Column:
    """Fraction of non-empty words containing at least one letter
    (any script: \\p{L}), 4dp (Gopher gate: ≥ 0.8)."""
    return F.when(
        text.isNotNull(),
        let(
            _nonempty_tokens(tokens_expr(text)),
            lambda ws: F.round(
                F.size(F.filter(ws, lambda w: w.rlike(r"\p{L}")))
                / F.greatest(F.size(ws), F.lit(1)),
                4,
            ),
        ),
    )


def _lines(text: Column) -> Column:
    return F.split(text, "\n")


def bullet_line_fraction_expr(text: Column) -> Column:
    """Fraction of lines starting with a bullet marker (•, -, *) after
    left-trim, 4dp (Gopher gate: ≤ 0.9)."""
    return F.when(
        text.isNotNull(),
        let(
            _lines(text),
            lambda ls: F.round(
                F.size(
                    F.filter(
                        ls,
                        lambda l: F.ltrim(l).rlike(r"^[•\-\*]"),
                    )
                )
                / F.greatest(F.size(ls), F.lit(1)),
                4,
            ),
        ),
    )


def ellipsis_line_fraction_expr(text: Column) -> Column:
    """Fraction of lines ending with an ellipsis ('...' or '…') after
    right-trim, 4dp (Gopher gate: ≤ 0.3)."""
    return F.when(
        text.isNotNull(),
        let(
            _lines(text),
            lambda ls: F.round(
                F.size(
                    F.filter(
                        ls,
                        lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"),
                    )
                )
                / F.greatest(F.size(ls), F.lit(1)),
                4,
            ),
        ),
    )


def max_token_ratio_expr(text: Column) -> Column:
    """Occurrences of the single most frequent non-empty token divided
    by the token count, 4dp — the SQL-expressible analog of Gopher's
    top-n-gram repetition fraction. Computed as the longest equal-run
    over the SORTED token array (one O(n log n) sort + one linear
    aggregate per row; never the quadratic distinct×count form, which
    would be O(n²) on 100k-token documents)."""
    run_state = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return let(
            run,
            lambda r: F.struct(
                x.alias("prev"),
                r.alias("run"),
                F.greatest(acc["best"], r).alias("best"),
            ),
        )

    return F.when(
        text.isNotNull(),
        let(
            F.array_sort(_nonempty_tokens(tokens_expr(text))),
            lambda ws: F.round(
                F.aggregate(ws, run_state, step, lambda acc: acc["best"])
                / F.greatest(F.size(ws), F.lit(1)),
                4,
            ),
        ),
    )


def gopher_stopword_hits_expr(text: Column) -> Column:
    """How many DISTINCT Gopher stopwords appear (gate: ≥ 2)."""
    return F.when(
        text.isNotNull(),
        F.size(
            F.filter(
                F.array_distinct(tokens_expr(text)),
                lambda t: t.isin(GOPHER_STOPWORDS),
            )
        ).cast("long"),
    )


def gopher_quality_expr(
    text: Column,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_stopword_hits: int = 2,
) -> Column:
    """All Gopher §A1.1 components as one struct plus the combined
    ``passes`` verdict: token count in [min_tokens, max_tokens], mean
    word length in [3, 10], symbol-word ratio ≤ 0.1, alpha-word ratio
    ≥ 0.8, bullet-line fraction ≤ 0.9, ellipsis-line fraction ≤ 0.3,
    ≥ ``min_stopword_hits`` distinct required stopwords (Gopher's
    paper value is 2; DataTrove/Dolma expose it as a knob, kept here
    for corpora whose register is stopword-poor). Each component is
    independently usable; this struct is the oracle-pinned
    composition.

    Constant-factor shape (r14): the struct tokenizes ONCE — the
    non-empty token array and the line array are let-bound and shared
    across components, where composing the standalone exprs re-split
    the text five times and the lines twice per row. Values are
    bit-identical to the standalone components (same expressions over
    the same arrays), so the ``text_gopher_quality`` oracle hash is
    unchanged."""
    from traject_spark.expr import let2

    def build(ws: Column, ls: Column) -> Column:
        nws = F.greatest(F.size(ws), F.lit(1))
        n = F.size(ws).cast("long")
        mwl = F.round(
            F.aggregate(
                ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
            ) / nws,
            4,
        )
        swr = F.round(
            (
                (F.length(text) - F.length(F.replace(text, F.lit("#"))))
                + (F.length(text) - F.length(F.replace(text, F.lit("…"))))
                + (F.length(text) - F.length(F.replace(text, F.lit("..."))))
                / 3
            )
            / nws,
            4,
        )
        awr = F.round(
            F.size(F.filter(ws, lambda w: w.rlike(r"\p{L}"))) / nws, 4
        )
        nls = F.greatest(F.size(ls), F.lit(1))
        blf = F.round(
            F.size(F.filter(ls, lambda l: F.ltrim(l).rlike(r"^[•\-\*]")))
            / nls,
            4,
        )
        elf = F.round(
            F.size(
                F.filter(ls, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
            )
            / nls,
            4,
        )
        # distinct over ws, not raw tokens: the only member dropped is
        # '' which is never a stopword, so the count is identical
        sth = F.size(
            F.filter(
                F.array_distinct(ws), lambda t: t.isin(GOPHER_STOPWORDS)
            )
        ).cast("long")
        passes = (
            (n >= min_tokens) & (n <= max_tokens)
            & (mwl >= 3) & (mwl <= 10)
            & (swr <= 0.1)
            & (awr >= 0.8)
            & (blf <= 0.9)
            & (elf <= 0.3)
            & (sth >= min_stopword_hits)
        )
        return F.struct(
            n.alias("n_words"),
            mwl.alias("mean_word_length"),
            swr.alias("symbol_word_ratio"),
            awr.alias("alpha_word_ratio"),
            blf.alias("bullet_line_fraction"),
            elf.alias("ellipsis_line_fraction"),
            sth.alias("stopword_hits"),
            passes.alias("passes"),
        )

    return F.when(
        text.isNotNull(),
        let2(_nonempty_tokens(tokens_expr(text)), _lines(text), build),
    )


# ---------------------------------------------------------------------------
# character-trigram language ID (round 13, VERDICT r12 #4)
# ---------------------------------------------------------------------------

def _norm_for_grams(text: Column) -> Column:
    # EXACTLY tools/gen_langid_profiles.py normalize(): lower + collapse
    # ASCII whitespace + trim (Java \s is ASCII-only, matching the
    # generator's explicit class)
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def char_ngrams_expr(text: Column, n: int = 3) -> Column:
    """All overlapping character n-grams of the normalized text (lower,
    whitespace-collapsed). One linear pass; empty array below n chars
    (NEVER sequence(1, len-n+1) unguarded — Spark generates a DESCENDING
    sequence when stop < start, yielding phantom grams)."""
    return let(
        _norm_for_grams(text),
        lambda t: F.when(
            F.length(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (n - 1)),
                lambda i: F.substring(t, i, n),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def _sql_str(s: str) -> str:
    """SQL string literal: quotes doubled, backslashes doubled (Spark's
    default escapedStringLiterals=false treats backslash as an escape)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _langid_sql(text_sql: str, profiles: dict) -> str:
    """The body of :func:`langid_ngram_expr` over the SQL text
    ``text_sql``: normalize, trigrams, union prefilter, one scoring pass
    per language, argmax. Catalyst converts the IN lists to InSet
    hashsets, so each gram test is O(1)."""
    langs = sorted(profiles)
    union = sorted({g for p in profiles.values() for g in p})

    def in_list(items) -> str:
        return ", ".join(_sql_str(g) for g in items)

    grams = sql_let(
        f"trim(regexp_replace(lower({text_sql}), '\\\\s+', ' '))",
        "t",
        "CASE WHEN length(t) >= 3 THEN "
        "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3)) "
        "ELSE CAST(array() AS array<string>) END",
    )
    entries = ", ".join(
        "named_struct("
        f"'score', CAST(size(filter(gs, g -> g IN ({in_list(sorted(profiles[lang]))}))) AS BIGINT), "
        f"'negrank', {-i}, "
        f"'code', {_sql_str(lang)})"
        for i, lang in enumerate(langs)
    )
    scored = sql_let(
        f"filter(ag, g -> g IN ({in_list(union)}))",
        "gs",
        sql_let(
            f"array_max(array({entries}))",
            "best",
            "CASE WHEN best.score = 0 THEN 'und' ELSE best.code END",
        ),
    )
    return (
        f"CASE WHEN {text_sql} IS NOT NULL THEN "
        + sql_let(grams, "ag", scored)
        + " END"
    )


@functools.lru_cache(maxsize=8)
def _langid_ngram_fn(profiles_key) -> SessionFunction:
    """The session function over one profile set: ``None`` for the
    generated profiles (``traject_langid_ngram``), else a sorted tuple
    of (code, grams) pairs, named by its digest."""
    if profiles_key is None:
        from traject_spark.corpus.langid_data import LANGID_PROFILES

        name, profiles = "traject_langid_ngram", LANGID_PROFILES
    else:
        digest = hashlib.sha1(repr(profiles_key).encode()).hexdigest()[:16]
        name, profiles = f"traject_langid_ngram_{digest}", dict(profiles_key)
    return SessionFunction(name, "text STRING", _langid_sql("text", profiles))


def langid_ngram_expr(
    text: Column | str, profiles: dict | None = None
) -> Column:
    """Character-trigram language guess over the generated profiles
    (28 languages; ``traject_spark/corpus/langid_data.py``), or over
    ``profiles`` ({code: grams}) when given.

    score(lang) = # of the document's trigrams that belong to the
    language's profile (a set-membership InSet per gram — O(1) each,
    one pass over the gram array per language, all JVM-side). The
    argmax is one array_max over (score, -index, code) structs — ties
    break toward the alphabetically-first code, 'und' when nothing
    scores, NULL for NULL text. The marker-word ``langid_expr`` stays
    as the 4-language fast heuristic; this is the credible path.

    Constant-factor shape (r13 verdict #3): ONE union-of-all-profiles
    InSet pass first discards the grams no language scores (for real
    prose, the large majority), so the 28 per-language passes run over
    the short survivor array — scores are bit-identical because a gram
    in profile[lang] is in the union by construction. The single-pass
    map<gram, lang-index> rewrite sketched in the r13 verdict was
    built and A/B-measured SLOWER: Spark's element_at/GetMapValue on a
    literal map is a LINEAR key scan (ArrayBasedMapData has no hash
    index), so one "O(1) lookup" per gram is really up to ~1.1k string
    compares, vs the InSet hashset's true O(1). Measured on the sf0.1
    documents table (5k docs, langid column alone, min-of-3, identical
    outputs verified): prefilter 2.14s vs 28-pass 3.06s vs map-lookup
    9.9s, with gram construction alone a 1.83s floor — i.e. the
    scoring stage is ~4x faster and the map sketch would have been a
    ~7x scoring regression.

    One SQL body (``traject_langid_ngram``), built once per process:
    the 29 IN lists (~2,100 literals) cross to the JVM as one string
    instead of a Column tree of Py4J round trips."""
    key = None if profiles is None else tuple(sorted(
        (code, tuple(sorted(grams))) for code, grams in profiles.items()
    ))
    return _langid_ngram_fn(key)(text)


# ---------------------------------------------------------------------------
# Gopher §A1.2 repetition signals (round 14)
# ---------------------------------------------------------------------------

def _dup_fraction(arr: Column) -> Column:
    """Fraction of elements that are repeat occurrences: each occurrence
    beyond the first counts (the public DataTrove/Dolma definition)."""
    return F.round(
        (F.size(arr) - F.size(F.array_distinct(arr)))
        / F.greatest(F.size(arr), F.lit(1)),
        4,
    )


def _dup_char_sum(arr: Column) -> Column:
    """Total characters in repeat occurrences: for every element equal
    to its predecessor in the SORTED array, add its length — one
    O(n log n) sort + one linear pass per row, never a quadratic
    count-per-element form."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("dupchars"),
    )

    def step(acc: Column, x: Column) -> Column:
        return F.struct(
            x.alias("prev"),
            (
                acc["dupchars"]
                + F.when(x == acc["prev"], F.length(x)).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dupchars"),
        )

    return F.aggregate(
        F.array_sort(arr), init, step, lambda acc: acc["dupchars"]
    )


def word_ngrams_expr(words: Column, n: int) -> Column:
    """Overlapping word n-grams (space-joined) of a token array; empty
    below n tokens (guarded — an unguarded sequence(1, len-n+1) is
    DESCENDING when len < n and yields phantom grams)."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _top_ngram_char_sum(words: Column, n: int) -> Column:
    """max over n-grams occurring >= 2 times of count * length(gram) —
    the character mass of the heaviest repeated n-gram. Deterministic
    where "the most frequent n-gram" is not (count ties): both engines
    maximize the char mass itself. Sorted-run aggregate; the running
    contribution is monotone within a run, so the eager greatest()
    captures each run's final value."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return let(
            run,
            lambda r: F.struct(
                x.alias("prev"),
                r.alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(r >= 2, r * F.length(x)).otherwise(
                        F.lit(0).cast("long")
                    ),
                ).alias("best"),
            ),
        )

    return F.aggregate(
        F.array_sort(word_ngrams_expr(words, n)),
        init,
        step,
        lambda acc: acc["best"],
    )


def _paragraphs(text: Column) -> Column:
    # 2+ newlines separate paragraphs (DataTrove's paragraph regex)
    return F.split(text, r"\n{2,}")


#: struct type shared by both gopher_repetition_expr paths — one
#: definition so the Arrow twin cannot drift from the Column tree's shape
_REPETITION_STRUCT = (
    "dup_line_frac double, dup_para_frac double, "
    "dup_line_char_frac double, dup_para_char_frac double, "
    "top_2gram_char_frac double, top_3gram_char_frac double, "
    "top_4gram_char_frac double, passes boolean"
)

_REPETITION_FIELDS = [f.split(" ")[0] for f in _REPETITION_STRUCT.split(", ")]


_PARA_RX = None  # compiled lazily; module import must stay regex-free


def _repetition_signals_py(text):
    """Single-pass Python twin of the JVM repetition struct — the §4.2
    Arrow fast path's per-document kernel (runs on executors; also the
    unit-test surface). Bit-identical to the Column tree by construction:

    - the counting is integer-exact: ``Counter`` over lines/paragraphs/
      n-grams computes the same dup counts / char sums / top masses as
      the sorted-run aggregates (a value with count c contributes
      (c-1)*len dup chars; the heaviest repeated gram maximizes
      count*len — both engines' definitions);
    - the divisions are the same exact-integer -> IEEE-double
      operations (ints < 2^53 convert exactly, and int/int in Python is
      the correctly-rounded true quotient = double division);
    - rounding replicates Spark's round(double, 4): Scala
      ``BigDecimal(double)`` routes through Double.toString (shortest
      decimal repr) then setScale(4, HALF_UP); ``Decimal(repr(x))`` is
      the same shortest repr of the same IEEE value;
    - splits match: Python str.split(" ")/str.split("\\n") and
      re.split(r"\\n{2,}") keep leading/interior/trailing empties,
      exactly like Spark's split(..., -1).

    Full-corpus 0-diff parity vs the Column path is pinned by
    tests/test_textstats.py; the DuckDB oracle row
    ``text_gopher_repetition`` exercises this path end-to-end."""
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    if not isinstance(text, str):
        # None (and pandas' NaN stand-in for a null string cell) -> the
        # all-NULL row the when(isNotNull) wrapper discards anyway
        return (None,) * 8
    global _PARA_RX
    if _PARA_RX is None:
        _PARA_RX = re.compile(r"\n{2,}")
    q4 = Decimal("0.0001")

    def round4(x):
        return float(Decimal(repr(x)).quantize(q4, rounding=ROUND_HALF_UP))

    def dup_chars(counts):
        return sum((c - 1) * len(v) for v, c in counts.items() if c > 1)

    ls = text.split("\n")
    ps = _PARA_RX.split(text)
    ws = [t for t in text.split(" ") if t != ""]
    tot = max(len(text), 1)
    lc = Counter(ls)
    pc = Counter(ps)
    dlf = round4((len(ls) - len(lc)) / max(len(ls), 1))
    dpf = round4((len(ps) - len(pc)) / max(len(ps), 1))
    dlcf = round4(dup_chars(lc) / tot)
    dpcf = round4(dup_chars(pc) / tot)

    def top_mass(n):
        if len(ws) < n:
            return 0
        best = 0
        gc = Counter(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))
        for g, c in gc.items():
            if c >= 2:
                m = c * len(g)
                if m > best:
                    best = m
        return best

    t2 = round4(top_mass(2) / tot)
    t3 = round4(top_mass(3) / tot)
    t4 = round4(top_mass(4) / tot)
    passes = (
        dlf <= 0.30 and dpf <= 0.30 and dlcf <= 0.20 and dpcf <= 0.20
        and t2 <= 0.20 and t3 <= 0.18 and t4 <= 0.16
    )
    return (dlf, dpf, dlcf, dpcf, t2, t3, t4, passes)


_REPETITION_UDF = None


def _repetition_arrow_udf():
    """The pandas_udf is built lazily ONCE per process (guide §4.5) and
    reused by every ``gopher_repetition_expr(use_arrow=True)`` call; the
    kernel itself is the module-level :func:`_repetition_signals_py`
    (pickled by reference — the package is importable on executors, the
    same requirement the mapInArrow readers already carry)."""
    global _REPETITION_UDF
    if _REPETITION_UDF is None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _rep(texts):
            return pd.DataFrame(
                [_repetition_signals_py(t) for t in texts],
                columns=_REPETITION_FIELDS,
            )

        # explicit annotations, not hints-in-source: the module uses
        # ``from __future__ import annotations`` and pandas is imported
        # locally, so pyspark's type-hint resolution could not evaluate
        # string annotations against the module globals
        _rep.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
        _REPETITION_UDF = pandas_udf(_rep, _REPETITION_STRUCT)
    return _REPETITION_UDF


def gopher_repetition_expr(text: Column, use_arrow: bool = False) -> Column:
    """Gopher §A1.1-adjacent repetition signals (§A1.2 of Rae et al.
    2021, public paper, Table A1) as one struct of pure Column
    expressions plus the combined ``passes`` gate:

    - ``dup_line_frac`` / ``dup_para_frac``: fraction of lines /
      paragraphs that are repeat occurrences (gate: <= 0.30 each).
      Lines split on \\n (empties kept, as the public implementations
      do); paragraphs on 2+ newlines.
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: characters in
      those repeat occurrences / total characters (gate: <= 0.20).
    - ``top_2gram_char_frac`` / ``top_3gram_char_frac`` /
      ``top_4gram_char_frac``: character mass (count x gram length) of
      the heaviest repeated word n-gram / total characters (gates:
      <= 0.20 / 0.18 / 0.16). Count ties resolve by maximizing the
      char mass itself — deterministic on both engines where "most
      frequent" is not.

    Gates apply to the ROUNDED (4dp) values, like gopher_quality_expr.
    The paper's duplicate 5-10-gram char fractions are deliberately
    NOT included: their public implementations mark character POSITIONS
    with overlap suppression (inherently sequential per document);
    a faithful twin-able SQL form does not exist, and an unfaithful
    one would grade clean documents dirty. NULL text -> NULL struct.

    Everything shares ONE tokenization / line split / paragraph split
    (let-bound), the same single-pass discipline as
    :func:`gopher_quality_expr`.

    ``use_arrow`` (r16): compute the struct in ONE vectorized Arrow pass
    (:func:`_repetition_signals_py` under a pandas_udf) instead of the
    JVM sorted-run aggregates — the three per-row n-gram array builds +
    sorts are the dominant cost of a full-struct scan, and the Arrow
    pass measured 3.6x faster on the bench corpus
    (history/AB_FINDINGS_r16.md); values are bit-identical (full-corpus 0-diff parity test + the
    DuckDB oracle row runs this path). RECOMMENDED for full-struct
    scans. Default False because the Column form composes everywhere a
    pandas UDF cannot: inside higher-order functions / ``let`` bindings
    (e.g. ``curate_documents``' ``gate_expr`` — Spark rejects a Python
    UDF under a lambda), and when only ``['passes']`` is consumed
    (Catalyst prunes the unused struct fields on the Column path but
    cannot see inside a UDF)."""
    from traject_spark.expr import let3

    if use_arrow:
        return F.when(text.isNotNull(), _repetition_arrow_udf()(text))

    def build(ws: Column, ls: Column, ps: Column) -> Column:
        tot = F.greatest(F.length(text), F.lit(1))
        dlf = _dup_fraction(ls)
        dpf = _dup_fraction(ps)
        dlcf = F.round(_dup_char_sum(ls) / tot, 4)
        dpcf = F.round(_dup_char_sum(ps) / tot, 4)
        t2 = F.round(_top_ngram_char_sum(ws, 2) / tot, 4)
        t3 = F.round(_top_ngram_char_sum(ws, 3) / tot, 4)
        t4 = F.round(_top_ngram_char_sum(ws, 4) / tot, 4)
        passes = (
            (dlf <= 0.30) & (dpf <= 0.30)
            & (dlcf <= 0.20) & (dpcf <= 0.20)
            & (t2 <= 0.20) & (t3 <= 0.18) & (t4 <= 0.16)
        )
        return F.struct(
            dlf.alias("dup_line_frac"),
            dpf.alias("dup_para_frac"),
            dlcf.alias("dup_line_char_frac"),
            dpcf.alias("dup_para_char_frac"),
            t2.alias("top_2gram_char_frac"),
            t3.alias("top_3gram_char_frac"),
            t4.alias("top_4gram_char_frac"),
            passes.alias("passes"),
        )

    return F.when(
        text.isNotNull(),
        let3(
            _nonempty_tokens(tokens_expr(text)),
            _lines(text),
            _paragraphs(text),
            build,
        ),
    )


# ---------------------------------------------------------------------------
# C4-style cleaning (Raffel et al. 2020, §2.2 — public paper) (round 14)
# ---------------------------------------------------------------------------

#: a kept C4 line ends in terminal punctuation (period, !, ?, closing
#: quote) after trailing-whitespace strip. \z (true end-of-input), NOT
#: $ — Java's $ also matches BEFORE a final line terminator (\r,
#: NEL, LS, PS) while RE2's does not, so a CRLF document's
#: "sentence.\r" lines would be KEPT by Spark and DROPPED by the
#: DuckDB twin; \z means end-of-string in both dialects
_C4_TERMINAL = r'[.!?"]\z'

#: explicit class, not \s: Java \s includes \x0B where RE2's does not
_C4_TRAILING_WS = r"[ \t\r\n\f]+$"


def _c4_kept_lines(ls: Column) -> Column:
    """Lines C4 retains: terminal punctuation, >= 5 words, and no
    'javascript' (case-insensitive) — the paper's line-level rules.
    The trailing-whitespace strip (spaces, tabs, CR) makes CRLF
    documents behave like LF documents on both engines."""
    return F.filter(
        ls,
        lambda l: F.regexp_replace(l, _C4_TRAILING_WS, "").rlike(
            _C4_TERMINAL
        )
        & (F.size(F.filter(F.split(l, " "), lambda w: w != "")) >= 5)
        & ~F.lower(l).contains("javascript"),
    )


def c4_clean_expr(text: Column) -> Column:
    """The C4 line-level cleaning transform: the document with only its
    retained lines (newline re-joined; '' when nothing survives). Pair
    with the ``passes`` gate of :func:`c4_quality_expr` for the
    page-level drops. NULL in -> NULL out."""
    return F.when(
        text.isNotNull(),
        let(_lines(text), lambda ls: F.array_join(_c4_kept_lines(ls), "\n")),
    )


def c4_quality_expr(
    text: Column, min_sentences: int = 3, include_cleaned: bool = False
) -> Column:
    """C4 page-level quality struct: ``n_lines``, ``kept_line_frac``
    (fraction surviving the line rules), ``n_sentences`` (terminal
    punctuation marks in the CLEANED text — the paper gates pages on
    >= 3 sentences; sentence counting by terminal-punct occurrences is
    the standard public approximation), ``has_curly_brace`` and
    ``has_lorem_ipsum`` (page drops: code and placeholder text), and
    ``passes`` = enough sentences AND neither page drop. The paper's
    bad-words page drop is not bundled (the list is a separately
    licensed artifact); a licensed list composes in one call via
    :func:`c4_badword_gate_expr`.
    4dp fraction, gates on the rounded value. NULL in -> NULL out.

    ``include_cleaned=True`` adds the line-cleaned text as a
    ``cleaned_text`` field of the SAME struct — selecting the struct
    plus :func:`c4_clean_expr` separately would run the line split and
    the kept-line regex filter twice per row (the expensive part of the
    C4 pass); this shares the one let-bound kept array."""

    def build(ls: Column, kept: Column) -> Column:
        nl = F.size(ls)
        klf = F.round(F.size(kept) / F.greatest(nl, F.lit(1)), 4)
        cleaned = F.array_join(kept, "\n")
        nsent = (
            F.length(cleaned)
            - F.length(F.regexp_replace(cleaned, r"[.!?]", ""))
        ).cast("long")
        curly = text.contains("{") | text.contains("}")
        lorem = F.lower(text).contains("lorem ipsum")
        passes = (nsent >= min_sentences) & ~curly & ~lorem
        fields = [
            nl.cast("long").alias("n_lines"),
            klf.alias("kept_line_frac"),
            nsent.alias("n_sentences"),
            curly.alias("has_curly_brace"),
            lorem.alias("has_lorem_ipsum"),
            passes.alias("passes"),
        ]
        if include_cleaned:
            fields.append(cleaned.alias("cleaned_text"))
        return F.struct(*fields)

    return F.when(
        text.isNotNull(),
        let(
            _lines(text),
            lambda ls: let(_c4_kept_lines(ls), lambda kept: build(ls, kept)),
        ),
    )


def c4_badword_gate_expr(words, text: Optional[Column] = None) -> Column:
    """The C4 bad-words page gate (Raffel et al. 2020 §2.2) for a
    USER-SUPPLIED list: True = keep, i.e. the page contains no listed
    word/phrase. The list itself is deliberately not bundled (the
    paper's "List of Dirty, Naughty, Obscene or Otherwise Bad Words"
    is a separately licensed artifact) — pass your licensed copy.

    Match semantics per the public C4 implementation: case-insensitive,
    non-word-character boundaries on both sides (``(?:^|\\W)(w1|w2|
    ...)(?:\\W|$)`` over the lowercased page), so "ass" does not match
    "class" but multi-word phrases match across their internal spaces.
    One compiled regex alternation, JVM-side ``rlike`` — scan-speed,
    and inside the Java/RE2 intersection (ASCII ``\\W`` both dialects)
    so a DuckDB twin runs the identical pattern. Words are
    regex-escaped, lowercased, deduped, and sorted (deterministic
    pattern for plan caching); empties dropped; an EMPTY list gates
    nothing (constant True).

    Compose into the curation recipe as (or AND-ed into) ``gate_expr``:

        curate_documents(df, gate_expr=c4_badword_gate_expr(my_list))

    NULL text -> NULL (``annotate_documents`` coalesces a NULL gate to
    a drop)."""
    import re as _re

    text = F.col("text") if text is None else text
    cleaned = sorted(
        {w.strip().lower() for w in words if w and w.strip()}
    )
    if not cleaned:
        return F.when(text.isNotNull(), F.lit(True))
    pat = (
        "(?:^|\\W)(?:"
        + "|".join(_re.escape(w) for w in cleaned)
        + ")(?:\\W|$)"
    )
    return F.when(text.isNotNull(), ~F.lower(text).rlike(pat))
