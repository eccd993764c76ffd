"""Value-level transformation macros (reference: lib/traject/macros/transformation.rb).

Every macro here is a *Column-expression builder* with the uniform shape

    macro(acc: Column, ctx: PipelineContext) -> Column

where ``acc`` is the rule's accumulator (``array<string>``).  ``to_field``
composes macros left-to-right over one fresh accumulator, exactly like the
reference runs its procs in order over one shared array
(lib/traject/indexer/step.rb:131-146).

All of these are intra-row array algebra (higher-order functions): they
execute JVM-side inside whole-stage codegen — no UDF, no shuffle.
"""

from __future__ import annotations

import re as _re
from typing import Callable, Optional, Union

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from traject_spark.arrowutil import release_spark_zip_finders
from traject_spark.translation_map import TranslationMap

Macro = Callable[[Column, "PipelineContext"], Column]

_EMPTY = "array<string>"


# --------------------------------------------------------------------------
# shared string expressions
# --------------------------------------------------------------------------

def ruby_strip_expr(v: Column) -> Column:
    """Ruby ``[[:space:]]``-class strip (transformation.rb:121-128):
    ASCII whitespace, NEL, AND Unicode space separators (NBSP, EN
    SPACE, NARROW NBSP...) — exactly Ruby ``\\p{Space}`` (no NUL:
    Ruby [[:space:]] excludes it; Java ``\\s`` alone misses Zs/NEL)."""
    cls = r"[\s\p{Z}]+"  # class ends with a literal NEL U+0085
    return F.regexp_replace(v, rf"\A{cls}|{cls}\Z", "")


def ruby_string_strip_expr(v: Column) -> Column:
    """Ruby ``String#strip``: ASCII whitespace both ends, NUL at the
    TRAILING end only (MRI string.c: rstrip_offset accepts ``'\\0'``,
    lstrip_offset stops at whitespace) — no NBSP, no Zs, no NEL. This is
    what the reference's bare ``.strip`` calls do (sortable author
    marc21_semantics.rb:74-85, the final strip inside trim_punctuation
    marc21.rb:268), DISTINCT from the unicode-aware ``strip`` transform
    above — vendor data with a trailing NBSP keeps it through these
    paths, faithfully."""
    lead = "[ \\t\\n\\x0B\\f\\r]+"
    trail = "[ \\t\\n\\x0B\\f\\r\\x00]+"
    return F.regexp_replace(v, rf"\A{lead}|{trail}\Z", "")


def trim_punctuation_expr(v: Column) -> Column:
    """AACR2 punctuation-trimming heuristics.

    Port of Traject::Macros::Marc21.trim_punctuation
    (lib/traject/macros/marc21.rb:252-271), regex-for-regex:
    1. trailing comma/slash/semicolon/colon (w/ surrounding spaces)
    2. trailing period when preceded by >= 3 word chars ([[:word:]] is
       unicode-aware in Ruby -> Java (?U)\\w)
    3. single bracketing [ ] when no internal brackets
    4. strip whitespace
    NULL passes through untouched (reference returns nil as-is).
    """
    v1 = F.regexp_replace(v, r" *[ ,/;:] *\Z", "")
    v2 = F.regexp_replace(v1, r"(?U)( *\w{3,})\. *\Z", "$1")
    v3 = F.regexp_replace(v2, r"\A\[?([^\[\]]+)\]?\Z", "$1")
    return ruby_string_strip_expr(v3)


def ruby_to_i_expr(v: Column) -> Column:
    """Ruby String#to_i: parse leading integer prefix, else 0."""
    digits = F.regexp_extract(v, r"\A\s*([+-]?\d+)", 1)
    return F.coalesce(
        F.when(digits != "", digits).cast("long"), F.lit(0).cast("long")
    )


# --------------------------------------------------------------------------
# transformation macros (transformation.rb)
# --------------------------------------------------------------------------

def translation_map(*maps, **kwargs) -> Macro:
    """Per-value dict lookup; nil removes, arrays flatten in; later maps
    merge over earlier (transformation.rb:34-42, translation_map.rb:245-248).

    Accepts any mix of map names, Mappings, and ``TranslationMap``
    instances; instances merge via their dict form (the reference macro
    merges every argument, transformation.rb:34-42)."""
    if len(maps) == 1 and isinstance(maps[0], TranslationMap) and not kwargs:
        tmap = maps[0]
    else:
        sources = [
            m.as_dict() if isinstance(m, TranslationMap) else m
            for m in maps
        ]
        tmap = TranslationMap(*sources, **kwargs)

    def macro(acc: Column, ctx=None) -> Column:
        return tmap.translate_array_expr(acc)

    return macro


def transform(fn: Callable[[Column], Column]) -> Macro:
    """Map each value through a Column-expression function
    (transformation.rb:60-79; arbitrary-python variant: transform_udf)."""

    def macro(acc: Column, ctx=None) -> Column:
        return F.transform(acc, fn)

    return macro


def transform_udf(py_fn: Callable[[str], Optional[str]]) -> Macro:
    """Escape hatch: arbitrary per-value python, Arrow-batched.

    The moral equivalent of passing an arbitrary proc to the reference's
    ``transform`` — the slow path, kept off the hot path by default.

    Error handling follows the pipeline's ``mapping_rescue`` setting
    (indexer.rb:483-517, doc/settings.md:35-58): under the default
    ``halt`` a raising ``py_fn`` aborts the job (the reference's
    log+re-raise); under ``skip`` the exception is captured per record
    into the pipeline's error channel and the record is quarantined —
    the UDF returns a (value, error) struct MATERIALIZED once as a
    hidden column (``ctx.materialize``), so the error filter and the
    field projection both read the computed attribute and the UDF runs
    exactly once per row. The rescued UDF is marked nondeterministic to
    keep Catalyst from re-inlining it into both consumers (filter
    pushdown / projection collapse substitute deterministic aliases).
    """

    def _coerce_into(out: list, x) -> None:
        # the column is array<string>: a py_fn returning a non-string
        # (reference procs routinely return Integers) would pass the
        # per-record rescue and then ArrowTypeError the WHOLE batch at
        # conversion time. Scalars are str()'d like the writers' to_s;
        # a list/tuple return FLATTENS into the accumulator (the
        # reference's accumulator.concat shape) — str() would silently
        # emit the python repr "['a', 'b']" as one value; other
        # iterables (dict/set) have no defined value order/shape, so
        # raise (the error surfaces per-record under mapping_rescue)
        if x is None or isinstance(x, str):
            out.append(x)
        elif isinstance(x, (list, tuple)):
            out.extend(
                e if e is None or isinstance(e, str) else str(e) for e in x
            )
        elif isinstance(x, (dict, set, frozenset, bytes, bytearray)):
            # bytes would silently str() to the repr "b'...'" — the
            # exact corruption the list branch above exists to prevent;
            # the caller must decode
            raise TypeError(
                f"transform_udf fn returned {type(x).__name__}; return a "
                "string, scalar, or list of strings"
            )
        else:
            out.append(str(x))

    def _coerced(vs) -> list:
        out: list = []
        for v in vs:
            _coerce_into(out, py_fn(v))
        return out

    @pandas_udf("array<string>")
    def _apply(col: pd.Series) -> pd.Series:
        release_spark_zip_finders()
        return col.map(lambda vs: None if vs is None else _coerced(vs))

    @pandas_udf("struct<value:array<string>,error:string>")
    def _apply_rescued(col: pd.Series) -> pd.DataFrame:
        release_spark_zip_finders()
        values, errors = [], []
        for vs in col:
            if vs is None:
                values.append(None)
                errors.append(None)
                continue
            try:
                values.append(_coerced(vs))
                errors.append(None)
            except Exception as e:  # noqa: BLE001 — the rescue boundary
                values.append(None)
                errors.append(f"{type(e).__name__}: {e}")
        return pd.DataFrame({"value": values, "error": errors})

    # nondeterministic: blocks filter pushdown / projection collapse
    # from duplicating the call once it is materialized (see docstring)
    _apply_rescued = _apply_rescued.asNondeterministic()

    def macro(acc: Column, ctx=None) -> Column:
        if ctx is not None and ctx.rescue_mode == "skip":
            if hasattr(ctx, "materialize"):
                s = ctx.materialize(_apply_rescued(acc), hint="rescue")
            else:
                s = _apply_rescued(acc)
            ctx.record_error(s["error"])
            return s["value"]
        return _apply(acc)

    return macro


def default(value: str) -> Macro:
    """If accumulator empty, add literal (transformation.rb:85-91)."""

    def macro(acc: Column, ctx=None) -> Column:
        return F.when(F.size(acc) == 0, F.array(F.lit(value))).otherwise(acc)

    return macro


def first_only() -> Macro:
    """Keep only first value (transformation.rb:97-102)."""

    def macro(acc: Column, ctx=None) -> Column:
        return F.slice(acc, 1, 1)

    return macro


def unique() -> Macro:
    """De-duplicate, keeping first occurrences (transformation.rb:109-113)."""

    def macro(acc: Column, ctx=None) -> Column:
        return F.array_distinct(acc)

    return macro


def strip() -> Macro:
    """Unicode-aware trim of each value (transformation.rb:121-128)."""

    def macro(acc: Column, ctx=None) -> Column:
        return F.transform(acc, ruby_strip_expr)

    return macro


def split(separator: str) -> Macro:
    """Split each value on literal separator, flatten
    (transformation.rb:134-138). Ruby String#split drops TRAILING empty
    strings (interior ones survive): 'a|b|' -> ['a','b'], '||' -> [] —
    implemented by stripping trailing separator runs before the split
    and mapping the fully-empty value to no elements. A single-space
    separator is Ruby's awk-mode special case: leading whitespace is
    skipped and any whitespace RUN is one separator (' a  b' ->
    ['a','b'], never interior empty strings)."""
    if separator == " ":
        # Ruby awk mode splits on ASCII whitespace runs
        ws = r"[ \t\n\x0B\f\r]"
        pat = f"{ws}+"
        lead = f"\\A{ws}+"
        # pat already ends in '+'; wrapping it in (?:...)+ would nest
        # quantifiers and backtrack exponentially on long interior
        # whitespace runs (hangs the task at ~28 chars)
        trail = f"{ws}+\\Z"
    else:
        pat = _re.escape(separator)
        lead = None
        trail = f"(?:{pat})+\\Z"

    def ruby_split(v: Column) -> Column:
        from traject_spark.expr import let as _let

        if lead is not None:
            v = F.regexp_replace(v, lead, "")
        return _let(
            F.regexp_replace(v, trail, ""),
            lambda s: F.when(s == "", F.array().cast(_EMPTY)).otherwise(
                F.split(s, pat)
            ),
        )

    def macro(acc: Column, ctx=None) -> Column:
        # drop NULL inner arrays before flatten: Spark flatten returns
        # NULL if ANY nested array is NULL, so one nil accumulator value
        # would silently wipe the whole field (Ruby would raise on
        # nil.split; the nil is dropped here like add_output's compact)
        return F.flatten(
            F.filter(
                F.transform(acc, ruby_split), lambda x: x.isNotNull()
            )
        )

    return macro


def append(suffix: str) -> Macro:
    def macro(acc: Column, ctx=None) -> Column:
        return F.transform(acc, lambda v: F.concat(v, F.lit(suffix)))

    return macro


def prepend(prefix: str) -> Macro:
    def macro(acc: Column, ctx=None) -> Column:
        return F.transform(acc, lambda v: F.concat(F.lit(prefix), v))

    return macro


def gsub(pattern: str, replacement: str) -> Macro:
    """Regex replace-all in each value (transformation.rb:155-159).

    ``pattern`` is a Java regex; Ruby ``\\1`` backrefs become ``$1``.
    """

    def macro(acc: Column, ctx=None) -> Column:
        return F.transform(acc, lambda v: F.regexp_replace(v, pattern, replacement))

    return macro


def _match_pred(arg) -> Callable[[Column], Column]:
    """array/set membership, regex, or Column-fn predicate
    (transformation.rb:166-189 supports array/regexp/proc)."""
    if isinstance(arg, _re.Pattern):
        # a compiled pattern: use its SOURCE (str(arg) would rlike the
        # literal text "re.compile('...')" and match nothing) — and
        # carry its FLAGS as an inline prefix, or re.I/M/S silently
        # vanish on the JVM side
        prefix = "".join(
            inline
            # re.UNICODE is implicitly set on every str pattern and maps
            # to Java's (?U) UNICODE_CHARACTER_CLASS: Python \d/\w/\b
            # are Unicode-aware, Java's default is ASCII-only — without
            # it a pattern like \d{4} silently stops matching
            # Arabic-Indic digits on the JVM side
            for flag, inline in (
                (_re.IGNORECASE, "i"),
                (_re.MULTILINE, "m"),
                (_re.DOTALL, "s"),
                (_re.VERBOSE, "x"),
                (_re.UNICODE, "U"),
            )
            if arg.flags & flag
        )
        pat = f"(?{prefix}){arg.pattern}" if prefix else arg.pattern
        return lambda v: v.rlike(pat)
    if callable(arg):
        return arg
    if isinstance(arg, (list, tuple, set, frozenset)):
        vals = [str(x) for x in arg]
        return lambda v: v.isin(vals)
    # treat as regex (Ruby Regexp#match? semantics: search anywhere)
    return lambda v: v.rlike(str(arg))


def delete_if(arg) -> Macro:
    pred = _match_pred(arg)

    def macro(acc: Column, ctx=None) -> Column:
        return F.filter(acc, lambda v: ~pred(v))

    return macro


def select(arg) -> Macro:
    pred = _match_pred(arg)

    def macro(acc: Column, ctx=None) -> Column:
        return F.filter(acc, pred)

    return macro


def trim_punctuation() -> Macro:
    """Macro form of trim_punctuation (lib/traject/macros/marc21.rb:144-148)."""

    def macro(acc: Column, ctx=None) -> Column:
        return F.transform(acc, trim_punctuation_expr)

    return macro
