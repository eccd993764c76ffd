"""Lexer-mode-robust SQL string literals.

Spark has two string-literal lexer modes and they disagree about every
escape mechanism (probed on Spark 4.1.2, tests/test_semantics.py):

=====================================  ==========  =========
rendering of ``it's``                  escaped=F   escaped=T
=====================================  ==========  =========
``'it\\'s'``  (backslash escape)        ``it's``    ``it\\'s``
``'it''s'``   (quote doubling)          ``it's``    ``it''s``
``"it's"``    (double-quoted)           ``it's``    ``it's``
=====================================  ==========  =========

``spark.sql.parser.escapedStringLiterals=true`` (the Hive-compatible
mode some deployments set for regex ergonomics) interprets NEITHER
backslash escapes NOR doubled quotes — and the double-quoted rendering
above is itself unsafe because a THIRD knob,
``spark.sql.ansi.doubleQuotedIdentifiers=true``, turns ``"it's"`` into
a quoted IDENTIFIER (review r12). So the only rendering stable under
all three knobs is a single-quoted literal containing neither ``'``
nor ``\\``; strings carrying either become a ``concat(...)`` of such
pieces with ``chr(N)`` for the offenders — still a deterministic
foldable expression, usable anywhere a literal is (Catalyst
constant-folds it).

Every generated-SQL fast path (translation-map probes, the formats/geo
compilers) renders its embedded literals through :func:`sql_str_lit`
so a user map with apostrophes — the languages map alone has 120 —
behaves identically under both lexer modes.
"""

from __future__ import annotations

import re as _re
import weakref

from traject_spark.expr import sql_let

__all__ = [
    "sql_str_lit", "sql_value_of", "sql_string_of", "ident_safe",
    "quote_ident", "sql_ref", "SessionFunction",
]


def ident_safe(name: str) -> bool:
    """Gate for the generated-SQL fast paths: only plain identifiers.
    The generic Column path's ``F.col('a.b')`` resolves a NESTED field
    while backtick-quoted SQL text would read one dotted top-level
    column — the two paths must never read different columns, so
    anything beyond ``[A-Za-z_][A-Za-z0-9_]*`` must take the generic
    path (callers fall back to ``F.col(name)``)."""
    return bool(_re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name))


def quote_ident(name: str) -> str:
    """``name`` as ONE backtick-quoted SQL identifier (backticks inside
    doubled): the text for a top-level column or an ``AS`` alias of any
    name, dots and spaces included."""
    return "`" + name.replace("`", "``") + "`"


def sql_ref(name: str) -> str:
    """SQL text for the column ``F.col(name)`` reads: each dot-separated
    part backtick-quoted, so ``rec.text`` stays a nested-field reference
    and ``my-col`` a plain one. A name that already carries backticks is
    SQL-quoted by its author and passes through unchanged."""
    if "`" in name:
        return name
    return ".".join("`" + part + "`" for part in name.split("."))


class SessionFunction:
    """A builder whose one implementation is SQL text: ``body`` over
    ``params``, registered as the temporary SQL function ``name`` the
    first time a session needs it.

    Spark inlines a SQL function's body into every plan that calls it,
    so the plan is the one the body would give written out in place,
    while the caller pays one JVM call for ``F.call_function`` instead
    of one per node of a Column tree. Temporary functions belong to one
    session (``spark.newSession()`` starts with none), so registration
    is tracked per session object. Names carry the reserved
    ``traject_`` prefix.

    Spark inlines SQL functions in projections, filters, aggregates,
    joins and windows, but refuses them inside a generator (``explode``)
    or a sort, and cannot bind a higher-order-function lambda variable
    to a parameter. So the call returns the body itself wherever it
    can: with column NAMES (and literal values) as one ``F.expr``, its
    parameters bound once each (:meth:`inline`), usable in every
    position; with a ``Column`` that reads a lambda variable, bound by
    the built-in ``aggregate``. Any other ``Column`` argument takes the
    registered function's call."""

    _registered: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

    def __init__(self, name: str, params: str, body: str):
        self.name, self.params, self.body = name, params, body
        self._params = [p.split() for p in params.split(",")]

    def sql(self, spark, *args: str) -> str:
        """``name(args)`` call text for SQL run in ``spark``."""
        done = SessionFunction._registered.setdefault(spark, set())
        # two threads may both register: CREATE OR REPLACE is idempotent
        if self.name not in done:
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {self.name}"
                f"({self.params}) RETURN {self.body}"
            )
            done.add(self.name)
        return f"{self.name}({', '.join(args)})"

    def _bound_body(self) -> str:
        """The body with parameter i bound from field ``p<i>`` of the
        lambda variable ``args``. Binding every argument in one struct
        evaluates them all before any parameter is in scope, so no
        argument can read another's binding."""
        body = self.body
        for i, (name, _) in reversed(list(enumerate(self._params))):
            body = sql_let(f"args.p{i}", name, body)
        return body

    def inline(self, *args: str) -> str:
        """The body over the SQL text ``args``, each cast to its
        parameter's declared type as a call would."""
        fields = ", ".join(
            f"'p{i}', CAST({a} AS {typ})"
            for i, (a, (_, typ)) in enumerate(zip(args, self._params))
        )
        return sql_let(f"named_struct({fields})", "args", self._bound_body())

    def __call__(self, *args, spark=None):
        """The call as a Column. A ``str`` argument names a column,
        other non-Column arguments are literal values. Without a
        ``Column`` argument the result is the inlined body; with one,
        the call of the function registered in ``spark`` (default: the
        active session), unless an argument reads a lambda variable."""
        from pyspark.sql import Column, SparkSession
        from pyspark.sql import functions as F

        if not any(isinstance(a, Column) for a in args):
            return F.expr(self.inline(*(
                sql_ref(a) if isinstance(a, str) else sql_value_of(a)
                for a in args
            )))
        cols = [
            a if isinstance(a, Column)
            else F.col(a) if isinstance(a, str) else F.lit(a)
            for a in args
        ]
        if any(_reads_lambda_variable(c) for c in cols):
            return F.call_function(
                "aggregate",
                F.array().cast("array<int>"),
                F.struct(*(
                    c.cast(typ).alias(f"p{i}")
                    for i, (c, (_, typ)) in enumerate(zip(cols, self._params))
                )),
                F.expr("(acc, x) -> acc"),
                F.expr(f"args -> {self._bound_body()}"),
            )
        self.sql(spark or SparkSession.active())
        return F.call_function(self.name, *cols)


def _reads_lambda_variable(col) -> bool:
    """True when the Column's expression names a higher-order-function
    lambda variable (the variable of an ``F.transform`` lambda, say)."""
    return "UnresolvedNamedLambdaVariable(" in col._jc.node().toString()


def sql_str_lit(s: str) -> str:
    """Render ``s`` as a Spark SQL expression that evaluates to exactly
    ``s`` under both string-lexer modes (escapedStringLiterals on/off)
    AND under ansi.doubleQuotedIdentifiers (so never double-quoted).

    Plain strings become a bare single-quoted literal; strings
    containing ``'`` or ``\\`` become ``concat(piece, chr(39), ...)``.
    The result is always a foldable scalar expression — valid wherever
    a literal operand is.
    """
    if "\\" not in s and "'" not in s:
        return "'" + s + "'"
    # maximal runs free of both troublemakers, with the offenders
    # spliced back in via chr() (a double quote is literal inside a
    # single-quoted literal under every knob — no special case)
    pieces = [
        _CHR.get(p) or "'" + p + "'" for p in _OFFENDERS.split(s) if p
    ]
    return "concat(" + ", ".join(pieces) + ")"


_OFFENDERS = _re.compile(r"(['\\])")
_CHR = {"'": "chr(39)", "\\": "chr(92)"}


def sql_value_of(value) -> str:
    """``value`` as the SQL literal ``F.lit(value)`` builds: None a NULL
    string, a bool, an int (INT, BIGINT past 32 bits), a float a DOUBLE
    parsed from its shortest round-trip ``repr`` (NaN and the infinities
    included), a str through :func:`sql_str_lit`. Other types are
    refused."""
    if value is None:
        return "CAST(NULL AS string)"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, str):
        return sql_str_lit(value)
    if isinstance(value, int):
        return int.__repr__(value)
    if isinstance(value, float):
        return f"CAST('{float.__repr__(value)}' AS double)"
    raise TypeError(
        f"expected a str, int, float, bool or None value, got {value!r}"
    )


def sql_string_of(value) -> str:
    """``value`` as the SQL string ``lit(value).cast('string')`` gives:
    Spark renders it (``1.0E-4`` for 0.0001, ``true`` for True)."""
    text = sql_value_of(value)
    if value is None or isinstance(value, str):
        return text
    return f"CAST({text} AS string)"


def default_lexer_active() -> bool:
    """True when the active session parses string literals with the
    DEFAULT lexer (spark.sql.parser.escapedStringLiterals unset/false).

    Since round 13 the generated-SQL fast paths render EVERY embedded
    literal — regexes included — through :func:`sql_str_lit`, so their
    compiled text is lexer-independent and no longer gates on this.
    Kept as a public probe for user code that embeds its own literals
    (e.g. custom translation-map SQL)."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return True
    try:
        v = s.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    except Exception:
        return True
    return (v or "false").lower() != "true"
