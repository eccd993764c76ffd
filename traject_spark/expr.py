"""SQL-text composition: bound values and the text-macro protocol.

The mapping pipeline composes SQL text, not Column trees: every ``F.*``
call is a Py4J round trip, while a SQL string costs one when it is
finally handed to Spark (``selectExpr`` / ``F.expr``). This module holds
the pieces that composition shares:

- :func:`sql_let` binds a value ONCE as a named lambda variable, so a
  body that references it several times does not copy its subtree.
  Mechanism: ``aggregate(<constant empty array>, value, (acc, x) -> acc,
  body)`` — the zero slot carries the bound value, the loop body never
  runs (zero elements), and ``finish`` is the let body over the
  accumulator variable. At runtime the value is evaluated exactly once
  per row, with no per-row array allocation on the way in or out.
- :class:`SqlMacro` marks a macro whose one implementation is SQL text:
  ``Pipeline.compile`` hands it the accumulator as text and continues
  from the text it returns.

:func:`let` / :func:`let2` / :func:`let3` are the Column forms of the
same binding. They serve Column builders: the corpus text builders and
the Column fallbacks the MARC macros keep for specs and maps their SQL
cannot take; the pipeline glue itself is text.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the empty ``array<string>`` accumulator every to_field rule starts from
SQL_EMPTY = "CAST(array() AS array<string>)"


def _empty_loop() -> Column:
    """Constant-folded empty loop range for the aggregate trick; int
    element type is arbitrary (the merge lambda never runs). Built per
    call, not at import: Column construction needs an active session."""
    return F.array().cast("array<int>")


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once; pass the bound variable to ``body``.

    The lambda variable inside ``body`` is a leaf node, eliminating
    subtree duplication (see module docstring for the mechanism).
    """
    return F.aggregate(_empty_loop(), value, lambda acc, x: acc, body)


def let2(v1: Column, v2: Column, body: Callable[[Column, Column], Column]) -> Column:
    return let(v1, lambda a: let(v2, lambda b: body(a, b)))


def let3(
    v1: Column, v2: Column, v3: Column,
    body: Callable[[Column, Column, Column], Column],
) -> Column:
    return let(v1, lambda a: let2(v2, v3, lambda b, c: body(a, b, c)))


def sql_let(value: str, var: str, body: str) -> str:
    """SQL-text form of :func:`let`: bind ``value`` once as the NAMED
    lambda variable ``var`` in ``body``. Named variables keep nesting
    unambiguous in text form — Catalyst's ``.sql()`` output is not
    re-parseable for lambdas, so the text is authored, never derived."""
    return (
        f"aggregate(CAST(array() AS array<int>), {value}, "
        f"(a_{var}, x_{var}) -> a_{var}, {var} -> {body})"
    )


class SqlMacro:
    """A macro whose one implementation is SQL text.

    ``sql(acc_sql, ctx) -> str`` takes the rule's accumulator as SQL
    text (an ``array<string>`` expression) and returns the new
    accumulator as SQL text; ``Pipeline.compile`` calls it directly.

    Called the Column way, ``macro(acc, ctx)`` projects ``acc`` as a
    hidden column (``ctx.column_sql``) and returns ``F.expr`` of the
    text, so a user's Column macro can still wrap a built-in one inside
    a pipeline compile. That needs the compile's ``PipelineContext``:
    outside one there is nowhere to project ``acc``, and the call
    raises ``TypeError``."""

    __slots__ = ("sql",)

    def __init__(self, sql: Callable[[str, object], str]):
        self.sql = sql

    def __call__(self, acc: Column, ctx) -> Column:
        if not hasattr(ctx, "column_sql"):
            raise TypeError(
                "a built-in (SQL-text) macro called with a Column needs the "
                f"pipeline's PipelineContext as ctx, got {ctx!r}"
            )
        return F.expr(self.sql(ctx.column_sql(acc), ctx))
