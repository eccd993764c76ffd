"""Basic macros (reference: lib/traject/macros/basic.rb)."""

from __future__ import annotations

from traject_spark.expr import SqlMacro
from traject_spark.sqlutil import sql_value_of


def literal(value: str):
    """Append a constant value to the accumulator (basic.rb:3-8)."""
    # typed like F.lit(value): a non-string literal keeps its type (a
    # lone one makes the field array<int>, <double> or <boolean>)
    lit = sql_value_of(value)
    return SqlMacro(lambda acc, ctx: f"concat({acc}, array({lit}))")
