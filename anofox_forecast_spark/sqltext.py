"""SQL-text helpers shared by every operator builder.

Builders write their projections and aggregates as SQL text
(``selectExpr``, ``F.expr``, ``agg(*[F.expr(...)])``) rather than Column
DSL chains: Catalyst resolves the text to the same operators, but each
DSL call is its own py4j round trip (``F.col`` alone costs ~13), while
one ``selectExpr`` costs one round trip plus one per expression string.

Two rules keep the text exact:

- identifiers are backtick-quoted (:func:`q`), so any column name works;
- doubles embed as ``CAST('<repr>' AS DOUBLE)`` (:func:`dbl`): a bare
  ``0.3`` parses as DECIMAL, and the shortest round-trip ``repr`` goes
  through the JVM's correctly rounded string-to-double conversion, so the
  literal's bits match ``F.lit(x)``. Constant folding removes the cast.
"""

from __future__ import annotations


def q(name: str) -> str:
    """Backtick-quote an identifier."""
    return "`" + name.replace("`", "``") + "`"


def dbl(x: float) -> str:
    """Exact double literal (handles NaN, infinities and -0.0)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def sql_str(s: str) -> str:
    """Single-quoted string literal; backslashes and quotes escaped, so the
    parsed value equals ``s`` exactly (regex patterns included)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
