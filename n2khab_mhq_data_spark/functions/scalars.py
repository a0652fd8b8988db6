"""Shared scalar expression helpers.

``eps_round`` exists because of a real cross-engine hazard: the synthetic
data is decimal-exact (prices/discounts have 2 decimals), so computed
products/ratios land *exactly* on .5 rounding boundaries, where Spark
(HALF_UP on the shortest decimal string of the double) and DuckDB
(round-half-away on the raw binary double) disagree. Nudging the value away
from zero by 1e-9 — far above cross-engine drift (~1e-15), far below any
boundary gap that matters — makes both engines round identically. The
matching oracle-SQL spelling is ``round(x + sign(x) * 1e-9, d)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EPS = 1e-9


def eps_round(col: Column, d: int, eps: float = EPS) -> Column:
    """Round with a deterministic away-from-zero epsilon shift (see module
    docstring). Use for every *computed* float the oracle compares."""
    return F.round(col + F.signum(col) * eps, d)


def eps_round_sql(expr: str, d: int, eps: float = EPS) -> str:
    """:func:`eps_round` as Spark SQL text, for builders that emit their
    expressions as strings (``D`` keeps the epsilon a DOUBLE literal)."""
    return f"round(({expr}) + signum({expr}) * {eps!r}D, {d})"


def ident(name: str) -> str:
    """A column name as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
