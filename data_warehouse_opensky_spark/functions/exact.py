"""Exact fixed-point column expressions for cross-engine determinism.

Money columns in the testdata are exact 2-decimal grid values stored as
doubles. Converting to integer cents *before* aggregating makes every
SUM/AVG exact, order-independent, and bit-identical between Spark and
any SQL oracle — `sum(double)` is none of those (fp addition is
non-associative and Spark's partial-agg order varies run to run).

All expressions here are built-in-function compositions (JVM-side,
whole-stage-codegen eligible) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(c: Column | str) -> Column:
    """Exact 2-decimal double → integer cents (long)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.round(c * 100).cast("long")


def bp(c: Column | str) -> Column:
    """Exact 2-decimal rate (0.07) → integer basis points*? (7): x*100."""
    c = F.col(c) if isinstance(c, str) else c
    return F.round(c * 100).cast("long")
