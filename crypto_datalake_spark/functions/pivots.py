"""Traditional pivot levels from the previous period's bar.

Reference (/root/reference/src/live_indicators/pivots.py:4-12):
  P  = (H + L + C) / 3         (previous period)
  R1 = 2P − L_prev             S1 = 2P − H_prev
  R2 = P + (H_prev − L_prev)   S2 = P − (H_prev − L_prev)

Pure column arithmetic over a lag — no UDF needed.  ``pivot_levels``
is the same arithmetic on one bar's Python floats, for the API's
driver-side indicator paths.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def traditional_pivots(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    order_col: str = "bucket_start",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    w = Window.partitionBy(*partition_cols).orderBy(F.col(order_col).asc())
    ph, pl, pc = (F.lag(c, 1).over(w) for c in (high, low, close))
    p = (ph + pl + pc) / F.lit(3.0)
    return df.select(
        *partition_cols,
        order_col,
        p.alias("pivot"),
        (F.lit(2.0) * p - pl).alias("r1"),
        (F.lit(2.0) * p - ph).alias("s1"),
        (p + (ph - pl)).alias("r2"),
        (p - (ph - pl)).alias("s2"),
    )


def pivot_levels(high, low, close) -> tuple:
    """(pivot, r1, s1, r2, s2) from one period's H/L/C, in the same
    IEEE-754 operation order as :func:`traditional_pivots`; any None
    input makes every level None, as a NULL does in the column form."""
    if high is None or low is None or close is None:
        return (None,) * 5
    p = (high + low + close) / 3.0
    return p, 2.0 * p - low, 2.0 * p - high, p + (high - low), p - (high - low)
