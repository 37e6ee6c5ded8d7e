"""Serving-layer aggregation: the §3.1 API query pipeline.

Reference (/root/reference/src/live_data_api_service/aggregation.py:16-227
+ service.py:1188-1257): unlimited forward-fill of snapshot columns →
tumbling-window aggregation (closed-left, label-left) → complete-only
filter → derived-field block (recomputed AFTER aggregation, so ratios are
ratio-of-sums) → tail(limit).

Spark realization: one window-agg + one ordered-window pass for the
lag/cumsum derived fields. The response is bounded (≤500 bars), so the
final ordered window over the result is a single small partition — the
heavy lifting (agg over minutes) is fully distributed before it.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crypto_datalake_spark.ops.agg import dsum, first_nonnull, last_nonnull, ratio_of_sums
from crypto_datalake_spark.ops.time import expected_minutes, timeframe_floor

# columns forward-filled (unlimited) before aggregation (aggregation.py:16-24)
_PRE_FFILL = ("oi_contracts", "funding_rate")


@dataclass(frozen=True)
class _BarExprs:
    """The unresolved expressions of one (timeframe, fill columns) plan."""

    bucket: Column
    aggs: tuple[Column, ...]
    carried: dict[str, Column]  # carry-in fills, then expected_minutes
    temps: tuple[str, ...]
    complete: Column
    derived: dict[str, Column]
    tail_rank: Column


_EXPRS_LOCK = threading.Lock()
_EXPRS: dict[tuple, _BarExprs] = {}


def _bar_exprs(sc, timeframe: str, fill_cols: tuple[str, ...]) -> _BarExprs:
    """The plan's expressions, built once per (SparkContext, timeframe,
    fill columns).  Each ``F.*`` call is a py4j round trip (plus origin
    bookkeeping), and an unresolved expression does not depend on the
    frame it is applied to, so rebuilding them per request is pure
    overhead.  A ``Column`` is a handle into one JVM session: a new
    SparkContext drops every entry built under another one."""
    key = (sc, timeframe, fill_cols)
    with _EXPRS_LOCK:
        exprs = _EXPRS.get(key)
        if exprs is None:
            if any(k[0] is not sc for k in _EXPRS):
                _EXPRS.clear()
            exprs = _EXPRS[key] = _build_bar_exprs(timeframe, fill_cols)
    return exprs


def _build_bar_exprs(timeframe: str, fill_cols: tuple[str, ...]) -> _BarExprs:
    aggs = (
        *[
            e
            for c in fill_cols
            for e in (
                F.min_by(c, "timestamp").alias(f"__{c}_at_first"),
                first_nonnull(c, "timestamp").alias(f"__{c}_first"),
                last_nonnull(c, "timestamp").alias(f"__{c}_last"),
            )
        ],
        first_nonnull("open", "timestamp").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        last_nonnull("close", "timestamp").alias("close"),
        dsum("volume_btc").alias("volume_btc"),
        dsum("volume_usdt").alias("volume_usdt"),
        F.sum("trade_count").alias("trade_count"),
        dsum("taker_buy_volume").alias("taker_buy_volume"),
        ratio_of_sums("volume_usdt", "volume_btc").alias("vwap_bar"),
        F.count(F.lit(1)).alias("observed_minutes"),
    )
    # bar-level carry-in window: bucket-count-sized per symbol
    w_prev = (
        Window.partitionBy("symbol")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = {}
    for c in fill_cols:
        carry = F.last(F.col(f"__{c}_last"), ignorenulls=True).over(w_prev)
        if c == "funding_rate":  # FIRST_NONNULL-of-filled semantics
            carried[c] = F.coalesce(
                F.col(f"__{c}_at_first"), carry, F.col(f"__{c}_first")
            )
        else:  # LAST_NONNULL-of-filled semantics (oi_contracts)
            carried[c] = F.coalesce(F.col(f"__{c}_last"), carry)
    carried["expected_minutes"] = expected_minutes(F.col("bucket_ts"), timeframe)
    w_tail = Window.partitionBy("symbol").orderBy(F.col("bucket_ts").desc())
    return _BarExprs(
        bucket=timeframe_floor("timestamp", timeframe),
        aggs=aggs,
        carried=carried,
        temps=tuple(
            f"__{c}_{s}" for c in fill_cols for s in ("at_first", "first", "last")
        ),
        complete=F.col("observed_minutes") == F.col("expected_minutes"),
        derived=_derived_fields(),
        tail_rank=F.row_number().over(w_tail),
    )


def aggregate_canonical_frame(
    minute_df: DataFrame,
    timeframe: str,
    limit: int | None = None,
    complete_only: bool = True,
) -> DataFrame:
    """Canonical minute frame → API bars for one timeframe.

    The reference's unlimited pre-aggregation forward-fill
    (aggregation.py:16-24) is NOT reproduced as a minute-level
    ``Window.partitionBy(symbol)`` fill — with a handful of hot symbols
    that window funnels the ENTIRE minute history through one task per
    symbol, the exact serialization hazard the two-phase ops elsewhere
    exist to avoid.  Instead the fill is algebraically pushed to the BAR
    level: each bucket aggregates its raw first-minute value, first
    non-null, and last non-null, and a bar-level window (bucket-count
    rows per symbol — thousands, not millions) derives the carry-in.
    For any dense minute frame:
      first_nonnull(filled)  = coalesce(raw value at the bucket's first
                               minute, carry-in, first non-null in bucket)
      last_nonnull(filled)   = coalesce(last non-null in bucket, carry-in)
    where carry-in = the last raw non-null in any EARLIER bucket.

    The expressions come from a per-session memo (``_bar_exprs``), so a
    request pays only for the few DataFrame calls below.
    """
    fill_cols = tuple(c for c in _PRE_FFILL if c in minute_df.columns)
    x = _bar_exprs(minute_df.sparkSession.sparkContext, timeframe, fill_cols)
    bars = (
        minute_df.withColumn("bucket_ts", x.bucket)
        .groupBy("symbol", "bucket_ts")
        .agg(*x.aggs)
        .withColumns(x.carried)
        .drop(*x.temps)
    )
    if complete_only:
        bars = bars.where(x.complete)
    bars = bars.withColumns(x.derived)
    if limit is not None:
        bars = (
            bars.withColumn("__rk", x.tail_rank)
            .where(F.col("__rk") <= limit)
            .drop("__rk")
        )
    return bars


def _derived_fields() -> dict[str, Column]:
    """The §2.10 post-aggregation derived block (service.py:1188-1257,
    aggregation.py:115-227): recomputed AFTER aggregation — never
    aggregate pre-derived ratios."""
    w = Window.partitionBy("symbol").orderBy("bucket_ts")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_close = F.lag("close", 1).over(w)
    net_taker = F.col("taker_buy_volume") * 2 - F.col("volume_btc")
    return {
        "taker_sell_volume": F.col("volume_btc") - F.col("taker_buy_volume"),
        "taker_buy_ratio": F.when(
            F.col("volume_btc") != 0,
            F.col("taker_buy_volume") / F.col("volume_btc"),
        ),
        "avg_trade_size": F.when(
            F.col("trade_count") != 0,
            F.col("volume_btc") / F.col("trade_count"),
        ),
        # positive-price guard (same as w3_lag_delta): log is undefined
        # otherwise, and ANSI mode raises on a zero close
        "realized_vol_bar": F.when(
            (F.col("close") > 0) & (prev_close > 0),
            F.abs(F.log(F.col("close") / prev_close)),
        ),
        "delta_oi_contracts": F.col("oi_contracts") - F.lag("oi_contracts", 1).over(w),
        "delta_funding_rate": F.col("funding_rate") - F.lag("funding_rate", 1).over(w),
        "cvd_btc": F.sum(net_taker).over(cum),
    }
