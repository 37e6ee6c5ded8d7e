"""Timeframe fetch planner: which table serves a requested timeframe?

Reference (/root/reference/src/live_data_api_service/capabilities.py:48-95)
decides per timeframe between a direct native fetch, aggregating from the
1m feed, or declaring the timeframe unavailable; the serving path
additionally prefers the locally-materialized higher-timeframe lake when
it covers the requested window, falling back to 1m aggregation when the
HTF lake is partial (service.py:1580-1605, 1816).

The engine analogue: *table selection*. A lake materializes a subset of
timeframes (1m always, HTF tables per config); a query for timeframe T
either reads the materialized T table directly (no aggregation work at
all) or window-aggregates the 1m table (one shuffle over the requested
window). The decision is a pure function — cluster-side nothing happens
until the chosen frame is read, so the planner itself is driver-side and
free.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterable

from pyspark.sql import DataFrame

from crypto_datalake_spark.functions.timeframes import normalize_timeframe

MODE_DIRECT = "direct_local_higher_tf"
MODE_DIRECT_1M = "direct_1m"
MODE_AGGREGATE = "aggregate_from_1m"
MODE_UNAVAILABLE = "unavailable"


@dataclass(frozen=True)
class FetchPlannerConfig:
    """Mirrors reference FetchPlannerConfig (capabilities.py:31-36), with
    ingestion-only knobs re-expressed as table-selection knobs."""

    prefer_materialized: bool = True  # enable_native_binance_tf_candles
    allow_1m_fallback: bool = True  # allow_legacy_1m_fallback
    force_aggregate: bool = False  # candle_fetch_mode == AGGREGATE_FROM_1M


@dataclass(frozen=True)
class FetchPlan:
    """Mirrors reference TimeframeFetchDecision (capabilities.py:39-46)."""

    timeframe: str
    mode: str
    source_table: str | None
    fallback_used: bool
    notes: tuple[str, ...] = field(default=())


def plan_timeframe_fetch(
    timeframe: str,
    materialized_tfs: Iterable[str],
    config: FetchPlannerConfig = FetchPlannerConfig(),
) -> FetchPlan:
    """Pure decision: direct HTF read vs aggregate-from-1m vs unavailable.

    Decision order mirrors capabilities.py:48-95: prefer the direct
    (materialized) path when enabled and supported; else the 1m
    aggregation fallback when allowed, with the *reason* recorded in the
    notes; else unavailable.
    """
    tf = normalize_timeframe(timeframe)
    materialized = {normalize_timeframe(t) for t in materialized_tfs}
    if tf == "1m":
        # the base grain is its own direct path — never aggregated
        if "1m" in materialized:
            return FetchPlan(tf, MODE_DIRECT_1M, "1m", fallback_used=False)
        return FetchPlan(
            tf, MODE_UNAVAILABLE, None, False, ("base_1m_table_missing",)
        )

    if config.prefer_materialized and not config.force_aggregate and tf in materialized:
        return FetchPlan(tf, MODE_DIRECT, tf, fallback_used=False)

    if config.allow_1m_fallback and "1m" in materialized:
        if config.force_aggregate:
            reason = "fetch_mode_aggregate_from_1m"
        elif not config.prefer_materialized:
            reason = "materialized_fetch_disabled"
        else:
            reason = "timeframe_not_materialized"
        return FetchPlan(
            tf,
            MODE_AGGREGATE,
            "1m",
            fallback_used=True,
            notes=("using_1m_aggregation_fallback", reason),
        )

    # distinguish the true blocker: a materialized tf with the direct path
    # disabled is a config problem, not a missing table
    if tf in materialized:
        reason = "direct_fetch_disabled_and_no_1m_fallback"
    elif "1m" not in materialized and config.allow_1m_fallback:
        reason = "no_1m_table_for_fallback"
    else:
        reason = "timeframe_not_materialized"
    return FetchPlan(tf, MODE_UNAVAILABLE, None, False, (reason,))


def serve_timeframe(
    timeframe: str,
    limit: int,
    load_table: Callable[[str], DataFrame | None],
    materialized_tfs: Iterable[str],
    config: FetchPlannerConfig = FetchPlannerConfig(),
    end_time=None,
) -> tuple[DataFrame, FetchPlan]:
    """Execute a fetch plan against the lake: read the materialized HTF
    table when the plan says direct AND it covers the requested window,
    else aggregate the 1m table (service.py:1580-1605 coverage check and
    1816 partial-fallback choice).

    ``load_table(tf)`` returns the canonical frame for a materialized
    timeframe (columns symbol/bucket_ts/... for HTF, the minute schema
    for 1m) or None; None for a table the plan reads raises the same
    "unavailable" ValueError as an unavailable plan. ``end_time``
    anchors the window (resolve it first via `resolve_end_time`;
    omitted → the 1m lake's max timestamp). The
    coverage probe counts HTF bars INSIDE the anchored window
    ``(end − limit·tf, end]`` per symbol present in the 1m lake at or
    before ``end_time`` — so a lagging HTF table fails it even when it
    holds ``limit`` old bars (a bare per-symbol count would pass stale
    data), and a symbol missing from the HTF table entirely forces the
    fallback too; the reference makes the same anchored height check
    per request. The bounded tail (≤ ``limit`` bars per symbol) is
    collected once and counted on the driver, beside one distinct over
    the 1m symbols; a covered window comes back as a local-relation
    frame of the collected rows, so collecting it runs no Spark job.
    """
    import datetime as _dt
    from collections import Counter

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crypto_datalake_spark.ops.time import TIMEFRAME_MINUTES
    from crypto_datalake_spark.pipelines.serving import aggregate_canonical_frame
    from crypto_datalake_spark.sinks import local_frame

    def clip(df, ts_col):
        return df.where(F.col(ts_col) <= F.lit(end_time)) if end_time is not None else df

    def per_symbol_tail(df, ts_col):
        w = Window.partitionBy("symbol").orderBy(F.col(ts_col).desc())
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= limit)
            .drop("__rk")
        )

    plan = plan_timeframe_fetch(timeframe, materialized_tfs, config)
    if plan.mode == MODE_UNAVAILABLE:
        raise ValueError(f"timeframe {plan.timeframe} unavailable: {plan.notes}")

    def source(tf):
        # a planned source table not written yet makes the timeframe
        # unavailable, like any other plan that cannot be served
        df = load_table(tf)
        if df is None:
            raise ValueError(
                f"timeframe {plan.timeframe} unavailable: ('{tf}_table_missing',)"
            )
        return df

    if plan.mode == MODE_DIRECT_1M:
        return per_symbol_tail(clip(source("1m"), "timestamp"), "timestamp"), plan

    if plan.mode == MODE_DIRECT:
        base = load_table("1m")
        if base is None:
            # no 1m lake at all: nothing to anchor the coverage probe
            # against and nothing to fall back to — the direct HTF tail is
            # the only servable answer, flagged so callers can see the
            # probe was skipped
            import dataclasses

            htf = clip(source(plan.timeframe), "bucket_ts")
            plan = dataclasses.replace(
                plan, notes=plan.notes + ("no_1m_lake_coverage_probe_skipped",)
            )
            return per_symbol_tail(htf, "bucket_ts"), plan
        if end_time is None:
            end_time = base.agg(F.max("timestamp")).collect()[0][0]
        unit_minutes = TIMEFRAME_MINUTES[plan.timeframe]
        if unit_minutes is not None:
            window_start = end_time - _dt.timedelta(minutes=limit * unit_minutes)
        elif plan.timeframe == "1w":
            window_start = end_time - _dt.timedelta(weeks=limit)
        else:  # "1M": calendar months have no fixed minute length
            total = (end_time.month - 1) - limit
            window_start = end_time.replace(
                year=end_time.year + total // 12,
                month=total % 12 + 1,
                day=1,
                hour=0,
                minute=0,
                second=0,
                microsecond=0,
            )
        tail = per_symbol_tail(clip(source(plan.timeframe), "bucket_ts"), "bucket_ts")
        rows = tail.collect()
        have = Counter(r["symbol"] for r in rows if r["bucket_ts"] > window_start)
        present = clip(base, "timestamp").select("symbol").distinct().collect()
        # every 1m symbol needs limit bars in the window; a NULL
        # symbol is never covered
        if all(s is not None and have[s] >= limit for (s,) in present):
            return local_frame(tail.sparkSession, rows, tail.schema), plan
        # partial HTF window → 1m aggregation fallback (service.py:1596-1605)
        plan = FetchPlan(
            plan.timeframe,
            MODE_AGGREGATE,
            "1m",
            fallback_used=True,
            notes=(
                "htf_local_lake_partial_window",
                "htf_local_minute_aggregation_fallback",
            ),
        )

    bars = aggregate_canonical_frame(
        clip(source("1m"), "timestamp"), plan.timeframe, limit=limit
    )
    return bars, plan


def latest_watermarks(spark, ledger_path: str, key_cols: Iterable[str]) -> DataFrame:
    """Per-key high-water mark from the write-audit ledger: the max
    committed ``max_ts`` per key (ref state/store.py:77-95 — the SQLite
    ``watermark`` table; in this engine the ledger IS the state store, so
    the watermark is a derived view rather than separately-written state
    that could drift from the data).

    Only the latest row per partition counts (``read_ledger``):
    superseded entries from earlier commits must not contribute, or a
    repair that legitimately SHRANK a partition's max_ts would leave the
    watermark stuck at the stale value.

    The answer is a local-relation frame, so collecting it runs no Spark
    job.  It comes from this process's ledger view (``sinks.upsert_ledger``
    advances it on every commit) when the view matches the log's file
    listing, and from a ledger scan, which seeds the view, otherwise."""
    from crypto_datalake_spark.sinks import ledger_watermarks, local_frame

    schema, marks = ledger_watermarks(spark, ledger_path, list(key_cols))
    return local_frame(spark, [(*k, w) for k, w in marks.items()], schema)


def resolve_end_time(
    requested_end,
    watermark,
    now,
    tolerance_minutes: int = 3,
):
    """Serving end-time resolution (ref service.py watermark clamp,
    test_live_data_api_service.py:774): when the caller omits end_time
    and the local watermark is within ``tolerance_minutes`` of now, serve
    the locally-complete window and skip the remote/rebuild path
    entirely; a stale watermark falls through to ``now`` (the caller then
    decides to rebuild/fetch). An explicit end_time always wins.

    Returns (end_time, from_local_watermark).
    """
    import datetime as _dt

    if requested_end is not None:
        return requested_end, False
    if watermark is not None and now - watermark <= _dt.timedelta(
        minutes=tolerance_minutes
    ):
        return watermark, True
    return now, False
