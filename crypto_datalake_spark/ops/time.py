"""Time bucketing and dense-spine generation (TIMESTAMP_NTZ throughout).

Reference semantics carried here:
- minute spine densification  — /root/reference/src/binance_minute_lake/transforms/minute_builder.py:126-143
- bucket floor incl. calendar week (Monday) / month — /root/reference/src/aggregator/bucketing.py:49-114
- expected-minutes accounting (calendar-aware for 1w/1M) — bucketing.py:61-68

Everything is epoch-anchored integer arithmetic on NTZ values: no session
timezone involvement, bit-identical to DuckDB's naive-timestamp math.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"

# timeframe token → minutes; None marks calendar units (reference alias
# tables: src/aggregator/bucketing.py:16-46, live_data_api_service/timeframes.py:25-108)
TIMEFRAME_MINUTES: dict[str, int | None] = {
    "1m": 1,
    "3m": 3,
    "5m": 5,
    "15m": 15,
    "30m": 30,
    "1h": 60,
    "1hr": 60,
    "2h": 120,
    "4h": 240,
    "6h": 360,
    "8h": 480,
    "12h": 720,
    "1d": 1440,
    "3d": 4320,
    "1w": None,
    "1M": None,
}


def epoch_seconds(ts: Column | str) -> Column:
    """Seconds since epoch of an NTZ timestamp (truncating), tz-free."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.timestamp_diff("SECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c)


def bucket_floor(ts: Column | str, minutes: int) -> Column:
    """Floor an NTZ timestamp to an arbitrary N-minute boundary.

    Spark's ``date_trunc`` has no '15 minutes' unit; epoch-floor arithmetic
    is exact and pushes down fine. Alignment is epoch-anchored (00:00 UTC),
    matching the reference's ``dt.truncate`` and DuckDB's
    ``to_timestamp(floor(epoch(ts)/s)*s)``.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    step = minutes * 60
    base = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    secs = F.timestamp_diff("SECOND", base, c)
    # pmod, not %: Spark's % keeps the dividend sign, so plain remainder
    # TRUNCATES pre-1970 timestamps toward zero (a "floor" later than its
    # input) where DuckDB's floor(epoch/s)*s floors — pmod's non-negative
    # remainder gives true floor for either sign (same fix as
    # ops.gaps.islands' bucket ids)
    floored = (secs - F.pmod(secs, F.lit(step))).cast("long")
    return F.timestamp_add("SECOND", floored, base)


def calendar_floor(ts: Column | str, unit: str) -> Column:
    """Calendar bucket floor: 'week' (Monday-aligned, as in the reference
    bucketing.py:88-99 and in DuckDB/Spark date_trunc) or 'month'."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_trunc(unit, c).cast("timestamp_ntz")


def timeframe_floor(ts: Column | str, timeframe: str) -> Column:
    """Floor to any reference timeframe token (3m…1M)."""
    m = TIMEFRAME_MINUTES[timeframe]
    if m is not None:
        return bucket_floor(ts, m)
    return calendar_floor(ts, "week" if timeframe == "1w" else "month")


def bucket_end(bucket_start: Column, timeframe: str) -> Column:
    """Exclusive end of a timeframe bucket (calendar-aware for 1w/1M,
    reference bucketing.py:101-114)."""
    m = TIMEFRAME_MINUTES[timeframe]
    if m is not None:
        return F.timestamp_add("MINUTE", F.lit(m), bucket_start)
    if timeframe == "1w":
        return F.timestamp_add("DAY", F.lit(7), bucket_start)
    return F.add_months(bucket_start, 1).cast("timestamp_ntz")


def expected_minutes(bucket_start: Column, timeframe: str) -> Column:
    """Expected minute count in a bucket; calendar arithmetic for 1w/1M
    (NOT a fixed constant — reference bucketing.py:61-68)."""
    end = bucket_end(bucket_start, timeframe)
    return F.timestamp_diff("MINUTE", bucket_start, end).cast("long")


def _parse_ntz(ts: str) -> dt.datetime:
    parsed = dt.datetime.fromisoformat(ts)
    if parsed.tzinfo is not None:
        raise ValueError(f"spine bound {ts!r} carries a UTC offset; "
                         "TIMESTAMP_NTZ bounds must be naive")
    return parsed


def minute_spine(
    spark: SparkSession,
    start: str,
    end_exclusive: str,
    step_minutes: int = 1,
) -> DataFrame:
    """Dense NTZ timestamp spine [start, end) at a fixed minute step.

    Scale note: built from ``spark.range`` (distributed, partitioned by id
    ranges) rather than a driver-side ``sequence``+explode of one giant
    array, so a multi-year 1-minute spine parallelises across executors.

    The slot count is driver arithmetic, no Spark job: the whole seconds
    between the bounds (``timestampdiff(SECOND, …)``; a reversed range
    gives an empty spine either way), ceil-divided by the step.  The
    bounds must be naive ISO timestamps; anything
    ``datetime.fromisoformat`` cannot parse, or a string carrying a UTC
    offset, raises ``ValueError``.
    """
    t0, t1 = _parse_ntz(start), _parse_ntz(end_exclusive)
    step = step_minutes * 60
    count = ((t1 - t0) // dt.timedelta(seconds=1) + step - 1) // step
    base = F.lit(t0.isoformat(sep=" ")).cast("timestamp_ntz")
    return spark.range(count).select(
        F.timestamp_add("SECOND", (F.col("id") * step).cast("long"), base).alias("slot_ts")
    )
