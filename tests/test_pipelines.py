"""Pipeline tests mirroring the reference's test strategy (SURVEY.md §5):
canonical fixture rows → operator → exact-value asserts.

Reference models: tests/test_aggregator.py (OHLC/weighted/snapshot/calendar
boundaries, idempotent rewrite, late-arrival repair), tests/
test_transform_engine.py (ffill, 0-vs-NULL), tests/test_atomic_writer.py
(merge without row loss, LIVE_ONLY preservation).
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from crypto_datalake_spark.pipelines import (
    aggregate_canonical_frame,
    aggregate_minutes,
    build_canonical_frame,
    detect_missing_buckets,
    incremental_update,
)
from crypto_datalake_spark.schema import (
    MINUTE_COLUMNS,
    MINUTE_SCHEMA,
    finalize,
    schema_hash,
    validate_hard_required,
)
from crypto_datalake_spark.sinks import upsert_partitioned


def _ts(minute: int, hour: int = 0, day: int = 1, month: int = 1) -> dt.datetime:
    return dt.datetime(2024, month, day, hour, minute)


_DEFAULTS = dict(
    symbol="BTCUSDT",
    open=100.0, high=110.0, low=90.0, close=105.0,
    volume_btc=2.0, volume_usdt=200.0, trade_count=10,
    vwap_1m=100.0, taker_buy_volume=1.0, max_trade=50.0,
    oi_contracts=1000.0, funding_rate=0.0001,
    spread_pct=0.01, liq_notional=0.0, liq_count=0,
    has_depth=True, has_liq=True, realized_vol=None,
)


def _minute_row(ts, **over):
    row = dict(_DEFAULTS, timestamp=ts, **over)
    return tuple(row[c.name] for c in MINUTE_COLUMNS)


# all-nullable variant: tests need to construct invalid rows on purpose
_NULLABLE_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in MINUTE_SCHEMA.fields]
)


def _minute_frame(spark, rows):
    return spark.createDataFrame(rows, _NULLABLE_SCHEMA)


# --- schema registry -------------------------------------------------------

def test_finalize_adds_missing_casts_orders(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), "X", 1, 2.0)],
        "timestamp timestamp_ntz, symbol string, trade_count int, close double",
    )
    out = finalize(df)
    assert [f.name for f in out.schema.fields] == [c.name for c in MINUTE_COLUMNS]
    assert dict(out.dtypes)["trade_count"] == "bigint"  # cast int → canonical long
    row = out.head()
    assert row["open"] is None and row["close"] == 2.0


def test_schema_hash_stable():
    assert schema_hash() == schema_hash()
    assert len(schema_hash()) == 64


def test_validate_hard_required_detects_violations(spark):
    ok_df = _minute_frame(spark, [_minute_row(_ts(0)), _minute_row(_ts(1))])
    ok, v = validate_hard_required(ok_df)
    assert ok and v == {}
    bad = _minute_frame(
        spark,
        [_minute_row(_ts(0), close=None), _minute_row(_ts(1)), _minute_row(_ts(1))],
    )
    ok, v = validate_hard_required(bad)
    assert not ok
    assert v["nulls_close"] == 1 and v["dup_keys"] == 1


# --- minute builder --------------------------------------------------------

@pytest.fixture()
def built(spark):
    klines = spark.createDataFrame(
        [
            (_ts(m), 100.0 + m, 110.0 + m, 90.0 + m, 105.0 + m, 2.0, 200.0, 10)
            for m in range(5)
        ],
        "timestamp timestamp_ntz, open double, high double, low double, "
        "close double, volume_btc double, volume_usdt double, trade_count long",
    )
    metrics = spark.createDataFrame(
        [(_ts(1), 1000.0)], "timestamp timestamp_ntz, oi_contracts double"
    )
    live = spark.createDataFrame(
        [
            (_ts(0), 0.01, None, None, True, True),   # covered, quiet minute
            (_ts(1), 0.02, 500.0, 2, True, True),     # covered, with liqs
        ],
        "timestamp timestamp_ntz, spread_pct double, liq_notional double, "
        "liq_count long, has_depth boolean, has_liq boolean",
    )
    return build_canonical_frame(
        spark,
        {"klines": klines, "metrics": metrics, "live": live},
        "2024-01-01 00:00:00",
        "2024-01-01 00:05:00",
        "BTCUSDT",
    )


def test_builder_dense_spine_and_schema(built):
    assert built.count() == 5
    assert [f.name for f in built.schema.fields] == [c.name for c in MINUTE_COLUMNS]


def test_builder_vwap_derived(built):
    r = built.where(F.col("timestamp") == _ts(0)).head()
    assert r["vwap_1m"] == 200.0 / 2.0


def test_builder_ffill_limited(built):
    rows = {r["timestamp"]: r for r in built.collect()}
    assert rows[_ts(0)]["oi_contracts"] is None          # before snapshot
    assert rows[_ts(1)]["oi_contracts"] == 1000.0        # snapshot minute
    assert rows[_ts(4)]["oi_contracts"] == 1000.0        # ffilled forward


def test_builder_zero_vs_null_gating(built):
    rows = {r["timestamp"]: r for r in built.collect()}
    # covered minute with no liq events → literal 0 (NOT NULL)
    assert rows[_ts(0)]["liq_notional"] == 0.0 and rows[_ts(0)]["liq_count"] == 0
    # covered minute with events → values kept
    assert rows[_ts(1)]["liq_notional"] == 500.0
    # uncovered minute (no live row → has_liq null) → NULL (NOT 0)
    assert rows[_ts(2)]["liq_notional"] is None and rows[_ts(2)]["liq_count"] is None


def test_builder_ffill_respects_limit(spark):
    # snapshot at minute 0 only; limit 60 → filled through minute 60, null after
    klines = spark.createDataFrame(
        [(_ts(m, hour=h), 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1)
         for h in range(2) for m in range(60)],
        "timestamp timestamp_ntz, open double, high double, low double, "
        "close double, volume_btc double, volume_usdt double, trade_count long",
    )
    metrics = spark.createDataFrame(
        [(_ts(0), 7.0)], "timestamp timestamp_ntz, oi_contracts double"
    )
    out = build_canonical_frame(
        spark, {"klines": klines, "metrics": metrics},
        "2024-01-01 00:00:00", "2024-01-01 02:00:00", "X",
    )
    rows = {r["timestamp"]: r["oi_contracts"] for r in out.collect()}
    assert rows[_ts(0, hour=1)] == 7.0       # row 60: within limit
    assert rows[_ts(1, hour=1)] is None      # row 61: beyond 60-row frame


@pytest.mark.parametrize(
    "start,end,step",
    [
        ("2024-01-01 00:00:00", "2024-01-08 00:00:00", 1),  # whole minutes
        ("2024-01-01 00:00:00", "2024-01-01 00:10:30.5", 1),  # fractional end
        ("2024-01-01 00:00:00.25", "2024-01-01 00:10:00", 1),  # fractional start
        ("2024-01-01 00:00:00", "2024-01-01 03:07:00", 15),  # step does not divide
        ("2024-01-01 01:00:00", "2024-01-01 00:00:00", 1),  # reversed: empty
    ],
)
def test_minute_spine_count_matches_sql_timestampdiff(spark, start, end, step):
    """The driver-side slot count equals the SQL count it replaced: whole
    seconds by ``timestampdiff``, ceil-divided by the step."""
    from crypto_datalake_spark.ops.time import minute_spine

    secs = spark.sql(
        f"SELECT timestampdiff(SECOND, TIMESTAMP_NTZ '{start}', "
        f"TIMESTAMP_NTZ '{end}')"
    ).head()[0]
    want = max(0, (secs + step * 60 - 1) // (step * 60))
    slots = [r["slot_ts"] for r in minute_spine(spark, start, end, step).collect()]
    assert len(slots) == want
    if want:
        first = dt.datetime.fromisoformat(start)
        assert slots[0] == first
        assert slots[-1] == first + dt.timedelta(minutes=step * (want - 1))


@pytest.mark.parametrize(
    "bound", ["2024-1-1 00:00:00", "yesterday", "2024-01-01T00:00:00+02:00"]
)
def test_minute_spine_rejects_unparseable_bounds(spark, bound):
    from crypto_datalake_spark.ops.time import minute_spine

    with pytest.raises(ValueError):
        minute_spine(spark, bound, "2024-01-02 00:00:00")


# --- HTF aggregator --------------------------------------------------------

def test_htf_ohlc_correctness(spark):
    rows = [
        _minute_row(_ts(0), open=10.0, high=15.0, low=9.0, close=12.0),
        _minute_row(_ts(1), open=12.0, high=20.0, low=11.0, close=19.0),
        _minute_row(_ts(2), open=19.0, high=19.5, low=8.0, close=9.0),
    ]
    bars = aggregate_minutes(_minute_frame(spark, rows), "3m").collect()
    assert len(bars) == 1
    b = bars[0]
    assert (b["open"], b["high"], b["low"], b["close"]) == (10.0, 20.0, 8.0, 9.0)
    assert b["volume_btc"] == 6.0 and b["trade_count"] == 30
    assert b["observed_minutes"] == 3 and b["bucket_complete"]


def test_htf_vwap_is_ratio_of_sums(spark):
    rows = [
        _minute_row(_ts(0), volume_btc=1.0, volume_usdt=100.0, vwap_1m=100.0),
        _minute_row(_ts(1), volume_btc=3.0, volume_usdt=600.0, vwap_1m=200.0),
        _minute_row(_ts(2)),
    ]
    b = aggregate_minutes(_minute_frame(spark, rows), "3m").head()
    # Σusdt/Σbtc = 900/6 — NOT mean(vwap_1m)
    assert b["vwap_1m"] == pytest.approx(900.0 / 6.0)


def test_htf_weighted_avg_with_fallback(spark):
    rows = [
        _minute_row(_ts(0), spread_pct=0.01, volume_usdt=100.0),
        _minute_row(_ts(1), spread_pct=0.03, volume_usdt=300.0),
        _minute_row(_ts(2), spread_pct=None, volume_usdt=200.0),
    ]
    b = aggregate_minutes(_minute_frame(spark, rows), "3m").head()
    # pairwise-deleted weights: (0.01·100 + 0.03·300)/400
    assert b["spread_pct"] == pytest.approx((0.01 * 100 + 0.03 * 300) / 400.0)
    # zero weights → simple-mean fallback
    rows0 = [
        _minute_row(_ts(0), spread_pct=0.01, volume_usdt=0.0, volume_btc=0.0),
        _minute_row(_ts(1), spread_pct=0.03, volume_usdt=0.0, volume_btc=0.0),
    ]
    b0 = aggregate_minutes(_minute_frame(spark, rows0), "3m").head()
    assert b0["spread_pct"] == pytest.approx(0.02)


def test_htf_snapshot_first_last_nonnull(spark):
    rows = [
        _minute_row(_ts(0), oi_contracts=None, funding_rate=None),
        _minute_row(_ts(1), oi_contracts=11.0, funding_rate=0.5),
        _minute_row(_ts(2), oi_contracts=22.0, funding_rate=None),
    ]
    b = aggregate_minutes(_minute_frame(spark, rows), "3m").head()
    assert b["oi_contracts"] == 22.0    # LAST non-null
    assert b["funding_rate"] == 0.5     # FIRST non-null


def test_htf_realized_vol_within_bucket(spark):
    closes = [100.0, 110.0, 99.0]
    rows = [_minute_row(_ts(m), close=c) for m, c in enumerate(closes)]
    b = aggregate_minutes(_minute_frame(spark, rows), "3m").head()
    expect = math.sqrt(
        math.log(110.0 / 100.0) ** 2 + math.log(99.0 / 110.0) ** 2
    )
    assert b["realized_vol"] == pytest.approx(expect)


def test_weekly_monday_and_monthly_calendar(spark):
    # 2024-01-03 is a Wednesday → week bucket floors to Monday 2024-01-01
    rows = [_minute_row(_ts(0, day=3))]
    b = aggregate_minutes(_minute_frame(spark, rows), "1w").head()
    assert b["bucket_start"] == dt.datetime(2024, 1, 1)
    assert b["expected_minutes"] == 7 * 1440
    # February 2024 (leap): expected minutes = 29 days
    rows = [_minute_row(_ts(0, day=10, month=2))]
    b = aggregate_minutes(_minute_frame(spark, rows), "1M").head()
    assert b["bucket_start"] == dt.datetime(2024, 2, 1)
    assert b["expected_minutes"] == 29 * 1440


def test_detect_missing_buckets(spark):
    rows = [_minute_row(_ts(m)) for m in range(3)] + [_minute_row(_ts(4))]
    mdf = _minute_frame(spark, rows)  # bucket 00:00 complete, 00:03 partial
    missing = detect_missing_buckets(mdf, None, "3m").collect()
    assert [r["bucket_start"] for r in missing] == [dt.datetime(2024, 1, 1)]
    existing = spark.createDataFrame(
        [("BTCUSDT", dt.datetime(2024, 1, 1), True)],
        "symbol string, bucket_start timestamp_ntz, bucket_complete boolean",
    )
    assert detect_missing_buckets(mdf, existing, "3m").count() == 0


# --- sinks -----------------------------------------------------------------

def _part_cols(df):
    return (
        df.withColumn("year", F.year("timestamp"))
        .withColumn("month", F.month("timestamp"))
        .withColumn("day", F.dayofmonth("timestamp"))
        .withColumn("hour", F.hour("timestamp"))
    )


def test_upsert_merge_without_row_loss(spark, tmp_path):
    path = str(tmp_path / "lake")
    first = _part_cols(_minute_frame(spark, [_minute_row(_ts(m)) for m in range(3)]))
    parts = ["symbol", "year", "month", "day", "hour"]
    upsert_partitioned(
        spark, first, path, keys=["symbol", "timestamp"],
        order_cols=["timestamp"], partition_cols=parts,
    )
    # rewrite minute 1 with a new close + add minute 3
    second = _part_cols(
        _minute_frame(
            spark,
            [_minute_row(_ts(1), close=999.0), _minute_row(_ts(3))],
        )
    )
    upsert_partitioned(
        spark, second, path, keys=["symbol", "timestamp"],
        order_cols=["timestamp"], partition_cols=parts,
    )
    got = spark.read.parquet(path)
    assert got.count() == 4  # no loss, no dupes
    assert got.where(F.col("timestamp") == _ts(1)).head()["close"] == 999.0


def test_upsert_preserves_live_columns(spark, tmp_path):
    path = str(tmp_path / "lake")
    parts = ["symbol", "year", "month", "day", "hour"]
    withlive = _part_cols(
        _minute_frame(
            spark, [_minute_row(_ts(0), liq_notional=500.0, has_liq=True)]
        )
    )
    upsert_partitioned(
        spark, withlive, path, keys=["symbol", "timestamp"],
        order_cols=["timestamp"], partition_cols=parts,
    )
    # historical rewrite WITHOUT live data must not clobber live columns
    nolive = _part_cols(
        _minute_frame(
            spark,
            [_minute_row(_ts(0), close=111.0, liq_notional=None, has_liq=None)],
        )
    )
    upsert_partitioned(
        spark, nolive, path, keys=["symbol", "timestamp"],
        order_cols=["timestamp"], partition_cols=parts,
        preserve_cols=["liq_notional"], flag_cols=["has_liq"],
    )
    row = spark.read.parquet(path).head()
    assert row["close"] == 111.0          # rewrite applied
    assert row["liq_notional"] == 500.0   # LIVE_ONLY preserved
    assert row["has_liq"] is True         # flag OR-ed


def test_incremental_idempotent_and_late_repair(spark, tmp_path):
    path = str(tmp_path / "htf")
    mdf = _minute_frame(spark, [_minute_row(_ts(m)) for m in range(6)])
    incremental_update(spark, mdf, path, "3m", repair_lookback_minutes=120)
    incremental_update(spark, mdf, path, "3m", repair_lookback_minutes=120)  # rerun
    got = spark.read.parquet(path)
    assert got.count() == 2  # idempotent: 2 complete buckets, no dupes
    # late data changes minute 4's close → repair rewrites bucket 00:03
    late = _minute_frame(
        spark,
        [_minute_row(_ts(m)) for m in range(4)]
        + [_minute_row(_ts(4), high=777.0), _minute_row(_ts(5))],
    )
    incremental_update(spark, late, path, "3m", repair_lookback_minutes=120)
    got = spark.read.parquet(path)
    assert got.count() == 2
    b = got.where(F.col("bucket_start") == dt.datetime(2024, 1, 1, 0, 3)).head()
    assert b["close"] == 105.0  # close of minute 5 (last), unchanged
    assert b["high"] == 777.0   # max picked up the late rewrite


# --- serving ---------------------------------------------------------------

def test_serving_derived_fields_and_complete_filter(spark):
    rows = [
        _minute_row(_ts(m), close=100.0 + m, taker_buy_volume=1.5)
        for m in range(6)
    ] + [_minute_row(_ts(6))]  # partial 7th minute → incomplete 3m bucket
    bars = aggregate_canonical_frame(
        _minute_frame(spark, rows), "3m", complete_only=True
    )
    got = {r["bucket_ts"]: r for r in bars.collect()}
    assert len(got) == 2  # partial bucket filtered out
    b0 = got[dt.datetime(2024, 1, 1, 0, 0)]
    b1 = got[dt.datetime(2024, 1, 1, 0, 3)]
    assert b0["taker_buy_ratio"] == pytest.approx(4.5 / 6.0)
    assert b1["realized_vol_bar"] == pytest.approx(abs(math.log(105.0 / 102.0)))
    assert b1["delta_oi_contracts"] == 0.0
    # cvd accumulates net taker vol: per bucket 2·4.5 − 6 = 3
    assert b0["cvd_btc"] == pytest.approx(3.0)
    assert b1["cvd_btc"] == pytest.approx(6.0)


# --- MERGE INTO ------------------------------------------------------------

_MERGE_DDL = "k bigint, day string, qty double, status string"


def _merge_df(spark, rows):
    return spark.createDataFrame(rows, _MERGE_DDL)


def test_merge_into_update_insert_delete(spark, tmp_path):
    from crypto_datalake_spark.sinks import merge_into

    path = str(tmp_path / "merge_lake")
    base = [
        (1, "d1", 10.0, "open"),
        (2, "d1", 20.0, "open"),
        (3, "d2", 30.0, "open"),
    ]
    merge_into(spark, _merge_df(spark, base), path, on=["k"], partition_cols=["day"])

    src = [
        (2, "d1", 25.0, "open"),      # matched → update
        (3, "d2", 0.0, "cancelled"),  # matched + delete_condition → delete
        (4, "d2", 40.0, "open"),      # not matched → insert
    ]
    merge_into(
        spark,
        _merge_df(spark, src),
        path,
        on=["k"],
        partition_cols=["day"],
        delete_condition=F.col("s_status") == "cancelled",
    )
    got = {r["k"]: r for r in spark.read.parquet(path).collect()}
    assert set(got) == {1, 2, 4}          # 3 deleted, 4 inserted
    assert got[1]["qty"] == 10.0          # untouched row in touched part
    assert got[2]["qty"] == 25.0          # updated
    assert got[4]["qty"] == 40.0


def test_merge_into_conditional_update_and_no_insert(spark, tmp_path):
    from crypto_datalake_spark.sinks import merge_into

    path = str(tmp_path / "merge_lake2")
    base = [(1, "d1", 10.0, "open"), (2, "d1", 20.0, "closed")]
    merge_into(spark, _merge_df(spark, base), path, on=["k"], partition_cols=["day"])

    src = [
        (1, "d1", 11.0, "open"),
        (2, "d1", 99.0, "open"),   # update gated off: target already closed
        (5, "d1", 50.0, "open"),   # insert disabled
    ]
    merge_into(
        spark,
        _merge_df(spark, src),
        path,
        on=["k"],
        partition_cols=["day"],
        update_condition=F.col("t_status") != "closed",
        insert=False,
    )
    got = {r["k"]: r for r in spark.read.parquet(path).collect()}
    assert set(got) == {1, 2}
    assert got[1]["qty"] == 11.0
    assert got[2]["qty"] == 20.0 and got[2]["status"] == "closed"


def test_write_audit_ledger_idempotent_repair(spark, tmp_path):
    """The partition ledger (ref atomic.py:113-117, state/store.py:46-136)
    records row_count/min-max ts/schema+content hash per rewritten
    partition; a repair rewrite replaces exactly the touched rows, and
    re-upserting identical data leaves every audit value unchanged."""
    from crypto_datalake_spark.sinks import read_ledger, upsert_partitioned

    data, ledger = str(tmp_path / "lake"), str(tmp_path / "ledger")
    ddl = "sym string, ts timestamp_ntz, v double, day string"
    rows1 = [
        ("A", dt.datetime(2024, 1, 1, 0, 0), 1.0, "d1"),
        ("A", dt.datetime(2024, 1, 1, 0, 1), 2.0, "d1"),
        ("B", dt.datetime(2024, 1, 1, 0, 0), 3.0, "d1"),
    ]
    kw = dict(keys=["sym", "ts"], order_cols=["ts"], partition_cols=["day"],
              ledger_path=ledger)
    upsert_partitioned(spark, spark.createDataFrame(rows1, ddl), data, **kw)
    led1 = {r["day"]: r for r in read_ledger(spark, ledger).collect()}
    assert led1["d1"]["row_count"] == 3
    assert led1["d1"]["min_ts"] == dt.datetime(2024, 1, 1, 0, 0)
    assert led1["d1"]["max_ts"] == dt.datetime(2024, 1, 1, 0, 1)
    assert led1["d1"]["status"] == "COMMITTED"

    # identical re-upsert: every audit value unchanged (incl. content hash)
    upsert_partitioned(spark, spark.createDataFrame(rows1, ddl), data, **kw)
    led2 = {r["day"]: r for r in read_ledger(spark, ledger).collect()}
    for f in ("row_count", "min_ts", "max_ts", "content_hash", "schema_hash"):
        assert led2["d1"][f] == led1["d1"][f], f

    # repair touching only d2: d1's ledger row must survive untouched
    rows2 = [("A", dt.datetime(2024, 1, 2, 0, 0), 9.0, "d2")]
    upsert_partitioned(spark, spark.createDataFrame(rows2, ddl), data, **kw)
    led3 = {r["day"]: r for r in read_ledger(spark, ledger).collect()}
    assert set(led3) == {"d1", "d2"}
    assert led3["d1"]["content_hash"] == led1["d1"]["content_hash"]
    assert led3["d2"]["row_count"] == 1

    # a real repair changes the content hash for exactly that partition
    rows3 = [("B", dt.datetime(2024, 1, 2, 0, 5), 7.0, "d2")]
    upsert_partitioned(spark, spark.createDataFrame(rows3, ddl), data, **kw)
    led4 = {r["day"]: r for r in read_ledger(spark, ledger).collect()}
    assert led4["d2"]["row_count"] == 2
    assert led4["d2"]["content_hash"] != led3["d2"]["content_hash"]
    assert led4["d1"]["content_hash"] == led1["d1"]["content_hash"]


def test_merge_into_null_delete_condition_keeps_row(spark, tmp_path):
    """MERGE three-valued logic: a NULL delete condition is UNKNOWN, not
    true — the matched row must survive (ADVICE r01)."""
    from crypto_datalake_spark.sinks import merge_into

    path = str(tmp_path / "merge_null_del")
    base = [(1, "d1", 10.0, None), (2, "d1", 20.0, "cancelled")]
    merge_into(spark, _merge_df(spark, base), path, on=["k"], partition_cols=["day"])

    src = [(1, "d1", 11.0, None), (2, "d1", 21.0, "cancelled")]
    merge_into(
        spark,
        _merge_df(spark, src),
        path,
        on=["k"],
        partition_cols=["day"],
        # evaluated against the TARGET status: NULL for k=1 → UNKNOWN → keep
        delete_condition=F.col("t_status") == "cancelled",
    )
    got = {r["k"]: r for r in spark.read.parquet(path).collect()}
    assert set(got) == {1}              # k=2 deleted; k=1 kept despite NULL cond
    assert got[1]["qty"] == 11.0        # and still updated


def test_merge_into_key_move_across_partitions(spark, tmp_path):
    """A source row with a corrected partition value must MOVE the row:
    old partition loses it, new partition gains it, no duplicate key."""
    from crypto_datalake_spark.sinks import merge_into

    path = str(tmp_path / "merge_move")
    base = [(1, "d1", 10.0, "open"), (2, "d2", 20.0, "open")]
    merge_into(spark, _merge_df(spark, base), path, on=["k"], partition_cols=["day"])

    # k=1 corrected from day d1 → d3; source never mentions d1
    merge_into(
        spark,
        _merge_df(spark, [(1, "d3", 11.0, "open")]),
        path,
        on=["k"],
        partition_cols=["day"],
    )
    rows = spark.read.parquet(path).collect()
    got = {r["k"]: r for r in rows}
    assert len(rows) == 2               # no duplicate k=1
    assert got[1]["day"] == "d3" and got[1]["qty"] == 11.0
    assert got[2]["day"] == "d2" and got[2]["qty"] == 20.0


def test_merge_into_null_key_target_rows_survive(spark, tmp_path):
    """Target rows with NULL merge keys never join; they must pass through
    unchanged, not be misclassified as source-only and rewritten."""
    from crypto_datalake_spark.sinks import merge_into

    path = str(tmp_path / "merge_null_key")
    base = [(None, "d1", 7.0, "orphan"), (1, "d1", 10.0, "open")]
    merge_into(spark, _merge_df(spark, base), path, on=["k"], partition_cols=["day"])

    merge_into(
        spark,
        _merge_df(spark, [(1, "d1", 11.0, "open")]),
        path,
        on=["k"],
        partition_cols=["day"],
    )
    rows = spark.read.parquet(path).collect()
    orphan = [r for r in rows if r["k"] is None]
    assert len(rows) == 2
    assert len(orphan) == 1 and orphan[0]["qty"] == 7.0 and orphan[0]["status"] == "orphan"


def test_read_existing_reraises_non_path_errors(spark, tmp_path):
    """Only path-missing means 'first write'; a schema mismatch must raise,
    never silently wipe the target (ADVICE r01)."""
    import pytest

    from crypto_datalake_spark.sinks import _read_existing

    assert _read_existing(spark, str(tmp_path / "nope"), ["k"]) is None

    path = str(tmp_path / "t")
    _merge_df(spark, [(1, "d1", 1.0, "open")]).write.parquet(path)
    with pytest.raises(Exception):
        _read_existing(spark, path, ["k", "no_such_column"])


def test_merge_scd2_versions_and_idempotence(spark, tmp_path):
    from crypto_datalake_spark.sinks import merge_scd2
    from crypto_datalake_spark.txn import read_table

    path = str(tmp_path / "dim")
    ddl = "k bigint, attr string, ts timestamp_ntz"
    v1 = spark.createDataFrame([(1, "a", _ts(0)), (2, "x", _ts(0))], ddl)
    merge_scd2(spark, v1, path, keys=["k"], tracked_cols=["attr"], ts_col="ts")

    # k=1 changes at t2; k=2 re-sent unchanged (must be a no-op);
    # k=1 also gets an out-of-order earlier version identical to v1 (no-op).
    v2 = spark.createDataFrame(
        [(1, "b", _ts(2)), (2, "x", _ts(2)), (1, "a", _ts(1))], ddl
    )
    merge_scd2(spark, v2, path, keys=["k"], tracked_cols=["attr"], ts_col="ts")

    got = read_table(spark, path)
    k1 = sorted(got.where("k = 1").collect(), key=lambda r: r["valid_from"])
    assert [(r["attr"], r["is_current"]) for r in k1] == [("a", False), ("b", True)]
    assert k1[0]["valid_to"] == k1[1]["valid_from"] == _ts(2)
    k2 = got.where("k = 2").collect()
    assert len(k2) == 1 and k2[0]["is_current"] and k2[0]["attr"] == "x"

    # replaying the same merge is idempotent
    merge_scd2(spark, v2, path, keys=["k"], tracked_cols=["attr"], ts_col="ts")
    assert read_table(spark, path).count() == 3


def test_incremental_update_atomic_commit(spark, tmp_path):
    """atomic=True: the HTF repair publishes through the generation
    manifest — idempotent reruns and late repairs read back identically
    through txn.read_table, and every tick is one atomic flip."""
    from crypto_datalake_spark.txn import current_manifest, read_table

    path = str(tmp_path / "htf_atomic")
    mdf = _minute_frame(spark, [_minute_row(_ts(m)) for m in range(6)])
    incremental_update(spark, mdf, path, "3m", repair_lookback_minutes=120,
                       atomic=True)
    v1 = current_manifest(spark, path)["version"]
    incremental_update(spark, mdf, path, "3m", repair_lookback_minutes=120,
                       atomic=True)
    got = read_table(spark, path)
    assert got.count() == 2
    late = _minute_frame(
        spark,
        [_minute_row(_ts(m)) for m in range(4)]
        + [_minute_row(_ts(4), high=777.0), _minute_row(_ts(5))],
    )
    incremental_update(spark, late, path, "3m", repair_lookback_minutes=120,
                       atomic=True)
    got = read_table(spark, path)
    assert got.count() == 2
    b = got.where(F.col("bucket_start") == dt.datetime(2024, 1, 1, 0, 3)).head()
    assert b["high"] == 777.0
    assert current_manifest(spark, path)["version"] == v1 + 2


def test_upsert_partitioned_null_partition_merges(spark, tmp_path):
    """Repairing the NULL partition must MERGE with its existing rows, not
    replace them: the touched-partition semi-join is null-safe (a plain
    equi-join would make existing NULL-partition rows invisible)."""
    path = str(tmp_path / "lake_nullpart")
    ddl = "sym string, ts timestamp_ntz, v double, day string"
    v1 = [("A", _ts(0), 1.0, None), ("B", _ts(0), 2.0, "d1")]
    kw = dict(keys=["sym", "ts"], order_cols=["ts"], partition_cols=["day"])
    upsert_partitioned(spark, spark.createDataFrame(v1, ddl), path, **kw)
    v2 = [("A", _ts(1), 9.0, None)]
    upsert_partitioned(spark, spark.createDataFrame(v2, ddl), path, **kw)
    got = sorted((r["sym"], r["ts"], r["v"])
                 for r in spark.read.parquet(path).where("day IS NULL").collect())
    assert got == [("A", _ts(0), 1.0), ("A", _ts(1), 9.0)]


def test_merge_scd2_stale_base_rejected(spark, tmp_path):
    """merge_scd2 is read-modify-write: a concurrent merge landing between
    this writer's read and commit must raise ConcurrentCommitError (CAS on
    the base manifest version) instead of silently reverting the
    interleaved version chain."""
    from unittest import mock

    from crypto_datalake_spark import txn
    from crypto_datalake_spark.sinks import merge_scd2

    path = str(tmp_path / "dim")
    ddl = "k bigint, attr string, ts timestamp_ntz"
    merge_scd2(
        spark,
        spark.createDataFrame([(1, "a", _ts(0))], ddl),
        path, keys=["k"], tracked_cols=["attr"], ts_col="ts",
    )

    # interleave: writer B's merge commits after A reads its base manifest
    real_read = txn.read_table
    fired = []

    def read_then_interleave(sp, p, at_version=None):
        out = real_read(sp, p, at_version=at_version)
        if not fired:  # fire once — writer B's own merge must run clean
            fired.append(1)
            with mock.patch.object(txn, "read_table", real_read):
                merge_scd2(  # writer B lands while A is mid-merge
                    sp,
                    sp.createDataFrame([(2, "x", _ts(1))], ddl),
                    p, keys=["k"], tracked_cols=["attr"], ts_col="ts",
                )
        return out

    with mock.patch.object(txn, "read_table", read_then_interleave):
        with pytest.raises(txn.ConcurrentCommitError):
            merge_scd2(
                spark,
                spark.createDataFrame([(1, "b", _ts(2))], ddl),
                path, keys=["k"], tracked_cols=["attr"], ts_col="ts",
            )
    # B's row survived; A can simply retry on the fresh state
    assert txn.read_table(spark, path).where("k = 2").count() == 1


def test_warehouse_cache_invalidates_on_source_change(spark, tmp_path):
    """warehouse_cached must fingerprint its source files: rewriting the
    source (regenerated testdata) rebuilds the derived table instead of
    serving the stale cache."""
    import os
    import time

    from crypto_datalake_spark import io as cio

    src = str(tmp_path / "src.parquet")
    spark.range(5).toPandas().to_parquet(src)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(src)

    name = f"wc_test_{os.path.basename(str(tmp_path))}"
    assert cio.warehouse_cached(spark, name, [src], build).count() == 5
    assert cio.warehouse_cached(spark, name, [src], build).count() == 5
    assert len(calls) == 1  # second call served from cache

    time.sleep(0.01)  # ensure a distinct mtime_ns
    spark.range(9).toPandas().to_parquet(src)
    assert cio.warehouse_cached(spark, name, [src], build).count() == 9
    assert len(calls) == 2  # fingerprint change -> rebuild

    # cleanup the repo-level warehouse entries this test created
    import glob
    import shutil

    wh = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(cio.__file__))), "spark-warehouse")
    for d in glob.glob(os.path.join(wh, f"{name}__*")):
        shutil.rmtree(d, ignore_errors=True)


def test_merge_scd2_same_ts_correction_wins(spark, tmp_path):
    """A correction re-sent at the SAME valid_from as a stored version but
    with different tracked values must deterministically replace it —
    incoming beats existing on ties, never partition luck."""
    from crypto_datalake_spark.sinks import merge_scd2
    from crypto_datalake_spark.txn import read_table

    path = str(tmp_path / "dim")
    ddl = "k bigint, attr string, ts timestamp_ntz"
    merge_scd2(
        spark, spark.createDataFrame([(1, "wrong", _ts(0))], ddl),
        path, keys=["k"], tracked_cols=["attr"], ts_col="ts",
    )
    merge_scd2(  # correction at the same ts
        spark, spark.createDataFrame([(1, "right", _ts(0))], ddl),
        path, keys=["k"], tracked_cols=["attr"], ts_col="ts",
    )
    got = read_table(spark, path).collect()
    assert len(got) == 1
    assert got[0]["attr"] == "right" and got[0]["is_current"]


def test_serving_ffill_carries_across_buckets(spark):
    """The unlimited pre-aggregation forward-fill, pushed to bar level:
    a bucket whose snapshot columns are all NULL must inherit the last
    non-null from EARLIER buckets (oi: last-of-filled; funding:
    first-of-filled = the carry when the bucket opens null)."""
    rows = []
    # bucket 1 (00:00-00:15): oi/funding set at minute 3 only
    for m in range(15):
        rows.append(_minute_row(
            _ts(m),
            oi_contracts=500.0 if m == 3 else None,
            funding_rate=0.01 if m == 3 else None,
        ))
    # bucket 2 (00:15-00:30): all null → carries bucket 1's values
    for m in range(15, 30):
        rows.append(_minute_row(_ts(m), oi_contracts=None, funding_rate=None))
    bars = {
        r["bucket_ts"]: r
        for r in aggregate_canonical_frame(
            _minute_frame(spark, rows), "15m", complete_only=True
        ).collect()
    }
    b1, b2 = bars[_ts(0)], bars[_ts(15)]
    assert b1["oi_contracts"] == 500.0 and b1["funding_rate"] == 0.01
    assert b2["oi_contracts"] == 500.0     # carried forward, unlimited
    assert b2["funding_rate"] == 0.01      # bucket opens null -> carry


def test_warehouse_cache_no_success_marker_and_stale_tmp_prune(spark, tmp_path):
    """Validity is the published DIRECTORY (atomic rename), not _SUCCESS —
    sessions with marksuccessfuljobs=false must serve the cache, not
    rebuild into EEXIST forever.  Crashed builds' tmp dirs are pruned
    once hour-stale; a fresh tmp (live concurrent build) is left alone."""
    import glob
    import os
    import shutil
    import time

    from crypto_datalake_spark import io as cio

    src = str(tmp_path / "src.parquet")
    spark.range(4).toPandas().to_parquet(src)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(src)

    name = f"wcns_{os.path.basename(str(tmp_path))}"
    wh = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(cio.__file__))),
        "spark-warehouse",
    )
    try:
        assert cio.warehouse_cached(spark, name, [src], build).count() == 4
        (pub,) = [
            d for d in glob.glob(os.path.join(wh, f"{name}__*")) if ".tmp-" not in d
        ]
        os.remove(os.path.join(pub, "_SUCCESS"))
        assert cio.warehouse_cached(spark, name, [src], build).count() == 4
        assert len(calls) == 1  # no marker, still a cache hit

        # plant a crashed build's orphan (old) and a live build's tmp (new)
        stale = os.path.join(wh, f"{name}__deadbeef.tmp-crash")
        fresh = os.path.join(wh, f"{name}__cafebabe.tmp-live")
        os.makedirs(stale)
        os.makedirs(fresh)
        old = time.time() - 7 * 3600
        os.utime(stale, (old, old))
        time.sleep(0.01)
        spark.range(6).toPandas().to_parquet(src)  # force a republish
        assert cio.warehouse_cached(spark, name, [src], build).count() == 6
        assert not os.path.exists(stale)  # hour-stale orphan reclaimed
        assert os.path.exists(fresh)  # live concurrent build untouched
    finally:
        for d in glob.glob(os.path.join(wh, f"{name}__*")):
            shutil.rmtree(d, ignore_errors=True)


# --- streaming corpus ingestion --------------------------------------------

def test_corpus_ingest_stream_end_to_end(spark, tmp_path):
    """Two micro-batches through the real stream: a near-dup of the SEED
    corpus is rejected in batch 1; a near-dup of a doc ACCEPTED in batch
    1 is rejected in batch 2 (the corpus grew); a repetitive doc fails
    the quality gate; novel clean docs are accepted; the audit table
    records one verdict per incoming doc with its batch."""
    import time

    from crypto_datalake_spark.pipelines.corpus_ingest import corpus_ingest_stream

    seed = " ".join(f"s{i}" for i in range(20))
    novel_b = " ".join(f"b{i}" for i in range(20))
    novel_c = " ".join(f"c{i}" for i in range(20))
    corpus = str(tmp_path / "corpus")
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    audit = str(tmp_path / "audit")
    ck = str(tmp_path / "ck")

    spark.createDataFrame([(1, seed)], "doc_id long, text string").write.parquet(corpus)
    # batch 1: near-dup of seed + novel B
    spark.createDataFrame(
        [(10, seed + " tail"), (11, novel_b)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(incoming / "f1"))
    time.sleep(1.05)  # file source orders batches by mod time
    # batch 2: near-dup of B (accepted in batch 1) + repetitive + novel C
    # + NULL text + an intra-batch near-dup pair (24 keeps, 25 loses)
    novel_d = " ".join(f"d{i}" for i in range(20))
    spark.createDataFrame(
        [(20, novel_b + " x"), (21, "spam spam spam spam spam spam"),
         (22, novel_c), (23, None), (24, novel_d), (25, novel_d + " y")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(incoming / "f2"))

    q = corpus_ingest_stream(spark, str(incoming) + "/*", corpus, audit, ck)
    assert q.awaitTermination(120), "stream timed out"

    got = {
        r["doc_id"]: (r["accepted"], r["reject_reason"], r["n_dup_existing"])
        for r in spark.read.parquet(audit).collect()
    }
    assert set(got) == {10, 11, 20, 21, 22, 23, 24, 25}
    assert got[10] == (False, "near_duplicate", 1)
    assert got[11][0] is True and got[11][1] is None
    assert got[20] == (False, "near_duplicate", 1)   # corpus grew mid-stream
    assert got[21] == (False, "repetitive", 0)
    assert got[22][0] is True
    assert got[23] == (False, "empty_text", 0)       # NULL text still audited
    assert got[24][0] is True                        # intra-batch keeper
    assert got[25] == (False, "near_duplicate", 0)   # intra-batch loser
    final = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert final == {1, 11, 22, 24}


def test_corpus_ingest_crash_restart_checkpoint(spark, tmp_path):
    """Kill the stream AFTER batch 0's appends land but BEFORE the
    checkpoint commits (the at-least-once crash window), then restart
    from the same checkpoint: Spark replays batch 0, the replay path
    re-audits it with identical verdicts WITHOUT double-appending to the
    corpus, and batch 1 still dedups against batch 0's accepts — the
    within-run replay invariant proven ACROSS restarts."""
    import time

    from pyspark.errors import StreamingQueryException

    from crypto_datalake_spark.pipelines.corpus_ingest import (
        corpus_ingest_stream,
        ingest_batch,
    )

    novel_a = " ".join(f"a{i}" for i in range(20))
    novel_b = " ".join(f"b{i}" for i in range(20))
    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    ck = str(tmp_path / "ck")
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    spark.createDataFrame(
        [(10, novel_a), (11, novel_b)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(incoming / "f1"))
    time.sleep(1.05)  # file source orders batches by mod time
    spark.createDataFrame(
        [(20, novel_b + " x"), (21, " ".join(f"c{i}" for i in range(20)))],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(incoming / "f2"))

    def crashing(df, bid):
        # the real batch runs to completion — audit AND corpus appended —
        # then the "process dies" before foreachBatch returns, so the
        # checkpoint never records batch 0 as committed
        ingest_batch(spark, df, corpus, audit, bid)
        raise RuntimeError("injected crash after append, before commit")

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(incoming) + "/*")
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "stream timed out"
        raise AssertionError("injected crash did not surface")
    except StreamingQueryException:
        pass
    # the crash window left batch 0's data on disk but uncommitted
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {10, 11}

    # restart from the same checkpoint with the REAL sink
    q2 = corpus_ingest_stream(spark, str(incoming) + "/*", corpus, audit, ck)
    assert q2.awaitTermination(120), "stream timed out"

    # corpus: no double-append, no lost accept; batch 1's near-dup of an
    # ACCEPTED batch-0 doc stayed out even though batch 0 was replayed
    rows = spark.read.parquet(corpus).collect()
    assert {r["doc_id"] for r in rows} == {10, 11, 21}
    assert len(rows) == 3
    verdicts = spark.read.parquet(audit).collect()
    by_doc = {}
    for r in verdicts:
        by_doc.setdefault(r["doc_id"], set()).add(
            (r["accepted"], r["reject_reason"])
        )
    # replayed batch-0 docs audited twice with IDENTICAL verdicts
    assert [r["doc_id"] for r in verdicts].count(10) == 2
    assert [r["doc_id"] for r in verdicts].count(11) == 2
    assert by_doc[10] == {(True, None)} and by_doc[11] == {(True, None)}
    assert by_doc[20] == {(False, "near_duplicate")}
    assert by_doc[21] == {(True, None)}


def test_corpus_ingest_band_index_heals_and_stays_incremental(spark, tmp_path):
    """The persisted band index: (a) a seed corpus (or a crash gap
    between the corpus and index appends) backfills via the self-heal
    anti-join, so a near-dup of an unindexed corpus doc is STILL
    rejected; (b) accepts append exactly one index row per corpus doc
    (sub-3-token docs get a NULL placeholder row so the heal never
    re-derives them), keeping the per-batch corpus-side work a read of
    persisted shingles, not a re-tokenization."""
    from crypto_datalake_spark.pipelines.corpus_ingest import (
        default_index_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    index = default_index_path(corpus)
    audit = str(tmp_path / "audit")
    seed = " ".join(f"s{i}" for i in range(20))
    # seed corpus WITHOUT an index — the pre-index bootstrap case; the
    # 2-token seed doc can never produce shingles, so its index row must
    # be a NULL placeholder (else the heal re-derives it every batch)
    spark.createDataFrame(
        [(1, seed), (2, "xy zz")], "doc_id long, text string"
    ).write.parquet(corpus)

    batch = spark.createDataFrame(
        [(10, seed + " tail"),                        # near-dup of seed
         (11, " ".join(f"b{i}" for i in range(20)))],  # novel
        "doc_id long, text string",
    )
    ingest_batch(spark, batch, corpus, audit, batch_id=0)
    got = {r["doc_id"]: (r["accepted"], r["reject_reason"])
           for r in spark.read.parquet(audit).collect()}
    assert got[10] == (False, "near_duplicate")  # healed index caught it
    assert got[11][0] is True

    idx = {r["doc_id"]: r for r in spark.read.parquet(index).collect()}
    corpus_ids = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert set(idx) == corpus_ids == {1, 2, 11}
    assert idx[1]["shingles"] and idx[1]["bands"]  # healed from text
    assert idx[2]["shingles"] is None and idx[2]["bands"] is None

    # steady state: another batch appends exactly its own accepted row —
    # no rewrite, no re-derivation of the placeholder or healed rows
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(20, " ".join(f"c{i}" for i in range(20)))],
            "doc_id long, text string",
        ),
        corpus, audit, batch_id=1,
    )
    idx2 = spark.read.parquet(index).collect()
    assert {r["doc_id"] for r in idx2} == {1, 2, 11, 20}
    assert len(idx2) == 4  # one row per corpus doc, appends only
    # the LSH-family fingerprint is part of the path: a dedup-parameter
    # change must bootstrap a fresh index, not band-join across families
    assert index.split("_bandindex_")[1]


def test_corpus_ingest_index_ghosts_dont_false_reject(spark, tmp_path):
    """A corpus reset/trimmed around a leftover index: ghost rows for
    deleted docs must NOT reject new content (the novelty reference is
    semi-joined to current corpus ids), and a batch REUSING a ghost's
    doc_id fails loudly instead of silently shadowing the new text with
    stale shingles."""
    import pytest

    from crypto_datalake_spark.pipelines.corpus_ingest import (
        default_index_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    gone = " ".join(f"g{i}" for i in range(20))
    spark.createDataFrame(
        [(1, gone)], "doc_id long, text string"
    ).write.parquet(corpus)
    # build the index for doc 1, then "reset" the corpus without it
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(2, " ".join(f"k{i}" for i in range(20)))],
            "doc_id long, text string",
        ),
        corpus, audit, batch_id=0,
    )
    import shutil

    shutil.rmtree(corpus)
    spark.createDataFrame(
        [(2, " ".join(f"k{i}" for i in range(20)))],
        "doc_id long, text string",
    ).write.parquet(corpus)  # doc 1 deleted; index still holds its rows

    # a near-dup of the DELETED doc must be accepted (no ghost rejects)
    audit2 = str(tmp_path / "audit2")
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(10, gone + " tail")], "doc_id long, text string"
        ),
        corpus, audit2, batch_id=1,
    )
    got = {r["doc_id"]: r["accepted"]
           for r in spark.read.parquet(audit2).collect()}
    assert got[10] is True

    # reusing the ghost's id with NEW text: loud failure, not silent
    # stale-shingle shadowing
    with pytest.raises(Exception, match="leftover index"):
        ingest_batch(
            spark,
            spark.createDataFrame(
                [(1, " ".join(f"n{i}" for i in range(20)))],
                "doc_id long, text string",
            ),
            corpus, str(tmp_path / "audit3"), batch_id=2,
        )
    assert default_index_path(corpus)  # path helper stays importable


def test_corpus_ingest_bootstrap_and_replay(spark, tmp_path):
    """No seed corpus: the first batch bootstraps it (dedup only against
    itself). Replaying the same batch (at-least-once crash semantics)
    re-audits with IDENTICAL verdicts and appends nothing twice."""
    from crypto_datalake_spark.pipelines.corpus_ingest import ingest_batch

    corpus = str(tmp_path / "corpus")   # does not exist yet
    audit = str(tmp_path / "audit")
    batch = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(12))),
         (2, " ".join(f"b{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    ingest_batch(spark, batch, corpus, audit, batch_id=0)
    first = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert first == {1, 2}

    ingest_batch(spark, batch, corpus, audit, batch_id=0)  # replay
    rows = spark.read.parquet(corpus).collect()
    assert {r["doc_id"] for r in rows} == {1, 2} and len(rows) == 2  # no dup appends
    verdicts = {
        (r["doc_id"], r["accepted"], r["reject_reason"])
        for r in spark.read.parquet(audit).collect()
    }
    # both audit passes agree: the replay wrote duplicate-but-identical rows
    assert verdicts == {(1, True, None), (2, True, None)}
    assert spark.read.parquet(audit).count() == 4


def test_corpus_ingest_conflicts_and_clusters(spark, tmp_path):
    """Id conflicts (same id, different text) are rejected explicitly;
    a 3-way mirrored cluster in ONE batch keeps only the canonical
    (minimum doc_id) copy; a quality-rejected doc does not drag its
    batch partner down."""
    from crypto_datalake_spark.pipelines.corpus_ingest import ingest_batch

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    seed = " ".join(f"s{i}" for i in range(12))
    spark.createDataFrame([(1, seed)], "doc_id long, text string").write.parquet(corpus)

    mirror = " ".join(f"m{i}" for i in range(20))
    spammy = "zz " * 40 + mirror          # repetitive -> quality reject
    partner = mirror                      # exact mirror -> certain band hit
    batch = spark.createDataFrame(
        [
            # quality-passing but different text: the explicit id_conflict
            # (quality reasons take precedence, so it must clear the gate)
            (1, " ".join(f"q{i}" for i in range(12))),
            (10, mirror), (11, mirror + " x"), (12, mirror + " x y"),  # cluster
            (20, spammy),                        # quality reject
            (21, partner),                       # near-dup of 10's cluster
        ],
        "doc_id long, text string",
    )
    ingest_batch(spark, batch, corpus, audit, batch_id=0)
    got = {
        r["doc_id"]: (r["accepted"], r["reject_reason"])
        for r in spark.read.parquet(audit).collect()
    }
    assert got[1] == (False, "id_conflict")
    assert got[10] == (True, None)               # cluster canonical
    assert got[11] == (False, "near_duplicate")
    assert got[12] == (False, "near_duplicate")
    assert got[20] == (False, "repetitive")
    # 21 clusters with 10-12 (same mirror text) -> canonical stays 10
    assert got[21] == (False, "near_duplicate")
    final = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert final == {1, 10}


def test_corpus_ingest_recrawl_byte_copy_keeps_persisted_doc(spark, tmp_path):
    """A fresh batch carrying a byte-copy of a persisted doc plus a
    LOWER-id near-dup must keep the persisted doc as its cluster's
    canonical: the near-dup is rejected and the corpus is unchanged
    (review repro: min-id canonical used to admit the near-dup and mark
    the persisted doc rejected)."""
    from crypto_datalake_spark.pipelines.corpus_ingest import ingest_batch

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    text_a = " ".join(f"a{i}" for i in range(20))
    spark.createDataFrame([(5, text_a)], "doc_id long, text string").write.parquet(corpus)
    batch = spark.createDataFrame(
        [(5, text_a), (3, text_a + " x")], "doc_id long, text string"
    )
    ingest_batch(spark, batch, corpus, audit, batch_id=7)
    got = {
        r["doc_id"]: (r["accepted"], r["reject_reason"])
        for r in spark.read.parquet(audit).collect()
    }
    assert got[5] == (True, None)                 # replay doc re-audits accepted
    assert got[3] == (False, "near_duplicate")    # lower id does NOT win
    rows = spark.read.parquet(corpus).collect()
    assert {r["doc_id"] for r in rows} == {5} and len(rows) == 1


def test_corpus_ingest_two_replay_neardups_both_reaccepted(spark, tmp_path):
    """A corpus externally seeded with two near-dup docs, re-crawled as
    byte-copies: BOTH re-audit accepted (their text is persisted either
    way) and the corpus is unchanged — the VERDICT keeps replays
    accepted even when the cluster election marks one a loser."""
    from crypto_datalake_spark.pipelines.corpus_ingest import ingest_batch

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    text_a = " ".join(f"a{i}" for i in range(20))
    spark.createDataFrame(
        [(5, text_a), (9, text_a + " x")], "doc_id long, text string"
    ).write.parquet(corpus)
    batch = spark.createDataFrame(
        [(5, text_a), (9, text_a + " x")], "doc_id long, text string"
    )
    ingest_batch(spark, batch, corpus, audit, batch_id=3)
    got = {
        r["doc_id"]: (r["accepted"], r["reject_reason"])
        for r in spark.read.parquet(audit).collect()
    }
    assert got == {5: (True, None), 9: (True, None)}
    rows = spark.read.parquet(corpus).collect()
    assert {r["doc_id"] for r in rows} == {5, 9} and len(rows) == 2


def test_corpus_ingest_replays_in_separate_batches_stay_accepted(spark, tmp_path):
    """Seeded near-dup pair re-crawled one doc per micro-batch: each
    replay's partner remains in the novelty reference, but the verdict-
    level replay invariant still audits BOTH accepted (review repro: the
    novelty gate used to mark each one near_duplicate)."""
    from crypto_datalake_spark.pipelines.corpus_ingest import ingest_batch

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    text_a = " ".join(f"a{i}" for i in range(20))
    spark.createDataFrame(
        [(5, text_a), (9, text_a + " x")], "doc_id long, text string"
    ).write.parquet(corpus)
    for bid, (did, tx) in enumerate([(5, text_a), (9, text_a + " x")]):
        ingest_batch(
            spark,
            spark.createDataFrame([(did, tx)], "doc_id long, text string"),
            corpus, audit, batch_id=bid,
        )
    got = {
        r["doc_id"]: (r["accepted"], r["reject_reason"])
        for r in spark.read.parquet(audit).collect()
    }
    assert got == {5: (True, None), 9: (True, None)}
    rows = spark.read.parquet(corpus).collect()
    assert {r["doc_id"] for r in rows} == {5, 9} and len(rows) == 2


def test_ledger_crashed_first_append_retries(spark, tmp_path):
    """An empty ledger directory (crashed first append, no committed
    files) must read as 'first commit', not brick every retry with
    UNABLE_TO_INFER_SCHEMA."""
    from crypto_datalake_spark.sinks import _next_commit_seq

    led = tmp_path / "ledger"
    led.mkdir()  # exists but holds no parquet
    assert _next_commit_seq(spark, str(led)) > 0


def test_corpus_ingest_gate_failing_replay_still_anchors(spark, tmp_path):
    """A replayed corpus doc that fails TODAY'S quality gate must still
    anchor its cluster: the fresh near-dup of its persisted text is
    rejected, and the replay itself re-audits accepted."""
    from crypto_datalake_spark.pipelines.corpus_ingest import ingest_batch

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    # persisted under yesterday's thresholds; 10,020 tokens now trips
    # the too_long gate. The partner is its 9,000-token tail: passes
    # quality, shingle-Jaccard 0.898, and (pinned by the fixed md5
    # hashes) band-collides — a near-dup construction that does NOT
    # inherit the gate failure, unlike a repetition-flagged pair.
    legacy = " ".join(f"v{i}" for i in range(10020))
    partner = " ".join(f"v{i}" for i in range(1020, 10020))
    spark.createDataFrame([(5, legacy)], "doc_id long, text string").write.parquet(corpus)
    batch = spark.createDataFrame(
        [(5, legacy), (3, partner)], "doc_id long, text string"
    )
    ingest_batch(spark, batch, corpus, audit, batch_id=0)
    got = {
        r["doc_id"]: (r["accepted"], r["reject_reason"])
        for r in spark.read.parquet(audit).collect()
    }
    assert got[5] == (True, None)                 # replay invariant holds
    assert got[3] == (False, "near_duplicate")    # anchored despite the gate
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {5}


def test_corpus_ingest_null_text_replay_not_conflict(spark, tmp_path):
    """A corpus row with NULL text re-crawled as NULL is a byte-copy,
    not an id conflict: the null-safe hash keeps the replay invariant."""
    from crypto_datalake_spark.pipelines.corpus_ingest import ingest_batch

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    spark.createDataFrame([(7, None)], "doc_id long, text string").write.parquet(corpus)
    ingest_batch(
        spark,
        spark.createDataFrame([(7, None)], "doc_id long, text string"),
        corpus, audit, batch_id=0,
    )
    r = spark.read.parquet(audit).collect()[0]
    assert (r["doc_id"], r["accepted"], r["reject_reason"]) == (7, True, None)


def test_corpus_ingest_batch_invariants_random(spark, tmp_path):
    """Seeded-random batches through ingest_batch, checking the
    pipeline's structural invariants rather than specific verdicts:
    audit totality (one row per batch doc per run), corpus monotonicity
    (accepted new ids exactly), corpus id-uniqueness, and replay
    idempotency (re-running any batch changes nothing and re-audits
    byte-copies as accepted)."""
    import random

    from crypto_datalake_spark.pipelines.corpus_ingest import ingest_batch

    rng = random.Random(20260814)
    vocab = [f"t{i}" for i in range(12)]
    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")

    def rand_text():
        r = rng.random()
        if r < 0.1:
            return None
        if r < 0.25:  # repetitive
            return " ".join([rng.choice(vocab[:2])] * rng.randint(6, 10))
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12)))

    next_id = 0
    corpus_ids: set[int] = set()
    for bid in range(3):
        rows = []
        for _ in range(rng.randint(2, 5)):
            next_id += 1
            rows.append((next_id, rand_text()))
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        ingest_batch(spark, batch, corpus, audit, batch_id=bid)

        audit_df = [r for r in spark.read.parquet(audit).collect() if r["batch_id"] == bid]
        assert sorted(r["doc_id"] for r in audit_df) == sorted(r[0] for r in rows)
        accepted = {r["doc_id"] for r in audit_df if r["accepted"]}
        new_corpus = (
            spark.read.parquet(corpus).collect()
            if accepted or corpus_ids
            else []
        )
        new_ids = {r["doc_id"] for r in new_corpus}
        assert new_ids == corpus_ids | accepted          # monotone, exact
        assert len(new_corpus) == len(new_ids)           # no duplicate ids
        corpus_ids = new_ids

        # replay the SAME batch: corpus unchanged, byte-copies accepted
        ingest_batch(spark, batch, corpus, audit, batch_id=bid)
        replay_corpus = (
            spark.read.parquet(corpus).collect() if corpus_ids else []
        )
        assert {r["doc_id"] for r in replay_corpus} == corpus_ids
        assert len(replay_corpus) == len(corpus_ids)
        # EVERY audit row for an accepted doc must be accepted — a
        # last-wins dict over unordered parquet rows would let the
        # first run's row mask a regressed replay verdict
        for r in spark.read.parquet(audit).collect():
            if r["batch_id"] == bid and r["doc_id"] in accepted:
                assert r["accepted"] is True


def test_corpus_ingest_bloom_prefilter_prices_not_changes(spark, tmp_path):
    """The Bloom tier is a pure pricing layer: verdicts with the Bloom
    on are bit-identical to the Bloom-off run, the probe set SHRINKS
    (novel batch keys are rejected map-side before the index join), and
    a deleted sidecar rebuilds from the index and still rejects."""
    import shutil

    from crypto_datalake_spark.pipelines.corpus_ingest import (
        _band_key_h,
        _healed_bloom,
        _healed_index,
        default_bloom_path,
        ingest_batch,
    )
    from crypto_datalake_spark.queries.dedup import lsh_signatures
    from crypto_datalake_spark.queries.paragraphs import bloom_candidates

    seed_docs = [(i, " ".join(f"s{i}w{j}" for j in range(20)))
                 for i in range(1, 6)]
    batch_rows = (
        [(10, seed_docs[0][1] + " tail")]                    # near-dup
        + [(20 + i, " ".join(f"n{i}x{j}" for j in range(20)))
           for i in range(8)]                                # 8 novel
    )

    def run(root, use_bloom):
        corpus = str(root / "corpus")
        audit = str(root / "audit")
        spark.createDataFrame(
            seed_docs, "doc_id long, text string"
        ).write.parquet(corpus)
        batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
        ingest_batch(spark, batch, corpus, audit, 0, use_bloom=use_bloom)
        return corpus, sorted(
            tuple(r) for r in spark.read.parquet(audit)
            .select("doc_id", "accepted", "reject_reason", "n_dup_existing")
            .collect()
        )

    (tmp_path / "on").mkdir(); (tmp_path / "off").mkdir()
    corpus_on, audit_on = run(tmp_path / "on", True)
    _, audit_off = run(tmp_path / "off", False)
    assert audit_on == audit_off                       # bit-identical
    assert any(r[1] is False and r[2] == "near_duplicate" for r in audit_on)

    # probe shrinkage AGAINST THE SEED-ONLY CORPUS (before any accept):
    # the 8 novel docs' band keys are Bloom-rejected map-side; only the
    # near-dup's keys (plus any FPs) survive
    probe = str(tmp_path / "probe" / "corpus")
    spark.createDataFrame(
        seed_docs, "doc_id long, text string"
    ).write.parquet(probe)
    bloom_path = default_bloom_path(probe)
    healed = _healed_index(
        spark, spark.read.parquet(probe), probe + "_idx", bloom_path
    )
    bloom = _healed_bloom(spark, healed, bloom_path)
    _, in_bands = lsh_signatures(
        spark.createDataFrame(batch_rows, "doc_id long, text string")
    )
    keys = in_bands.select(_band_key_h().alias("h")).distinct()
    n_keys, n_cand = keys.count(), bloom_candidates(keys, bloom).count()
    assert n_cand < n_keys / 2, (n_cand, n_keys)

    # deleted sidecar: rebuilds from the index, near-dups still rejected
    shutil.rmtree(bloom_path, ignore_errors=True)
    batch2 = spark.createDataFrame(
        [(40, seed_docs[1][1] + " tail2"),
         (41, " ".join(f"z{j}" for j in range(20)))],
        "doc_id long, text string",
    )
    ingest_batch(spark, batch2, corpus_on, str(tmp_path / "on" / "audit"), 1)
    got = {r["doc_id"]: (r["accepted"], r["reject_reason"])
           for r in spark.read.parquet(str(tmp_path / "on" / "audit"))
           .where(F.col("batch_id") == 1).collect()}
    assert got[40] == (False, "near_duplicate")
    assert got[41][0] is True


def test_compact_bloom_preserves_bits(spark, tmp_path):
    """Compaction folds the append-only Bloom words to one row per
    populated word with the IDENTICAL merged bit set — membership
    verdicts cannot change — and is a no-op on a missing store."""
    from crypto_datalake_spark.pipelines.corpus_ingest import (
        _healed_bloom,
        _read_store,
        compact_bloom,
        default_bloom_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    bloom_path = default_bloom_path(corpus)
    assert compact_bloom(spark, bloom_path) == 0  # missing store: no-op

    for b in range(3):  # three accept batches -> three appended row sets
        ingest_batch(
            spark,
            spark.createDataFrame(
                [(100 * b + i, " ".join(f"w{b}x{i}y{j}" for j in range(20)))
                 for i in range(3)],
                "doc_id long, text string",
            ),
            corpus, audit, b,
        )
    raw = _read_store(
        spark, bloom_path, ["word_idx", "bits"], "word_idx long, bits long"
    )
    n_raw = raw.count()
    idx = spark.createDataFrame([], "doc_id long, shingles array<string>, "
                                "bands array<struct<band_id:int,band_key:string>>")
    before = {r["word_idx"]: r["bits"]
              for r in _healed_bloom(spark, idx, bloom_path).collect()}

    n_compact = compact_bloom(spark, bloom_path)
    assert 0 < n_compact <= n_raw
    after_raw = _read_store(
        spark, bloom_path, ["word_idx", "bits"], "word_idx long, bits long"
    )
    assert after_raw.count() == n_compact  # physically folded
    after = {r["word_idx"]: r["bits"]
             for r in _healed_bloom(spark, idx, bloom_path).collect()}
    assert after == before                 # identical bit set

    # and the pipeline still rejects near-dups through the compacted bloom
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(900, " ".join(f"w0x0y{j}" for j in range(20)) + " tail")],
            "doc_id long, text string",
        ),
        corpus, audit, 9,
    )
    got = {r["doc_id"]: r["accepted"]
           for r in spark.read.parquet(audit).where(F.col("batch_id") == 9).collect()}
    assert got[900] is False


def test_compact_bloom_crash_recovery_and_stray_sweep(spark, tmp_path):
    """The compaction swap is rename-aside -> rename-in -> delete-aside
    (ADVICE r8: rmtree-then-rename left a window with NO store at all).
    A crash between the two renames leaves a full aside copy that the
    next call must restore; strays from any earlier crash (tmp dirs
    never swapped in, aside dirs never deleted) are swept."""
    import os
    import shutil

    from crypto_datalake_spark.pipelines.corpus_ingest import (
        _read_store,
        compact_bloom,
        default_bloom_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    bloom_path = default_bloom_path(corpus)
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(i, " ".join(f"w{i}z{j}" for j in range(20))) for i in range(3)],
            "doc_id long, text string",
        ),
        corpus, audit, 0,
    )
    bits = lambda: {  # noqa: E731
        r["word_idx"]: r["bits"]
        for r in _read_store(
            spark, bloom_path, ["word_idx", "bits"],
            "word_idx long, bits long",
        ).groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits"))
        .collect()
    }
    before = bits()

    # simulate the crash window between the two renames: live store
    # moved aside, compacted tmp never swapped in
    os.rename(bloom_path, bloom_path + "__retired_deadbeef")
    shutil.copytree(
        bloom_path + "__retired_deadbeef", bloom_path + "__compact_feedface"
    )
    assert not os.path.exists(bloom_path)

    n = compact_bloom(spark, bloom_path)
    assert n > 0
    assert bits() == before                     # full bit set restored
    assert os.path.exists(bloom_path)
    # strays swept, no aside left behind by the completed swap
    parent = os.path.dirname(bloom_path.rstrip("/"))
    leftovers = [
        p for p in os.listdir(parent)
        if "__retired_" in p or "__compact_" in p
    ]
    assert leftovers == []


def test_compact_bloom_glob_metachar_path(spark, tmp_path):
    """Store paths containing glob metacharacters ([, ], *) must not
    silently disable the crash restore or the stray sweep — the
    recovery globs escape the base path.  (Spark itself cannot READ
    through such a path — its loaders glob too — so this pins only the
    filesystem recovery mechanics: the aside copy is restored and the
    strays are swept, instead of the un-escaped glob matching nothing
    and leaving the store lost.)"""
    import os

    from crypto_datalake_spark.pipelines.corpus_ingest import compact_bloom

    bloom_path = str(tmp_path / "corpus[v2]_bandbloom")
    # crash window on disk: a full aside copy, no live store, plus a
    # never-swapped compaction tmp
    os.makedirs(bloom_path + "__retired_cafe0000")
    with open(bloom_path + "__retired_cafe0000/marker.parquet", "w") as fh:
        fh.write("sentinel")
    os.makedirs(bloom_path + "__compact_feedface")
    assert not os.path.exists(bloom_path)

    compact_bloom(spark, bloom_path)  # return value is Spark-read-bound

    # the aside copy was RESTORED as the live store (contents intact)…
    assert os.path.exists(bloom_path + "/marker.parquet")
    # …and every stray is swept
    assert [
        p for p in os.listdir(tmp_path)
        if "__retired_" in p or "__compact_" in p
    ] == []


def _bloom_words_count(spark, bloom_path):
    from crypto_datalake_spark.pipelines.corpus_ingest import _read_store

    return _read_store(
        spark, bloom_path, ["word_idx", "bits"], "word_idx long, bits long"
    ).count()


def test_healed_bloom_full_rebuild_despite_index_gap(spark, tmp_path):
    """Review regression: a deleted Bloom store must rebuild from the
    WHOLE index even when the same batch also backfills an index gap —
    pre-fix, the gap heal appended gap-only words into the missing
    store first, _healed_bloom then saw it non-empty and skipped the
    rebuild, and near-dups of every pre-existing corpus doc were
    silently accepted forever."""
    import shutil

    from crypto_datalake_spark.pipelines.corpus_ingest import (
        default_bloom_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    bloom_path = default_bloom_path(corpus)
    base_text = " ".join(f"alpha{j} beta{j}" for j in range(15))
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(1, base_text), (2, " ".join(f"unrelated{j}" for j in range(30)))],
            "doc_id long, text string",
        ),
        corpus, audit, 0,
    )
    # simulate the crash window: doc 3 reaches the corpus but not the
    # index (its gap row is what the next batch's self-heal backfills)
    spark.createDataFrame(
        [(3, " ".join(f"gapdoc{j}" for j in range(30)))],
        "doc_id long, text string",
    ).write.mode("append").parquet(corpus)
    shutil.rmtree(bloom_path)  # and the sidecar is lost

    # next batch: a near-dup of doc 1 (one tail token differs) — the
    # rebuilt Bloom must cover doc 1's PRE-GAP index keys so the exact
    # band join sees it and rejects
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(9, base_text + " tail")], "doc_id long, text string"
        ),
        corpus, audit, 1,
    )
    got = {
        r["doc_id"]: r["accepted"]
        for r in spark.read.parquet(audit)
        .where(F.col("batch_id") == 1)
        .collect()
    }
    assert got[9] is False, "near-dup of a pre-gap doc must be rejected"


def test_use_bloom_toggle_keeps_store_covering(spark, tmp_path):
    """Review regression: batches run with use_bloom=False against a
    corpus that already HAS a Bloom store must keep maintaining it
    (the flag gates only the prefilter) — otherwise re-enabling the
    tier later bloom-rejects near-dups of the docs accepted during the
    disabled window and silently admits them."""
    from crypto_datalake_spark.pipelines.corpus_ingest import (
        default_bloom_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    bloom_path = default_bloom_path(corpus)
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(1, " ".join(f"first{j}" for j in range(30)))],
            "doc_id long, text string",
        ),
        corpus, audit, 0, use_bloom=True,   # store now exists
    )
    words_before = _bloom_words_count(spark, bloom_path)
    window_text = " ".join(f"window{j} tok{j}" for j in range(15))
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(2, window_text)], "doc_id long, text string"
        ),
        corpus, audit, 1, use_bloom=False,  # prefilter off, store live
    )
    # the disabled-window batch still appended its words
    assert _bloom_words_count(spark, bloom_path) > words_before
    # re-enable: a near-dup of the disabled-window doc must be rejected
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(9, window_text + " tail")], "doc_id long, text string"
        ),
        corpus, audit, 2, use_bloom=True,
    )
    got = {
        r["doc_id"]: r["accepted"]
        for r in spark.read.parquet(audit)
        .where(F.col("batch_id") == 2)
        .collect()
    }
    assert got[9] is False
    # and with NO store, use_bloom=False creates nothing (tier truly off)
    corpus2 = str(tmp_path / "corpus2")
    ingest_batch(
        spark,
        spark.createDataFrame([(1, "x y z")], "doc_id long, text string"),
        corpus2, str(tmp_path / "audit2"), 0, use_bloom=False,
    )
    import os

    assert not os.path.exists(default_bloom_path(corpus2))


def test_compact_bloom_preserves_interleaved_append(spark, tmp_path):
    """Review regression: a Bloom append landing between compaction's
    read snapshot and its directory swap must survive — the file moves
    with the aside dir and is folded back into the compacted store
    (duplicate bits are safe; dropped bits are silent false accepts)."""
    from crypto_datalake_spark.pipelines.corpus_ingest import (
        _read_store,
        compact_bloom,
        default_bloom_path,
        ingest_batch,
    )
    import crypto_datalake_spark.pipelines.corpus_ingest as ci

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    bloom_path = default_bloom_path(corpus)
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(i, " ".join(f"c{i}w{j}" for j in range(20))) for i in range(2)],
            "doc_id long, text string",
        ),
        corpus, audit, 0,
    )

    def merged_bits():
        return {
            r["word_idx"]: r["bits"]
            for r in _read_store(
                spark, bloom_path, ["word_idx", "bits"],
                "word_idx long, bits long",
            ).groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits"))
            .collect()
        }

    # interleave: inject an append AFTER compact's snapshot+read by
    # wrapping _read_store for the compaction call only
    real_read = ci._read_store
    injected = {}

    def read_then_append(spark_, path, cols, schema):
        df = real_read(spark_, path, cols, schema)
        if path == bloom_path and not injected:
            injected["done"] = True
            df = df.localCheckpoint()   # materialize the merge input NOW
            spark_.createDataFrame(
                [(7, 1 << 63 - 1)], "word_idx long, bits long"
            ).write.mode("append").parquet(path)
        return df

    before = merged_bits()
    ci._read_store = read_then_append
    try:
        assert compact_bloom(spark, bloom_path) > 0
    finally:
        ci._read_store = real_read
    after = merged_bits()
    # every pre-compact bit survives AND the interleaved append's bit
    # is present in the post-compact store
    for w, bits in before.items():
        assert after.get(w, 0) & bits == bits
    assert after.get(7, 0) & (1 << 63 - 1) == (1 << 63 - 1)


class _RaceFS:
    """Hadoop-FS proxy that fires a one-shot interleaved-append
    simulation around a chosen rename call; everything else delegates
    to the real (JVM) FileSystem."""

    def __init__(self, real, trigger, on_trigger):
        self._real = real
        self._trigger = trigger
        self._on = on_trigger
        self.fired = False

    def rename(self, src, dst):
        if not self.fired and self._trigger(src, dst):
            self.fired = True
            return self._on(self._real, src, dst)
        return self._real.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _race_setup(spark, tmp_path, trigger, on_trigger, monkeypatch):
    """Shared rig: a real bloom store, a bit snapshot, and compact_bloom
    run under an FS proxy that injects an append mid-swap."""
    from crypto_datalake_spark import txn as txn_mod
    from crypto_datalake_spark.pipelines.corpus_ingest import (
        _read_store,
        compact_bloom,
        default_bloom_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    bloom_path = default_bloom_path(corpus)
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(i, " ".join(f"w{i}r{j}" for j in range(20))) for i in range(3)],
            "doc_id long, text string",
        ),
        corpus, audit, 0,
    )

    def bits():
        return {
            r["word_idx"]: r["bits"]
            for r in _read_store(
                spark, bloom_path, ["word_idx", "bits"],
                "word_idx long, bits long",
            ).groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits"))
            .collect()
        }

    before = bits()

    real_fs = txn_mod._fs

    def fake_fs(spark_, path):
        jvm, fs, p = real_fs(spark_, path)
        return jvm, _RaceFS(fs, trigger, on_trigger), p

    monkeypatch.setattr(txn_mod, "_fs", fake_fs)
    n = compact_bloom(spark, bloom_path)
    monkeypatch.undo()
    return bloom_path, before, bits, n


def _drop_race_parquet(base: str) -> None:
    """Simulate an ingest append recreating the store dir mid-swap."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(base, exist_ok=True)
    pq.write_table(
        pa.table({
            "word_idx": pa.array([999_999], pa.int64()),
            "bits": pa.array([1 << 5], pa.int64()),
        }),
        os.path.join(base, "part-race-append.parquet"),
    )


def test_compact_bloom_interleaved_append_after_aside(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: an append landing between rename-aside and
    rename-into-place recreates the store dir; the old swap renamed the
    compacted tmp ONTO it (nesting on HDFS / failing locally) and then
    deleted the aside holding every pre-compaction bit — a silent
    false-accept hole.  The swap must detect the recreated dir and fold
    file-by-file: no bit lost, appended bits kept, no strays."""
    import os

    from crypto_datalake_spark.pipelines.corpus_ingest import (
        default_bloom_path,
    )

    base = default_bloom_path(str(tmp_path / "corpus"))

    def trigger(src, dst):
        return "__retired_" in dst.getName()

    def on_trigger(real, src, dst):
        ok = real.rename(src, dst)
        _drop_race_parquet(base)          # append lands right after aside
        return ok

    bloom_path, before, bits, n = _race_setup(
        spark, tmp_path, trigger, on_trigger, monkeypatch
    )
    assert n > 0
    want = dict(before)
    want[999_999] = 1 << 5
    assert bits() == want                      # nothing lost, append kept
    parent = os.path.dirname(bloom_path.rstrip("/"))
    assert [p for p in os.listdir(parent)
            if "__retired_" in p or "__compact_" in p] == []
    # no nested directory — every surviving file is directly readable
    assert all(
        not os.path.isdir(os.path.join(bloom_path, p))
        for p in os.listdir(bloom_path)
    )


def test_compact_bloom_interleaved_append_after_exists_check(
    spark, tmp_path, monkeypatch
):
    """Same race, later window: the store dir reappears AFTER the
    pre-rename exists check — the rename-into-place itself fails (local
    FS) and the degraded fold must still preserve every bit."""
    import os

    from crypto_datalake_spark.pipelines.corpus_ingest import (
        default_bloom_path,
    )

    base = default_bloom_path(str(tmp_path / "corpus"))

    def trigger(src, dst):
        return str(dst).rstrip("/").endswith(os.path.basename(base))

    def on_trigger(real, src, dst):
        _drop_race_parquet(base)          # dir reappears post-check
        return real.rename(src, dst)      # local FS: fails, returns False

    bloom_path, before, bits, n = _race_setup(
        spark, tmp_path, trigger, on_trigger, monkeypatch
    )
    assert n > 0
    want = dict(before)
    want[999_999] = 1 << 5
    assert bits() == want
    parent = os.path.dirname(bloom_path.rstrip("/"))
    assert [p for p in os.listdir(parent)
            if "__retired_" in p or "__compact_" in p] == []
    assert all(
        not os.path.isdir(os.path.join(bloom_path, p))
        for p in os.listdir(bloom_path)
    )


class _FailRenamesInto:
    """Hadoop-FS proxy failing every rename whose destination is the
    store dir or a file inside it — simulates a transient object-store
    rename failure during the swap/fold; everything else delegates."""

    def __init__(self, real, base_name):
        self._real = real
        self._bn = base_name

    def rename(self, src, dst):
        d = str(dst).rstrip("/")
        if d.endswith(self._bn) or f"/{self._bn}/" in d:
            return False
        return self._real.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_compact_bloom_failed_fold_keeps_aside_and_recovers(
    spark, tmp_path, monkeypatch
):
    """Review regression: when the swap's folds into the store FAIL
    (rename returns False — transient HDFS/object-store error), the
    aside holding every pre-compaction bit must be KEPT and the failure
    surfaced, never deleted on an unverified fold (that was a permanent
    silent false-accept hole); the next clean call's recovery folds the
    aside back in with no bit lost."""
    import os

    from crypto_datalake_spark import txn as txn_mod
    from crypto_datalake_spark.pipelines.corpus_ingest import (
        _read_store,
        compact_bloom,
        default_bloom_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    bloom_path = default_bloom_path(corpus)
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(i, " ".join(f"f{i}x{j}" for j in range(20))) for i in range(3)],
            "doc_id long, text string",
        ),
        corpus, audit, 0,
    )

    def bits():
        return {
            r["word_idx"]: r["bits"]
            for r in _read_store(
                spark, bloom_path, ["word_idx", "bits"],
                "word_idx long, bits long",
            ).groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits"))
            .collect()
        }

    before = bits()
    bname = os.path.basename(bloom_path.rstrip("/"))
    real_fs = txn_mod._fs

    def fake_fs(spark_, path):
        jvm, fs, p = real_fs(spark_, path)
        return jvm, _FailRenamesInto(fs, bname), p

    monkeypatch.setattr(txn_mod, "_fs", fake_fs)
    with pytest.raises(IOError):
        compact_bloom(spark, bloom_path)
    monkeypatch.undo()

    parent = os.path.dirname(bloom_path.rstrip("/"))
    assert any("__retired_" in p for p in os.listdir(parent)), (
        "aside must survive a failed fold"
    )
    # clean retry: recovery folds the retained aside back in, then
    # compacts — full membership restored, no strays left behind
    assert compact_bloom(spark, bloom_path) > 0
    assert bits() == before
    assert [p for p in os.listdir(parent)
            if "__retired_" in p or "__compact_" in p] == []


def test_incremental_update_property_converges_to_full_aggregate(
    spark, tmp_path
):
    """Property sweep of the late-repair contract: evolve a minute lake
    by random appends plus random MUTATIONS of minutes still inside the
    repair lookback, running incremental_update after every step — the
    materialized HTF lake must equal a one-shot full aggregation of the
    final minute state (complete buckets only).  Mutations beyond the
    lookback are out of contract (documented: recomputing recent
    buckets IS the repair mechanism), so the generator never emits
    them."""
    import uuid

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crypto_datalake_spark.pipelines.htf_aggregator import (
        aggregate_minutes,
        incremental_update,
    )

    TF = "3m"
    LOOKBACK = 6  # minutes; d <= LOOKBACK back from head stays in contract

    step = st.tuples(
        st.integers(1, 3),                          # minutes appended
        st.lists(                                   # (offset-back, new high)
            st.tuples(st.integers(0, LOOKBACK),
                      st.sampled_from([3.25, 50.0, 777.0, 1234.5])),
            max_size=2,
        ),
    )

    @settings(deadline=None, max_examples=6)
    @given(steps=st.lists(step, min_size=1, max_size=4))
    def run(steps):
        path = str(tmp_path / f"htf_prop_{uuid.uuid4().hex[:8]}")
        highs: list[float] = []
        for n_new, mutations in steps:
            for _ in range(n_new):
                highs.append(110.0 + len(highs))
            for d, new_high in mutations:
                idx = len(highs) - 1 - d
                if idx >= 0:
                    highs[idx] = new_high
            frame = _minute_frame(
                spark,
                [_minute_row(_ts(i), high=h) for i, h in enumerate(highs)],
            )
            incremental_update(
                spark, frame, path, TF, repair_lookback_minutes=LOOKBACK
            )

        final = _minute_frame(
            spark, [_minute_row(_ts(i), high=h) for i, h in enumerate(highs)]
        )
        cols = ["bucket_start", "open", "high", "low", "close",
                "observed_minutes"]
        want = {
            r["bucket_start"]: tuple(r[c] for c in cols)
            for r in aggregate_minutes(final, TF)
            .where(F.col("bucket_complete")).select(*cols).collect()
        }
        try:
            lake = spark.read.parquet(path).select(*cols).collect()
        except Exception:
            # no complete bucket was ever written -> no lake dir at all
            lake = []
        got = {r["bucket_start"]: tuple(r[c] for c in cols) for r in lake}
        assert got == want, steps

    run()


def test_compact_bloom_restore_race_folds_aside_same_call(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: the crash-recovery restore can race a concurrent
    append that recreates the store BETWEEN the exists check and the
    restore rename — the rename is refused (base exists again) and the
    popped aside used to be neither restored nor folded until the NEXT
    compact_bloom call, so membership reads in between missed its bits.
    The aside must be folded back into the live store in THIS call."""
    import os

    from crypto_datalake_spark import txn as txn_mod
    from crypto_datalake_spark.pipelines.corpus_ingest import (
        _read_store,
        compact_bloom,
        default_bloom_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    bloom_path = default_bloom_path(corpus)
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(i, " ".join(f"w{i}q{j}" for j in range(20))) for i in range(3)],
            "doc_id long, text string",
        ),
        corpus, audit, 0,
    )

    def bits():
        return {
            r["word_idx"]: r["bits"]
            for r in _read_store(
                spark, bloom_path, ["word_idx", "bits"],
                "word_idx long, bits long",
            ).groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits"))
            .collect()
        }

    before = bits()
    # crash window: store renamed aside, compacted tmp never swapped in
    os.rename(bloom_path, bloom_path + "__retired_cafe0000")
    base_name = os.path.basename(bloom_path.rstrip("/"))

    def trigger(src, dst):
        return (
            "__retired_" in src.getName()
            and str(dst).rstrip("/").endswith(base_name)
        )

    def on_trigger(real, src, dst):
        _drop_race_parquet(bloom_path)  # append recreates base post-check
        return real.rename(src, dst)    # refused: dst exists again

    real_fs = txn_mod._fs

    def fake_fs(spark_, path):
        jvm, fs, p = real_fs(spark_, path)
        return jvm, _RaceFS(fs, trigger, on_trigger), p

    monkeypatch.setattr(txn_mod, "_fs", fake_fs)
    n = compact_bloom(spark, bloom_path)
    monkeypatch.undo()

    assert n > 0
    want = dict(before)
    want[999_999] = 1 << 5                     # the racing append's bits
    assert bits() == want                      # aside folded THIS call
    parent = os.path.dirname(bloom_path.rstrip("/"))
    assert [p for p in os.listdir(parent)
            if "__retired_" in p or "__compact_" in p] == []
    assert all(
        not os.path.isdir(os.path.join(bloom_path, p))
        for p in os.listdir(bloom_path)
    )


def test_compact_bloom_sweeps_nest_stuck_inside_store(spark, tmp_path):
    """ADVICE r10: a failed un-nest can leave a partially-folded
    __compact_ (or nested-rename __retired_) dir INSIDE the store dir,
    which the parent-level orphan sweep never lists — it used to stay
    there indefinitely, breaking/polluting store reads.  The next call
    must fold its files in and remove it."""
    import os
    import shutil

    from crypto_datalake_spark.pipelines.corpus_ingest import (
        _read_store,
        compact_bloom,
        default_bloom_path,
        ingest_batch,
    )

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    bloom_path = default_bloom_path(corpus)
    ingest_batch(
        spark,
        spark.createDataFrame(
            [(i, " ".join(f"w{i}n{j}" for j in range(20))) for i in range(3)],
            "doc_id long, text string",
        ),
        corpus, audit, 0,
    )

    def bits():
        return {
            r["word_idx"]: r["bits"]
            for r in _read_store(
                spark, bloom_path, ["word_idx", "bits"],
                "word_idx long, bits long",
            ).groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits"))
            .collect()
        }

    before = bits()
    base_name = os.path.basename(bloom_path.rstrip("/"))
    # simulate the stuck nest: a __compact_ dir INSIDE the store holding
    # bits the flat store files do not have
    nest = os.path.join(bloom_path, base_name + "__compact_5ca1ab1e")
    os.makedirs(nest)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "word_idx": pa.array([888_888], pa.int64()),
            "bits": pa.array([1 << 9], pa.int64()),
        }),
        os.path.join(nest, "part-nested-bits.parquet"),
    )

    n = compact_bloom(spark, bloom_path)
    assert n > 0
    want = dict(before)
    want[888_888] = 1 << 9                     # nested bits folded in
    assert bits() == want
    assert not os.path.exists(nest)            # nest swept
    assert all(
        not os.path.isdir(os.path.join(bloom_path, p))
        for p in os.listdir(bloom_path)
    )
    shutil.rmtree(corpus, ignore_errors=True)
