"""Serving-layer units: CSV variants (S7), timeframe parsing (U4/U5),
result cache reuse tiers (O4).

Reference models: tests/test_vision_loader.py:41 (header variants),
test_live_data_api_service.py:1482-1755 (cache exact/superset/partial/
in-flight)."""

from __future__ import annotations

import pytest

from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from crypto_datalake_spark.functions.timeframes import (
    TimeframeRequest,
    normalize_symbol,
    normalize_timeframe,
    parse_timeframe_requests,
)
from crypto_datalake_spark.io import load_csv_with_variants
from crypto_datalake_spark.serving_cache import STABLE_TTL_S, ServingCache, _Entry


# --- S7 CSV with header variants ------------------------------------------

def test_csv_header_variants(spark, tmp_path):
    (tmp_path / "a.csv").write_text("open_time,open,qty\n1,10.5,3\n2,11.0,4\n")
    (tmp_path / "b.csv").write_text("openTime,open,volume\n3,12.0,5\n")
    schema = StructType(
        [
            StructField("ts", LongType()),
            StructField("open", DoubleType()),
            StructField("volume", DoubleType()),
        ]
    )
    out = load_csv_with_variants(
        spark,
        str(tmp_path / "*.csv"),
        schema,
        column_variants={"ts": ["open_time", "openTime"], "volume": ["qty"]},
    )
    rows = {r["ts"]: r for r in out.collect()}
    assert len(rows) == 3
    assert rows[1]["volume"] == 3.0   # qty variant coalesced
    assert rows[3]["volume"] == 5.0   # canonical name
    assert rows[3]["open"] == 12.0


# --- U4/U5 -----------------------------------------------------------------

def test_timeframe_aliases_and_limits():
    got = parse_timeframe_requests("1m,5m=25,1hr")
    assert got == [
        TimeframeRequest("1m", 200),
        TimeframeRequest("5m", 25),
        TimeframeRequest("1h", 200),
    ]
    assert normalize_timeframe("60m") == "1h"
    assert parse_timeframe_requests("1m=9999")[0].limit == 500  # clamp
    with pytest.raises(ValueError):
        normalize_timeframe("17m")
    with pytest.raises(ValueError):
        parse_timeframe_requests("  ,")


def test_normalize_symbol():
    assert normalize_symbol("btc") == "BTCUSDT"
    assert normalize_symbol("ETHUSDT") == "ETHUSDT"
    assert normalize_symbol("SOLUSDC") == "SOLUSDC"
    assert normalize_symbol("USDT") == "USDTUSDT"  # bare quote is a base here


# --- O4 cache --------------------------------------------------------------

def _bars(start: int, n: int):
    return [(float(t), 100.0 + t) for t in range(start, start + n)]


def test_cache_exact_superset_partial():
    clk = [0.0]
    c = ServingCache(clock=lambda: clk[0])
    key = ("BTCUSDT", "1m")
    c.put(key, end_time=10.0, rows=_bars(0, 10))
    kind, rows = c.get(key, end_time=10.0, limit=10)
    assert kind == "exact" and len(rows) == 10
    kind, rows = c.get(key, end_time=10.0, limit=4)
    assert kind == "superset" and [r[0] for r in rows] == [6.0, 7.0, 8.0, 9.0]
    # newer end: cached window is a reusable tail → partial
    kind, rows = c.get(key, end_time=12.0, limit=12)
    assert kind == "partial" and len(rows) == 10
    # simulate fetching the missing head and merging
    c.put(key, end_time=12.0, rows=_bars(10, 2))
    kind, rows = c.get(key, end_time=12.0, limit=12)
    assert kind == "exact" and [r[0] for r in rows][:2] == [0.0, 1.0]
    assert c.stats.exact == 2 and c.stats.superset == 1 and c.stats.partial == 1


def test_cache_ttl_tiers_and_lru():
    clk = [100_000.0]
    c = ServingCache(max_entries=2, clock=lambda: clk[0])
    # recent window (end ≈ now) → 15 s TTL
    c.put(("S", "1m"), end_time=clk[0] - 10, rows=_bars(0, 3))
    clk[0] += 16
    kind, _ = c.get(("S", "1m"), end_time=clk[0] - 26, limit=3)
    assert kind == "miss"  # expired
    # stable window (end long ago) → 21,600 s TTL
    c.put(("S", "1h"), end_time=clk[0] - 7_200, rows=_bars(0, 3))
    clk[0] += 20_000
    kind, _ = c.get(("S", "1h"), end_time=clk[0] - 27_200, limit=3)
    assert kind == "exact"
    # LRU bound
    c.put(("A", "1m"), end_time=clk[0], rows=_bars(0, 1))
    c.put(("B", "1m"), end_time=clk[0], rows=_bars(0, 1))
    c.put(("C", "1m"), end_time=clk[0], rows=_bars(0, 1))
    assert len(c._entries) == 2


def test_cache_merge_keeps_last():
    c = ServingCache(clock=lambda: 0.0)
    key = ("X", "1m")
    c.put(key, end_time=3.0, rows=[(0.0, 1.0), (1.0, 2.0)])
    c.put(key, end_time=3.0, rows=[(1.0, 99.0), (2.0, 3.0)])  # overlaps bar 1
    kind, rows = c.get(key, end_time=3.0, limit=3)
    assert kind == "exact"
    assert rows[1] == (1.0, 99.0)  # new row won


def test_cache_subwindow_superset_reuse():
    """A cached entry whose end_time is NEWER than the requested one
    serves the older sub-window (reference service.py:358-474 superset
    reuse) — the r8 regression was a permanent miss + uncacheable state
    for exactly this shape (put's max-end merge kept the newer end, so
    the older window could never self-heal)."""
    c = ServingCache(clock=lambda: 0.0)
    key = ("BTCUSDT", "3m", 2)
    c.put(key, end_time=11.0, rows=[(6.0, "a"), (9.0, "b")])
    # older end, both bars inside it → superset hit, tail(limit)
    kind, rows = c.get(key, end_time=10.0, limit=2)
    assert kind == "superset" and rows == [(6.0, "a"), (9.0, "b")]
    # older end cutting off the newest bar → only 1 row survives → miss
    kind, rows = c.get(key, end_time=8.0, limit=2)
    assert kind == "miss"
    # inclusive clip: a bar stamped exactly AT the requested end counts
    kind, rows = c.get(key, end_time=9.0, limit=2)
    assert kind == "superset" and rows == [(6.0, "a"), (9.0, "b")]


def test_cache_subwindow_never_crosses_merge_gap():
    """Merging two DISJOINT windows (an old tail plus a much newer one)
    keeps the old rows, but a sub-window serve must not assemble a tail
    that silently crosses the hole between them — those rows are not
    the bars a fresh compute at that end would return."""
    c = ServingCache(clock=lambda: 0.0)
    key = ("X", "1m", 2)
    c.put(key, end_time=2.0, rows=[(1.0, "o1"), (2.0, "o2")])
    # bars 3..8 exist in the lake but were never cached
    c.put(key, end_time=10.0, rows=[(9.0, "n1"), (10.0, "n2")])
    # end 9: a fresh compute returns bars (8, 9); the cache holds
    # (1, 2, 9) ≤ 9 but only 9 is inside the gap-free segment → miss
    kind, rows = c.get(key, end_time=9.0, limit=2)
    assert kind == "miss", (kind, rows)
    # equal-end reuse off the newest tail is still served — and since
    # r10 the equal-end window is clipped to the containing segment
    # (exactly the put's 2 rows → "exact", not a superset of all 4
    # merged rows), so the serve provably never crosses the hole
    kind, rows = c.get(key, end_time=10.0, limit=2)
    assert kind == "exact" and rows == [(9.0, "n1"), (10.0, "n2")]


def test_cache_equal_end_never_crosses_merge_gap():
    """ADVICE r9 (low): the equal-end hit path served ``window[-limit:]``
    without consulting ``entry.segments``, so a merged entry whose
    newest put holds FEWER than ``limit`` rows assembled a tail across
    the hole below it — rows a fresh compute at that end would never
    return.  Callers dodged it only by put-discipline (head fetches
    sized gap+1); the invariant now lives where the serve happens."""
    c = ServingCache(clock=lambda: 0.0)
    key = ("X", "1m", 2)
    c.put(key, end_time=2.0, rows=[(1.0, "o1"), (2.0, "o2")])
    # bars 3..9 exist in the lake but were never cached; a single
    # newer bar merges in as a DISJOINT segment
    c.put(key, end_time=10.0, rows=[(10.0, "n1")])
    # a fresh compute at end 10 returns bars (9, 10); the cached tail
    # (2.0, 10.0) crosses the hole → must MISS, not serve
    kind, rows = c.get(key, end_time=10.0, limit=2)
    assert kind == "miss", (kind, rows)
    # limit 1 fits inside the newest gap-free segment → served
    kind, rows = c.get(key, end_time=10.0, limit=1)
    assert kind == "exact" and rows == [(10.0, "n1")]
    # overlapping merge EXTENDS the gap-free segment instead
    c2 = ServingCache(clock=lambda: 0.0)
    c2.put(key, end_time=8.0, rows=[(7.0, "a"), (8.0, "b")])
    c2.put(key, end_time=10.0, rows=[(8.0, "b"), (9.0, "c"), (10.0, "d")])
    kind, rows = c2.get(key, end_time=9.0, limit=2)
    assert kind == "superset" and rows == [(8.0, "b"), (9.0, "c")]


def test_cache_multi_end_property():
    """Property test for the r8 bug class (state-dependent miss/serve
    across mixed end_times per key): against a fixed bar universe, run
    randomized get-else-compute-and-put sequences at ≥3 distinct
    end_times per key and assert EVERY hit returns exactly what a fresh
    compute at that end would — regardless of the order in which the
    ends were cached."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    bars = [(float(t), 1000.0 + t) for t in range(0, 200)]

    def compute(end: float, limit: int):
        return [r for r in bars if r[0] <= end][-limit:]

    ends = [5.0, 17.0, 60.0, 61.0, 150.0, 199.0]

    @settings(deadline=None, max_examples=60)
    @given(
        seq=st.lists(
            st.tuples(st.sampled_from(ends), st.sampled_from([1, 3, 7])),
            min_size=4,
            max_size=25,
        )
    )
    def run(seq):
        c = ServingCache(clock=lambda: 0.0)
        for end, limit in seq:
            key = ("S", "1m", limit)  # real keys include the limit
            kind, rows = c.get(key, end, limit)
            expected = compute(end, limit)
            if kind in ("exact", "superset"):
                assert rows == expected, (kind, end, limit, rows, expected)
            else:  # miss/partial → the caller computes and caches
                if kind == "partial" and rows:
                    # mirror http_api's head-only fetch: size the head
                    # from the last cached bar on the grid (step 1.0)
                    gap = int(end - rows[-1][0])
                    if 0 <= gap + 1 < limit:
                        c.put(key, end, compute(end, gap + 1))
                        kind_h, rows_h = c.get(key, end, limit)
                        if kind_h in ("exact", "superset"):
                            assert rows_h == expected, (end, limit, gap)
                            continue
                c.put(key, end, compute(end, limit))
                kind2, rows2 = c.get(key, end, limit)
                if len(expected) >= limit:
                    # self-heal: the window just cached is servable even
                    # when the entry already held a NEWER end (the r8
                    # bug made this state permanently uncacheable)
                    assert kind2 in ("exact", "superset"), (kind2, end, limit)
                    assert rows2 == expected
                else:
                    # short windows (lake has < limit bars ≤ end) always
                    # recompute — the cache cannot distinguish "short"
                    # from "incomplete"
                    assert kind2 == "miss"

    run()


def test_cache_entry_rows_bounded():
    """A hot key polled at ever-advancing end times must not grow its
    merged row list forever: entries trim to the newest
    MAX_ROWS_PER_ENTRY rows, segments clamp to the surviving range, and
    serves inside the kept range still work."""
    from crypto_datalake_spark.serving_cache import MAX_ROWS_PER_ENTRY

    c = ServingCache(clock=lambda: 0.0)
    key = ("HOT", "1m", 3)
    step = 1024
    for start in range(0, MAX_ROWS_PER_ENTRY * 2, step):
        c.put(
            key,
            float(start + step),
            [(float(t), "r") for t in range(start, start + step)],
        )
    entry = c._entries[key]
    assert len(entry.rows) == MAX_ROWS_PER_ENTRY
    assert entry.rows[0][0] == float(MAX_ROWS_PER_ENTRY)  # oldest trimmed
    assert all(s >= entry.rows[0][0] for s, _ in entry.segments)
    # a sub-window inside the kept range still serves
    kind, rows = c.get(key, float(MAX_ROWS_PER_ENTRY * 2 - 100), limit=3)
    assert kind == "superset" and len(rows) == 3
    # below the trim line: miss (recompute), never wrong rows
    kind, _ = c.get(key, 100.0, limit=3)
    assert kind == "miss"


def test_cache_concurrent_stress_invariants():
    """8 threads hammer get/single_flight/put across overlapping keys
    and mixed end_times against one bar universe: every hit must equal
    a fresh compute at that end, no deadlock, and entries stay inside
    the LRU/row bounds.  The r8 bug class was state-dependent — only
    interleaving exercises the lock/merge seams together."""
    import random
    import threading

    bars = [(float(t), 1000.0 + t) for t in range(0, 500)]

    def compute(end, limit):
        return [r for r in bars if r[0] <= end][-limit:]

    c = ServingCache(max_entries=4, clock=lambda: 0.0)
    ends = [50.0, 120.0, 121.0, 340.0, 499.0]
    keys = [("S", "1m", 3), ("S", "1m", 7), ("T", "5m", 3)]
    errors: list = []

    def worker(seed):
        rng = random.Random(seed)
        for _ in range(150):
            key = rng.choice(keys)
            limit = key[2]
            end = rng.choice(ends)
            kind, rows = c.get(key, end, limit)
            if kind in ("exact", "superset"):
                if rows != compute(end, limit):
                    errors.append((key, end, kind, rows))
            else:
                with c.single_flight(key):
                    kind2, rows2 = c.get(key, end, limit)
                    if kind2 in ("exact", "superset"):
                        if rows2 != compute(end, limit):
                            errors.append((key, end, kind2, rows2))
                    else:
                        c.put(key, end, compute(end, limit))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t_ in threads:
        t_.start()
    for t_ in threads:
        t_.join(timeout=60)
    assert not any(t_.is_alive() for t_ in threads), "deadlock"
    assert errors == []
    assert len(c._entries) <= 4
    assert len(c._locks) <= 2 * 4 + len(keys)


def test_cache_single_flight_is_per_key():
    c = ServingCache()
    l1 = c.single_flight(("A", "1m"))
    l2 = c.single_flight(("A", "1m"))
    l3 = c.single_flight(("B", "1m"))
    assert l1 is l2 and l1 is not l3


# --- timeframe fetch planner (ref capabilities.py:48-95, service.py:1580-1605) ---

import datetime as dt

from crypto_datalake_spark.functions.fetch_planner import (
    MODE_AGGREGATE,
    MODE_DIRECT,
    MODE_DIRECT_1M,
    MODE_UNAVAILABLE,
    FetchPlannerConfig,
    plan_timeframe_fetch,
    serve_timeframe,
)


def test_planner_prefers_materialized_htf():
    # ref test_live_data_api_service.py:174 — native path wins when supported
    plan = plan_timeframe_fetch("3m", {"1m", "3m", "5m"})
    assert plan.mode == MODE_DIRECT
    assert plan.source_table == "3m"
    assert plan.fallback_used is False


def test_planner_falls_back_when_direct_disabled():
    # ref test_live_data_api_service.py:187 — forced-aggregate keeps 1m path
    plan = plan_timeframe_fetch(
        "5m",
        {"1m", "5m"},
        FetchPlannerConfig(prefer_materialized=False, force_aggregate=True),
    )
    assert plan.mode == MODE_AGGREGATE
    assert plan.fallback_used is True
    assert "using_1m_aggregation_fallback" in plan.notes
    assert "fetch_mode_aggregate_from_1m" in plan.notes


def test_planner_reason_codes_and_unavailable():
    not_mat = plan_timeframe_fetch("2h", {"1m", "5m"})
    assert not_mat.mode == MODE_AGGREGATE
    assert "timeframe_not_materialized" in not_mat.notes

    assert plan_timeframe_fetch("1hr", {"1m", "1h"}).source_table == "1h"  # alias

    off = plan_timeframe_fetch(
        "2h", {"1m", "5m"}, FetchPlannerConfig(allow_1m_fallback=False)
    )
    assert off.mode == MODE_UNAVAILABLE and off.source_table is None

    base = plan_timeframe_fetch("1m", {"1m", "5m"})
    assert base.mode == MODE_DIRECT_1M and base.fallback_used is False
    assert plan_timeframe_fetch("1m", {"5m"}).mode == MODE_UNAVAILABLE


def _planner_lake(spark, n_minutes, htf_bars_kept):
    """1m canonical frame with ``n_minutes`` rows + a 3m HTF table
    truncated to its FIRST ``htf_bars_kept`` bars (a lagging HTF lake)."""
    from tests.test_pipelines import _minute_frame, _minute_row, _ts
    from crypto_datalake_spark.pipelines.serving import aggregate_canonical_frame

    minutes = _minute_frame(
        spark, [_minute_row(_ts(m), close=100.0 + m) for m in range(n_minutes)]
    )
    htf = aggregate_canonical_frame(minutes, "3m").orderBy("bucket_ts").limit(
        htf_bars_kept
    )
    tables = {"1m": minutes, "3m": htf}
    return lambda tf: tables.get(tf)


def test_serve_timeframe_direct_htf_read(spark):
    # ref test_live_data_api_service.py:2190 — full HTF coverage → direct read
    load = _planner_lake(spark, n_minutes=12, htf_bars_kept=4)
    bars, plan = serve_timeframe("3m", 2, load, {"1m", "3m"})
    assert plan.mode == MODE_DIRECT and plan.fallback_used is False
    got = sorted(r["bucket_ts"] for r in bars.collect())
    assert got == [dt.datetime(2024, 1, 1, 0, 6), dt.datetime(2024, 1, 1, 0, 9)]


def test_serve_timeframe_partial_htf_falls_back_to_1m(spark):
    # ref test_live_data_api_service.py:2196 — lagging HTF lake → 1m aggregation
    load = _planner_lake(spark, n_minutes=12, htf_bars_kept=2)
    bars, plan = serve_timeframe("3m", 3, load, {"1m", "3m"})
    assert plan.mode == MODE_AGGREGATE and plan.fallback_used is True
    assert "htf_local_lake_partial_window" in plan.notes
    got = sorted(r["bucket_ts"] for r in bars.collect())
    assert got == [
        dt.datetime(2024, 1, 1, 0, 3),
        dt.datetime(2024, 1, 1, 0, 6),
        dt.datetime(2024, 1, 1, 0, 9),
    ]


def test_resolve_end_time_watermark_clamp():
    # ref test_live_data_api_service.py:774 — omitted end_time + fresh local
    # watermark → serve local window, no remote fetch
    from crypto_datalake_spark.functions.fetch_planner import resolve_end_time

    now = dt.datetime(2026, 1, 15, 10, 5)
    fresh = dt.datetime(2026, 1, 15, 10, 4)
    stale = dt.datetime(2026, 1, 15, 9, 0)
    explicit = dt.datetime(2026, 1, 15, 8, 0)

    assert resolve_end_time(None, fresh, now) == (fresh, True)
    assert resolve_end_time(None, stale, now) == (now, False)
    assert resolve_end_time(None, None, now) == (now, False)
    assert resolve_end_time(explicit, fresh, now) == (explicit, False)


def test_latest_watermarks_from_ledger(spark, tmp_path):
    import pyspark.sql.functions as F

    from crypto_datalake_spark.functions.fetch_planner import latest_watermarks
    from crypto_datalake_spark.sinks import (
        frame_schema_hash,
        ledger_entries,
        upsert_ledger,
    )

    df = spark.createDataFrame(
        [
            ("BTC", dt.datetime(2024, 1, 1, 0, 0), 1.0),
            ("BTC", dt.datetime(2024, 1, 1, 0, 9), 2.0),
            ("ETH", dt.datetime(2024, 1, 1, 0, 5), 3.0),
        ],
        "symbol string, ts timestamp_ntz, v double",
    ).withColumn("day", F.to_date("ts"))
    entries = ledger_entries(df, ["symbol", "day"], "ts", ["symbol", "ts"])
    upsert_ledger(
        spark, str(tmp_path / "ledger"), entries, ["symbol", "day"],
        frame_schema_hash(df),
    )
    wm = {
        r["symbol"]: r["watermark"]
        for r in latest_watermarks(spark, str(tmp_path / "ledger"), ["symbol"]).collect()
    }
    assert wm["BTC"] == dt.datetime(2024, 1, 1, 0, 9)
    assert wm["ETH"] == dt.datetime(2024, 1, 1, 0, 5)


def test_serve_timeframe_stale_htf_falls_back(spark):
    """A lagging HTF table holding `limit` OLD bars must still fall back:
    coverage is counted inside the window anchored at end_time, not as a
    bare per-symbol bar count."""
    load = _planner_lake(spark, n_minutes=12, htf_bars_kept=2)  # bars 0:00, 0:03
    bars, plan = serve_timeframe("3m", 2, load, {"1m", "3m"})   # 1m extends to 0:11
    assert plan.mode == MODE_AGGREGATE and plan.fallback_used is True
    got = sorted(r["bucket_ts"] for r in bars.collect())
    assert got == [dt.datetime(2024, 1, 1, 0, 6), dt.datetime(2024, 1, 1, 0, 9)]


def test_serve_timeframe_htf_only_lake_skips_probe(spark):
    # an HTF-only lake (no 1m table) must serve the direct tail instead of
    # crashing in the 1m-anchored coverage probe; the skip is flagged
    load = _planner_lake(spark, n_minutes=12, htf_bars_kept=4)
    htf_only = lambda tf: load(tf) if tf == "3m" else None  # noqa: E731
    bars, plan = serve_timeframe(
        "3m", 2, htf_only, {"3m"}, config=FetchPlannerConfig(allow_1m_fallback=False)
    )
    assert plan.mode == MODE_DIRECT
    assert "no_1m_lake_coverage_probe_skipped" in plan.notes
    got = sorted(r["bucket_ts"] for r in bars.collect())
    assert got == [dt.datetime(2024, 1, 1, 0, 6), dt.datetime(2024, 1, 1, 0, 9)]


def test_serve_timeframe_unwritten_source_table_is_unavailable(spark):
    """A planned source table that has not been written yet (its path is
    missing, so load_table gives None) makes the timeframe unavailable,
    the error every other unservable plan raises."""
    load = _planner_lake(spark, n_minutes=12, htf_bars_kept=4)
    no_1m = lambda tf: None if tf == "1m" else load(tf)  # noqa: E731
    for tf in ("1m", "5m"):  # read directly / aggregated from 1m
        with pytest.raises(ValueError, match="unavailable.*1m_table_missing"):
            serve_timeframe(tf, 2, no_1m, {"1m", "3m"})


def test_cache_stale_entry_does_not_inflate_end_time():
    """put() over an EXPIRED entry drops its rows — it must drop its
    end_time too, or a later get() serves an 'exact' window whose data
    ends hours before the end_time it claims."""
    clk = [1_000_000.0]
    c = ServingCache(clock=lambda: clk[0], recent_ttl_s=15.0, stable_age_s=1e12)
    end_late = clk[0] - 100.0
    c.put(("BTC", "1m"), end_late, [(end_late - 60, "old")])
    clk[0] += 1_000.0  # entry expires (recent tier)
    end_early = end_late - 7_200.0  # caller cached an EARLIER window
    c.put(("BTC", "1m"), end_early, [(end_early - 60, "new")])
    kind, rows = c.get(("BTC", "1m"), end_late, limit=1)
    # must NOT be an 'exact' hit at the stale end_time
    assert kind in ("miss", "partial"), (kind, rows)
    kind2, rows2 = c.get(("BTC", "1m"), end_early, limit=1)
    assert kind2 == "exact" and rows2 == [(end_early - 60, "new")]


def test_cache_default_clock_reaches_stable_tier():
    """The default clock must be epoch-based: entry end_times are epoch
    seconds, and a monotonic default would classify every window as
    'recent' (negative age), re-fetching day-old windows every 15s."""
    import time

    c = ServingCache()
    day_old = time.time() - 86_400.0
    e = _Entry(end_time=day_old, rows=[], cached_at=time.time())
    assert c._ttl(e, c._clock()) == STABLE_TTL_S


def test_cache_lock_dict_bounded():
    c = ServingCache(max_entries=2, clock=lambda: 0.0)
    for i in range(10):
        key = ("S", i)
        with c.single_flight(key):  # acquire/release, as a real fetch does
            c.put(key, float(i), [(float(i), "r")])
    assert len(c._entries) <= 2
    assert len(c._locks) <= 3  # evicted entries drop their locks


def test_cache_held_single_flight_lock_survives_eviction():
    """Evicting a key's LRU entry while a fetch holds its lock must not
    hand the next requester a fresh lock (duplicate cluster query)."""
    c = ServingCache(max_entries=1, clock=lambda: 0.0)
    k = ("S", "1m")
    lk = c.single_flight(k)
    lk.acquire()
    try:
        c.put(k, 0.0, [(0.0, "r")])
        for i in range(3):  # churn k out of the LRU while its fetch runs
            c.put(("T", i), 0.0, [(0.0, "r")])
        assert c.single_flight(k) is lk  # in-flight dedup intact
    finally:
        lk.release()


def test_cache_orphan_locks_swept():
    """Keys whose fetch raised before any put() leave no entry to evict —
    their idle locks must still be reaped, not leak forever.  A real
    failed fetch acquires its lock and releases on unwind (``with``), so
    the lease is consumed and the lock is idle+unleased afterwards."""
    c = ServingCache(max_entries=2, clock=lambda: 0.0)
    for i in range(50):
        with c.single_flight(("orphan", i)):
            pass  # fetch raised; no put()
    c.put(("x", 0), 0.0, [(0.0, "r")])
    assert len(c._locks) <= 2 * c._max + 1


def test_cache_leased_lock_survives_reap_before_acquire():
    """TOCTOU guard: a lock handed out by single_flight() but not yet
    acquired must survive a concurrent put()'s reap — deleting it would
    give the next requester a fresh lock and run two fetches for the
    same key."""
    c = ServingCache(max_entries=1, clock=lambda: 0.0)
    k = ("S", "1m")
    lk = c.single_flight(k)  # handed out, NOT yet acquired
    c.put(k, 0.0, [(0.0, "r")])
    for i in range(3):  # churn k's entry out while the lease is open
        c.put(("T", i), 0.0, [(0.0, "r")])
    assert c.single_flight(k) is lk  # dedup intact across the window
    with lk:
        pass  # leases consumed; lock is now reapable again
    c.put(("T", 99), 0.0, [(0.0, "r")])


def test_cache_lock_acquire_always_consumes_lease():
    """acquire() takes no blocking/timeout parameters (ADVICE r6): a
    failed try-acquire would return without consuming its lease, leaving
    the lock unreapable for LEASE_GRACE_S per attempt.  Every acquire
    blocks, succeeds, and decrements pending — lease accounting cannot
    be bypassed through the public signature."""
    import inspect

    from crypto_datalake_spark.serving_cache import _KeyLock

    sig = inspect.signature(_KeyLock.acquire)
    assert list(sig.parameters) == ["self"]

    lk = _KeyLock(clock=lambda: 0.0)
    lk.lease()
    assert lk.pending == 1
    assert lk.acquire() is True
    assert lk.pending == 0
    lk.release()
    assert lk.reapable(0.0)


def test_cache_release_refreshes_lease_age():
    """A waiter blocked behind a fetch slower than the grace age must
    not look abandoned in the hand-over window: release() restarts the
    abandonment clock, so an outstanding lease older than LEASE_GRACE_S
    is still honored right after the holder releases."""
    from crypto_datalake_spark.serving_cache import LEASE_GRACE_S, _KeyLock

    t = [0.0]
    lk = _KeyLock(clock=lambda: t[0])
    lk.lease()          # holder's hand-out
    lk.acquire()        # holder starts its (slow) fetch
    lk.lease()          # waiter's hand-out; it now blocks in acquire()
    t[0] = LEASE_GRACE_S + 100.0  # fetch ran past the grace age
    lk.release()        # hand-over window: unlocked, waiter not yet in
    assert not lk.reapable(t[0])  # lease re-aged, waiter still protected
    lk.acquire()
    lk.release()
    t[0] += LEASE_GRACE_S + 1.0
    assert lk.reapable(t[0])  # all leases consumed


def test_cache_abandoned_lease_reaps_after_grace():
    """A hand-out never acquired is an abandoned lease: after
    LEASE_GRACE_S it must become reapable so _locks cannot leak."""
    from crypto_datalake_spark.serving_cache import LEASE_GRACE_S

    t = [0.0]
    c = ServingCache(max_entries=2, clock=lambda: t[0])
    for i in range(50):
        c.single_flight(("abandoned", i))  # never acquired
    t[0] = LEASE_GRACE_S + 1.0
    c.put(("x", 0), t[0], [(t[0], "r")])
    assert len(c._locks) <= 2 * c._max + 1


def test_cache_adversarial_put_property():
    """Stronger than test_cache_multi_end_property: puts are ARBITRARY
    correct windows (random end, random size — short newest segments,
    disjoint merges, holes), not the get-else-compute discipline the
    callers follow.  The cache's own invariant must hold regardless:
    any exact/superset hit returns exactly what a fresh compute at that
    end would (the r9 equal-end hole-crossing fix moved this from
    caller put-discipline to the serve itself)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    bars = [(float(t), 1000.0 + t) for t in range(0, 120)]

    def compute(end: float, n: int):
        return [r for r in bars if r[0] <= end][-n:]

    action = st.one_of(
        st.tuples(st.just("put"), st.integers(0, 119), st.integers(1, 8)),
        st.tuples(st.just("get"), st.integers(0, 119), st.integers(1, 8)),
    )

    @settings(deadline=None, max_examples=300)
    @given(seq=st.lists(action, min_size=2, max_size=30))
    def run(seq):
        c = ServingCache(clock=lambda: 0.0)
        key = ("S", "1m")
        for kind, end_i, n in seq:
            end = float(end_i)
            if kind == "put":
                c.put(key, end, compute(end, n))
                continue
            hit, rows = c.get(key, end, n)
            expected = compute(end, n)
            if hit in ("exact", "superset"):
                assert rows == expected, (seq, hit, end, n, rows, expected)
            elif hit == "partial":
                # advisory tail: the caller sizes a head fetch from the
                # last cached bar, and — like http_api's partial path —
                # falls back to a FULL compute when the head-only put
                # still doesn't yield a hit (an adversarial short tail
                # can leave the merged segment under-sized; serving
                # wrong rows would be the bug, a miss is just a recompute)
                gap = int(end - rows[-1][0])
                if 0 <= gap + 1 < n and len(expected) >= n:
                    c.put(key, end, compute(end, gap + 1))
                    hit2, rows2 = c.get(key, end, n)
                    if hit2 in ("exact", "superset"):
                        assert rows2 == expected, (seq, end, n)
                    else:  # full-compute fallback always self-heals
                        c.put(key, end, compute(end, n))
                        hit3, rows3 = c.get(key, end, n)
                        assert hit3 in ("exact", "superset"), (seq, end, n)
                        assert rows3 == expected, (seq, end, n)

    run()


def test_cache_equal_end_serves_under_ttl_expiry_property():
    """Extends test_cache_adversarial_put_property with a TICKING clock:
    entries expire (recent tier at 15 s, stable tier at 21 600 s)
    between arbitrary puts and equal-end/sub-window serves.  The one
    combination the frozen-clock sweep cannot generate is an entry
    going stale MID-sequence and later puts rebuilding the segment map
    over it — the serve invariant must survive that too: any
    exact/superset hit returns exactly what a fresh compute at that end
    would, never rows bled across an expiry or a merge hole."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    bars = [(float(t), 1000.0 + t) for t in range(0, 120)]

    def compute(end: float, n: int):
        return [r for r in bars if r[0] <= end][-n:]

    action = st.one_of(
        st.tuples(st.just("put"), st.integers(0, 119), st.integers(1, 8)),
        st.tuples(st.just("get"), st.integers(0, 119), st.integers(1, 8)),
        # 10 s: no expiry; 16 s: recent-tier expiry; 22 000 s: expires
        # even entries the advancing clock promoted to the stable tier
        st.tuples(
            st.just("tick"),
            st.sampled_from([10.0, 16.0, 22_000.0]),
            st.just(0),
        ),
    )

    @settings(deadline=None, max_examples=300)
    @given(seq=st.lists(action, min_size=3, max_size=30))
    def run(seq):
        now = [0.0]
        c = ServingCache(clock=lambda: now[0])
        key = ("S", "1m")
        for kind, a, b in seq:
            if kind == "tick":
                now[0] += a
                continue
            end, n = float(a), b
            if kind == "put":
                c.put(key, end, compute(end, n))
                continue
            hit, rows = c.get(key, end, n)
            expected = compute(end, n)
            if hit in ("exact", "superset"):
                assert rows == expected, (seq, hit, end, n, rows, expected)
            elif hit == "partial":
                # same advisory-tail handling as the frozen-clock sweep:
                # head-only put, then full-compute fallback self-heals
                gap = int(end - rows[-1][0])
                if 0 <= gap + 1 < n and len(expected) >= n:
                    c.put(key, end, compute(end, gap + 1))
                    hit2, rows2 = c.get(key, end, n)
                    if hit2 in ("exact", "superset"):
                        assert rows2 == expected, (seq, end, n)
                    else:
                        c.put(key, end, compute(end, n))
                        hit3, rows3 = c.get(key, end, n)
                        assert hit3 in ("exact", "superset"), (seq, end, n)
                        assert rows3 == expected, (seq, end, n)

    run()
