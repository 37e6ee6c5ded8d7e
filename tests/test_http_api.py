"""The runnable HTTP serving surface (http_api.py): the engine-side
analogue of the reference's API service, driven END TO END over real
sockets — request parse, watermark clamp, per-timeframe plan/execute,
cache hits, and validation errors, all against a real parquet lake.

Reference behaviors mirrored: FastAPI TestClient end-to-end responses
(test_live_data_api_service.py:996,:1066,:1134), planner decisions
(:174,:187), watermark end-time clamp (:774), cache exact hits
(:1482-1755).
"""

from __future__ import annotations

import datetime as dt
import json
import urllib.request

import pytest

from crypto_datalake_spark.functions.fetch_planner import (
    MODE_AGGREGATE,
    MODE_DIRECT,
    MODE_DIRECT_1M,
    FetchPlannerConfig,
)
from crypto_datalake_spark.http_api import (
    PerpetualDataService,
    RequestError,
    serve_background,
)


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return r.status, json.loads(r.read())


def _get_err(port, path):
    try:
        urllib.request.urlopen(f"http://127.0.0.1:{port}{path}")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())
    raise AssertionError("expected HTTPError")


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    from tests.test_pipelines import _minute_frame, _minute_row, _ts
    from crypto_datalake_spark.pipelines.serving import (
        aggregate_canonical_frame,
    )

    root = tmp_path_factory.mktemp("api_lake")
    minutes = _minute_frame(
        spark, [_minute_row(_ts(m), close=100.0 + m) for m in range(12)]
    )
    minutes.write.parquet(str(root / "m1"))
    aggregate_canonical_frame(minutes, "3m").write.parquet(str(root / "m3"))
    tables = {"1m": str(root / "m1"), "3m": str(root / "m3")}
    svc = PerpetualDataService(
        spark, tables, now=lambda: dt.datetime(2024, 1, 1, 0, 12)
    )
    srv, _ = serve_background(svc)
    yield svc, srv.server_address[1], tables
    srv.shutdown()


def test_health_and_unknown_route(api):
    _, port, _ = api
    assert _get(port, "/health") == (200, {"status": "ok"})
    code, body = _get_err(port, "/nope")
    assert code == 404 and "no such route" in body["error"]


def test_direct_htf_read_over_http(api):
    _, port, _ = api
    code, body = _get(
        port, "/perpetual-data?symbol=BTC&timeframes=3m=2"
    )
    assert code == 200
    assert body["symbol"] == "BTCUSDT"          # normalized
    tf = body["timeframes"]["3m"]
    assert tf["plan"]["mode"] == MODE_DIRECT
    assert tf["plan"]["fallback_used"] is False
    got = [b["bucket_ts"] for b in tf["bars"]]
    assert got == ["2024-01-01 00:06:00", "2024-01-01 00:09:00"]
    # last 3m bucket (00:09) closes over minutes 9-11: close = last = 111
    assert tf["bars"][-1]["close"] == 111.0


def test_aggregate_fallback_and_multi_tf_request(api):
    _, port, _ = api
    code, body = _get(
        port, "/perpetual-data?symbol=BTCUSDT&timeframes=1m=3,5m,2h"
    )
    assert code == 200
    one = body["timeframes"]["1m"]
    assert one["plan"]["mode"] == MODE_DIRECT_1M
    assert [b["close"] for b in one["bars"]] == [109.0, 110.0, 111.0]
    five = body["timeframes"]["5m"]
    assert five["plan"]["mode"] == MODE_AGGREGATE  # not materialized
    assert "timeframe_not_materialized" in five["plan"]["notes"]
    # 12 minutes → two COMPLETE 5m buckets (00:00, 00:05); 00:10 is
    # partial and the canonical aggregation is complete-only (P5)
    assert [b["close"] for b in five["bars"]] == [104.0, 109.0]
    two = body["timeframes"]["2h"]
    assert two["plan"]["mode"] == MODE_AGGREGATE
    assert two["bars"] == []                       # no complete 2h bucket


def test_watermark_clamp_and_explicit_end_time(api):
    svc, port, _ = api
    # omitted end_time, fresh watermark (lake max 00:11, "now" 00:12,
    # tolerance 3m) → clamp to the watermark
    code, body = _get(port, "/perpetual-data?timeframes=1m=2")
    assert code == 200
    assert body["end_time_from_watermark"] is True
    assert body["end_time"] == "2024-01-01 00:11:00"
    # explicit end_time wins and bounds the window
    code, body = _get(
        port,
        "/perpetual-data?timeframes=1m=2&end_time=2024-01-01T00:05:30",
    )
    assert body["end_time"] == "2024-01-01 00:05:00"  # minute floor
    assert [b["close"] for b in body["timeframes"]["1m"]["bars"]] == [
        104.0, 105.0,
    ]


def test_cache_exact_hit_on_repeat(api):
    svc, port, _ = api
    path = "/perpetual-data?timeframes=3m=3&end_time=2024-01-01T00:11:00"
    _, first = _get(port, path)
    before = svc._cache.stats.exact
    _, second = _get(port, path)
    assert svc._cache.stats.exact == before + 1
    assert second["timeframes"]["3m"]["plan"]["mode"] == "cache"
    assert second["timeframes"]["3m"]["plan"]["cache"] == "exact"
    assert second["timeframes"]["3m"]["bars"] == first["timeframes"]["3m"]["bars"]


def test_validation_errors_are_400(api):
    _, port, _ = api
    code, body = _get_err(port, "/perpetual-data?timeframes=17q")
    assert code == 400 and "unknown timeframe" in body["error"]
    code, body = _get_err(
        port, "/perpetual-data?timeframes=1m&end_time=not-a-time"
    )
    assert code == 400 and "bad end_time" in body["error"]
    code, body = _get_err(port, "/perpetual-data?timeframes=1m&limit=abc")
    assert code == 400 and "bad limit" in body["error"]


def test_unavailable_timeframe_is_per_tf_error(spark, api):
    svc, _, tables = api
    strict = PerpetualDataService(
        spark, tables,
        config=FetchPlannerConfig(allow_1m_fallback=False),
        now=lambda: dt.datetime(2024, 1, 1, 0, 12),
    )
    out = strict.fetch("BTC", "2h,3m=2")
    assert "unavailable" in out["timeframes"]["2h"]["error"]
    assert out["timeframes"]["3m"]["plan"]["mode"] == MODE_DIRECT


def test_ledger_not_written_yet_means_no_watermark(spark, api, tmp_path):
    """A service built with a ledger path before the first ingest commit
    serves requests without end_time: the missing ledger holds no
    watermark, so the window ends at now."""
    _, _, tables = api
    svc = PerpetualDataService(
        spark, tables, ledger_path=str(tmp_path / "ledger"),
        now=lambda: dt.datetime(2024, 1, 1, 0, 12),
    )
    srv, _ = serve_background(svc)
    try:
        code, body = _get(
            srv.server_address[1], "/perpetual-data?symbol=BTC&timeframes=1m=2"
        )
    finally:
        srv.shutdown()
        srv.server_close()
    assert code == 200
    assert body["end_time_from_watermark"] is False
    assert len(body["timeframes"]["1m"]["bars"]) == 2


def test_service_rejects_bad_symbol_and_empty_spec(spark, api):
    svc, _, _ = api
    with pytest.raises(RequestError):
        svc.fetch("BTC", "")
    with pytest.raises(RequestError):
        svc.fetch("BTC", "1m", end_time="nope")


def test_indicators_endpoint_ema_and_pivots(api):
    """The indicator route: TradingView SMA-seeded EMA over the served
    bars plus traditional pivots — the EMA and the pivots checked against
    hand math, the warmup extension tailed back to the requested limit,
    and bad lengths and timeframes rejected.  The value-for-value check
    against the Spark operators is
    ``test_indicators_match_spark_operators_with_a_null_close``."""
    _, port, _ = api
    code, body = _get(
        port,
        "/indicators?symbol=BTC&timeframe=1m&ema=3&limit=4"
        "&end_time=2024-01-01T00:11:00",
    )
    assert code == 200
    assert body["timeframe"] == "1m" and body["warmup_bars"] == 23
    bars = body["bars"]
    assert len(bars) == 4                       # tailed to limit
    assert [b["close"] for b in bars] == [108.0, 109.0, 110.0, 111.0]
    # lake has only 12 bars (< warmup 23): ema_by_group still seeds the
    # SMA at bar 3 — closes 100,101,102 -> 101, then alpha=0.5 recurrence
    ema = 101.0
    for c in [103.0 + i for i in range(9)]:
        ema = ema + (c - ema) * (2.0 / 4.0)
    # bars[-1] is close 111; recurrence above ends at close 111
    assert abs(bars[-1]["ema_3"] - ema) < 1e-9
    # pivots: previous bar H/L/C = 110,90,110 -> pivot and bands
    p = (110.0 + 90.0 + 110.0) / 3.0
    assert abs(bars[-1]["pivot"] - p) < 1e-9
    assert abs(bars[-1]["r1"] - (2 * p - 90.0)) < 1e-9
    assert abs(bars[-1]["s2"] - (p - 20.0)) < 1e-9

    # validation: bad ema length and bad timeframe are 400s
    code, body = _get_err(port, "/indicators?timeframe=1m&ema=1")
    assert code == 400 and "out of [2,500]" in body["error"]
    code, body = _get_err(port, "/indicators?timeframe=99x")
    assert code == 400 and "unknown timeframe" in body["error"]


def test_indicators_share_bar_cache_with_data_endpoint(api, monkeypatch):
    """The reference shares one bar cache between the data and indicator
    endpoints (live_indicators/service.py:134-169 shared_bar_cache):
    bars cached by an /indicators request are reused by /perpetual-data
    for the same (symbol, timeframe, limit) window and vice versa, and a
    repeat /indicators request recomputes no Spark window at all."""
    import crypto_datalake_spark.http_api as http_api_mod
    from crypto_datalake_spark.functions import fetch_planner

    svc, port, _ = api
    computes = []
    real = fetch_planner.serve_timeframe

    def counting(*a, **kw):
        computes.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(http_api_mod, "serve_timeframe", counting)

    # pivots-only (EMA warmup would need 22+ bars; the lake holds 12):
    # warm = 0, limit 4 -> bar window key (BTCUSDT, 1m, 4)
    ind_path = (
        "/indicators?symbol=BTC&timeframe=1m&limit=4"
        "&end_time=2024-01-01T00:11:00"
    )
    code, first = _get(port, ind_path)
    assert code == 200 and first["warmup_bars"] == 0
    assert first["bars"][-1]["pivot"] is not None
    assert len(computes) == 1
    code, second = _get(port, ind_path)          # repeat: bars from cache
    assert code == 200 and len(computes) == 1
    assert second["plan"]["mode"] == "cache"
    assert second["bars"] == first["bars"]
    # cross-endpoint: /perpetual-data for the same 4-bar window reuses
    # the entry the indicator request cached
    code, body = _get(
        port,
        "/perpetual-data?symbol=BTC&timeframes=1m=4"
        "&end_time=2024-01-01T00:11:00",
    )
    assert code == 200 and len(computes) == 1
    assert body["timeframes"]["1m"]["plan"]["mode"] == "cache"
    assert [b["close"] for b in body["timeframes"]["1m"]["bars"]] == [
        108.0, 109.0, 110.0, 111.0,
    ]


def test_indicators_warmup_error_when_too_few_bars(api):
    """Reference live_indicators/service.py:174-186: an EMA(n) request
    against fewer than n completed bars is an explicit 400, not a null
    column — the lake holds 12 1m bars, so EMA(13) must error and
    EMA(12) must still serve."""
    _, port, _ = api
    code, body = _get_err(
        port,
        "/indicators?timeframe=1m&ema=13&limit=2&end_time=2024-01-01T00:11:00",
    )
    assert code == 400
    assert "not enough completed 1m bars" in body["error"]
    assert "EMA(13)" in body["error"]
    code, body = _get(
        port,
        "/indicators?timeframe=1m&ema=12&limit=2&end_time=2024-01-01T00:11:00",
    )
    assert code == 200
    assert body["bars"][-1]["ema_12"] is not None


def test_concurrent_identical_requests_single_flight(api, monkeypatch):
    """Eight concurrent identical requests over real sockets: the
    single-flight lock (plus the cache's sub-window reuse, since earlier
    tests in this module cached the same key at a NEWER end_time)
    collapses them to AT MOST ONE Spark computation — every response is
    identical, and Spark compute count is asserted directly, not
    inferred from miss stats."""
    import concurrent.futures as cf

    import crypto_datalake_spark.http_api as http_api_mod
    from crypto_datalake_spark.functions import fetch_planner

    computes = []
    real = fetch_planner.serve_timeframe

    def counting(*a, **kw):
        computes.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(http_api_mod, "serve_timeframe", counting)

    svc, port, _ = api
    path = "/perpetual-data?timeframes=3m=2&end_time=2024-01-01T00:10:00"
    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(lambda _: _get(port, path), range(8)))
    bodies = [json.dumps(b, sort_keys=True) for _, b in results]
    assert all(c == 200 for c, _ in results)
    # every racer either computed-once or was served the winner's rows
    bars = [json.loads(b)["timeframes"]["3m"]["bars"] for b in bodies]
    assert all(x == bars[0] for x in bars)
    # served-while-clipped-at-00:10: buckets 00:06 and 00:09
    assert [b["bucket_ts"] for b in bars[0]] == [
        "2024-01-01 00:06:00", "2024-01-01 00:09:00",
    ]
    # module run: key cached at end 00:11 by an earlier test → the
    # sub-window serve means ZERO computes; isolated run: cold key →
    # exactly ONE (the winner), the rest block and re-check
    assert len(computes) <= 1
    # and a fresh request now serves straight from cache (exact when the
    # race computed-and-put at this end; superset off the newer entry)
    hits_before = svc._cache.stats.exact + svc._cache.stats.superset
    _, body = _get(port, path)
    assert svc._cache.stats.exact + svc._cache.stats.superset == hits_before + 1
    assert body["timeframes"]["3m"]["plan"]["mode"] == "cache"


def test_subwindow_never_serves_bucket_incomplete_at_requested_end(api):
    """Aggregate-mode buckets exist relative to the window END: a 5m
    bucket complete at the cached end (00:11) is NOT complete at an
    older requested end (00:07), and a fresh compute drops it — the
    cached sub-window serve must refuse it too (bar_close_lag), not
    hand back a bucket containing minutes after the requested end."""
    _, port, _ = api
    code, first = _get(
        port, "/perpetual-data?timeframes=5m=2&end_time=2024-01-01T00:11:00"
    )
    assert code == 200
    assert [b["close"] for b in first["timeframes"]["5m"]["bars"]] == [
        104.0, 109.0,   # buckets 00:00 and 00:05, complete at 00:11
    ]
    # older end INSIDE bucket 00:05's span: the bucket has only 3 of 5
    # minutes at 00:07 — a fresh compute returns bucket 00:00 alone
    code, body = _get(
        port, "/perpetual-data?timeframes=5m=2&end_time=2024-01-01T00:07:00"
    )
    assert code == 200
    tf = body["timeframes"]["5m"]
    assert [b["close"] for b in tf["bars"]] == [104.0]
    assert tf["plan"]["mode"] != "cache"  # recomputed, not mis-served
    # an older end where BOTH cached buckets are closed serves from
    # cache (00:09 ≥ bucket 00:05's last minute) — the lag filter
    # refuses only what a fresh compute would refuse
    code, body = _get(
        port, "/perpetual-data?timeframes=5m=2&end_time=2024-01-01T00:09:00"
    )
    assert code == 200
    tf = body["timeframes"]["5m"]
    assert [b["close"] for b in tf["bars"]] == [104.0, 109.0]
    assert tf["plan"]["mode"] == "cache" and tf["plan"]["cache"] == "superset"


def test_partial_hit_fetches_only_missing_head(api, monkeypatch):
    """The cache's third reuse tier (reference service.py:358-474): when
    the cached window ends OLDER than the request, only the missing
    newer head is fetched — sized on the timeframe grid from the last
    cached bar — and the response is the keep-last merge of cached tail
    + head, identical to a full recompute."""
    import crypto_datalake_spark.http_api as http_api_mod
    from crypto_datalake_spark.functions import fetch_planner

    svc, port, _ = api
    limits_seen = []
    real = fetch_planner.serve_timeframe

    def capture(tf, limit, *a, **kw):
        limits_seen.append(limit)
        return real(tf, limit, *a, **kw)

    monkeypatch.setattr(http_api_mod, "serve_timeframe", capture)

    # cold fill at the OLDER end: full window fetch (limit 6)
    code, first = _get(
        port,
        "/perpetual-data?timeframes=1m=6&end_time=2024-01-01T00:08:00",
    )
    assert code == 200 and limits_seen == [6]
    assert [b["close"] for b in first["timeframes"]["1m"]["bars"]] == [
        103.0, 104.0, 105.0, 106.0, 107.0, 108.0,
    ]
    # same key, newer end: gap is 3 bars -> head fetch of 4, not 6
    code, body = _get(
        port,
        "/perpetual-data?timeframes=1m=6&end_time=2024-01-01T00:11:00",
    )
    assert code == 200 and limits_seen == [6, 4]
    tf = body["timeframes"]["1m"]
    assert tf["plan"]["cache"] == "partial"
    assert tf["plan"]["head_bars_fetched"] == 4
    assert [b["close"] for b in tf["bars"]] == [
        106.0, 107.0, 108.0, 109.0, 110.0, 111.0,
    ]
    # the merged window is now a plain hit — no further Spark fetches
    code, body = _get(
        port,
        "/perpetual-data?timeframes=1m=6&end_time=2024-01-01T00:11:00",
    )
    assert code == 200 and limits_seen == [6, 4]
    assert body["timeframes"]["1m"]["plan"]["mode"] == "cache"
    assert [b["close"] for b in body["timeframes"]["1m"]["bars"]] == [
        106.0, 107.0, 108.0, 109.0, 110.0, 111.0,
    ]


def test_watermark_path_repeat_request_hits_cache(api):
    """The DEFAULT request shape — end_time omitted, resolved to the
    watermark, which equals the last committed bar: the newest served
    bar is stamped exactly AT the resolved end, so the cache clip must
    be inclusive or every repeat recomputes through Spark forever
    (ADVICE r8: permanent-miss regression)."""
    svc, port, _ = api
    path = "/perpetual-data?timeframes=1m=2"
    _, first = _get(port, path)
    assert first["end_time_from_watermark"] is True
    # last bar is stamped at the watermark end itself
    assert first["timeframes"]["1m"]["bars"][-1]["timestamp"] == first["end_time"]
    hits_before = svc._cache.stats.exact + svc._cache.stats.superset
    _, second = _get(port, path)
    assert svc._cache.stats.exact + svc._cache.stats.superset == hits_before + 1
    assert second["timeframes"]["1m"]["plan"]["mode"] == "cache"
    assert second["timeframes"]["1m"]["bars"] == first["timeframes"]["1m"]["bars"]


def test_explicit_end_time_skips_watermark_lookup(api, monkeypatch):
    """An explicit end_time wins unconditionally, so the per-request
    watermark collect() must be skipped entirely (ADVICE r8) — the
    reference consults the watermark only when end_time is omitted."""
    svc, port, _ = api
    calls = []
    real = type(svc)._watermark
    monkeypatch.setattr(
        type(svc), "_watermark",
        lambda self, sym: calls.append(sym) or real(self, sym),
    )
    code, _ = _get(
        port, "/perpetual-data?timeframes=1m=2&end_time=2024-01-01T00:08:00"
    )
    assert code == 200 and calls == []
    code, _ = _get(
        port,
        "/indicators?timeframe=1m&ema=3&limit=2&end_time=2024-01-01T00:08:00",
    )
    assert code == 200 and calls == []
    # omitted end_time still consults it
    code, _ = _get(port, "/perpetual-data?timeframes=1m=2")
    assert code == 200 and calls == ["BTCUSDT"]


def test_live_indicators_endpoint_reference_shape(api):
    """The reference's current-value indicator route (app.py:224-249):
    independent EMA and pivot timeframes, EMA over ema_tf with warmup
    history, pivots from the PREVIOUS full pivot_tf period's bar —
    values hand-checked against the fixture lake."""
    _, port, _ = api
    code, body = _get(
        port,
        "/live-indicators?symbol=BTC&ema_tf=1m&ema_length=3&pivot_tf=3m"
        "&end_time=2024-01-01T00:11:00",
    )
    assert code == 200
    assert body["symbol"] == "BTCUSDT"
    ema = body["ema"]
    assert ema["timeframe"] == "1m" and ema["length"] == 3
    assert ema["warmup_bars_requested"] == 23
    assert ema["bars_used"] == 12
    assert ema["bar_timestamp"] == "2024-01-01 00:11:00"
    assert ema["bar_close"] == 111.0
    # SMA(100,101,102)=101 seed, alpha=.5 over 103..111 -> 110.0
    assert abs(ema["value"] - 110.0) < 1e-9
    piv = body["pivots"]
    # end 00:11 floors to 3m period 00:09; previous full period is the
    # 00:06 bucket (minutes 6-8): H=110 L=90 C=108
    assert piv["timeframe"] == "3m" and piv["type"] == "traditional"
    assert piv["reference_timestamp"] == "2024-01-01 00:06:00"
    assert piv["reference_ohlc"] == {
        "open": 100.0, "high": 110.0, "low": 90.0, "close": 108.0,
    }
    p = (110.0 + 90.0 + 108.0) / 3.0
    assert abs(piv["p"] - p) < 1e-9
    assert abs(piv["r1"] - (2 * p - 90.0)) < 1e-9
    assert abs(piv["s1"] - (2 * p - 110.0)) < 1e-9
    assert abs(piv["r2"] - (p + 20.0)) < 1e-9
    assert abs(piv["s2"] - (p - 20.0)) < 1e-9
    # reference middleware parity: payload + header carry response time
    assert body["response_time_secs"] > 0


def test_live_indicators_errors_and_aliases(api):
    _, port, _ = api
    # EMA over more bars than the lake holds -> reference error text
    code, body = _get_err(
        port,
        "/live-indicators?ema_tf=1m&ema_length=13&pivot_tf=3m"
        "&end_time=2024-01-01T00:11:00",
    )
    assert code == 400 and "Not enough completed 1m bars" in body["error"]
    # no prior full pivot period before the lake start
    code, body = _get_err(
        port,
        "/live-indicators?ema_tf=1m&ema_length=2&pivot_tf=3m"
        "&end_time=2024-01-01T00:02:00",
    )
    assert code == 400 and "traditional pivots" in body["error"]
    # validation
    code, body = _get_err(port, "/live-indicators?ema_length=0")
    assert code == 400 and "at least 1" in body["error"]
    code, body = _get_err(port, "/live-indicators?ema_length=abc")
    assert code == 400 and "bad ema_length" in body["error"]
    # the reference's /api/v1 prefix, /healthz, and coin=/tfs= aliases
    assert _get(port, "/healthz")[0] == 200
    code, body = _get(
        port,
        "/api/v1/live-indicators?coin=BTC&ema_tf=1m&ema_length=3"
        "&pivot_tf=3m&end_time=2024-01-01T00:11:00",
    )
    assert code == 200 and abs(body["ema"]["value"] - 110.0) < 1e-9
    code, body = _get(
        port,
        "/api/v1/perpetual-data?coin=BTC&tfs=3m=2&end_time=2024-01-01T00:11:00",
    )
    assert code == 200
    assert [b["close"] for b in body["timeframes"]["3m"]["bars"]] == [
        108.0, 111.0,
    ]


def test_response_time_header_on_all_routes(api):
    import urllib.request

    _, port, _ = api
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/health") as r:
        assert float(r.headers["X-Response-Time-Secs"]) >= 0
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/perpetual-data?timeframes=1m=2"
        "&end_time=2024-01-01T00:11:00"
    ) as r:
        assert float(r.headers["X-Response-Time-Secs"]) > 0
        body = json.loads(r.read())
        assert body["response_time_secs"] > 0


def test_live_indicators_unavailable_tf_and_length_ceiling(spark, api):
    """Review regressions: an unavailable timeframe inside an indicator
    arm must surface as a 400 (reference maps every ValueError to 400),
    not a 500 through the executor; ema_length is bounded by the same
    MAX_LIMIT ceiling as every other window so one request can never
    demand an unbounded bar window."""
    svc, port, tables = api
    strict = PerpetualDataService(
        spark, tables,
        config=FetchPlannerConfig(allow_1m_fallback=False),
        now=lambda: dt.datetime(2024, 1, 1, 0, 12),
    )
    with pytest.raises(RequestError, match="unavailable"):
        strict.live_indicators(
            "BTC", ema_tf="5m", ema_length=2, pivot_tf="3m",
            end_time="2024-01-01T00:11:00",
        )
    code, body = _get_err(
        port,
        "/live-indicators?ema_tf=1m&ema_length=501&pivot_tf=3m",
    )
    assert code == 400 and "ceiling" in body["error"]
    # /indicators honors the reference's coin= alias like its siblings
    code, body = _get(
        port,
        "/api/v1/indicators?coin=BTC&timeframe=1m&limit=2"
        "&end_time=2024-01-01T00:11:00",
    )
    assert code == 200 and body["symbol"] == "BTCUSDT"
    # health probes are untimed; API payloads embed the elapsed time
    _, health = _get(port, "/healthz")
    assert "response_time_secs" not in health


# --- serving a miss: driver-side indicators, table reads, job budgets ---

END = dt.datetime(2024, 1, 1, 0, 11)
#: Spark jobs of a serving miss once its tables are read: the tail's
#: window plus the coverage probe's distinct (direct), or the
#: aggregate's two shuffles (aggregate); a table read adds one
#: schema-inference job only after its file listing changed
DIRECT_HTF_MISS_BUDGET = 4
AGGREGATE_MISS_BUDGET = 3


def _window(svc, tf, limit, end=END):
    """One window through the serving cache, computed in this thread on
    a miss (``fetch`` runs each timeframe on a pool thread, outside the
    caller's job group)."""
    from crypto_datalake_spark.http_api import _to_epoch

    key = ("BTCUSDT", tf, limit)
    return svc._cached_window("BTCUSDT", tf, limit, end, _to_epoch(end), key)


def _spark_indicators(spark, dicts, lengths, limit):
    """The indicator bars computed by the registry's Spark operators
    (ema_by_group per length, traditional_pivots) over ``dicts``."""
    from crypto_datalake_spark.functions.ema import ema_by_group
    from crypto_datalake_spark.functions.pivots import traditional_pivots
    from crypto_datalake_spark.http_api import _jsonable

    ts = "timestamp" if "timestamp" in dicts[0] else "bucket_ts"
    fnum = lambda v: None if v is None else float(v)  # noqa: E731
    bars = spark.createDataFrame(
        [
            (d["symbol"], dt.datetime.fromisoformat(d[ts]),
             *(fnum(d[c]) for c in ("open", "high", "low", "close")))
            for d in dicts
        ],
        f"symbol string, {ts} timestamp_ntz, open double, high double, "
        "low double, close double",
    )
    out = bars
    for n in lengths:
        e = ema_by_group(bars, "close", ts, ["symbol"], n, out_col=f"ema_{n}")
        out = out.join(e.select("symbol", ts, f"ema_{n}"), ["symbol", ts], "left")
    pv = traditional_pivots(bars, order_col=ts, partition_cols=["symbol"])
    out = out.join(pv, ["symbol", ts], "left")
    rows = sorted(
        ({k: _jsonable(v) for k, v in r.asDict().items()} for r in out.collect()),
        key=lambda d: d[ts],
    )
    return rows[-limit:]


def test_indicators_match_spark_operators_with_a_null_close(spark, tmp_path, jobs):
    """/indicators computes on the driver: its bars must equal what
    ema_by_group and traditional_pivots return over the same served
    bars, key for key and value for value, NULLs included (a null close
    is skipped by the EMA and nulls the next bar's pivots).  Served
    again from the cached window, it runs no Spark job."""
    from tests.test_pipelines import _minute_frame, _minute_row, _ts

    rows = [
        _minute_row(
            _ts(m % 60, hour=m // 60),
            close=None if m == 105 else 100.0 + m * 1.37,
            high=111.0 + m, low=89.0 - m / 2,
        )
        for m in range(120)
    ]
    _minute_frame(spark, rows).write.parquet(str(tmp_path / "m1"))
    svc = PerpetualDataService(spark, {"1m": str(tmp_path / "m1")})
    end = dt.datetime(2024, 1, 1, 1, 59)
    call = lambda: svc.indicators(  # noqa: E731
        "BTC", "1m", "3,9", limit=20, end_time=end.isoformat()
    )
    body = call()
    assert len(body["bars"]) == 20
    assert jobs(call) == 0
    dicts, plan = _window(svc, "1m", 20 + body["warmup_bars"], end)
    assert plan["cache"] == "exact"
    want = _spark_indicators(spark, dicts, [3, 9], 20)
    assert json.dumps(body["bars"]) == json.dumps(want)
    # the null close and the bar after it are in the compared window
    i = next(i for i, b in enumerate(body["bars"]) if b["close"] is None)
    assert body["bars"][i + 1]["pivot"] is None
    assert body["bars"][i + 1]["ema_3"] is not None


def test_serving_miss_job_budgets(spark, api, jobs, job_names):
    """Once a table is read, a direct-HTF miss runs ≤ 4 Spark jobs and
    an aggregate miss ≤ 3, with no schema-inference (``parquet at``)
    job: the read is reused while the table's file listing is
    unchanged."""
    _, _, tables = api
    svc = PerpetualDataService(spark, tables)
    _window(svc, "3m", 2)  # reads 1m and 3m
    plans = []
    n = jobs(lambda: plans.append(_window(svc, "3m", 3)[1]))
    assert plans[0]["mode"] == MODE_DIRECT and plans[0]["cache"] == "miss"
    assert n <= DIRECT_HTF_MISS_BUDGET, n
    names = job_names(lambda: plans.append(_window(svc, "5m", 2)[1]))
    assert plans[1]["mode"] == MODE_AGGREGATE and plans[1]["cache"] == "miss"
    assert len(names) <= AGGREGATE_MISS_BUDGET, names
    assert not [x for x in names if x.startswith("parquet at")], names


def _cold_bars(spark, path, tf, limit, end):
    """A cold-cache serve of one window over a fresh read of ``path``."""
    from pyspark.sql import functions as F

    from crypto_datalake_spark.functions.fetch_planner import serve_timeframe
    from crypto_datalake_spark.http_api import _jsonable

    def load(t):
        return spark.read.parquet(path).where(F.col("symbol") == "BTCUSDT")

    bars, plan = serve_timeframe(tf, limit, load, {"1m"}, end_time=end)
    ts = "timestamp" if plan.mode == MODE_DIRECT_1M else "bucket_ts"
    return sorted(
        ({k: _jsonable(v) for k, v in r.asDict().items()} for r in bars.collect()),
        key=lambda d: d[ts],
    )


def test_commit_between_misses_is_served(spark, tmp_path):
    """A commit to a table between two misses changes its file listing:
    the second miss reads the table again and serves the committed rows,
    byte-equal to a cold serve_timeframe."""
    from tests.test_pipelines import _minute_frame, _minute_row, _ts
    from crypto_datalake_spark.sinks import upsert_partitioned

    path = str(tmp_path / "m1")

    def commit(rows):
        upsert_partitioned(
            spark, _minute_frame(spark, rows), path,
            keys=["symbol", "timestamp"], order_cols=["timestamp"],
            partition_cols=["symbol"],
        )

    commit([_minute_row(_ts(m), close=100.0 + m) for m in range(12)])
    svc = PerpetualDataService(spark, {"1m": path})
    first = svc.fetch("BTC", "1m=3,5m=2", end_time="2024-01-01T00:11:00")
    assert first["timeframes"]["1m"]["bars"][-1]["close"] == 111.0
    # rewrite minute 11 and add minutes 12-14
    commit([_minute_row(_ts(m), close=200.0 + m) for m in range(11, 15)])
    end = dt.datetime(2024, 1, 1, 0, 14)
    second = svc.fetch("BTC", "1m=4,5m=3", end_time=end.isoformat())
    for tf, limit in (("1m", 4), ("5m", 3)):
        got = second["timeframes"][tf]
        assert got["plan"]["cache"] == "miss"
        assert json.dumps(got["bars"]) == json.dumps(
            _cold_bars(spark, path, tf, limit, end)
        )
    assert [b["close"] for b in second["timeframes"]["1m"]["bars"]] == [
        211.0, 212.0, 213.0, 214.0,
    ]


def test_table_written_after_a_request_is_served(spark, tmp_path):
    """A table missing at the first request is not remembered as
    missing: written before the second, it is served."""
    from tests.test_pipelines import _minute_frame, _minute_row, _ts

    path = str(tmp_path / "m1")
    svc = PerpetualDataService(spark, {"1m": path})
    out = svc.fetch("BTC", "1m=2", end_time="2024-01-01T00:05:00")
    assert "1m_table_missing" in out["timeframes"]["1m"]["error"]
    _minute_frame(
        spark, [_minute_row(_ts(m), close=100.0 + m) for m in range(6)]
    ).write.parquet(path)
    out = svc.fetch("BTC", "1m=2", end_time="2024-01-01T00:05:00")
    assert [b["close"] for b in out["timeframes"]["1m"]["bars"]] == [104.0, 105.0]


def test_table_read_off_the_local_filesystem_relists_through_hadoop(spark, tmp_path):
    """A table on any other filesystem is listed through the Hadoop
    FileSystem: an unchanged table reuses its frame, and a commit
    changes the listing, so the next frame reads the committed rows."""
    from pyspark.sql import functions as F

    from crypto_datalake_spark.http_api import _TableRead

    path = str(tmp_path / "t")
    rows = lambda n: spark.range(n).withColumn("symbol", F.lit("X"))  # noqa: E731
    rows(3).write.parquet(path)
    read = _TableRead(spark, path)
    read._local = None  # list as a non-local filesystem is listed
    first = read.frame()
    assert read.frame() is first
    rows(5).write.mode("append").parquet(path)
    assert read.frame().count() == 8
