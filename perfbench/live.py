"""``live_lake``: one live lake that is written and served at once.

Set-up bootstraps a seeded multi-symbol minute lake (5.5 days of bars
per symbol) through the ingest path, materializes a 15m serving table
and a transactional 1h table, and starts the HTTP API
(``http_api.serve_background``) over the lake.  The timed part is a
fixed, seed-derived schedule of rounds.  Each round is one ingest tick
followed by 7 requests (``ROUND_PATTERN``) from one closed-loop client;
``--seconds`` sets the number of rounds (``ROUND_SECONDS``).

A tick generates the next ``TICK_MINUTES`` minutes of every symbol and
commits them: ``minute_builder.build_canonical_frame`` per symbol, then
``sinks.upsert_partitioned`` with the write-audit ledger, then
``htf_aggregator.incremental_update(atomic=True)`` on the 1h table, and
every ``COMPACT_EVERY`` ticks ``txn.compact_partitions`` (the current
day's partitions) and ``txn.vacuum``.  The tick ends when the ledger
watermark shows the new minutes, which is the tick's latency.

Requests mix ``/perpetual-data`` (1-2 timeframes, limit 200 or 500) and
``/indicators`` over Zipf-skewed symbols (``WINDOW_SPECS``).  The mix is
a coverage schedule, not a model of real traffic: its shares, spacing
and cache size are chosen so that every reuse tier and planner mode
occurs in two rounds, and the tier counts are the same for every seed.
Each round follows one access pattern: new windows at the watermark
end, one repeated within the cache TTL (exact), and one historical
window asked at an old end, a newer end (partial) and an end between
(superset).  The service's ``now`` and the ``ServingCache`` clock run
on the generator's domain clock, so the hit/miss sequence repeats
exactly for a seed.  The 15m
table is materialized once, so recent windows fail its coverage probe
and fall back to aggregating minutes, while historical 15m windows are
read directly; 3m and 5m are aggregated from minutes and 1m is read
directly: all planner modes occur.  The transactional 1h table is not
served: the API reads plain parquet paths, and a generation-managed
table has no plain-parquet view.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import random
import statistics
import time
import urllib.request
from urllib.parse import parse_qs, urlparse

import numpy as np
import pandas as pd

from perfbench import common
from perfbench.sparkstats import SparkStats
from perfbench.trace import maybe_span, union_seconds

SYMBOLS = ("BTCUSDT", "ETHUSDT", "SOLUSDT")
START_PRICE = (42_000.0, 2_300.0, 100.0)
LAKE_START = dt.datetime(2024, 3, 1)
#: enough for the longest window served: 500 bars of 15m
HISTORY_MINUTES = 7920
TICK_MINUTES = 5
#: each round's windows: timeframes and limits of data windows A, B and
#: H, and the timeframe of indicator window I.  No (timeframe, limit)
#: pair repeats within a run, so no two windows share a cache key
#: whatever symbols the seed draws, and the reuse tiers follow
#: ``ROUND_PATTERN`` alone
WINDOW_SPECS = (
    {"A": "1m=500,5m=500", "B": "15m=500", "H": "3m=200,15m=200", "I": "15m"},
    {"A": "3m=500", "B": "5m=200", "H": "1m=200", "I": "5m"},
)
#: one round's requests: (window, historical end in 15-minute steps back
#: or None for the watermark end).  A is repeated within the cache TTL
#: (exact); H is asked at its oldest end, then a newer one (partial: a
#: head fetch merged with the cached tail), then one between (superset)
ROUND_PATTERN = (
    ("A", None), ("H", 4), ("I", None), ("A", None), ("H", 0), ("B", None),
    ("H", 2),
)
#: historical ends lie this far before the bootstrap's last minute, past
#: the cache's stable age, so their windows stay cached
HIST_BACK_MIN = 120
TIMEFRAMES = ("1m", "3m", "5m", "15m")
#: domain seconds between two requests of a round
REQUEST_SPACING_S = 2.0
#: seconds of ``--seconds`` per round (at least one round is run); a
#: round takes about 15 s on a 4-core host
ROUND_SECONDS = 10.0
COMPACT_EVERY = 1
#: the run is far too short to fill the default 256 entries; the
#: warm-up and two rounds touch 14 keys, so 8 entries force evictions
CACHE_ENTRIES = 8
#: a fixed warm-up, the same for every seed
WARM_UP = (
    "/perpetual-data?symbol=BTCUSDT&timeframes=1m=200,15m=200",
    "/indicators?symbol=ETHUSDT&timeframe=1h&ema=9,21&limit=200",
)
#: windows per run re-served through a cold-cache recompute
SPOT_CHECKS = 3


class MinuteStream:
    """Seeded random-walk minute bars for every symbol."""

    def __init__(self, seed: int) -> None:
        self._rng = np.random.default_rng(seed)
        self._close = np.array(START_PRICE)
        self.next_minute = LAKE_START

    def take(self, minutes: int) -> pd.DataFrame:
        n_sym = len(SYMBOLS)
        rng = self._rng
        ret = rng.normal(0.0, 0.001, (minutes, n_sym))
        close = self._close * np.exp(np.cumsum(ret, axis=0))
        open_ = np.vstack([self._close, close[:-1]])
        wick = np.abs(rng.normal(0.0, 0.0005, (2, minutes, n_sym)))
        high = np.maximum(open_, close) * (1 + wick[0])
        low = np.minimum(open_, close) * (1 - wick[1])
        vol = rng.lognormal(1.0, 0.5, (minutes, n_sym))
        trades = rng.poisson(40, (minutes, n_sym)) + 1
        taker = vol * rng.uniform(0.3, 0.7, (minutes, n_sym))
        self._close = close[-1]
        ts = pd.date_range(self.next_minute, periods=minutes, freq="min")
        self.next_minute = ts[-1].to_pydatetime() + dt.timedelta(minutes=1)
        return pd.DataFrame({
            "symbol": np.tile(SYMBOLS, minutes),
            "timestamp": np.repeat(ts.values, n_sym),
            "open": open_.ravel(), "high": high.ravel(), "low": low.ravel(),
            "close": close.ravel(), "volume_btc": vol.ravel(),
            "volume_usdt": (vol * (open_ + close) / 2).ravel(),
            "trade_count": trades.ravel().astype("int64"),
            "taker_buy_volume": taker.ravel(),
            "max_trade": (vol / trades * 3).ravel(),
        })


class DomainClock:
    """The generator's notion of wall time, advanced by the schedule."""

    def __init__(self, now: dt.datetime) -> None:
        self.now = now

    def datetime(self) -> dt.datetime:
        return self.now

    def epoch(self) -> float:
        return (self.now - dt.datetime(1970, 1, 1)).total_seconds()


def install_tracing(tracer) -> None:
    """Wrap every name the traced run records: (owner, attribute, layer).
    ``fetch`` runs its timeframes on ``http_api.ThreadPoolExecutor``
    workers; their spans are parented to the submitting span."""
    for owner, attr, layer in trace_points():
        tracer.wrap(owner, attr, layer)
    from crypto_datalake_spark import http_api

    tracer.wrap_executor(http_api, "ThreadPoolExecutor")


def trace_points():
    """(owner, attribute, layer) of every function the traced run wraps."""
    from crypto_datalake_spark import http_api, serving_cache, sinks, txn
    from crypto_datalake_spark.pipelines import htf_aggregator, minute_builder

    svc, cache = http_api.PerpetualDataService, serving_cache.ServingCache
    return [
        (svc, "fetch", "http_api.fetch"),
        (svc, "indicators", "http_api.indicators"),
        (http_api, "serve_timeframe", "fetch_planner.serve_timeframe"),
        (http_api, "latest_watermarks", "fetch_planner.watermark"),
        (cache, "get", "serving_cache.get"),
        (cache, "put", "serving_cache.put"),
        (minute_builder, "build_canonical_frame", "pipelines.minute_build"),
        (htf_aggregator, "incremental_update", "pipelines.htf_update"),
        (sinks, "upsert_partitioned", "sinks.upsert"),
        (sinks, "upsert_ledger", "sinks.ledger"),
        (txn, "commit_manifest", "txn.commit"),
        (txn, "compact_partitions", "txn.compact"),
        (txn, "vacuum", "txn.vacuum"),
    ]


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


class Lake:
    """Paths of the live lake and the ingest path that writes it."""

    def __init__(self, root: str) -> None:
        self.minutes = os.path.join(root, "m1")
        self.ledger = os.path.join(root, "m1_ledger")
        self.htf15 = os.path.join(root, "htf15m")
        self.htf1h = os.path.join(root, "htf1h")

    def commit(self, spark, pdf: pd.DataFrame, lookback_min: int) -> None:
        from pyspark.sql import functions as F

        from crypto_datalake_spark import sinks
        from crypto_datalake_spark.pipelines import htf_aggregator, minute_builder

        start = pdf["timestamp"].min()
        end = pdf["timestamp"].max() + pd.Timedelta(minutes=1)
        src = spark.createDataFrame(pdf).withColumn(
            "timestamp", F.col("timestamp").cast("timestamp_ntz")
        )
        frames = []
        for sym in SYMBOLS:
            rows = src.where(F.col("symbol") == sym).drop("symbol")
            sources = {
                "klines": rows.select("timestamp", "open", "high", "low",
                                      "close", "volume_btc", "volume_usdt",
                                      "trade_count"),
                "trades": rows.select("timestamp", "taker_buy_volume",
                                      "max_trade"),
            }
            frames.append(minute_builder.build_canonical_frame(
                spark, sources, str(start), str(end), sym))
        frame = frames[0]
        for f in frames[1:]:
            frame = frame.unionByName(f)
        # an integer day: the API's JSON encoder takes no date values
        frame = frame.withColumn(
            "day", F.date_format("timestamp", "yyyyMMdd").cast("int"))
        sinks.upsert_partitioned(
            spark, frame, self.minutes, keys=["symbol", "timestamp"],
            order_cols=["timestamp"], partition_cols=["symbol", "day"],
            ledger_path=self.ledger,
        )
        # every bucket the repair lookback can reach, whole
        since = end - pd.Timedelta(minutes=lookback_min + 60)
        recent = spark.read.parquet(self.minutes).where(
            F.col("timestamp") >= F.lit(str(since)).cast("timestamp_ntz")
        ).drop("day")
        htf_aggregator.incremental_update(
            spark, recent, self.htf1h, "1h",
            repair_lookback_minutes=lookback_min, atomic=True,
        )

    def watermarks(self, spark) -> dict[str, dt.datetime]:
        from crypto_datalake_spark.functions.fetch_planner import latest_watermarks

        return {r["symbol"]: r["watermark"] for r in
                latest_watermarks(spark, self.ledger, ["symbol"]).collect()}

    def write_files(self) -> dict[str, int]:
        out = {}
        for p in (self.minutes, self.ledger, self.htf1h):
            out.update(_files(p))
        return out


def _zipf_weights(rng: random.Random) -> list[float]:
    ranks = list(range(1, len(SYMBOLS) + 1))
    rng.shuffle(ranks)
    return [1.0 / r ** 1.2 for r in ranks]


def make_requests(seed: int, rounds: int, hist_end: dt.datetime) -> list[list[str]]:
    """The seed's request paths, one list per round.  Round ``r`` replays
    ``ROUND_PATTERN`` over the windows ``WINDOW_SPECS[r % 2]``; the seed
    draws each window's symbol (Zipf-skewed)."""
    rng = random.Random(seed)
    weights = _zipf_weights(rng)
    out = []
    for r in range(rounds):
        windows = {}
        for name, spec in WINDOW_SPECS[r % len(WINDOW_SPECS)].items():
            sym = rng.choices(SYMBOLS, weights)[0]
            if name == "I":
                windows[name] = (f"/indicators?symbol={sym}&timeframe={spec}"
                                 "&ema=9,21&limit=200")
            else:
                windows[name] = f"/perpetual-data?symbol={sym}&timeframes={spec}"
        batch = []
        for name, back in ROUND_PATTERN:
            path = windows[name]
            if back is not None:
                end = hist_end - dt.timedelta(minutes=HIST_BACK_MIN + 15 * back)
                path += f"&end_time={end.isoformat()}"
            batch.append(path)
        out.append(batch)
    return out


def _get(port: int, path: str) -> tuple[int, float, float, dict]:
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}",
                                    timeout=120) as r:
            body, code = r.read(), r.status
            server = float(r.headers["X-Response-Time-Secs"])
    except urllib.error.HTTPError as e:
        body, code = e.read(), e.code
        server = float(e.headers.get("X-Response-Time-Secs", "nan"))
    except OSError as e:  # dropped connection: a failed request
        return 0, time.perf_counter() - t0, float("nan"), {"error": repr(e)}
    return code, time.perf_counter() - t0, server, json.loads(body)


def _plan_kind(plan: dict) -> str:
    """fetch_planner mode of one computed timeframe result."""
    from crypto_datalake_spark.functions.fetch_planner import (
        MODE_AGGREGATE, MODE_DIRECT, MODE_DIRECT_1M)

    mode = plan.get("mode")
    if mode == MODE_AGGREGATE:
        partial = "htf_local_lake_partial_window" in plan.get("notes", [])
        return "fallback" if partial else "aggregate"
    return {MODE_DIRECT: "direct", MODE_DIRECT_1M: "direct_1m"}.get(mode, "cache")


def _recompute(spark, lake: Lake, symbol, tf, limit, end) -> list[dict]:
    """A cold-cache serve of one window straight through the planner."""
    from pyspark.sql import functions as F

    from crypto_datalake_spark.functions.fetch_planner import serve_timeframe
    from crypto_datalake_spark.http_api import _jsonable

    paths = {"1m": lake.minutes, "15m": lake.htf15}

    def load(t):
        return spark.read.parquet(paths[t]).where(F.col("symbol") == symbol)

    bars, plan = serve_timeframe(tf, limit, load, set(paths), end_time=end)
    ts = "timestamp" if plan.mode == "direct_1m" else "bucket_ts"
    return sorted(({k: _jsonable(v) for k, v in r.asDict().items()}
                   for r in bars.collect()), key=lambda d: d[ts])


def run(seed: int, seconds: float, tracer, run_dir: str) -> dict:
    from pyspark.sql import functions as F

    from crypto_datalake_spark import http_api, txn
    from crypto_datalake_spark.pipelines.serving import aggregate_canonical_frame
    from crypto_datalake_spark.serving_cache import ServingCache

    t_setup = time.perf_counter()
    t = time.perf_counter()
    spark = common.start_session()
    start_s = time.perf_counter() - t

    # bootstrap: the lake's history through the same ingest path
    t = time.perf_counter()
    lake = Lake(os.path.join(run_dir, "lake"))
    stream = MinuteStream(seed)
    lake.commit(spark, stream.take(HISTORY_MINUTES), TICK_MINUTES + 60)
    aggregate_canonical_frame(
        spark.read.parquet(lake.minutes).drop("day"), "15m"
    ).write.parquet(lake.htf15)
    hist_end = stream.next_minute - dt.timedelta(minutes=1)
    clock = DomainClock(hist_end + dt.timedelta(seconds=62))
    cache = ServingCache(max_entries=CACHE_ENTRIES, clock=clock.epoch)
    svc = http_api.PerpetualDataService(
        spark, {"1m": lake.minutes, "15m": lake.htf15},
        ledger_path=lake.ledger, cache=cache, now=clock.datetime,
    )
    srv, thread = http_api.serve_background(svc)
    port = srv.server_address[1]
    rounds = max(1, int(seconds // ROUND_SECONDS))
    schedule = make_requests(seed, rounds, hist_end)
    # warm-up on the bootstrap lake: plans, codegen, worker threads
    for path in WARM_UP:
        _get(port, path)
    warm_s = time.perf_counter() - t
    tiers0 = dataclasses.asdict(cache.stats)
    setup_s = time.perf_counter() - t_setup

    if tracer is not None:
        tracer.reset()
    stats = SparkStats(spark)
    first_job = stats.max_job_id()
    sc = spark.sparkContext
    files = lake.write_files()
    written = {"files": 0, "bytes": 0, "rows": 0}
    ticks, requests, failures, checks = [], [], [], []
    compaction = {"s": 0.0, "bytes": 0, "runs": 0}
    manifest_v0 = txn.current_manifest(spark, lake.htf1h)["version"]
    samples = {}
    t_run = time.perf_counter()
    wall_run = time.time()
    for r, batch in enumerate(schedule):
        pdf = stream.take(TICK_MINUTES)
        want = pdf["timestamp"].max().to_pydatetime()
        t0 = time.perf_counter()
        sc.setJobGroup(f"tick{r}", "ingest tick")
        try:
            with maybe_span(tracer, "client.tick"):
                marks, comp_s, comp_bytes = _tick(
                    spark, lake, pdf, (r + 1) % COMPACT_EVERY == 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if comp_s is not None:
            compaction["s"] += comp_s
            compaction["bytes"] += comp_bytes
            compaction["runs"] += 1
        ticks.append(time.perf_counter() - t0)
        bad = {s: str(m) for s, m in marks.items() if m != want}
        if bad or set(marks) != set(SYMBOLS):
            failures.append({"tick": r, "want": str(want), "got": bad})
        now_files = lake.write_files()
        new = {p: s for p, s in now_files.items() if files.get(p) != s}
        written["files"] += len(new)
        written["bytes"] += sum(new.values())
        written["rows"] += len(pdf)
        files = now_files

        clock.now = want + dt.timedelta(seconds=62)
        for path in batch:
            clock.now += dt.timedelta(seconds=REQUEST_SPACING_S)
            with maybe_span(tracer, "client.request"):
                code, rtt, server, body = _get(port, path)
            requests.append({"path": path, "code": code, "rtt_s": rtt,
                             "server_s": server, "round": r,
                             "plans": _plans(body)})
            if code != 200:
                failures.append({"request": path, "code": code, "body": body})
            elif path.startswith("/perpetual-data"):
                samples[len(requests) - 1] = body
    run_wall = time.perf_counter() - t_run
    wall_end = time.time()

    jobs = stats.jobs_after(first_job)
    cost = stats.cost([j for j, _ in jobs])
    request_jobs = [j for j, g in jobs if g is None]
    covered = union_seconds(stats.job_intervals([j for j, _ in jobs]),
                            wall_run, wall_end)
    commits = txn.current_manifest(spark, lake.htf1h)["version"] - manifest_v0

    # checks outside the timed region: responses vs cold recomputes
    rng = random.Random(seed + 2)
    for idx, tf, tier in _pick_windows(rng, samples):
        body, path = samples[idx], requests[idx]["path"]
        limits = dict(kv.split("=") for kv in parse_qs(
            urlparse(path).query)["timeframes"][0].split(","))
        want_bars = _recompute(
            spark, lake, body["symbol"], tf, int(limits[tf]),
            dt.datetime.fromisoformat(body["end_time"]))
        # compared as JSON text: NaN never equals itself
        ok = json.dumps(want_bars) == json.dumps(body["timeframes"][tf]["bars"])
        checks.append({"request": path, "tf": tf, "tier": tier, "ok": ok})
    lake_files = _files(lake.minutes)
    lake_rows = spark.read.parquet(lake.minutes).count()
    htf = txn.read_table(spark, lake.htf1h).where(F.col("bucket_complete"))
    htf_rows = htf.count()
    first_hour = htf.agg(F.min("bucket_start")).head()[0]
    expected_htf = (
        spark.read.parquet(lake.minutes)
        .where(F.col("timestamp") >= F.lit(first_hour))
        .groupBy("symbol", F.date_trunc("hour", "timestamp"))
        .count().where(F.col("count") == 60).count()
    )
    srv.shutdown()
    srv.server_close()
    thread.join(timeout=30)
    common.stop_session(spark)

    tiers = {k: v - tiers0[k] for k, v in dataclasses.asdict(cache.stats).items()}
    computed = [k for q in requests for k in q["plans"] if k != "cache"]
    rtts = [q["rtt_s"] for q in requests]
    pct, tail_s = common.tail(rtts)
    tick_pct, tick_tail = common.tail(ticks)
    hits = tiers["exact"] + tiers["superset"] + tiers["partial"]
    lookups = hits + tiers["miss"]
    if htf_rows != expected_htf:
        failures.append({"htf_1h_rows": htf_rows, "expected": expected_htf})
    layers = {
        "session.start_s": start_s,
        "session.warm_pass_s": warm_s,
        **{f"spark.{k}": v for k, v in cost.items()},
        "spark.driver_only_s": run_wall - covered,
        **{f"serving_cache.{k}": v for k, v in tiers.items()},
        "serving_cache.reuse_ratio": hits / lookups if lookups else 0.0,
        **{f"fetch_planner.{k}": computed.count(k)
           for k in ("direct", "aggregate", "direct_1m", "fallback")},
        "spark.jobs_per_miss": len(request_jobs) / max(1, len(computed)),
        "sinks.files_written": written["files"],
        "sinks.bytes_written_per_row": written["bytes"] / written["rows"],
        "lake.files": len(lake_files),
        "lake.bytes_per_row": sum(lake_files.values()) / lake_rows,
        "txn.commits": commits,
        "txn.bytes_rewritten": compaction["bytes"],
    }
    server = [q["server_s"] for q in requests if q["code"] == 200]
    return {
        "attempted": len(requests) + len(ticks) + len(checks),
        "failed": len(failures) + sum(1 for c in checks if not c["ok"]),
        "end_to_end": {
            "setup_s": setup_s,
            "round_s": statistics.median(ticks),
            "op_p50_s": statistics.median(rtts),
        },
        "extra_end_to_end": {"op_tail_s": tail_s, "tick_tail_s": tick_tail,
                             "requests_per_s": len(rtts) / sum(rtts)},
        "layers": layers,
        "detail": {
            "rounds": rounds,
            "request_tail_percentile": pct,
            "tick_tail_percentile": tick_pct,
            "http_api.server_s_p50": statistics.median(server),
            "http_api.transport_s_p50": statistics.median(
                q["rtt_s"] - q["server_s"] for q in requests
                if q["code"] == 200),
            "fetch_planner.serve_s_p50": statistics.median(
                q["server_s"] for q in requests if q["plans"]
                and all(k != "cache" for k in q["plans"])) if computed else None,
            "txn.compaction_s": compaction["s"],
            "txn.compactions": compaction["runs"],
            "ticks_s": ticks,
            "requests": requests,
            "checks": checks,
            "failures": failures,
        },
    }


def _tick(spark, lake: Lake, pdf, compact: bool):
    """Commit one tick and read the watermarks back.  Returns
    (watermark per symbol, compaction seconds or None, bytes compaction
    wrote)."""
    from crypto_datalake_spark import txn

    lake.commit(spark, pdf, TICK_MINUTES + 60)
    comp_s = comp_bytes = None
    if compact:
        day = pdf["timestamp"].max()
        suffix = f"/year={day.year}/month={day.month}/day={day.day}"
        before = _files(lake.htf1h)
        t0 = time.perf_counter()
        parts = txn.current_manifest(spark, lake.htf1h)["partitions"]
        txn.compact_partitions(spark, lake.htf1h, partition_paths=[
            p for p in parts if p.endswith(suffix)])
        txn.vacuum(spark, lake.htf1h)
        comp_s = time.perf_counter() - t0
        comp_bytes = sum(s for p, s in _files(lake.htf1h).items()
                         if p not in before)
    return lake.watermarks(spark), comp_s, comp_bytes


def _plans(body: dict) -> list[str]:
    if "timeframes" in body:
        return [_plan_kind(v.get("plan", {})) for v in body["timeframes"].values()]
    if "plan" in body:
        return [_plan_kind(body["plan"])]
    return []


def _pick_windows(rng, samples: dict):
    """SPOT_CHECKS (request index, timeframe, cache tier) windows: one
    per reuse tier first, so a fault in a merge path cannot hide, then
    cold misses."""
    by_tier: dict[str, list] = {}
    for idx in sorted(samples):
        for tf, res in samples[idx]["timeframes"].items():
            tier = res["plan"].get("cache", "miss")
            by_tier.setdefault(tier, []).append((idx, tf, tier))
    picked = []
    for tier in ("partial", "superset", "exact", "miss"):
        if by_tier.get(tier) and len(picked) < SPOT_CHECKS:
            picked.append(rng.choice(by_tier[tier]))
    return picked
