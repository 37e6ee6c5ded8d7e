"""Runnable HTTP serving surface: the engine-side analogue of the
reference's API service (live_data_api_service/app.py:194-222 route →
service.fetch_perpetual_data, service.py:2080-2197), on the stdlib
``http.server`` only — the container ships no web framework, and the
serving layer needs none: every piece of the request flow already
exists as a tested engine component, this module just composes them.

Request flow (reference stage → engine component):

1. parse    — per-tf inline limits + aliases (timeframes.py:70-104) →
              ``functions.timeframes.parse_timeframe_requests``;
              symbol normalization → ``normalize_symbol``.
2. end time — ISO parse → floor to minute → clamp to the local
              watermark within tolerance (service.py:944-966) →
              ``functions.fetch_planner.resolve_end_time`` over
              ``latest_watermarks`` (the write-audit ledger) or the 1m
              lake's max timestamp.
3. plan     — direct HTF table vs aggregate-from-1m vs unavailable
              (capabilities.py:48-95) → ``plan_timeframe_fetch``.
4. execute  — per timeframe CONCURRENTLY (service.py:2174-2182's
              thread-per-timeframe) → ``serve_timeframe`` (coverage
              probe + 1m-aggregation fallback), Spark actions are
              thread-safe and the local scheduler interleaves jobs.
5. cache    — TTL'd LRU with exact/superset/partial hits and
              single-flight in-flight dedup (service.py:348-550) →
              ``serving_cache.ServingCache``.

Scale note: the HTTP layer is driver-side glue around bounded results.
Every response is ≤ limit bars per timeframe: the per-symbol tail inside
``serve_timeframe`` does the bounding IN the plan, so a request never
collects an unbounded frame to the driver, and the coverage probe counts
that collected tail on the driver.  ``/indicators`` computes its EMAs
and pivots on the driver over ≤ limit + warmup bars (≤ 2,000: limit and
EMA length are both capped at ``MAX_LIMIT``).  A table's
``spark.read.parquet`` frame is reused for as long as its file listing
is unchanged, so only the first miss after a commit pays the read's
schema-inference job.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from crypto_datalake_spark.functions.fetch_planner import (
    FetchPlannerConfig,
    latest_watermarks,
    resolve_end_time,
    serve_timeframe,
)
from crypto_datalake_spark.functions.timeframes import (
    DEFAULT_LIMIT,
    MAX_LIMIT,
    normalize_symbol,
    parse_timeframe_requests,
)
from crypto_datalake_spark.serving_cache import ServingCache

_EPOCH = dt.datetime(1970, 1, 1)


def _to_epoch(ts: dt.datetime) -> float:
    return (ts - _EPOCH).total_seconds()


def _jsonable(v):
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, Decimal):
        return float(v)
    return v


class _TableRead:
    """One lake table's ``spark.read.parquet`` frame, reused while the
    table's file listing — (path, length, modification time) of every
    file under it, hidden ones included — is unchanged.  A read costs a
    schema-inference job; any change to the listing reads again, and a
    table not written yet is never cached.

    A table on the local filesystem is listed with ``os.scandir``, which
    takes under a millisecond where the Hadoop ``listFiles`` (block
    locations, several py4j round trips per file) took 0.15–0.6 s for
    an 18-file minute table on a 4-core host.  Any other filesystem is
    listed through the Hadoop ``FileSystem``."""

    def __init__(self, spark, path: str) -> None:
        self._spark = spark
        self._path = path
        root = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
        self._fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        self._root = self._fs.makeQualified(root)
        self._local = (
            self._root.toUri().getPath() if self._fs.getScheme() == "file" else None
        )
        # (listing, frame); replaced whole, so a racing reader sees
        # either pair, and a lost update costs one more read
        self._cached: tuple[frozenset, object] | None = None

    def frame(self):
        """The table's frame, or None when it is not written yet."""
        from pyspark.errors import AnalysisException

        from crypto_datalake_spark.sinks import is_missing_target_error

        # listed BEFORE the read: a write landing between the two leaves
        # the frame newer than its listing, so the next call re-reads
        listing = self._listing()
        cached = self._cached
        if listing is not None and cached is not None and cached[0] == listing:
            return cached[1]
        try:
            df = self._spark.read.parquet(self._path)
        except AnalysisException as e:
            # ONLY a not-yet-written store reads as "table absent";
            # transient storage errors / corrupt footers must fail the
            # request, not silently degrade the plan (the corpus_ingest
            # _read_store discipline)
            if is_missing_target_error(e):
                return None
            raise
        if listing is not None:
            self._cached = (listing, df)
        return df

    def _listing(self) -> frozenset | None:
        """The file listing, or None when there is none to key a read
        on: the table does not exist, a local table is a single file,
        or a file vanished while it was listed (a concurrent commit)."""
        from py4j.protocol import Py4JJavaError

        files = set()
        try:
            if self._local is not None:
                dirs = [self._local]
                while dirs:
                    with os.scandir(dirs.pop()) as it:
                        for e in it:
                            if e.is_dir(follow_symlinks=False):
                                dirs.append(e.path)
                            else:
                                st = e.stat()
                                files.add((e.path, st.st_size, st.st_mtime_ns))
            else:
                it = self._fs.listFiles(self._root, True)
                while it.hasNext():
                    st = it.next()
                    files.add(
                        (st.getPath().toString(), st.getLen(), st.getModificationTime())
                    )
        except (OSError, Py4JJavaError):
            return None
        return frozenset(files)


class RequestError(ValueError):
    """Client-side validation failure → HTTP 400 (the FastAPI 422/400
    analogue)."""


class PerpetualDataService:
    """The engine behind the endpoint: composes planner + lake reads +
    cache for one (symbol, timeframes, limit, end_time) request.

    ``tables``: timeframe token → parquet path (the materialized lake;
    must include "1m" for any aggregate/coverage fallback to exist).
    ``ledger_path``: optional write-audit ledger — when present the
    watermark clamp reads committed per-symbol high-water marks from it
    (functions.fetch_planner.latest_watermarks); otherwise the 1m
    lake's max timestamp stands in.
    """

    def __init__(
        self,
        spark,
        tables: dict[str, str],
        ledger_path: str | None = None,
        config: FetchPlannerConfig = FetchPlannerConfig(),
        cache: ServingCache | None = None,
        now=dt.datetime.utcnow,
        watermark_tolerance_minutes: int = 3,
    ) -> None:
        self._spark = spark
        self._tables = dict(tables)
        self._ledger_path = ledger_path
        self._config = config
        self._cache = cache if cache is not None else ServingCache()
        self._now = now
        self._tol = watermark_tolerance_minutes
        self._reads = {tf: _TableRead(spark, p) for tf, p in self._tables.items()}

    # ------------------------------------------------------------ lake

    def _load_table(self, tf: str, symbol: str):
        """The table's rows for ``symbol``, or None when the table is not
        configured or not written yet."""
        from pyspark.sql import functions as F

        read = self._reads.get(tf)
        df = None if read is None else read.frame()
        return None if df is None else df.where(F.col("symbol") == symbol)

    # ------------------------------------------------ cache semantics

    @staticmethod
    def _row_lag(tf: str, mode: str) -> float | None:
        """End-sensitivity of computed rows, recorded on the cache entry
        (serving_cache._Entry.bar_close_lag): complete-only AGGREGATED
        buckets exist relative to the window end — a bucket complete at
        the cached end may not exist in a fresh compute at an older end
        — so they carry (tf_minutes-1)*60; point bars and materialized
        bucket reads carry 0; gridless calendar buckets disable
        sub-window serves entirely (None)."""
        from crypto_datalake_spark.functions.fetch_planner import (
            MODE_AGGREGATE,
        )
        from crypto_datalake_spark.ops.time import TIMEFRAME_MINUTES

        if mode != MODE_AGGREGATE:
            return 0.0
        tf_min = TIMEFRAME_MINUTES.get(tf)
        return None if tf_min is None else (tf_min - 1) * 60.0

    def _anchor_span(self, tf: str, limit: int) -> float | None:
        """Sub-window serves for a planner-DIRECT timeframe must honor
        the coverage probe's anchored window (a tail reaching further
        back than limit·tf means a fresh compute would have fallen back
        to 1m aggregation); aggregate/1m computes have no probe."""
        from crypto_datalake_spark.functions.fetch_planner import (
            MODE_DIRECT,
            plan_timeframe_fetch,
        )
        from crypto_datalake_spark.ops.time import TIMEFRAME_MINUTES

        plan = plan_timeframe_fetch(tf, set(self._tables), self._config)
        if plan.mode != MODE_DIRECT:
            return None
        tf_min = TIMEFRAME_MINUTES.get(tf)
        return None if tf_min is None else limit * tf_min * 60.0

    def _compute_window(self, sym, tf, limit, end, end_epoch, key):
        """One window compute: serve_timeframe → sorted JSON dicts →
        cache put (epoch-keyed, lag-tagged).  The single shared body
        behind the data endpoint's cold/degrade paths and the indicator
        endpoint's bar load.  Returns (dicts, plan, ts_col)."""
        bars, plan = serve_timeframe(
            tf,
            limit,
            lambda t: self._load_table(t, sym),
            set(self._tables),
            self._config,
            end_time=end,
        )
        ts_col = "timestamp" if plan.mode == "direct_1m" else "bucket_ts"
        out = sorted(
            (
                {k: _jsonable(v) for k, v in r.asDict().items()}
                for r in bars.collect()
            ),
            key=lambda d: d[ts_col],
        )
        self._cache.put(
            key,
            end_epoch,
            [
                (_to_epoch(dt.datetime.fromisoformat(d[ts_col])), d)
                for d in out
            ],
            bar_close_lag=self._row_lag(tf, plan.mode),
        )
        return out, plan, ts_col

    def _cached_window(
        self, sym, tf, limit, end, end_epoch, key
    ) -> tuple[list[dict], dict]:
        """Cache-backed bar window, all reuse tiers: exact/superset hit;
        else, under the single-flight lock, a PARTIAL hit fetches only
        the missing newer head (sized on the tf grid from the last
        cached bar, +1 for a bucket that closed since; reference
        service.py:358-474 third tier) and serves the keep-last merge;
        else a full compute through :meth:`_compute_window`.  A head
        merge that comes up short degrades to the full fetch — and is
        reported as a miss, not reuse.  Returns (row dicts ascending by
        time, plan-info dict)."""
        anchor = self._anchor_span(tf, limit)
        kind, cached = self._cache.get(
            key, end_epoch, limit, anchor_span=anchor
        )
        if kind in ("exact", "superset"):
            return [d for _, d in cached], {"mode": "cache", "cache": kind}
        with self._cache.single_flight(key):
            kind, cached = self._cache.get(
                key, end_epoch, limit, anchor_span=anchor
            )
            if kind in ("exact", "superset"):
                return (
                    [d for _, d in cached],
                    {"mode": "cache", "cache": kind},
                )
            fetch_limit = limit
            if kind == "partial" and cached:
                from crypto_datalake_spark.ops.time import TIMEFRAME_MINUTES

                tf_min = TIMEFRAME_MINUTES.get(tf)
                if tf_min:
                    gap_bars = int(
                        (end_epoch - cached[-1][0]) // (60.0 * tf_min)
                    )
                    if 0 <= gap_bars + 1 < limit:
                        fetch_limit = gap_bars + 1
            out, plan, _ = self._compute_window(
                sym, tf, fetch_limit, end, end_epoch, key
            )
            if fetch_limit < limit:
                kind2, merged = self._cache.get(
                    key, end_epoch, limit, anchor_span=anchor
                )
                if kind2 in ("exact", "superset"):
                    return [d for _, d in merged], {
                        **asdict(plan),
                        "cache": "partial",
                        "head_bars_fetched": fetch_limit,
                    }
                out, plan, _ = self._compute_window(
                    sym, tf, limit, end, end_epoch, key
                )
                return out, {**asdict(plan), "cache": "miss"}
            return out, {
                **asdict(plan),
                "cache": "miss" if kind == "partial" else kind,
            }

    def _watermark(self, symbol: str):
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        from crypto_datalake_spark.sinks import is_missing_target_error

        if self._ledger_path is not None:
            try:
                # a local frame: collecting it runs no Spark job
                marks = latest_watermarks(
                    self._spark, self._ledger_path, ["symbol"]
                ).collect()
            except AnalysisException as e:
                # a ledger not written yet holds no watermark
                if is_missing_target_error(e):
                    return None
                raise
            return next((r["watermark"] for r in marks if r["symbol"] == symbol), None)
        base = self._load_table("1m", symbol)
        if base is None:
            return None
        return base.agg(F.max("timestamp")).collect()[0][0]

    def _resolve_request_end(
        self, sym: str, end_time: str | None
    ) -> tuple[dt.datetime, bool]:
        """ISO-parse + minute-floor an optional explicit end, then
        resolve it against the watermark.  An explicit end_time wins
        unconditionally (resolve_end_time ignores the watermark then) —
        don't pay one or two Spark collect() jobs per request just to
        discard the result; the reference consults the watermark only
        when end_time is omitted.  The single shared end-time block for
        every route (bad input → RequestError/400)."""
        requested_end = None
        if end_time:
            try:
                requested_end = dt.datetime.fromisoformat(end_time).replace(
                    second=0, microsecond=0, tzinfo=None
                )
            except ValueError as e:
                raise RequestError(f"bad end_time: {end_time!r}") from e
        return resolve_end_time(
            requested_end,
            None if requested_end is not None else self._watermark(sym),
            self._now(),
            self._tol,
        )

    # --------------------------------------------------------- request

    def fetch(
        self,
        symbol: str,
        timeframes: str,
        default_limit: int = DEFAULT_LIMIT,
        end_time: str | None = None,
    ) -> dict:
        try:
            sym = normalize_symbol(symbol)
            reqs = parse_timeframe_requests(
                timeframes, default_limit=default_limit, max_limit=MAX_LIMIT
            )
        except ValueError as e:
            raise RequestError(str(e)) from e
        end, from_watermark = self._resolve_request_end(sym, end_time)

        def one(req) -> tuple[str, dict]:
            # cache windows clip INCLUSIVELY (r[0] <= end), matching
            # serve_timeframe's ts <= end_time — the default watermark
            # path ends exactly on the last committed (closed) bar, so
            # a hit returns precisely what a recompute would; all reuse
            # tiers (exact / superset / head-only partial) live in
            # _cached_window, shared with the indicator routes
            key = (sym, req.timeframe, req.limit)
            try:
                dicts, plan_info = self._cached_window(
                    sym, req.timeframe, req.limit, end, _to_epoch(end), key
                )
            except ValueError as e:
                return req.timeframe, {"error": str(e)}
            return req.timeframe, {"bars": dicts, "plan": plan_info}

        # thread-per-timeframe (the reference's executor shape); Spark
        # actions are thread-safe and jobs interleave on local[n]
        with ThreadPoolExecutor(max_workers=max(1, len(reqs))) as ex:
            results = dict(ex.map(one, reqs))
        return {
            "symbol": sym,
            "end_time": end.isoformat(sep=" "),
            "end_time_from_watermark": bool(from_watermark),
            "timeframes": results,
        }


    # ------------------------------------------------- indicators

    def indicators(
        self,
        symbol: str,
        timeframe: str,
        ema_lengths: str = "",
        limit: int = DEFAULT_LIMIT,
        end_time: str | None = None,
        pivots: bool = True,
    ) -> dict:
        """The reference's indicator endpoints (live_indicators/):
        TradingView-seeded EMAs plus traditional pivots over the SAME
        served bars the data endpoint returns.  The window is extended
        by the EMA warmup (functions.ema.warmup_bars — U3 history
        sizing) so the first emitted bar already carries stable EMAs,
        then tailed back to ``limit``.  Both are computed on the driver
        over the served bars, with the fold and arithmetic of the
        registry's operators (``functions.ema.ema_by_group``,
        ``functions.pivots.traditional_pivots``): the same keys, values
        and NULL propagation, and no Spark job once the bars are
        cached."""
        from crypto_datalake_spark.functions.ema import _ema_series, warmup_bars
        from crypto_datalake_spark.functions.pivots import pivot_levels
        from crypto_datalake_spark.functions.timeframes import (
            normalize_timeframe,
        )

        try:
            sym = normalize_symbol(symbol)
            tf = normalize_timeframe(timeframe)
            lengths = sorted(
                {int(x) for x in ema_lengths.split(",") if x.strip()}
            )
            if any(n < 2 or n > 500 for n in lengths):
                raise ValueError(f"ema lengths out of [2,500]: {lengths}")
            limit = max(1, min(int(limit), MAX_LIMIT))
        except ValueError as e:
            raise RequestError(str(e)) from e
        end, from_watermark = self._resolve_request_end(sym, end_time)
        warm = max((warmup_bars(n) for n in lengths), default=0)
        # SHARED bar cache with the data endpoint (the reference's
        # shared_bar_cache, live_indicators/service.py:134-169): the
        # cached representation is identical to fetch()'s — full
        # JSON-able row dicts keyed by bar epoch under (sym, tf, limit)
        # — so a window served for /perpetual-data is reused here and
        # vice versa; indicators themselves recompute per request over
        # the (bounded, driver-side) cached bars
        key = (sym, tf, limit + warm)
        end_epoch = _to_epoch(end)

        try:
            dicts, plan_info = self._cached_window(
                sym, tf, limit + warm, end, end_epoch, key
            )
        except ValueError as e:
            raise RequestError(str(e)) from e
        if lengths:
            # reference live_indicators/service.py:174-186: an EMA(n)
            # over fewer than n completed bars is an error, not a null
            # column
            need = max(lengths)
            if len(dicts) < need:
                raise RequestError(
                    f"not enough completed {tf} bars to calculate "
                    f"EMA({need}): need at least {need} completed bars, "
                    f"have {len(dicts)}"
                )
        base = {
            "symbol": sym,
            "timeframe": tf,
            "end_time": end.isoformat(sep=" "),
            "end_time_from_watermark": bool(from_watermark),
            "plan": plan_info,
            "warmup_bars": warm,
        }
        if not dicts:
            return {**base, "bars": []}
        ts_col = "timestamp" if "timestamp" in dicts[0] else "bucket_ts"
        # the ≤ limit+warmup bars are already on the driver: the EMA fold
        # and the pivot arithmetic of ema_by_group / traditional_pivots
        # run here on them, with no Spark job
        fnum = lambda v: None if v is None else float(v)  # noqa: E731
        ohlc = [
            {k: fnum(d[k]) for k in ("open", "high", "low", "close")}
            for d in dicts
        ]
        emas = [_ema_series([b["close"] for b in ohlc], n) for n in lengths]
        rows = []
        for i, (d, b) in enumerate(zip(dicts, ohlc)):
            row = {"symbol": d["symbol"], ts_col: d[ts_col], **b}
            row.update((f"ema_{n}", e[i]) for n, e in zip(lengths, emas))
            if pivots:
                prev = ohlc[i - 1] if i else {}
                row.update(zip(
                    ("pivot", "r1", "s1", "r2", "s2"),
                    pivot_levels(prev.get("high"), prev.get("low"), prev.get("close")),
                ))
            rows.append(row)
        return {**base, "bars": rows[-limit:]}


    # -------------------------------------------- live indicators

    def live_indicators(
        self,
        symbol: str,
        ema_tf: str,
        ema_length: int,
        pivot_tf: str,
        end_time: str | None = None,
    ) -> dict:
        """The reference's current-value indicator endpoint
        (app.py:224-249 → live_indicators/service.py:32-231): ONE
        TradingView EMA over ``ema_tf`` plus ONE traditional pivot set
        anchored to the PREVIOUS full ``pivot_tf`` period — independent
        timeframes, the two arms computed concurrently over the shared
        bar cache.  Distinct from :meth:`indicators`, which returns a
        per-bar series on a single timeframe."""
        from crypto_datalake_spark.functions.ema import (
            _ema_series,
            warmup_bars,
        )
        from crypto_datalake_spark.functions.pivots import pivot_levels
        from crypto_datalake_spark.functions.timeframes import (
            normalize_timeframe,
        )

        try:
            sym = normalize_symbol(symbol)
            etf = normalize_timeframe(ema_tf)
            ptf = normalize_timeframe(pivot_tf)
            n = int(ema_length)
            if n < 1:
                raise ValueError("ema_length must be at least 1")
            if n > MAX_LIMIT:
                # one request must not demand an unbounded bar window:
                # warmup is 3n+1 bars, and the module's contract is that
                # every response is bounded driver-side (the /indicators
                # route enforces the same ceiling)
                raise ValueError(
                    f"ema_length above the {MAX_LIMIT} ceiling: {n}"
                )
        except ValueError as e:
            raise RequestError(str(e)) from e
        end, from_watermark = self._resolve_request_end(sym, end_time)
        warm = warmup_bars(n)

        def ema_arm():
            limit = warm + 1
            key = (sym, etf, limit)
            try:
                dicts, plan_info = self._cached_window(
                    sym, etf, limit, end, _to_epoch(end), key
                )
            except ValueError as e:  # unavailable timeframe etc. → 400
                raise RequestError(str(e)) from e
            # the reference drops price-incomplete bars before counting
            bars = [d for d in dicts if d.get("close") is not None]
            if len(bars) < n:
                raise RequestError(
                    f"Not enough completed {etf} bars to calculate "
                    f"EMA({n}). Need at least {n} completed bars."
                )
            series = _ema_series([float(d["close"]) for d in bars], n)
            if series[-1] is None:
                raise RequestError(
                    f"Not enough completed {etf} bars to calculate "
                    f"EMA({n}). Need at least {n} completed bars."
                )
            ts_col = "timestamp" if "timestamp" in bars[-1] else "bucket_ts"
            return {
                "timeframe": etf,
                "length": n,
                "warmup_bars_requested": warm,
                "bars_used": len(bars),
                "bar_timestamp": bars[-1][ts_col],
                "bar_close": float(bars[-1]["close"]),
                "value": series[-1],
                "metadata": plan_info,
            }

        def pivot_arm():
            period_start = _floor_period(end, ptf)
            reference_end = period_start - dt.timedelta(minutes=1)
            key = (sym, ptf, 1)
            try:
                dicts, plan_info = self._cached_window(
                    sym, ptf, 1, reference_end, _to_epoch(reference_end), key
                )
            except ValueError as e:  # unavailable timeframe etc. → 400
                raise RequestError(str(e)) from e
            bars = [
                d
                for d in dicts
                if all(d.get(c) is not None for c in ("high", "low", "close"))
            ]
            if not bars:
                raise RequestError(
                    f"Not enough completed {ptf} bars to calculate "
                    "traditional pivots."
                )
            bar = bars[-1]
            h, lo, c = (float(bar[k]) for k in ("high", "low", "close"))
            p, r1, s1, r2, s2 = pivot_levels(h, lo, c)
            ts_col = "timestamp" if "timestamp" in bar else "bucket_ts"
            return {
                "type": "traditional",
                "timeframe": ptf,
                "reference_timestamp": bar[ts_col],
                "reference_ohlc": {
                    "open": None if bar.get("open") is None else float(bar["open"]),
                    "high": h,
                    "low": lo,
                    "close": c,
                },
                "metadata": plan_info,
                "p": p,
                "r1": r1,
                "r2": r2,
                "s1": s1,
                "s2": s2,
            }

        # both arms concurrently, like the reference's executor pair
        with ThreadPoolExecutor(max_workers=2) as ex:
            ema_f = ex.submit(ema_arm)
            piv_f = ex.submit(pivot_arm)
            ema = ema_f.result()
            pivots = piv_f.result()
        return {
            "symbol": sym,
            "end_time": end.isoformat(sep=" "),
            "end_time_from_watermark": bool(from_watermark),
            "ema": ema,
            "pivots": pivots,
        }


def _floor_period(ts: dt.datetime, tf: str) -> dt.datetime:
    """Driver-side twin of ops.time.timeframe_floor: epoch-anchored
    minute grid for fixed timeframes, Monday week / first-of-month for
    the calendar ones — the pivot arm anchors on the PREVIOUS full
    period (reference service.py:56-58)."""
    from crypto_datalake_spark.ops.time import TIMEFRAME_MINUTES

    m = TIMEFRAME_MINUTES.get(tf)
    if m:
        mins = int((ts - _EPOCH).total_seconds() // 60)
        return _EPOCH + dt.timedelta(minutes=(mins // m) * m)
    if tf == "1w":
        d0 = ts.date() - dt.timedelta(days=ts.weekday())
        return dt.datetime(d0.year, d0.month, d0.day)
    if tf == "1M":
        return dt.datetime(ts.year, ts.month, 1)
    raise RequestError(f"unsupported pivot timeframe: {tf}")


# ------------------------------------------------------------- server


class _Handler(BaseHTTPRequestHandler):
    service: PerpetualDataService  # injected by make_server

    def log_message(self, *a):  # tests don't want stderr chatter
        pass

    def _reply(self, code: int, payload: dict, timed: bool = True) -> None:
        # the reference's response-time middleware (app.py:172-188):
        # every response carries X-Response-Time-Secs, successful API
        # payloads additionally embed response_time_secs.  ``timed`` is
        # an explicit caller decision (health probes opt out) — sniffing
        # the payload for sentinel keys would silently misfire the day a
        # successful API payload carries one
        import time as _time

        elapsed = _time.perf_counter() - getattr(
            self, "_started_at", _time.perf_counter()
        )
        if timed and code == 200 and isinstance(payload, dict):
            payload = {**payload, "response_time_secs": elapsed}
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("X-Response-Time-Secs", f"{elapsed:.6f}")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        import time as _time

        self._started_at = _time.perf_counter()
        url = urlparse(self.path)
        # the reference mounts under /api/v1 (app.py:194,224) and probes
        # /healthz — accept both spellings of every route
        path = url.path
        if path.startswith("/api/v1/"):
            path = path[len("/api/v1"):]
        if path in ("/health", "/healthz"):
            self._reply(200, {"status": "ok"}, timed=False)
            return
        if path not in ("/perpetual-data", "/indicators", "/live-indicators"):
            self._reply(404, {"error": f"no such route: {url.path}"})
            return
        q = {k: v[-1] for k, v in parse_qs(url.query).items()}
        try:
            limit = int(q.get("limit", DEFAULT_LIMIT))
        except ValueError:
            self._reply(400, {"error": f"bad limit: {q.get('limit')!r}"})
            return
        try:
            if path == "/live-indicators":
                try:
                    ema_length = int(q.get("ema_length", "0"))
                except ValueError:
                    raise RequestError(
                        f"bad ema_length: {q.get('ema_length')!r}"
                    ) from None
                out = self.service.live_indicators(
                    symbol=q.get("symbol", q.get("coin", "BTC")),
                    ema_tf=q.get("ema_tf", "1m"),
                    ema_length=ema_length,
                    pivot_tf=q.get("pivot_tf", "1d"),
                    end_time=q.get("end_time"),
                )
            elif path == "/indicators":
                out = self.service.indicators(
                    symbol=q.get("symbol", q.get("coin", "BTC")),
                    timeframe=q.get("timeframe", "1m"),
                    ema_lengths=q.get("ema", ""),
                    limit=limit,
                    end_time=q.get("end_time"),
                    pivots=q.get("pivots", "1") not in ("0", "false"),
                )
            else:
                out = self.service.fetch(
                    symbol=q.get("symbol", q.get("coin", "BTC")),
                    timeframes=q.get("timeframes", q.get("tfs", "1m")),
                    default_limit=limit,
                    end_time=q.get("end_time"),
                )
        except RequestError as e:
            self._reply(400, {"error": str(e)})
            return
        except Exception as e:  # noqa: BLE001 — surface, don't drop the socket
            self._reply(500, {"error": f"{type(e).__name__}: {e}"})
            return
        self._reply(200, out)


def make_server(
    service: PerpetualDataService, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Bind (port 0 = ephemeral) and return the server; callers drive it
    with ``serve_forever`` on a thread (see ``serve_background``)."""
    handler = type("BoundHandler", (_Handler,), {"service": service})
    return ThreadingHTTPServer((host, port), handler)


def serve_background(
    service: PerpetualDataService, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the API on a daemon thread; returns (server, thread) — the
    bound port is ``server.server_address[1]``.  Shut down with
    ``server.shutdown()``."""
    srv = make_server(service, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, t


def main(argv=None) -> None:
    """``python -m crypto_datalake_spark.http_api 1m=/lake/minute
    3m=/lake/htf3m --port 8080`` — stand up the API over a parquet
    lake.  Each positional arg maps a timeframe token to its table."""
    import argparse

    from crypto_datalake_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("tables", nargs="+", metavar="TF=PATH",
                    help="timeframe=parquet-path (include 1m=... for "
                         "aggregation/coverage fallbacks)")
    ap.add_argument("--port", type=int, default=8000)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--ledger", default=None,
                    help="write-audit ledger path for the watermark clamp")
    args = ap.parse_args(argv)
    tables = dict(t.split("=", 1) for t in args.tables)
    spark = get_spark("cds-http-api")
    spark.sparkContext.setLogLevel("ERROR")
    svc = PerpetualDataService(spark, tables, ledger_path=args.ledger)
    srv = make_server(svc, args.host, args.port)
    print(f"serving on http://{args.host}:{srv.server_address[1]}  "
          f"(tables: {', '.join(sorted(tables))})")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        srv.shutdown()


if __name__ == "__main__":
    main()
