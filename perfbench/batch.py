"""``batch_queries``: a timed pass over benched registry queries.

The repository benches 76 queries (``bench.py``): 31 of the lake family
(the paper's minute-bar, HTF, as-of, window and indicator operators plus
the streaming folds) and 45 of the curation family (dedup, scrub,
sampling, text, search, LM, tokenizers, ANN, PCA, multimodal).  A pass
over all 76 takes about 65 s at local[4] in a fresh JVM, which the
benchmark's run budget cannot hold, so a run times a fixed subset of
each family (``LAKE_TIMED``, ``CURATION_TIMED``) in a seed-shuffled
order.  Set-up ends with untimed warm passes over the same queries, so
that a timed execution is a query's third or later, in a JVM past most
of its JIT warm-up: the first execution in a fresh JVM varies from
run to run by up to 2x and the second still depends on how far the JIT
has got, that is, on the query's place in the order.  After the timed
passes the frame each query built in the last pass is collected once
more and compared with its DuckDB oracle.  ``run.py --all-queries``
times and checks all 76 for the full ledger.

Each query is one operation: ``fn(spark, sf_dir)`` (the build, which
includes any eager checkpoint or collect fired inside it) followed by a
``noop`` write (the action), each under its own Spark job group so the
per-query cost ledger can split the two.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from perfbench import common
from perfbench.sparkstats import SparkStats, add_costs, empty_cost
from perfbench.trace import maybe_span, union_seconds

LAKE_QUERIES = (
    "s1_scan_project_filter",
    "a1_minute_trade_rollup",
    "a2_mean_last_rollup",
    "a4_htf_bucket_agg",
    "a7_ratio_of_sums",
    "a8_p95_nearest_rank",
    "a9_ohlc_complete_only",
    "j1_spine_left_join",
    "j2_asof_backward_tolerance",
    "j6_exact_asof_fallback",
    "j8_overlay_coalesce",
    "j9_union_dedup_priority",
    "j10_dedup_keep_last",
    "w1_log_return",
    "w2_realized_vol",
    "w4_cumsum",
    "w5_ffill_limited",
    "w6_topk_recent",
    "o3_gaps_islands",
    "u1_ema",
    "d1_derived_fields",
    "layout_zorder_key",
    "dq_expectations",
    "feature_quantile_bins",
    "feature_target_encode",
    "funnel_conversion",
    "retention_cohorts",
    "st2_streaming_minute_agg",
    "st3_orderbook_replay",
    "orderbook_segmented_replay",
    "st11_session_windows",
)
STREAMING_QUERIES = (
    "st2_streaming_minute_agg",
    "st3_orderbook_replay",
    "orderbook_segmented_replay",
    "st11_session_windows",
)
#: the timed lake subset: minute-bar scan-aggregate, as-of join and a
#: streaming micro-batch aggregate
LAKE_TIMED = (
    "a1_minute_trade_rollup",
    "j2_asof_backward_tolerance",
    "st2_streaming_minute_agg",
)
#: the timed curation subset: LM scoring, MinHash dedup and BPE
#: tokenizing, whose driver-side build (eager checkpoints, plan-time
#: collects, Python workers, served artifacts) is much of their time
CURATION_TIMED = (
    "quality_lm_perplexity_fast",
    "dedup_minhash_lsh",
    "tokenize_bpe",
)
#: untimed passes over the timed queries at the end of set-up
WARM_PASSES = 2
#: seconds of ``--seconds`` per timed pass (at least one pass is run)
PASS_SECONDS = 10.0


def bench_queries() -> list[str]:
    """The repository's benched query list (``bench.py``), in its order."""
    from bench import BENCH_QUERIES

    return list(BENCH_QUERIES)


def query_set(which: str) -> list[str]:
    """``"timed"``: the per-run subset; ``"all"``: every benched query."""
    benched = bench_queries()
    missing = sorted(set(LAKE_QUERIES + CURATION_TIMED) - set(benched))
    if missing:
        raise RuntimeError(f"queries no longer benched: {missing}")
    if which == "all":
        return benched
    return list(LAKE_TIMED + CURATION_TIMED)


def family(name: str) -> str:
    return "lake" if name in LAKE_QUERIES else "curation"


def data_dir() -> str:
    return os.path.join(common.STATE_DIR, "data", f"sf{common.DATA_SF}")


def prepare(spark) -> dict:
    """Make the checkout's batch inputs: the generated tables and every
    missing warehouse artifact (``missing_model_builds``).  Returns what
    was built, for the set-up accounting."""
    from perfbench import datagen
    from crypto_datalake_spark.queries.llm import missing_model_builds

    out = {"artifacts_built": 0, "artifact_build_s": 0.0}
    sf_dir = data_dir()
    if not os.path.isdir(sf_dir):
        tmp = f"{sf_dir}.tmp-{os.getpid()}"
        common.remove_tree(tmp)
        datagen.write_tables(tmp, float(common.DATA_SF), common.DATA_SEED)
        os.rename(tmp, sf_dir)
    t0 = time.perf_counter()
    for build in missing_model_builds(sf_dir):
        build(spark)
        out["artifacts_built"] += 1
    out["artifact_build_s"] = time.perf_counter() - t0
    return out


def warm_up(spark, sf_dir: str, order) -> None:
    """The Python worker pool and ``WARM_PASSES`` untimed passes over the
    timed queries, so that the JVM's JIT warm-up and each query's
    first-use code generation land in set-up."""
    from crypto_datalake_spark.queries import REGISTRY

    spark.range(0, common.CPUS, 1, common.CPUS).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    for _ in range(WARM_PASSES):
        for n in order:
            REGISTRY[n].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()


def verify(spark, sf_dir: str, names, frames) -> list[dict]:
    """Check each query's result against its DuckDB oracle at ``sf_dir``.
    ``frames`` maps a query to the frame its last timed execution built;
    a query without one (it failed) is built again.  A query whose oracle
    resolves to None gets the rows-only check."""
    from crypto_datalake_spark.queries import REGISTRY
    from tests.oracle import compare, duckdb_conn

    con = duckdb_conn(sf_dir)
    out = []
    try:
        for name in names:
            sql = REGISTRY[name].resolved_sql(sf_dir)
            check = "oracle" if sql is not None else "rows_only"
            t0 = time.perf_counter()
            try:
                df = frames.get(name)
                if df is None:
                    df = REGISTRY[name].fn(spark, sf_dir)
                if sql is None:
                    ok, msg = True, f"rows={df.count()}"
                else:
                    ok, msg = compare(df, con, sql)
            except Exception as e:  # noqa: BLE001 — a failed check is counted
                ok, msg = False, f"{type(e).__name__}: {e}"[:500]
            out.append({"query": name, "ok": ok, "check": check, "msg": msg,
                        "s": time.perf_counter() - t0})
    finally:
        con.close()
    return out


def _run_query(spark, stats, q, sf_dir, tag, tracer):
    """One timed operation; returns its ledger row (``error`` holds the
    exception text of a query that failed) and the frame it built."""
    sc = spark.sparkContext
    build_group, action_group = f"{tag}:build", f"{tag}:action"
    df = None
    wall0 = time.time()
    t0 = time.perf_counter()
    try:
        sc.setJobGroup(build_group, q.name)
        with maybe_span(tracer, "queries.build"):
            df = q.fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(action_group, q.name)
        with maybe_span(tracer, "queries.action"):
            df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        error = None
    except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
        t1 = t2 = time.perf_counter()
        df = None
        error = f"{type(e).__name__}: {e}"[:500]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    wall1 = time.time()
    build_jobs = stats.group_job_ids(build_group)
    jobs = build_jobs + stats.group_job_ids(action_group)
    row = {"query": q.name, "build_s": t1 - t0, "action_s": t2 - t1,
           "total_s": t2 - t0, "build_jobs": len(build_jobs), "error": error}
    row.update(stats.cost(jobs))
    row["driver_only_s"] = (wall1 - wall0) - union_seconds(
        stats.job_intervals(jobs), wall0, wall1
    )
    return row, df


def run(which: str, seed: int, seconds: float, tracer) -> dict:
    from crypto_datalake_spark.queries import REGISTRY

    names = query_set(which)
    sf_dir = data_dir()
    order = list(names)
    random.Random(seed).shuffle(order)
    t_setup = time.perf_counter()
    spark = common.start_session()
    start_s = time.perf_counter() - t_setup
    prep = prepare(spark)
    t = time.perf_counter()
    warm_up(spark, sf_dir, order)
    warm_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_setup

    stats = SparkStats(spark)
    passes = []
    ledger = []
    frames = {}
    for p in range(max(1, int(seconds // PASS_SECONDS))):
        rows = []
        for n in order:
            row, frames[n] = _run_query(
                spark, stats, REGISTRY[n], sf_dir, f"p{p}:{n}", tracer)
            rows.append(row)
        passes.append(sum(r["total_s"] for r in rows))
        ledger.extend({"pass": p, **r} for r in rows)
    failed_queries = sum(1 for r in ledger if r["error"])

    t = time.perf_counter()
    checks = verify(spark, sf_dir, sorted(names), frames)
    frames.clear()
    verify_s = time.perf_counter() - t
    rows_only = sum(1 for n in names if REGISTRY[n].resolved_sql(sf_dir) is None)
    common.stop_session(spark)

    op_times = [r["total_s"] for r in ledger if not r["error"]]
    pct, tail_s = common.tail(op_times)
    totals = empty_cost()
    for r in ledger:
        add_costs(totals, r)
    n_pass = len(passes)
    per_pass = {k: v / n_pass for k, v in totals.items()}
    streaming_build = sum(
        r["build_s"] for r in ledger if r["query"] in STREAMING_QUERIES
    ) / n_pass
    fam_pass = {
        f"{f}_pass_s": sum(r["total_s"] for r in ledger if family(r["query"]) == f)
        / n_pass
        for f in ("lake", "curation")
    }
    layers = {
        "session.start_s": start_s,
        "session.warm_pass_s": warm_s,
        "io.artifacts_built": prep["artifacts_built"],
        "io.artifact_build_s": prep["artifact_build_s"],
        "queries.build_s": sum(r["build_s"] for r in ledger) / n_pass,
        "queries.action_s": sum(r["action_s"] for r in ledger) / n_pass,
        "queries.build_jobs": sum(r["build_jobs"] for r in ledger) / n_pass,
        "streaming.build_s": streaming_build,
        "spark.driver_only_s": sum(r["driver_only_s"] for r in ledger) / n_pass,
        "verify.rows_only": rows_only,
        **{f"spark.{k}": v for k, v in per_pass.items()},
    }
    return {
        "attempted": len(ledger) + len(checks),
        "failed": failed_queries + sum(1 for c in checks if not c["ok"]),
        "end_to_end": {
            "setup_s": setup_s,
            "round_s": statistics.median(passes),
            "op_p50_s": statistics.median(op_times),
        },
        "extra_end_to_end": {"op_tail_s": tail_s, **fam_pass},
        "layers": layers,
        "detail": {
            "queries": len(names),
            "passes": passes,
            "op_tail_percentile": pct,
            "prepare": prep,
            "verify": checks,
            "verify_s": verify_s,
            "ledger": ledger,
        },
    }
