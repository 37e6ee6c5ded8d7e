#!/usr/bin/env python3
"""Benchmark of the crypto lake engine: batch query passes, a live
serve-and-ingest session, and a per-query cost ledger.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):
  batch_queries  benched lake- and curation-family queries, noop-sink passes
  live_lake      ingest ticks and HTTP requests against one live lake

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The lines before it print
the same run under the metric names of the benchmark's README, and the
full record (ledger, checks, spans) goes to the sidecar file named on
stderr, under ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("batch_queries", "live_lake")

#: units of the end-to-end metrics every workload reports
END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "op_p50_s": "s",
}
#: per-layer metrics every workload reports (0 where a layer is not used)
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_pass_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_only_s": "s",
    "io.artifacts_built": "count",
    "queries.build_jobs": "count",
    "verify.rows_only": "count",
    "serving_cache.exact": "count",
    "serving_cache.superset": "count",
    "serving_cache.partial": "count",
    "serving_cache.miss": "count",
    "serving_cache.reuse_ratio": "ratio",
    "fetch_planner.direct": "count",
    "fetch_planner.aggregate": "count",
    "fetch_planner.direct_1m": "count",
    "fetch_planner.fallback": "count",
    "spark.jobs_per_miss": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written_per_row": "bytes",
    "lake.files": "count",
    "lake.bytes_per_row": "bytes",
    "txn.commits": "count",
    "txn.bytes_rewritten": "bytes",
    "trace.spans": "count",
}
#: the README's metric names, per workload kind, and where each comes from
NAMED = {
    "batch": (
        ("setup_s", "s", "setup_s"),
        ("error_ratio", "ratio", None),
        ("pass_s", "s", "round_s"),
        ("query_p50_s", "s", "op_p50_s"),
        ("query_tail_s", "s", "op_tail_s"),
        ("lake_pass_s", "s", "lake_pass_s"),
        ("curation_pass_s", "s", "curation_pass_s"),
    ),
    "live": (
        ("setup_s", "s", "setup_s"),
        ("error_ratio", "ratio", None),
        ("request_p50_s", "s", "op_p50_s"),
        ("request_tail_s", "s", "op_tail_s"),
        ("requests_per_s", "1/s", "requests_per_s"),
        ("tick_p50_s", "s", "round_s"),
        ("tick_tail_s", "s", "tick_tail_s"),
    ),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all-queries", action="store_true",
                    help="batch_queries: time all 76 benched queries (the "
                         "full cost ledger) instead of the per-run subset")
    ap.add_argument("--out", default=None,
                    help="sidecar path (default .perfbench/out/...)")
    return ap.parse_args(argv)


def install_tracer(workload: str):
    from perfbench.trace import Tracer

    tracer = Tracer()
    if workload == "live_lake":
        from perfbench.live import install_tracing

        install_tracing(tracer)
    return tracer


def result_line(run: dict, trace: int) -> dict:
    if trace:
        values, units = run["layers"], PER_LAYER
    else:
        values, units = run["end_to_end"], END_TO_END
    metrics = {
        k: {"value": common.finite(float(values.get(k, 0))), "unit": u}
        for k, u in units.items()
    }
    return {
        "correct": run["failed"] == 0,
        "attempted": int(run["attempted"]),
        "failed": int(run["failed"]),
        "metrics": metrics,
    }


def named_metrics(workload: str, run: dict) -> dict:
    kind = "batch" if workload == "batch_queries" else "live"
    e2e = {**run["end_to_end"], **run["extra_end_to_end"]}
    out = {}
    for name, unit, src in NAMED[kind]:
        v = run["failed"] / run["attempted"] if src is None else e2e[src]
        out[name] = {"value": v, "unit": unit}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        common.import_program()
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}",
              file=sys.stderr)
        return 2
    run_dir = common.make_run_dir()
    try:
        common.configure_process(run_dir)
        tracer = install_tracer(args.workload) if args.trace else None
        try:
            if args.workload == "batch_queries":
                from perfbench import batch

                which = "all" if args.all_queries else "timed"
                run = batch.run(which, args.seed, args.seconds, tracer)
            else:
                from perfbench import live

                run = live.run(args.seed, args.seconds, tracer, run_dir)
        finally:
            if tracer is not None:
                tracer.restore()
        if tracer is not None:
            from perfbench.trace import span_cost_s

            run["layers"]["trace.spans"] = len(tracer.spans)
            run["trace"] = {
                "self_s": tracer.self_times(),
                "spans_per_layer": tracer.counts(),
                "span_cost_s": span_cost_s(),
                "spans": tracer.records(),
            }
    finally:
        common.remove_tree(run_dir)

    named = named_metrics(args.workload, run)
    line = result_line(run, args.trace)
    out = args.out or os.path.join(
        common.STATE_DIR, "out",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
    )
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": args.trace,
                   "named": named, "result": line, **run}, fh, indent=1)
        fh.write("\n")
    print(f"perfbench: sidecar {out}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} trace={args.trace}")
    for name, m in named.items():
        print(f"#   {name:<16} {m['value']:.6g} {m['unit']}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
