#!/usr/bin/env python3
"""Compare two benchmark sidecars.

    python3 perfbench/ledger_diff.py BEFORE.json AFTER.json

For every query in both per-query cost ledgers it reports the
structural deltas (jobs fired inside ``fn()``, jobs, stages, tasks,
input, shuffle and spill bytes), which repeat exactly for the same code
and data, apart from the wall deltas (build, action, executor run and
CPU time), which do not.  It then lists each end-to-end metric of both
runs and their difference; for an untraced BEFORE and a traced AFTER of
the same workload and seed that difference is the tracing overhead.

Exits 1 when any structural delta is non-zero, so two runs of the same
code can be checked for a deterministic ledger.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

STRUCTURAL = (
    "build_jobs",
    "jobs",
    "stages",
    "tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
WALL = ("build_s", "action_s", "total_s", "executor_run_s", "executor_cpu_s")


def per_query(sidecar: dict) -> dict[str, dict]:
    """One row per query: the first pass's structural fields (every pass
    of one run has the same), the median over passes of wall fields."""
    rows: dict[str, list] = {}
    for r in sidecar.get("detail", {}).get("ledger", []):
        rows.setdefault(r["query"], []).append(r)
    out = {}
    for q, rs in rows.items():
        first = min(rs, key=lambda r: r["pass"])
        out[q] = {
            **{k: first[k] for k in STRUCTURAL},
            **{k: statistics.median(r[k] for r in rs) for k in WALL},
        }
    return out


def diff(before: dict, after: dict) -> dict:
    a, b = per_query(before), per_query(after)
    structural, wall = [], []
    for q in sorted(set(a) & set(b)):
        d = {k: b[q][k] - a[q][k] for k in STRUCTURAL if b[q][k] != a[q][k]}
        if d:
            structural.append({"query": q, **d})
        wall.append({"query": q, **{k: b[q][k] - a[q][k] for k in WALL}})
    e2e = {}
    ea, eb = before.get("end_to_end", {}), after.get("end_to_end", {})
    for k in sorted(set(ea) & set(eb)):
        e2e[k] = {"before": ea[k], "after": eb[k], "delta": eb[k] - ea[k]}
    return {
        "only_before": sorted(set(a) - set(b)),
        "only_after": sorted(set(b) - set(a)),
        "queries_compared": len(set(a) & set(b)),
        "structural": structural,
        "wall": wall,
        "end_to_end": e2e,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args(argv)
    with open(args.before) as fh:
        before = json.load(fh)
    with open(args.after) as fh:
        after = json.load(fh)
    d = diff(before, after)
    print(f"queries compared: {d['queries_compared']}")
    for side in ("only_before", "only_after"):
        if d[side]:
            print(f"{side}: {', '.join(d[side])}")
    print(f"structural deltas: {len(d['structural'])} queries")
    for row in d["structural"]:
        q = row.pop("query")
        print(f"  {q}: " + ", ".join(f"{k} {v:+d}" for k, v in row.items()))
    print("wall deltas (after - before, s):")
    for row in sorted(d["wall"], key=lambda r: -abs(r["total_s"]))[:15]:
        print(f"  {row['query']:<36} total {row['total_s']:+.3f} "
              f"build {row['build_s']:+.3f} action {row['action_s']:+.3f}")
    print("end-to-end (before -> after):")
    for k, v in d["end_to_end"].items():
        print(f"  {k:<12} {v['before']:.6g} -> {v['after']:.6g} "
              f"({v['delta']:+.6g})")
    return 1 if d["structural"] else 0


if __name__ == "__main__":
    sys.exit(main())
