"""Tests of the benchmark's own contract: output schema, summaries,
tracing and ledger arithmetic.  None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import common, ledger_diff, run  # noqa: E402
from perfbench.trace import Tracer, union_seconds  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert spec["command"][1].startswith("perfbench/")
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    assert names == list(run.WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    seen = set(names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
        assert m["name"] not in seen
        seen.add(m["name"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]
    assert len(json.dumps(spec)) <= 64 * 1024


def test_metric_tables_match_benchmark_json(spec):
    assert run.END_TO_END == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert run.PER_LAYER == {m["name"]: m["unit"] for m in spec["per_layer"]}


def _fake_run(failed=0):
    return {
        "attempted": 12,
        "failed": failed,
        "end_to_end": {k: 1.5 for k in run.END_TO_END},
        "extra_end_to_end": {"op_tail_s": 1.75, "lake_pass_s": 2.0,
                             "curation_pass_s": 3.0, "tick_tail_s": 4.0,
                             "requests_per_s": 0.5},
        # a workload reports only the layers it uses; the rest read 0
        "layers": {"spark.jobs": 7, "session.start_s": 5.25},
    }


@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_schema(spec, trace):
    line = run.result_line(_fake_run(), trace)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(line["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = line["metrics"][m["name"]]
        assert set(got) == {"value", "unit"} and got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    # the printed line is one JSON object
    assert json.loads(json.dumps(line)) == line


def test_result_line_counts_failures():
    line = run.result_line(_fake_run(failed=2), 0)
    assert line["correct"] is False and line["failed"] == 2


def test_result_line_rejects_non_finite():
    bad = _fake_run()
    bad["end_to_end"]["op_p50_s"] = float("nan")
    with pytest.raises(ValueError):
        run.result_line(bad, 0)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_named_metrics_cover_the_workload(workload):
    named = run.named_metrics(workload, _fake_run(failed=3))
    assert named["error_ratio"] == {"value": 0.25, "unit": "ratio"}
    assert named["setup_s"]["value"] == 1.5
    kind = "batch" if workload == "batch_queries" else "live"
    assert list(named) == [n for n, _, _ in run.NAMED[kind]]


def test_tail_rule():
    xs = list(range(1, 31))  # 30 samples: p66.7 has 10 beyond it
    pct, v = common.tail(xs)
    assert v == 20 and sum(1 for x in xs if x > v) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    assert common.tail([3.0, 1.0, 2.0]) == (50.0, 2.0)


def test_union_seconds():
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_seconds([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_seconds([], 0, 1) == 0


def test_self_time_across_threads():
    """Children on pool threads are parented to the span that submitted
    them, and parallel children's overlap counts once."""
    import types
    from concurrent.futures import ThreadPoolExecutor

    owner = types.SimpleNamespace(ThreadPoolExecutor=ThreadPoolExecutor)
    t = Tracer()
    t.wrap_executor(owner, "ThreadPoolExecutor")

    def child():
        with t.span("child"):
            time.sleep(0.05)

    with t.span("request", root=True):
        with t.span("service"):
            with owner.ThreadPoolExecutor(max_workers=2) as ex:
                list(ex.map(lambda _: child(), range(2)))
    t.restore()
    assert owner.ThreadPoolExecutor is ThreadPoolExecutor
    spans = {r["id"]: r for r in t.records()}
    service = next(r for r in spans.values() if r["layer"] == "service")
    children = [r for r in spans.values() if r["layer"] == "child"]
    assert all(c["parent"] == service["id"] for c in children)
    self_s = t.self_times()
    assert self_s["child"] == pytest.approx(0.1, abs=0.03)
    assert self_s["service"] < 0.04
    assert t.counts() == {"request": 1, "service": 1, "child": 2}


def test_wrap_and_restore_module_and_class_names():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class C:
        def m(self):
            return 5

    t = Tracer()
    orig = C.__dict__["m"]
    t.wrap(mod, "f", "layer.f")
    t.wrap(C, "m", "layer.m")
    assert mod.f(1) == 2 and C().m() == 5
    t.restore()
    assert C.__dict__["m"] is orig
    assert sorted(t.counts()) == ["layer.f", "layer.m"]


def test_server_thread_spans_hang_off_the_open_root():
    t = Tracer()
    with t.span("client.request", root=True):
        th = threading.Thread(target=lambda: t.span("server").__enter__()
                              .__exit__(None, None, None))
        th.start()
        th.join(timeout=5)
    assert not th.is_alive()
    root = next(r for r in t.records() if r["layer"] == "client.request")
    server = next(r for r in t.records() if r["layer"] == "server")
    assert server["parent"] == root["id"] and server["root"] == root["id"]


def _ledger_row(query, jobs, total):
    row = {"query": query, "pass": 0, "build_jobs": 1, "jobs": jobs,
           "stages": jobs, "tasks": 2 * jobs, "input_bytes": 10,
           "shuffle_read_bytes": 5, "shuffle_write_bytes": 5, "spill_bytes": 0,
           "build_s": total / 2, "action_s": total / 2, "total_s": total,
           "executor_run_s": 1.0, "executor_cpu_s": 0.5}
    return row


def test_ledger_diff_separates_structure_from_wall(tmp_path):
    a = {"detail": {"ledger": [_ledger_row("q1", 4, 1.0), _ledger_row("q2", 3, 2.0)]},
         "end_to_end": {"round_s": 3.0}}
    b = {"detail": {"ledger": [_ledger_row("q1", 4, 1.5), _ledger_row("q2", 2, 2.0)]},
         "end_to_end": {"round_s": 3.5}}
    d = ledger_diff.diff(a, b)
    assert d["structural"] == [{"query": "q2", "jobs": -1, "stages": -1,
                                "tasks": -2}]
    wall = {r["query"]: r for r in d["wall"]}
    assert wall["q1"]["total_s"] == pytest.approx(0.5)
    assert d["end_to_end"]["round_s"]["delta"] == pytest.approx(0.5)
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    assert ledger_diff.main([str(pa), str(pb)]) == 1
    assert ledger_diff.main([str(pa), str(pa)]) == 0


def test_generated_tables_repeat_for_a_seed(tmp_path):
    from perfbench import datagen

    datagen.write_tables(str(tmp_path / "a"), 0.001, 7)
    datagen.write_tables(str(tmp_path / "b"), 0.001, 7)
    datagen.write_tables(str(tmp_path / "c"), 0.001, 8)
    for name in sorted(os.listdir(tmp_path / "a")):
        a = (tmp_path / "a" / name).read_bytes()
        assert a == (tmp_path / "b" / name).read_bytes(), name
    assert (tmp_path / "a" / "events.parquet").read_bytes() != (
        tmp_path / "c" / "events.parquet").read_bytes()


def test_live_schedule_repeats_for_a_seed():
    import datetime as dt

    from perfbench import live

    end = dt.datetime(2024, 3, 6, 11, 59)
    assert live.make_requests(3, 2, end) == live.make_requests(3, 2, end)
    assert live.make_requests(3, 2, end) != live.make_requests(4, 2, end)
    s1, s2 = live.MinuteStream(5).take(7), live.MinuteStream(5).take(7)
    assert s1.equals(s2) and len(s1) == 7 * len(live.SYMBOLS)


def test_fails_without_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
