"""Each commit path evaluates its input and its output once.

A commit collects the touched partitions from its incoming batch, merges
the batch with the stored rows of those partitions, writes the merged
frame under the table that frame reads from, then derives the ledger
entries, the manifest's present-partition set and its stats from the
same frame.  The tests pin three consequences:

- a batch whose partition value changes on every evaluation still
  merges with the partitions it is written to, so no committed row is
  lost;
- what the ledger and the manifest record is what was written, even for
  a column whose value changes on every evaluation;
- the second commit of a two-partition lake stays within a Spark job
  budget, so a second evaluation of the batch or the merge (a
  ``persist()`` that the self-write drops) fails the test instead of
  only slowing the ingest tick.  The ledger view makes the next commit
  seq and the watermarks free: 0 jobs on an unchanged log.

Budgets are the job counts of that second commit in local mode with AQE
on.  Evaluating the batch or the merge twice costs its own jobs again,
which the budgets leave no room for.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from crypto_datalake_spark import sinks, txn
from crypto_datalake_spark.functions.fetch_planner import latest_watermarks

UPSERT_LEDGER_BUDGET = 12
ATOMIC_UPSERT_LEDGER_BUDGET = 12

_DDL = "sym string, ts timestamp_ntz, v double, day string"
_T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
_FIRST = [("A", _T(0), 1.0, "d1"), ("B", _T(1), 2.0, "d1"), ("C", _T(2), 3.0, "d2")]
#: updates A in d1, adds D to d1 and E to d2: both partitions merge
_SECOND = [("A", _T(0), 9.0, "d1"), ("D", _T(3), 4.0, "d1"), ("E", _T(4), 5.0, "d2")]
_KW = dict(keys=["sym", "ts"], order_cols=["ts"], partition_cols=["day"],
           digest_cols=["sym", "ts", "noise"])
_AUDIT = ("row_count", "min_ts", "max_ts", "content_hash")


def _batch(spark, rows):
    """``rows`` plus ``noise``, a value drawn anew on every evaluation."""
    noise = F.udf(lambda: random.random(), "double").asNondeterministic()
    return spark.createDataFrame(rows, _DDL).withColumn("noise", noise())


def _audit(rows) -> dict:
    return {r["day"]: {f: r[f] for f in _AUDIT} for r in rows}


def _assert_ledger_matches(spark, written, ledger) -> None:
    want = sinks.ledger_entries(written, ["day"], "ts", _KW["digest_cols"])
    assert _audit(sinks.read_ledger(spark, ledger).collect()) == _audit(
        want.collect()
    )


def test_upsert_ledger_describes_written_rows(spark, tmp_path, jobs):
    data, ledger = str(tmp_path / "lake"), str(tmp_path / "ledger")
    kw = dict(_KW, ledger_path=ledger)
    sinks.upsert_partitioned(spark, _batch(spark, _FIRST), data, **kw)
    n = jobs(lambda: sinks.upsert_partitioned(
        spark, _batch(spark, _SECOND), data, **kw))
    assert n <= UPSERT_LEDGER_BUDGET, n
    _assert_ledger_matches(spark, spark.read.parquet(data), ledger)


def test_atomic_upsert_ledger_and_manifest_describe_written_rows(spark, tmp_path, jobs):
    data, ledger = str(tmp_path / "lake"), str(tmp_path / "ledger")
    kw = dict(_KW, ledger_path=ledger, stats_cols=["noise"])
    txn.atomic_upsert_partitioned(spark, _batch(spark, _FIRST), data, **kw)
    n = jobs(lambda: txn.atomic_upsert_partitioned(
        spark, _batch(spark, _SECOND), data, **kw))
    assert n <= ATOMIC_UPSERT_LEDGER_BUDGET, n
    written = txn.read_table(spark, data)
    _assert_ledger_matches(spark, written, ledger)
    m = txn.current_manifest(spark, data)
    assert set(m["partitions"]) == {"day=d1", "day=d2"}
    assert m["stats"] == txn.partition_stats(spark, written, ["day"], ["noise"])


def test_watermarks_and_seq_cost_no_job_after_ledgered_upsert(spark, tmp_path, jobs):
    """Right after a ledgered upsert, the watermarks and the next commit
    seq come from the ledger view: no Spark job, and the watermarks of
    the rows written (d1 ends at D, d2 at E)."""
    data, ledger = str(tmp_path / "lake"), str(tmp_path / "ledger")
    kw = dict(_KW, ledger_path=ledger)
    sinks.upsert_partitioned(spark, _batch(spark, _FIRST), data, **kw)
    latest_watermarks(spark, ledger, ["day"]).collect()  # seeds the view
    sinks.upsert_partitioned(spark, _batch(spark, _SECOND), data, **kw)
    marks = []
    assert jobs(lambda: marks.extend(
        latest_watermarks(spark, ledger, ["day"]).collect())) == 0
    assert {r["day"]: r["watermark"] for r in marks} == {"d1": _T(3), "d2": _T(4)}
    assert jobs(lambda: sinks._next_commit_seq(spark, ledger)) == 0


def _flipping_day(counter):
    """A partition value that alternates d1, d2, d1, ... on every
    evaluation.  Python workers are separate processes, so the calls
    are counted in a file: every run sees the same sequence."""

    def day():
        n = int(counter.read_text()) if counter.exists() else 0
        counter.write_text(str(n + 1))
        return "d2" if n % 2 else "d1"

    return F.udf(day, "string").asNondeterministic()()


_MERGE_KW = dict(on=["sym", "ts"], partition_cols=["day"])
#: (commit, read back) per commit path
_PATHS = {
    "upsert": (
        lambda spark, df, p: sinks.upsert_partitioned(spark, df, p, **_KW),
        lambda spark, p: spark.read.parquet(p),
    ),
    "merge": (
        lambda spark, df, p: sinks.merge_into(spark, df, p, **_MERGE_KW),
        lambda spark, p: spark.read.parquet(p),
    ),
    "atomic_upsert": (
        lambda spark, df, p: txn.atomic_upsert_partitioned(spark, df, p, **_KW),
        txn.read_table,
    ),
    "atomic_merge": (
        lambda spark, df, p: txn.atomic_merge_into(spark, df, p, **_MERGE_KW),
        txn.read_table,
    ),
}


@pytest.mark.parametrize("path_name", sorted(_PATHS))
def test_batch_with_changing_partition_value_keeps_committed_rows(
    spark, tmp_path, path_name
):
    """The touched partitions are collected from the same evaluation of
    the batch that is merged and written.  Evaluated once for the
    touched set and again for the merge, this batch prunes the merge to
    one partition and writes its row to the other, replacing that
    partition's committed rows with the new row alone."""
    commit, read = _PATHS[path_name]
    path = str(tmp_path / "lake")
    commit(spark, spark.createDataFrame(_FIRST, _DDL), path)
    batch = spark.createDataFrame(
        [("Z", _T(9), 7.0)], "sym string, ts timestamp_ntz, v double"
    ).withColumn("day", _flipping_day(tmp_path / "calls"))
    commit(spark, batch, path)
    got = sorted((r["sym"], r["day"]) for r in read(spark, path).collect())
    assert [g for g in got if g[0] != "Z"] == sorted((r[0], r[3]) for r in _FIRST)
    assert [g[0] for g in got].count("Z") == 1


def test_ledger_view_drops_what_it_cannot_prove(spark, tmp_path):
    """The view answers a later read only when the commit proves the
    answer: a commit that lowers a key's max, or a file this process did
    not write, sends the next read back to a scan of the log."""
    ledger = str(tmp_path / "ledger")

    def commit(rows):
        df = spark.createDataFrame(rows, _DDL)
        sinks.upsert_ledger(
            spark, ledger, sinks.ledger_entries(df, ["day"], "ts", ["sym", "ts"]),
            ["day"], sinks.frame_schema_hash(df),
        )

    def marks():
        return {r["day"]: r["watermark"]
                for r in latest_watermarks(spark, ledger, ["day"]).collect()}

    commit(_FIRST)
    assert marks() == {"d1": _T(1), "d2": _T(2)}
    commit([("A", _T(0), 1.0, "d1")])  # d1 shrinks: its mark moves back
    assert marks() == {"d1": _T(0), "d2": _T(2)}
    # another writer appends a d2 row with a later mark and a seq ahead
    # of the clock
    far_future = 4102444800000000  # year 2100, microseconds
    sinks.read_ledger(spark, ledger).where("day = 'd2'").withColumn(
        "max_ts", F.lit(_T(30)).cast("timestamp_ntz")
    ).withColumn("commit_seq", F.lit(far_future)).localCheckpoint(
        eager=True
    ).write.mode("append").parquet(ledger)
    assert marks() == {"d1": _T(0), "d2": _T(30)}
    assert sinks._next_commit_seq(spark, ledger) > far_future


def _ledger_commit(spark, ledger, m):
    """Commit one d1 row at minute ``m`` to the ledger alone."""
    df = spark.createDataFrame([("A", _T(m), 1.0, "d1")], _DDL)
    sinks.upsert_ledger(
        spark, ledger, sinks.ledger_entries(df, ["day"], "ts", ["sym", "ts"]),
        ["day"], sinks.frame_schema_hash(df),
    )


def _d1_mark(spark, ledger):
    (row,) = latest_watermarks(spark, ledger, ["day"]).collect()
    return row["watermark"]


def test_ledger_view_keys_a_scan_by_the_listing_it_read(spark, tmp_path, monkeypatch):
    """A commit that lands while a reader scans the log advances the view
    past the files the scan read.  The scan's answer is recorded for the
    listing it read, so the next read, which lists the commit's file,
    must not be served that older answer."""
    ledger = str(tmp_path / "ledger")
    _ledger_commit(spark, ledger, 0)
    read_ledger = sinks.read_ledger

    def read_then_commit(spark, path):
        led = read_ledger(spark, path)  # lists the log's files now
        monkeypatch.setattr(sinks, "read_ledger", read_ledger)
        _ledger_commit(spark, ledger, 1)
        return led

    monkeypatch.setattr(sinks, "read_ledger", read_then_commit)
    assert _d1_mark(spark, ledger) == _T(0)
    assert _d1_mark(spark, ledger) == _T(1)


def test_ledger_view_with_concurrent_readers(spark, tmp_path):
    """Server threads read the watermark while commits advance the view:
    no reader sees it move back, and the last answer is the last commit's."""
    import sys
    import threading

    ledger = str(tmp_path / "ledger")
    _ledger_commit(spark, ledger, 0)
    stop = threading.Event()
    seen: dict[int, list] = {i: [] for i in range(5)}  # more readers than cores

    def read(i):
        while not stop.is_set():
            seen[i].append(_d1_mark(spark, ledger))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=read, args=(i,)) for i in seen]
    try:
        for t in threads:
            t.start()
        for m in (1, 2):
            _ledger_commit(spark, ledger, m)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    for vals in seen.values():
        assert vals and vals == sorted(vals)
    assert _d1_mark(spark, ledger) == _T(2)
