"""Each commit path evaluates its output once.

A commit writes its merged frame under the table that frame reads from,
then derives the ledger entries, the manifest's present-partition set and
its stats from the same frame.  Each test makes two commits into a
two-partition lake, the second one merging with the first one's files,
and pins two consequences:

- what the ledger and the manifest record is what was written, even for
  a column whose value changes on every evaluation;
- the second commit stays within a Spark job budget, so a second
  evaluation of the merge (a ``persist()`` that the self-write drops)
  fails the test instead of only slowing the ingest tick.

Budgets are the job counts of that second commit in local mode with AQE
on.  Evaluating the merge twice costs its own jobs again, which the
budgets leave no room for.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from crypto_datalake_spark import sinks, txn

UPSERT_LEDGER_BUDGET = 14
ATOMIC_UPSERT_LEDGER_BUDGET = 13

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


def _jobs(spark, group: str, commit) -> int:
    """Spark jobs ``commit()`` runs, read from the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        commit()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _audit(rows) -> dict:
    return {r["day"]: {f: r[f] for f in _AUDIT} for r in rows}


def _assert_ledger_matches(spark, written, ledger) -> None:
    want = sinks.ledger_entries(written, ["day"], "ts", _KW["digest_cols"])
    assert _audit(sinks.read_ledger(spark, ledger).collect()) == _audit(
        want.collect()
    )


def test_upsert_ledger_describes_written_rows(spark, tmp_path):
    data, ledger = str(tmp_path / "lake"), str(tmp_path / "ledger")
    kw = dict(_KW, ledger_path=ledger)
    sinks.upsert_partitioned(spark, _batch(spark, _FIRST), data, **kw)
    n = _jobs(spark, f"upsert-{tmp_path.name}", lambda: sinks.upsert_partitioned(
        spark, _batch(spark, _SECOND), data, **kw))
    assert n <= UPSERT_LEDGER_BUDGET, n
    _assert_ledger_matches(spark, spark.read.parquet(data), ledger)


def test_atomic_upsert_ledger_and_manifest_describe_written_rows(spark, tmp_path):
    data, ledger = str(tmp_path / "lake"), str(tmp_path / "ledger")
    kw = dict(_KW, ledger_path=ledger, stats_cols=["noise"])
    txn.atomic_upsert_partitioned(spark, _batch(spark, _FIRST), data, **kw)
    n = _jobs(spark, f"atomic-{tmp_path.name}", lambda: txn.atomic_upsert_partitioned(
        spark, _batch(spark, _SECOND), data, **kw))
    assert n <= ATOMIC_UPSERT_LEDGER_BUDGET, n
    written = txn.read_table(spark, data)
    _assert_ledger_matches(spark, written, ledger)
    m = txn.current_manifest(spark, data)
    assert set(m["partitions"]) == {"day=d1", "day=d2"}
    assert m["stats"] == txn.partition_stats(spark, written, ["day"], ["noise"])
