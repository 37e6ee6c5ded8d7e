"""Atomic multi-partition commit protocol (txn.py) — crash injection.

The contract under test: a crash at ANY point before the manifest pointer
swap leaves readers on the previous generation of every partition
(all-or-nothing visibility), and vacuum reclaims the orphans afterwards.
Mirrors the reference's writer atomicity guarantee (writer/atomic.py:27-117)
extended from one partition file to a whole multi-partition commit.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from crypto_datalake_spark import txn
from crypto_datalake_spark.sinks import read_ledger


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "sym string, ts timestamp_ntz, v double, day string"
    )


_T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731

KW = dict(keys=["sym", "ts"], order_cols=["ts"], partition_cols=["day"])


def _snapshot(spark, path):
    return sorted(
        (r["sym"], r["ts"], r["v"], r["day"])
        for r in txn.read_table(spark, path).collect()
    )


def test_atomic_upsert_merges_and_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "lake")
    v1 = [("A", _T(0), 1.0, "d1"), ("A", _T(1), 2.0, "d1"), ("B", _T(0), 3.0, "d2")]
    m1 = txn.atomic_upsert_partitioned(spark, _df(spark, v1), path, **KW)
    assert m1["version"] == 1
    assert _snapshot(spark, path) == sorted(v1)

    # upsert overwriting one key + adding one row in d1 only
    v2 = [("A", _T(1), 20.0, "d1"), ("C", _T(2), 5.0, "d1")]
    m2 = txn.atomic_upsert_partitioned(spark, _df(spark, v2), path, **KW)
    assert m2["version"] == 2
    want = sorted([("A", _T(0), 1.0, "d1"), ("A", _T(1), 20.0, "d1"),
                   ("C", _T(2), 5.0, "d1"), ("B", _T(0), 3.0, "d2")])
    assert _snapshot(spark, path) == want
    # untouched partition keeps its original generation mapping
    assert m2["partitions"]["day=d2"] == m1["partitions"]["day=d2"]
    assert m2["partitions"]["day=d1"] != m1["partitions"]["day=d1"]

    # replay is a no-op on content
    txn.atomic_upsert_partitioned(spark, _df(spark, v2), path, **KW)
    assert _snapshot(spark, path) == want


def test_crash_before_pointer_swap_leaves_old_generation(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "lake")
    v1 = [("A", _T(0), 1.0, "d1"), ("B", _T(0), 3.0, "d2")]
    txn.atomic_upsert_partitioned(spark, _df(spark, v1), path, **KW)
    before = _snapshot(spark, path)

    # crash AFTER all data files of the new generation are on disk but
    # BEFORE the manifest commit — the torn-lake scenario for plain
    # dynamic partition overwrite
    real_commit = txn.commit_manifest

    def boom(*a, **k):
        raise RuntimeError("injected crash before manifest swap")

    monkeypatch.setattr(txn, "commit_manifest", boom)
    v2 = [("A", _T(0), 99.0, "d1"), ("B", _T(0), 99.0, "d2")]
    with pytest.raises(RuntimeError, match="injected crash"):
        txn.atomic_upsert_partitioned(spark, _df(spark, v2), path, **KW)
    monkeypatch.setattr(txn, "commit_manifest", real_commit)

    # readers: completely unaffected — not one partition flipped
    assert _snapshot(spark, path) == before

    # retry succeeds and lands the FULL commit
    txn.atomic_upsert_partitioned(spark, _df(spark, v2), path, **KW)
    assert _snapshot(spark, path) == sorted(v2)

    # vacuum reclaims the orphan generation dirs from the crashed attempt
    removed = txn.vacuum(spark, path, keep_manifests=1)
    assert removed >= 2  # d1+d2 orphans (crashed) and superseded gen dirs
    assert _snapshot(spark, path) == sorted(v2)


def test_lost_pointer_recovers_from_highest_manifest(spark, tmp_path):
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW)
    txn.atomic_upsert_partitioned(spark, _df(spark, [("A", _T(0), 2.0, "d1")]), path, **KW)
    # simulate a crash between pointer delete and rename
    jvm, fs, _ = txn._fs(spark, path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(
        f"{path}/{txn.MANIFEST_DIR}/{txn.CURRENT}"), False)
    assert [r["v"] for r in txn.read_table(spark, path).collect()] == [2.0]


def test_untouched_partitions_survive_repair(spark, tmp_path):
    path = str(tmp_path / "lake")
    v1 = [("A", _T(0), 1.0, "d1"), ("B", _T(0), 3.0, "d2")]
    txn.atomic_upsert_partitioned(spark, _df(spark, v1), path, **KW)
    # repair writes only into d2; d1 keeps its old generation and rows
    repair = _df(spark, [("A", _T(1), 5.0, "d2")])
    m = txn.atomic_upsert_partitioned(spark, repair, path, **KW)
    assert m["partitions"].keys() == {"day=d1", "day=d2"}
    got = _snapshot(spark, path)
    assert ("A", _T(0), 1.0, "d1") in got
    assert ("A", _T(1), 5.0, "d2") in got and ("B", _T(0), 3.0, "d2") in got


def test_ledger_append_only_and_shrinking_repair(spark, tmp_path):
    """Ledger commits append (cost independent of ledger size); read_ledger
    resolves the latest row per partition, so a repair that SHRANK a
    partition's span moves the watermark back instead of sticking."""
    import glob

    from crypto_datalake_spark.functions.fetch_planner import latest_watermarks

    path, ledger = str(tmp_path / "lake"), str(tmp_path / "ledger")
    kw = dict(**KW, ledger_path=ledger)
    v1 = [("A", _T(0), 1.0, "d1"), ("A", _T(9), 2.0, "d1")]
    txn.atomic_upsert_partitioned(spark, _df(spark, v1), path, **kw)
    files1 = set(glob.glob(f"{ledger}/*.parquet"))

    # second commit: prior ledger files must be untouched (pure append)
    v2 = [("B", _T(5), 3.0, "d2")]
    txn.atomic_upsert_partitioned(spark, _df(spark, v2), path, **kw)
    files2 = set(glob.glob(f"{ledger}/*.parquet"))
    assert files1 <= files2 and len(files2) > len(files1)

    led = {r["day"]: r for r in read_ledger(spark, ledger).collect()}
    assert led["d1"]["row_count"] == 2 and led["d2"]["row_count"] == 1
    assert "generation" in read_ledger(spark, ledger).columns

    # shrinking repair: a replace-style writer re-commits d1 with a smaller
    # span (e.g. bad late rows were cut).  The ledger append supersedes the
    # old row, so the watermark must move BACK to _T(0) — under the old
    # max-over-all-rows read it stayed stuck at _T(9).
    from crypto_datalake_spark.sinks import frame_schema_hash, ledger_entries, upsert_ledger

    shrunk = _df(spark, [("A", _T(0), 1.0, "d1")])
    upsert_ledger(
        spark, ledger,
        ledger_entries(shrunk, ["day"], "ts", ["sym", "ts"]),
        ["day"], frame_schema_hash(shrunk),
    )
    wm = {r["day"]: r["watermark"]
          for r in latest_watermarks(spark, ledger, ["day"]).collect()}
    assert wm["d1"] == _T(0)
    assert wm["d2"] == _T(5)

    # compaction folds the log without changing the resolved state
    from crypto_datalake_spark.sinks import compact_ledger

    compact_ledger(spark, ledger)
    led_c = {r["day"]: r for r in read_ledger(spark, ledger).collect()}
    assert led_c["d1"]["row_count"] == 1 and led_c["d2"]["row_count"] == 1


def test_atomic_overwrite_no_torn_reads(spark, tmp_path):
    path = str(tmp_path / "dim")
    df1 = spark.createDataFrame([(1, "a")], "k bigint, attr string")
    txn.atomic_overwrite(spark, df1, path)
    snap = txn.read_table(spark, path)  # resolved BEFORE the next commit
    df2 = spark.createDataFrame([(1, "b"), (2, "c")], "k bigint, attr string")
    txn.atomic_overwrite(spark, df2, path)
    # the old snapshot still reads cleanly (its generation is intact) …
    assert [r["attr"] for r in snap.collect()] == ["a"]
    # … and new readers see the new generation
    assert sorted(r["attr"] for r in txn.read_table(spark, path).collect()) == ["b", "c"]


def test_atomic_merge_into_key_move_drops_old_partition(spark, tmp_path):
    """A key whose partition value changes moves atomically: the old
    partition (now empty) vanishes from the manifest in the SAME pointer
    swap that publishes the new one — no reader interleaving can observe
    the row in both (or neither) partitions."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "lake")
    v1 = [("A", _T(0), 1.0, "d1"), ("B", _T(0), 3.0, "d2")]
    txn.atomic_merge_into(spark, _df(spark, v1), path,
                          on=["sym"], partition_cols=["day"])
    # key A's day corrected d1 -> d2: d1 empties out
    move = _df(spark, [("A", _T(0), 9.0, "d2")])
    m = txn.atomic_merge_into(spark, move, path,
                              on=["sym"], partition_cols=["day"])
    assert set(m["partitions"]) == {"day=d2"}
    got = _snapshot(spark, path)
    assert got == sorted([("A", _T(0), 9.0, "d2"), ("B", _T(0), 3.0, "d2")])

    # matched-delete through the same atomic path
    m2 = txn.atomic_merge_into(
        spark, _df(spark, [("B", _T(0), 0.0, "d2")]), path,
        on=["sym"], partition_cols=["day"],
        delete_condition=F.col("s_v") == 0.0, insert=False,
    )
    got2 = _snapshot(spark, path)
    assert got2 == [("A", _T(0), 9.0, "d2")]
    assert set(m2["partitions"]) == {"day=d2"}


def test_time_travel_reads_old_version(spark, tmp_path):
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW)
    txn.atomic_upsert_partitioned(spark, _df(spark, [("A", _T(0), 2.0, "d1")]), path, **KW)
    assert [r["v"] for r in txn.read_table(spark, path).collect()] == [2.0]
    assert [r["v"] for r in txn.read_table(spark, path, at_version=1).collect()] == [1.0]
    import pytest as _pt

    with _pt.raises(ValueError, match="not found"):
        txn.read_table(spark, path, at_version=99)


def test_manifest_read_prunes_partitions(spark, tmp_path):
    """Partition filters must still prune on manifest-resolved reads: the
    hive day= values come from the directory names, so a day filter keeps
    Spark from scanning the other partitions' files."""
    import contextlib
    import io as _io

    path = str(tmp_path / "lake")
    rows = [(s, _T(i), float(i), d)
            for i, (s, d) in enumerate(
                (s, f"d{n}") for n in range(4) for s in ("A", "B"))]
    txn.atomic_upsert_partitioned(spark, _df(spark, rows), path, **KW)
    rd = txn.read_table(spark, path).where("day = 'd2'")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rd.explain(mode="formatted")
    plan = buf.getvalue()
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "day" in pf and "d2" in pf, plan
    assert rd.count() == 2


def test_compact_partitions_atomic(spark, tmp_path):
    """Many tiny commits -> many files; compaction folds each partition's
    live generation to one file in a single atomic flip, rows identical;
    old generations stay readable until vacuumed."""
    import glob

    path = str(tmp_path / "lake")
    for i in range(5):  # 5 commits into the same partition = >= 5 file sets
        txn.atomic_upsert_partitioned(
            spark, _df(spark, [("A", _T(i), float(i), "d1")]), path, **KW
        )
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("B", _T(0), 9.0, "d2")]), path, **KW
    )
    before = _snapshot(spark, path)
    snap_old = txn.read_table(spark, path)  # pre-compaction resolution

    m = txn.compact_partitions(spark, path, target_files_per_partition=1)
    assert m is not None
    # same rows, through the new manifest
    assert _snapshot(spark, path) == before
    # each partition's live generation is now a single parquet file
    for ppath, gid in m["partitions"].items():
        files = glob.glob(f"{path}/{ppath}/{txn.GEN_COL}={gid}/*.parquet")
        assert len(files) == 1, (ppath, files)
    # snapshot taken before compaction still reads (old gens intact)
    assert snap_old.count() == len(before)

    # restricted compaction: only d2, d1's mapping untouched
    m2 = txn.compact_partitions(spark, path, partition_paths=["day=d2"])
    assert m2["partitions"]["day=d1"] == m["partitions"]["day=d1"]
    assert _snapshot(spark, path) == before

    txn.vacuum(spark, path, keep_manifests=1)
    assert _snapshot(spark, path) == before


def test_compact_honours_target_files_per_partition(spark, tmp_path):
    """One-pass compaction caps every partition at
    ``target_files_per_partition`` files and spreads rows over them: with
    AQE's merging of small shuffle partitions off, a multi-row partition
    gets more than one file (two salt values can hash to one writer, so
    not every partition reaches the cap)."""
    import glob

    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark,
        _df(spark, [(s, _T(i), float(i), d) for i in range(4)
                    for s, d in (("A", "d1"), ("B", "d2"))]),
        path, **KW,
    )
    before = _snapshot(spark, path)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        m = txn.compact_partitions(spark, path, target_files_per_partition=2)
    finally:
        spark.conf.set(key, prev)
    assert _snapshot(spark, path) == before
    files = {
        p: len(glob.glob(f"{path}/{p}/{txn.GEN_COL}={g}/*.parquet"))
        for p, g in m["partitions"].items()
    }
    assert set(files) == {"day=d1", "day=d2"}
    assert max(files.values()) == 2 and min(files.values()) >= 1


def test_concurrent_commit_detected(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: a writer whose view went stale (another
    writer committed the same next version first) gets
    ConcurrentCommitError instead of silently clobbering the winner's
    manifest; a fresh read (rebase) then retries as the next version."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW)
    stale = txn.current_manifest(spark, path)  # both writers read v1

    # winner lands v2 normally
    winner = txn.commit_manifest(spark, path, dict(stale["partitions"]))
    assert winner["version"] == 2

    # loser still believes current == v1 and therefore targets v2
    real = txn.current_manifest
    monkeypatch.setattr(txn, "current_manifest", lambda *a, **k: stale)
    with pytest.raises(txn.ConcurrentCommitError):
        txn.commit_manifest(spark, path, {"day=d1": "zzz"})
    monkeypatch.setattr(txn, "current_manifest", real)

    # the winner's manifest is untouched and still resolvable
    assert txn.current_manifest(spark, path)["version"] == 2
    assert txn.current_manifest(spark, path)["partitions"] == winner["partitions"]
    # rebase-and-retry commits as v3
    m = txn.commit_manifest(
        spark, path, dict(txn.current_manifest(spark, path)["partitions"])
    )
    assert m["version"] == 3


def test_null_partition_value_roundtrip(spark, tmp_path):
    """A NULL partition value must write, resolve, and repair through the
    manifest like any other: the path string uses Spark's own escaping
    (__HIVE_DEFAULT_PARTITION__), so the manifest key matches the
    directory partitionBy creates."""
    path = str(tmp_path / "lake")
    rows = [("A", _T(0), 1.0, None), ("B", _T(0), 2.0, "d1")]
    m = txn.atomic_upsert_partitioned(spark, _df(spark, rows), path, **KW)
    assert "day=__HIVE_DEFAULT_PARTITION__" in m["partitions"]
    got = txn.read_table(spark, path).collect()
    assert {(r["sym"], r["day"]) for r in got} == {("A", None), ("B", "d1")}

    # repair into the null partition only; d1 untouched
    m2 = txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(1), 9.0, None)]), path, **KW
    )
    assert m2["partitions"]["day=d1"] == m["partitions"]["day=d1"]
    got2 = sorted((r["sym"], r["ts"], r["v"]) for r in
                  txn.read_table(spark, path).where("day IS NULL").collect())
    assert got2 == [("A", _T(0), 1.0), ("A", _T(1), 9.0)]


def test_compact_ledger_crash_safe_resolution(spark, tmp_path):
    """Compaction is append-then-prune: at every intermediate state the
    log resolves to the same ledger, so a crash mid-compaction can never
    tear or empty the watermark state."""
    import glob
    import time

    import pyspark.sql.functions as F

    from crypto_datalake_spark.sinks import compact_ledger

    path, ledger = str(tmp_path / "lake"), str(tmp_path / "ledger")
    kw = dict(**KW, ledger_path=ledger)
    for i in range(4):
        txn.atomic_upsert_partitioned(
            spark, _df(spark, [("A", _T(i), float(i), "d1")]), path, **kw
        )
    resolved_before = {
        r["day"]: (r["row_count"], r["max_ts"])
        for r in read_ledger(spark, ledger).collect()
    }
    n_files_before = len(glob.glob(f"{ledger}/*.parquet"))
    assert n_files_before >= 4

    # simulate the crash state: compacted rows appended, old files NOT yet
    # deleted — the log must resolve identically
    read_ledger(spark, ledger).withColumn(
        "commit_seq", F.lit(time.time_ns() // 1000)
    ).localCheckpoint(eager=True).write.mode("append").parquet(ledger)
    resolved_mid = {
        r["day"]: (r["row_count"], r["max_ts"])
        for r in read_ledger(spark, ledger).collect()
    }
    assert resolved_mid == resolved_before

    # full compaction prunes the log; resolution still identical
    compact_ledger(spark, ledger)
    resolved_after = {
        r["day"]: (r["row_count"], r["max_ts"])
        for r in read_ledger(spark, ledger).collect()
    }
    assert resolved_after == resolved_before
    assert len(glob.glob(f"{ledger}/*.parquet")) < n_files_before


def test_stale_base_commit_rejected_cas(spark, tmp_path):
    """True compare-and-swap: a writer whose BASE manifest went stale
    (another commit landed in between, so the versions no longer collide)
    must still be rejected — otherwise its partition map silently reverts
    the interleaved commit (lost update)."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW
    )
    base = txn.current_manifest(spark, path)  # writer W read v1

    # interleaved writer lands v2 with a different partition map
    inter = txn.commit_manifest(
        spark, path, {**base["partitions"], "day=d9": "interleaved"},
        base_version=base["version"],
    )
    assert inter["version"] == base["version"] + 1

    # W plans against its stale base: versions don't collide (W would
    # write v3), but the base check rejects it for rebase
    with pytest.raises(txn.ConcurrentCommitError):
        txn.commit_manifest(
            spark, path, dict(base["partitions"]),
            base_version=base["version"],
        )
    # interleaved commit survives
    assert txn.current_manifest(spark, path)["partitions"]["day=d9"] == "interleaved"

    # rebase-and-retry: re-read, merge W's intent onto the live map, win
    live = txn.current_manifest(spark, path)
    retried = txn.commit_manifest(
        spark, path, {**live["partitions"], "day=d1": "rebased"},
        base_version=live["version"],
    )
    assert retried["version"] == live["version"] + 1
    final = txn.current_manifest(spark, path)["partitions"]
    assert final["day=d9"] == "interleaved" and final["day=d1"] == "rebased"


def test_two_writer_interleaving_no_lost_update(spark, tmp_path):
    """End-to-end two-writer interleaving through the high-level upsert:
    writer B commits between writer A's read and A's commit; A's commit
    must fail (not silently drop B's partition), and A's retry preserves
    both writers' data."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW
    )

    # Writer A: plan an upsert but stall before commit — simulated by
    # capturing the manifest A read, then letting B commit first.
    a_base = txn.current_manifest(spark, path)
    txn.atomic_upsert_partitioned(  # writer B lands
        spark, _df(spark, [("B", _T(0), 9.0, "dB")]), path, **KW
    )
    with pytest.raises(txn.ConcurrentCommitError):
        txn.commit_manifest(
            spark, path, {**a_base["partitions"], "day=dA": "a-gen"},
            base_version=a_base["version"],
        )
    # A retries through the high-level path (fresh read inside) — both
    # writers' rows visible afterwards
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A2", _T(1), 2.0, "dA")]), path, **KW
    )
    got = {r["sym"] for r in txn.read_table(spark, path).collect()}
    assert got == {"A", "B", "A2"}


def test_unmanaged_parquet_dir_rejected(spark, tmp_path):
    """A directory holding plain (pre-manifest) parquet must not be
    treated as a fresh txn table: its history would silently disappear
    from txn readers while flat files duplicate for plain readers."""
    path = str(tmp_path / "legacy")
    _df(spark, [("A", _T(0), 1.0, "d1")]).write.parquet(path)
    with pytest.raises(ValueError, match="unmanaged"):
        txn.atomic_upsert_partitioned(
            spark, _df(spark, [("B", _T(0), 2.0, "d1")]), path, **KW
        )
    with pytest.raises(ValueError, match="unmanaged"):
        txn.atomic_overwrite(spark, _df(spark, [("B", _T(0), 2.0, "d1")]), path)
    # legacy data untouched by the refusals
    assert spark.read.parquet(path).count() == 1


def test_ledger_commit_seq_monotonic_under_clock_step(spark, tmp_path):
    """commit_seq must stay strictly increasing even if the wall clock
    steps backwards between commits (NTP) — keep-last resolution picks
    rows by seq, so a regression would surface a stale watermark."""
    from crypto_datalake_spark import sinks

    ledger = str(tmp_path / "ledger")
    entries = spark.createDataFrame([("d1", 1)], "day string, row_count int")
    # first commit stamps a far-future seq (simulated clock ahead)
    far_future = 4102444800000000  # year 2100, microseconds
    stamped = entries.withColumn("schema_hash", F.lit("h")).withColumn(
        "status", F.lit("COMMITTED")
    ).withColumn("committed_at_utc", F.lit("t")).withColumn(
        "commit_seq", F.lit(far_future)
    )
    stamped.write.mode("append").parquet(ledger)
    # next commit's wall clock is "behind" the ledger max: seq must still
    # advance past it, so this row supersedes at read time
    sinks.upsert_ledger(
        spark, ledger,
        spark.createDataFrame([("d1", 2)], "day string, row_count int"),
        ["day"], "h2",
    )
    led = spark.read.parquet(ledger)
    seqs = sorted(r["commit_seq"] for r in led.collect())
    assert seqs[1] == far_future + 1
    current = sinks.read_ledger(spark, ledger)
    assert current.where("day = 'd1'").first()["row_count"] == 2


def test_commit_scales_to_100k_partitions(spark, tmp_path):
    """Commit cost is O(live partitions) driver-side JSON (txn.py module
    docstring). Pin the measured ceiling: a 100k-partition manifest —
    ~3 years of hourly partitions across 4 symbols — must commit in
    seconds, and the marginal cost of one more commit on top of a large
    manifest must stay flat (no accidental O(n^2) from re-listing or
    re-serializing history). The recorded numbers live in SCALE.md."""
    import time

    from crypto_datalake_spark import txn

    table = str(tmp_path / "bigmani")
    parts_100k = {f"sym=S{i % 4}/hour={i}": "g0" for i in range(100_000)}

    t0 = time.perf_counter()
    txn.commit_manifest(spark, table, parts_100k, base_version=None)
    first = time.perf_counter() - t0

    # steady-state: read-current + CAS + rewrite, on top of the big map
    t0 = time.perf_counter()
    m = txn.current_manifest(spark, table)
    m["partitions"]["sym=S0/hour=100001"] = "g1"
    txn.commit_manifest(
        spark, table, m["partitions"], base_version=m["version"]
    )
    steady = time.perf_counter() - t0

    live = txn.current_manifest(spark, table)
    assert live["version"] == 2
    assert len(live["partitions"]) == 100_001
    # generous wall-clock bounds (shared CI hardware): the point is
    # "seconds, not minutes" and "steady-state is not worse than first"
    assert first < 20.0, f"100k-partition first commit took {first:.1f}s"
    assert steady < 20.0, f"steady-state commit took {steady:.1f}s"


def test_orphaned_version_file_recovers_not_wedges(spark, tmp_path):
    """Crash between the version-file write and the _CURRENT swing must
    NOT wedge the table: the orphaned version is fully durable committed
    data, so resolution serves it (highest version wins over a stale
    pointer) and the next commit lands on top of it."""
    import json

    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW
    )
    live = txn.current_manifest(spark, path)

    # simulate the crash: v2 file exists, pointer still names v1
    orphan = {"version": 2, "partitions": dict(live["partitions"])}
    txn._write_text_atomic(
        spark, txn._manifest_path(path, 2), json.dumps(orphan), replace=False
    )
    assert txn.current_manifest(spark, path)["version"] == 2  # not stale v1

    # and a fresh commit proceeds (v3), instead of colliding on v2 forever
    m = txn.atomic_upsert_partitioned(
        spark, _df(spark, [("B", _T(1), 2.0, "d1")]), path, **KW
    )
    assert m["version"] == 3
    got = {r["sym"] for r in txn.read_table(spark, path).collect()}
    assert got == {"A", "B"}


def test_merge_into_emptied_table_not_wedged(spark, tmp_path):
    """A merge against a table whose previous merge DELETED every row must
    commit (CAS base = the emptied manifest's version), not raise
    ConcurrentCommitError forever; and an update-only merge (insert=False)
    against the empty table must write nothing, not insert the source."""
    path = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, "d1", 1.0)], "k bigint, day string, v double"
    )
    txn.atomic_merge_into(spark, df, path, on=["k"], partition_cols=["day"])
    txn.atomic_merge_into(  # delete everything
        spark, df, path, on=["k"], partition_cols=["day"],
        delete_condition=F.lit(True),
    )
    assert txn.read_table(spark, path) is None

    nxt = spark.createDataFrame([(2, "d1", 2.0)], "k bigint, day string, v double")
    txn.atomic_merge_into(  # must land, not wedge
        spark, nxt, path, on=["k"], partition_cols=["day"]
    )
    got = txn.read_table(spark, path).collect()
    assert [(r["k"], r["v"]) for r in got] == [(2, 2.0)]

    upd_only = spark.createDataFrame([(9, "d1", 9.0)], "k bigint, day string, v double")
    txn.atomic_merge_into(
        spark, upd_only, path, on=["k"], partition_cols=["day"], insert=False
    )
    ks = {r["k"] for r in txn.read_table(spark, path).collect()}
    assert ks == {2}  # update-only merge inserted nothing


def test_partition_paths_render_like_spark(spark, tmp_path):
    """Manifest partition keys must match the directory names partitionBy
    writes — including booleans, where Python str() ('True') diverges
    from Spark's rendering ('true')."""
    path = str(tmp_path / "flags")
    df = spark.createDataFrame([(1, True), (2, False)], "k bigint, flag boolean")
    gid = txn.write_generation(df, path, ["flag"])
    paths = set(txn._partition_path_strings(spark, df, ["flag"]))
    assert paths == {"flag=true", "flag=false"}
    m = txn.commit_manifest(
        spark, path, {p: gid for p in paths}, base_version=None
    )
    back = txn.read_table(spark, path)
    assert back.count() == 2  # keys resolved to real directories


def test_compact_preserves_original_commit_seqs(spark, tmp_path):
    """Compaction must NOT re-stamp resolved rows with a fresh seq: a
    commit racing the compaction snapshot would then tie with the
    summary and could lose keep-last to stale data.  Original seqs make
    any concurrent commit strictly newer than everything compaction
    writes."""
    import glob

    from crypto_datalake_spark.sinks import compact_ledger

    path, ledger = str(tmp_path / "lake"), str(tmp_path / "ledger")
    kw = dict(**KW, ledger_path=ledger)
    for i in range(3):
        txn.atomic_upsert_partitioned(
            spark, _df(spark, [("A", _T(i), float(i), "d1")]), path, **kw
        )
    led = spark.read.parquet(ledger)
    max_seq_before = led.agg(F.max("commit_seq")).first()[0]

    compact_ledger(spark, ledger)
    led = spark.read.parquet(ledger)
    assert led.agg(F.max("commit_seq")).first()[0] == max_seq_before
    assert len(glob.glob(f"{ledger}/*.parquet")) < 3

    # the next real commit is strictly newer than the compacted summary
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(9), 9.0, "d1")]), path, **kw
    )
    led = spark.read.parquet(ledger)
    assert led.agg(F.max("commit_seq")).first()[0] > max_seq_before
    # and resolution reflects it
    (row,) = read_ledger(spark, ledger).collect()
    assert row["max_ts"] == _T(9)


def test_ledger_seq_tie_resolves_deterministically(spark, tmp_path):
    """Two writers racing _next_commit_seq can stamp the same seq; the
    commit_token tiebreak makes keep-last resolution stable across
    re-reads instead of flapping with scan order."""
    import pyspark.sql.functions as SF

    ledger = str(tmp_path / "ledger")
    base = spark.createDataFrame(
        [("d1", 5, "2024-01-01", "aaaa"), ("d1", 7, "2024-01-01", "zzzz")],
        "day string, row_count long, committed_at_utc string, commit_token string",
    ).withColumn("commit_seq", SF.lit(1000))
    base.withColumn("schema_hash", SF.lit("h")).withColumn(
        "status", SF.lit("COMMITTED")
    ).write.mode("append").parquet(ledger)
    got = {
        tuple(r)
        for _ in range(3)
        for r in read_ledger(spark, ledger).select("day", "row_count").collect()
    }
    assert got == {("d1", 7)}  # highest token wins, every time


def test_table_diff_reads_only_changed_partitions(spark, tmp_path):
    """CDC between manifest versions: row-level delete+insert pairs for
    churn, zero rows for a pure compaction, and — the scale contract —
    input files drawn ONLY from partitions whose generation moved."""
    path = str(tmp_path / "lake")
    # v1: days d1 (2 rows) and d2 (1 row)
    txn.atomic_upsert_partitioned(
        spark,
        _df(spark, [("A", _T(0), 1.0, "d1"), ("B", _T(1), 2.0, "d1"),
                    ("A", _T(2), 3.0, "d2")]),
        path, **KW,
    )
    # v2: update one d1 row, add day d3; d2 untouched
    txn.atomic_upsert_partitioned(
        spark,
        _df(spark, [("A", _T(0), 9.0, "d1"), ("C", _T(5), 5.0, "d3")]),
        path, **KW,
    )
    diff = txn.table_diff(spark, path, 1, 2)
    got = {(r["__change"], r["sym"], r["v"], r["day"]) for r in diff.collect()}
    assert got == {
        ("delete", "A", 1.0, "d1"),
        ("insert", "A", 9.0, "d1"),
        ("insert", "C", 5.0, "d3"),
    }
    # untouched d2 never read
    assert all("day=d2" not in f for f in diff.inputFiles())

    # diff to live (None) == diff to 2
    got_live = {(r["__change"], r["sym"], r["v"], r["day"])
                for r in txn.table_diff(spark, path, 1).collect()}
    assert got_live == got

    # compaction rewrites generations but not rows -> empty diff
    txn.compact_partitions(spark, path, partition_paths=["day=d1"])
    diff2 = txn.table_diff(spark, path, 2, 3)
    assert diff2.count() == 0
    # no-churn fast path: empty frame, schema + __change preserved
    assert diff2.columns == ["sym", "ts", "v", "day", "__change"]
    same = txn.table_diff(spark, path, 3, 3)
    assert same.count() == 0 and "__change" in same.columns


def test_manifest_schema_evolution_add_column(spark, tmp_path):
    """Schema is metadata: every commit records its table schema, reads
    never sample parquet footers. An add-only evolution through the
    upsert path widens the table — untouched partitions' OLD generation
    files (physically missing the column) read as null through the
    manifest schema — and time travel returns each version's own shape."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark,
        _df(spark, [("A", _T(0), 1.0, "d1"), ("B", _T(1), 2.0, "d2")]),
        path, **KW,
    )
    wide = spark.createDataFrame(
        [("A", _T(0), 9.0, 7.5, "d1")],
        "sym string, ts timestamp_ntz, v double, q double, day string",
    )
    txn.atomic_upsert_partitioned(spark, wide, path, **KW)

    live = txn.read_table(spark, path)
    assert live.columns == ["sym", "ts", "v", "q", "day"]
    by_sym = {r["sym"]: r for r in live.collect()}
    assert by_sym["A"]["q"] == 7.5 and by_sym["A"]["v"] == 9.0
    # d2's generation predates column q -> null, not an error
    assert by_sym["B"]["q"] is None and by_sym["B"]["v"] == 2.0

    v1 = txn.read_table(spark, path, at_version=1)
    assert v1.columns == ["sym", "ts", "v", "day"]  # old version, old shape

    # compaction carries the recorded schema forward
    txn.compact_partitions(spark, path)
    after = txn.read_table(spark, path)
    assert after.columns == ["sym", "ts", "v", "q", "day"]
    assert {r["sym"]: r["q"] for r in after.collect()} == {"A": 7.5, "B": None}


def test_evolution_narrowing_rejected_and_diff_across_evolution(spark, tmp_path):
    """The add-only contract is enforced on BOTH write paths, and
    table_diff emits the feed in the to-version's shape across an
    evolution commit (old side null-fills the new column)."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW
    )
    wide_ddl = "sym string, ts timestamp_ntz, v double, q double, day string"
    txn.atomic_upsert_partitioned(
        spark, spark.createDataFrame([("A", _T(0), 2.0, 5.0, "d1")], wide_ddl),
        path, **KW,
    )
    # narrowing batch (no q) must be rejected on both write paths
    with pytest.raises(ValueError, match="add-only"):
        txn.atomic_upsert_partitioned(
            spark, _df(spark, [("A", _T(1), 3.0, "d1")]), path, **KW
        )
    with pytest.raises(ValueError, match="add-only"):
        txn.atomic_merge_into(
            spark, _df(spark, [("A", _T(0), 9.0, "d1")]), path,
            on=["sym", "ts"], partition_cols=["day"],
        )
    # diff across the evolution commit: to-version shape, delete row
    # carries null for the column that did not exist at from-version
    got = {
        (r["__change"], r["sym"], r["v"], r["q"])
        for r in txn.table_diff(spark, path, 1, 2).collect()
    }
    assert got == {("delete", "A", 1.0, None), ("insert", "A", 2.0, 5.0)}

    # merge path widens too: source adds column r
    wider = spark.createDataFrame(
        [("A", _T(0), 2.0, 5.0, 1.0, "d1")],
        "sym string, ts timestamp_ntz, v double, q double, r double, day string",
    )
    txn.atomic_merge_into(
        spark, wider, path, on=["sym", "ts"], partition_cols=["day"]
    )
    assert txn.read_table(spark, path).columns == [
        "sym", "ts", "v", "q", "r", "day"
    ]


def test_table_diff_through_emptied_table(spark, tmp_path):
    """A table that transits through empty must diff cleanly, not raise —
    an incremental consumer polls across the empty state."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW
    )
    txn.atomic_merge_into(
        spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path,
        on=["sym", "ts"], partition_cols=["day"],
        delete_condition="true", insert=False,
    )  # empties the table (v2 has no partitions)
    d12 = {(r["__change"], r["sym"]) for r in txn.table_diff(spark, path, 1, 2).collect()}
    assert d12 == {("delete", "A")}
    empty = txn.table_diff(spark, path, 2, 2)
    assert empty.count() == 0 and "__change" in empty.columns


def test_table_diff_refuses_type_changing_rewrite(spark, tmp_path):
    """Diffing across an atomic_overwrite that changed a column's TYPE
    must raise, not silently cast: a lossy cast (string→double → null)
    would null-fill delete rows and could equate genuinely changed rows,
    corrupting the change feed.  Diffs on either side of the rewrite
    stay valid."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW
    )  # v1: v double
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("B", _T(1), 2.0, "d1")]), path, **KW
    )  # v2: same schema
    retyped = spark.createDataFrame(
        [("A", _T(0), "not-a-number", "d1")],
        "sym string, ts timestamp_ntz, v string, day string",
    )
    txn.atomic_overwrite(spark, retyped, path)  # v3: v double -> string
    with pytest.raises(ValueError, match="changed column types"):
        txn.table_diff(spark, path, 1, 3)
    with pytest.raises(ValueError, match=r"v: double -> string"):
        txn.table_diff(spark, path, 2)  # to live crosses the rewrite too
    # either side of the rewrite still diffs fine
    d12 = {(r["__change"], r["sym"]) for r in txn.table_diff(spark, path, 1, 2).collect()}
    assert d12 == {("insert", "B")}
    assert txn.table_diff(spark, path, 3, 3).count() == 0


def test_table_diff_type_guard_covers_pre_schema_manifests(spark, tmp_path):
    """When the from-version manifest predates recorded schemas, the
    manifest-level type guard cannot run — the READ side's footer types
    must still be checked against the to-version shape, or the old side
    would be silently lossy-cast (the exact corruption the guard
    exists to refuse)."""
    import json as _json
    import os as _os

    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW
    )  # v1: v double
    # simulate a v1 written by the pre-schema code (strip table_schema +
    # the local-FS checksum sidecar that would flag the edit)
    mp = f"{path}/{txn.MANIFEST_DIR}/v00000001.json"
    m = _json.loads(open(mp).read())
    del m["table_schema"]
    open(mp, "w").write(_json.dumps(m))
    crc = f"{path}/{txn.MANIFEST_DIR}/.v00000001.json.crc"
    if _os.path.exists(crc):
        _os.remove(crc)
    retyped = spark.createDataFrame(
        [("A", _T(0), "not-a-number", "d1")],
        "sym string, ts timestamp_ntz, v string, day string",
    )
    txn.atomic_overwrite(spark, retyped, path)  # v2: v double -> string
    with pytest.raises(ValueError, match=r"v: double -> string"):
        txn.table_diff(spark, path, 1, 2)


def test_diff_shape_from_to_version_manifest_even_when_new_side_empty(spark, tmp_path):
    """A commit that widens the schema while emptying its touched
    partitions leaves no changed partitions on the new side — the feed
    must still come out in the to-version's (widened) shape so
    consumers can unionByName consecutive feeds."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(0), 1.0, "d1")]), path, **KW
    )
    wider = spark.createDataFrame(
        [("A", _T(0), 1.0, 2.0, "d1")],
        "sym string, ts timestamp_ntz, v double, r double, day string",
    )
    txn.atomic_merge_into(
        spark, wider, path, on=["sym", "ts"], partition_cols=["day"],
        delete_condition="true", insert=False,
    )  # v2: schema gains r, table empties
    diff = txn.table_diff(spark, path, 1, 2)
    assert diff.columns == ["sym", "ts", "v", "r", "day", "__change"]
    got = {(r["__change"], r["sym"], r["r"]) for r in diff.collect()}
    assert got == {("delete", "A", None)}  # old side null-fills r


def test_evolution_guard_covers_pre_schema_manifests_and_type_changes(spark, tmp_path):
    """Narrowing against a manifest that predates recorded schemas must
    still be rejected (it would RECORD the narrowed schema and hide the
    column table-wide), and a same-name type change is a rewrite, not
    an evolution."""
    import json as _json

    path = str(tmp_path / "lake")
    wide = spark.createDataFrame(
        [("A", _T(0), 1.0, 2.0, "d1")],
        "sym string, ts timestamp_ntz, v double, x double, day string",
    )
    txn.atomic_upsert_partitioned(
        spark, wide, path,
        keys=["sym", "ts"], order_cols=["ts"], partition_cols=["day"],
    )
    # simulate a v1 written by the pre-schema code: strip table_schema
    # (and the Hadoop local-FS checksum sidecar, which would otherwise
    # flag the out-of-band edit)
    import os as _os

    mp = f"{path}/{txn.MANIFEST_DIR}/v00000001.json"
    m = _json.loads(open(mp).read())
    del m["table_schema"]
    open(mp, "w").write(_json.dumps(m))
    crc = f"{path}/{txn.MANIFEST_DIR}/.v00000001.json.crc"
    if _os.path.exists(crc):
        _os.remove(crc)

    with pytest.raises(ValueError, match="add-only"):
        txn.atomic_upsert_partitioned(
            spark, _df(spark, [("A", _T(1), 3.0, "d1")]), path, **KW
        )

    # type change: x double -> x string
    restring = spark.createDataFrame(
        [("A", _T(0), 1.0, "oops", "d1")],
        "sym string, ts timestamp_ntz, v double, x string, day string",
    )
    with pytest.raises(ValueError, match="type"):
        txn.atomic_upsert_partitioned(
            spark, restring, path,
            keys=["sym", "ts"], order_cols=["ts"], partition_cols=["day"],
        )


def test_decimal_and_binary_stats_cols_commit_cleanly(spark, tmp_path):
    """DECIMAL stats serialize to float (JSON can't carry Decimal) and
    binary stats degrade to no-prune None — neither may abort the commit
    after the generation is written (the orphan-generation failure)."""
    path = str(tmp_path / "lake")
    df = _df(spark, [("A", _T(0), 1.5, "d1"), ("B", _T(1), 2.5, "d2")]) \
        .withColumn("amt", F.col("v").cast("decimal(28,6)")) \
        .withColumn("blob", F.col("sym").cast("binary"))
    m = txn.atomic_upsert_partitioned(
        spark, df, path,
        keys=["sym", "ts"], order_cols=["ts"], partition_cols=["day"],
        stats_cols=["amt", "blob"],
    )
    assert m["stats"]["day=d1"]["amt"] == [1.5, 1.5]
    assert m["stats"]["day=d1"]["blob"] == [None, None]  # never prunes
    # decimal bounds prune; binary bounds are ignored (must-read)
    got = txn.read_table_skipping(spark, path, {"amt": (2.0, None)})
    assert all("day=d2" in f for f in got.inputFiles())
    got2 = txn.read_table_skipping(spark, path, {"blob": (b"A", b"B")})
    assert {r["day"] for r in got2.collect()} == {"d1", "d2"}


def test_skipping_incomparable_bound_degrades_to_read(spark, tmp_path):
    """A pruning bound in a different domain than the recorded stat
    (numeric bound vs ISO-string timestamp stat) must degrade to
    'read everything', never raise at read time."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark,
        _df(spark, [("A", _T(0), 1.0, "d1"), ("B", _T(30), 30.0, "d2")]),
        path, stats_cols=["ts", "v"], **KW,
    )
    # ts stats are ISO strings; a float bound is incomparable -> no prune
    df = txn.read_table_skipping(spark, path, {"ts": (12345.0, None)})
    assert {r["day"] for r in df.collect()} == {"d1", "d2"}
    # and a string bound against numeric v stats likewise
    df2 = txn.read_table_skipping(spark, path, {"v": ("zzz", None)})
    assert {r["day"] for r in df2.collect()} == {"d1", "d2"}


def test_upsert_without_stats_cols_preserves_skipping(spark, tmp_path):
    """The common upsert path must not silently disable data skipping:
    omitting stats_cols on a table whose manifest records stats refreshes
    the touched partitions over the SAME columns and carries the rest
    forward, like merge/purge/compaction already do."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark,
        _df(spark, [("A", _T(0), 1.0, "d1"), ("B", _T(1), 50.0, "d2")]),
        path, stats_cols=["v"], **KW,
    )
    # stats_cols omitted: d1 rewritten (fresh bounds), d2 carried forward
    m = txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(2), 100.0, "d1")]), path, **KW
    )
    assert m["stats"]["day=d1"]["v"] == [1.0, 100.0]   # fresh, not stale
    assert m["stats"]["day=d2"]["v"] == [50.0, 50.0]   # carried forward
    assert txn.read_table_skipping(spark, path, {"v": (200.0, None)}) is None
    df = txn.read_table_skipping(spark, path, {"v": (60.0, None)})
    assert all("day=d1" in f for f in df.inputFiles())


def test_stat_scalar_directed_rounding_keeps_pruning_sound():
    """Decimal stats above 2**53 (possible with decimal(38,6) sums) must
    round DIRECTEDLY into the float domain (ADVICE r8): nearest-rounding
    can move a recorded min UP past the true min (or a max DOWN), and a
    pruning decision on such a bound would wrongly drop a partition that
    contains matching rows."""
    import math
    from decimal import Decimal

    # 2**53 + 3 = 9007199254740995: float() nearest-rounds UP to ...996
    v = Decimal(2**53 + 3)
    assert float(v) == float(2**53 + 4)  # the hazard is real
    lo = txn._stat_scalar(v, round_toward=-1)
    hi = txn._stat_scalar(v, round_toward=1)
    assert Decimal(lo) <= v <= Decimal(hi)
    assert hi == float(2**53 + 4) and lo == float(2**53 + 2)
    # 2**53 + 1 nearest-rounds DOWN — the max side needs the nudge there
    w = Decimal(2**53 + 1)
    assert Decimal(txn._stat_scalar(w, round_toward=-1)) <= w
    assert Decimal(txn._stat_scalar(w, round_toward=1)) >= w
    # exactly-representable values pass through untouched in both modes
    x = Decimal("123.5")
    assert txn._stat_scalar(x, round_toward=-1) == 123.5
    assert txn._stat_scalar(x, round_toward=1) == 123.5
    # fuzz: bounds always bracket the true value in the Decimal domain
    import random

    rng = random.Random(7)
    for _ in range(200):
        d = Decimal(rng.randrange(-(10**30), 10**30)) / Decimal(10**6)
        assert (
            Decimal(txn._stat_scalar(d, round_toward=-1))
            <= d
            <= Decimal(txn._stat_scalar(d, round_toward=1))
        )
        nxt = math.nextafter  # and the nudge is at most one ulp
        f = float(d)
        assert txn._stat_scalar(d, round_toward=-1) in (f, nxt(f, -math.inf))
        assert txn._stat_scalar(d, round_toward=1) in (f, nxt(f, math.inf))


def test_read_table_skipping_decimal_bounds_above_2_53(spark, tmp_path):
    """End-to-end: a decimal(38,6) stats column whose per-partition min
    is not float-representable must still be readable at a query bound
    equal to the true min — pruning stays sound where it goes imprecise."""
    from decimal import Decimal

    big = Decimal(2**53 + 3)  # nearest-rounds UP in the float domain
    df = spark.createDataFrame(
        [("A", big, "d1"), ("B", Decimal(5), "d2")],
        "sym string, v decimal(38,6), day string",
    )
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark, df, path,
        keys=["sym"], order_cols=["sym"], partition_cols=["day"],
        stats_cols=["v"],
    )
    # query bound exactly at the true (non-representable) min: the
    # partition holds a matching row and MUST be read
    out = txn.read_table_skipping(spark, path, {"v": (big, big)})
    assert out is not None
    assert [r["sym"] for r in out.collect() if r["v"] == big] == ["A"]
    # and pruning still prunes where it can
    assert txn.read_table_skipping(
        spark, path, {"v": (Decimal(10**20), None)}
    ) is None


def test_upsert_reads_only_touched_partitions(spark, tmp_path, monkeypatch):
    """Review regression (scale): an incremental upsert must resolve and
    read ONLY the touched partitions' live generations — the previous
    full-table read + null-safe semi-join listed and planned every
    partition per upsert (O(table) metadata at 100k partitions) and
    Catalyst cannot statically prune an eqNullSafe join condition."""
    path = str(tmp_path / "lake")
    txn.atomic_upsert_partitioned(
        spark,
        _df(spark, [
            ("A", _T(0), 1.0, "d1"), ("B", _T(1), 2.0, "d2"),
            ("C", _T(2), 3.0, "d3"),
        ]),
        path, **KW,
    )
    read_parts: list = []
    real = txn._read_generation_dirs

    def capture(spark_, table_path, manifest, parts=None):
        if parts is not None:
            read_parts.append(sorted(parts))
        return real(spark_, table_path, manifest, parts)

    monkeypatch.setattr(txn, "_read_generation_dirs", capture)
    monkeypatch.setattr(
        txn, "read_table",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("upsert must not read the whole table")
        ),
    )
    m = txn.atomic_upsert_partitioned(
        spark, _df(spark, [("A", _T(3), 9.0, "d1")]), path, **KW
    )
    assert m["version"] == 2
    assert read_parts == [["day=d1"]]       # only the touched partition
    monkeypatch.undo()
    # merge semantics intact: the new (A, T3) row joined the old d1 rows
    # (distinct key → both live), d2/d3 untouched
    rows = {
        (r["sym"], r["ts"]): r["v"]
        for r in txn.read_table(spark, path).collect()
    }
    assert rows[("A", _T(3))] == 9.0 and rows[("A", _T(0))] == 1.0
    assert rows[("B", _T(1))] == 2.0 and rows[("C", _T(2))] == 3.0
    # an upsert into a brand-new partition reads nothing at all
    read_parts.clear()
    monkeypatch.setattr(txn, "_read_generation_dirs", capture)
    txn.atomic_upsert_partitioned(
        spark, _df(spark, [("D", _T(4), 4.0, "d4")]), path, **KW
    )
    assert read_parts == []


# ---- review regressions: sinks/silver/ivm hardening (r9) ----


def test_merge_into_drops_emptied_boolean_partition(spark, tmp_path):
    """Review regression: the emptied-partition delete rendered values
    with Python str() (True vs the directory's true), so the delete
    silently no-op'd and deleted rows resurrected on the next read —
    values now render through Spark's own cast-to-string."""
    from crypto_datalake_spark.sinks import merge_into

    path = str(tmp_path / "flags")
    spark.createDataFrame(
        [(1, True, 1.0), (2, False, 2.0)], "k long, live boolean, v double"
    ).write.partitionBy("live").parquet(path)
    # delete the only row of live=true -> that partition must VANISH
    merge_into(
        spark,
        spark.createDataFrame([(1, True, 1.0)], "k long, live boolean, v double"),
        path,
        on=["k"],
        partition_cols=["live"],
        delete_condition=F.lit(True),
        insert=False,
    )
    import os

    # partition-col type inference reads bools back as strings; the
    # on-disk directory set is the ground truth the fix targets
    assert sorted(
        d for d in os.listdir(path) if d.startswith("live=")
    ) == ["live=false"]
    got = spark.read.parquet(path).collect()
    assert [r["k"] for r in got] == [2]


def test_merge_frames_null_key_preserves_live_only(spark):
    """Review regression: the preserve/flag lookup joined on plain
    equality, so a NULL-keyed incoming row never matched existing and
    lost its LIVE_ONLY value — while the keep-last dedup DID group the
    rows as one key and let the incoming row replace the stored one.
    The lookup now joins null-safely, consistent with the dedup."""
    from crypto_datalake_spark.sinks import merge_frames

    existing = spark.createDataFrame(
        [(None, dt.datetime(2024, 1, 1), 5.0)],
        "sym string, ts timestamp_ntz, oi double",
    )
    incoming = spark.createDataFrame(
        [(None, dt.datetime(2024, 1, 1, 0, 1), None)],
        "sym string, ts timestamp_ntz, oi double",
    )
    out = merge_frames(
        incoming, existing, keys=["sym"], order_cols=["ts"],
        preserve_cols=["oi"],
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["oi"] == 5.0          # preserved across the NULL key
    assert rows[0]["ts"] == dt.datetime(2024, 1, 1, 0, 1)  # incoming won


def test_ledger_digest_null_and_separator_unambiguous(spark):
    """Review regression: concat_ws skips NULLs and has no separator
    escaping, so (NULL,'5') vs ('5',NULL) and ('a|b','c') vs ('a','b|c')
    digested identically — and such a pair XORs to zero, defeating the
    divergence detection the content hash exists for."""
    from crypto_datalake_spark.sinks import ledger_entries

    def digest_of(rows):
        df = spark.createDataFrame(
            rows, "a string, b string, ts timestamp_ntz, day string"
        )
        return ledger_entries(df, ["day"], "ts", ["a", "b"]).collect()[0][
            "content_hash"
        ]

    t = dt.datetime(2024, 1, 1)
    assert digest_of([(None, "5", t, "d")]) != digest_of([("5", None, t, "d")])
    assert digest_of([("a|b", "c", t, "d")]) != digest_of([("a", "b|c", t, "d")])


def test_ledger_rejects_meta_named_partition_col(spark, tmp_path):
    """Review regression: read_ledger infers partition identity as
    'everything not in _LEDGER_META', so a partition column named like
    a meta column (e.g. 'status') silently vanished from the dedup key
    — now rejected loudly at write time."""
    from crypto_datalake_spark.sinks import (
        frame_schema_hash,
        ledger_entries,
        upsert_ledger,
    )

    df = spark.createDataFrame(
        [("A", "live", dt.datetime(2024, 1, 1), 1.0)],
        "sym string, status string, ts timestamp_ntz, v double",
    )
    entries = ledger_entries(df, ["sym", "status"], "ts", ["sym", "ts"])
    with pytest.raises(ValueError, match="status.*reserved|reserved.*status"):
        upsert_ledger(
            spark, str(tmp_path / "ledger"), entries, ["sym", "status"],
            frame_schema_hash(df),
        )


def test_upsert_partition_filter_prunes_at_source(spark, tmp_path):
    """Review regression: the non-atomic upsert's existing-read is now
    coarse-filtered by a statically-prunable predicate before the
    null-safe semi-join — the read must touch only the touched
    partitions' files (the eqNullSafe join alone prunes nothing)."""
    from crypto_datalake_spark.sinks import _filter_to_partitions

    path = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d3", 3.0), (4, None, 4.0)],
        "k long, day string, v double",
    ).write.partitionBy("day").parquet(path)
    df = spark.read.parquet(path)
    touched = spark.createDataFrame([("d1",), (None,)], "day string")
    pruned = _filter_to_partitions(df, touched, ["day"])
    # inputFiles() ignores filter pushdown — the physical plan's
    # PartitionFilters line is the pruning ground truth
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "isnull(day" in pf and "= d1" in pf, pf
    got = sorted(r["k"] for r in pruned.collect())
    assert got == [1, 4]                 # NULL partition included
    # over-limit batches degrade to the unfiltered frame (still correct
    # through the caller's semi-join)
    assert (
        _filter_to_partitions(df, touched, ["day"], max_partitions=1) is df
    )


def test_scd2_intra_batch_tie_is_deterministic(spark, tmp_path):
    """Review regression: same-(key, valid_from) source duplicates used
    the dedup key itself as the order column — partition-luck winner.
    The tracked columns now break the tie, so re-runs of the same input
    produce the same chain."""
    from crypto_datalake_spark import txn
    from crypto_datalake_spark.sinks import merge_scd2

    path = str(tmp_path / "dim")
    src = spark.createDataFrame(
        [("A", "tier1", dt.datetime(2024, 1, 1)),
         ("A", "tier9", dt.datetime(2024, 1, 1))],   # same key+ts, two values
        "k string, tier string, ts timestamp_ntz",
    )
    merge_scd2(spark, src, path, keys=["k"], tracked_cols=["tier"], ts_col="ts")
    rows = txn.read_table(spark, path).collect()
    assert len(rows) == 1
    assert rows[0]["tier"] == "tier9"    # max tracked value, every run


def test_maintained_view_survives_emptied_base(spark, tmp_path):
    """Review regression: an externally purged-then-vacuumed base table
    made the maintained view's full-recompute path crash on
    read_table's None — it now recomputes to an EMPTY view from the
    manifest's recorded schema."""
    from crypto_datalake_spark.streaming.silver import (
        foreach_batch_upsert_maintained,
    )

    path, view = str(tmp_path / "base"), str(tmp_path / "view")
    sink = foreach_batch_upsert_maintained(
        spark, path, view,
        keys=["k"], order_cols=["ts"], partition_cols=["day"],
        group_keys=["day"], measures={"sv": "v"},
    )
    df = _df(spark, [("A", _T(0), 1.0, "d1"), ("B", _T(1), 2.0, "d2")])
    sink(df.withColumnRenamed("sym", "k"), 0)
    assert txn.read_table(spark, view).count() == 2
    # external purge empties the base, vacuum drops the old history so
    # the incremental diff window is gone
    txn.purge_rows(
        spark, path, F.lit(True),
        partition_cols=["day"], vacuum_history=True,
    )
    txn.vacuum(spark, path, keep_manifests=1)
    sink(df.limit(0).withColumnRenamed("sym", "k"), 1)  # next (empty) tick
    v = txn.read_table(spark, view)
    assert v is None or v.count() == 0   # empty view, no crash


def test_ivm_global_view_empty_keys(spark):
    """Review regression: apply_delta crashed on keys=[] (reduce of an
    empty iterable) — a GLOBAL aggregate view now maintains and stays
    bit-identical to a recompute."""
    from crypto_datalake_spark.ops.ivm import apply_delta, grouped_agg_state

    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    st = grouped_agg_state(df, [], {"sv": "v"})
    diff = spark.createDataFrame(
        [(3, 5.0, "insert"), (1, 10.0, "delete")],
        "k int, v double, __change string",
    )
    out = apply_delta(st, diff, [], {"sv": "v"})
    rec = grouped_agg_state(
        spark.createDataFrame([(2, 20.0), (3, 5.0)], "k int, v double"),
        [], {"sv": "v"},
    )
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in rec.collect()]


def test_txn_random_ops_match_model_property(spark, tmp_path):
    """Model-based sweep of the manifest layer: random interleavings of
    keep-last upserts (inserts + same-key updates), compliance purges
    (history kept), small-file compactions, and history vacuums, against
    a plain Python dict keyed (sym, ts).  After every op the live table
    must equal the model, and the CDC feed between consecutive versions
    must equal the model's delete/insert delta (compactions diff to
    zero).  Generalizes the directed test_txn cases the way the r10
    order-book/IVM/cache property sweeps generalize theirs."""
    import datetime as _dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _T = lambda m: _dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    SCHEMA = "sym string, ts timestamp_ntz, v double, day string"

    row = st.tuples(
        st.sampled_from(["A", "B", None]),
        st.integers(0, 4),
        st.sampled_from([1.25, 2.5, -3.0]),
    )
    op = st.one_of(
        st.tuples(st.just("upsert"), st.lists(row, min_size=1, max_size=4)),
        st.tuples(st.just("upsert"), st.lists(row, min_size=1, max_size=4)),
        st.tuples(st.just("purge_sym"), st.sampled_from(["A", "B"])),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("vacuum"), st.none()),
    )
    counter = {"n": 0}

    def _day(sym):  # partition is a function of the key: no key moves
        return f"d{sym or 'N'}"

    def _live_rows(path):
        df = txn.read_table(spark, path)
        if df is None:
            return []
        return sorted(
            ((r["sym"], r["ts"], r["v"], r["day"]) for r in df.collect()),
            key=lambda t: [(x is None, str(x)) for x in t],
        )

    @settings(
        deadline=None, max_examples=10,
        suppress_health_check=list(HealthCheck),
    )
    @given(ops=st.lists(op, min_size=2, max_size=6))
    def run(ops):
        counter["n"] += 1
        path = str(tmp_path / f"t{counter['n']}")
        model: dict = {}
        snapshots: list = []  # (version, frozenset(rows)) while history intact

        def _check():
            m = txn.current_manifest(spark, path)
            if m is None:
                assert not model, ops
                return
            want = sorted(
                ((s, _T(mi), v, _day(s)) for (s, mi), v in model.items()),
                key=lambda t: [(x is None, str(x)) for x in t],
            )
            assert _live_rows(path) == want, ops
            if snapshots and snapshots[-1][0] != m["version"]:
                pv, prows = snapshots[-1]
                cur = {(s, _T(mi), v, _day(s)) for (s, mi), v in model.items()}
                changes = txn.table_diff(
                    spark, path, pv, m["version"]
                ).collect()
                got_del = {tuple(r)[:-1] for r in changes
                           if r["__change"] == "delete"}
                got_ins = {tuple(r)[:-1] for r in changes
                           if r["__change"] == "insert"}
                assert got_del == prows - cur, ops
                assert got_ins == cur - prows, ops
            snapshots.append((
                m["version"],
                {(s, _T(mi), v, _day(s)) for (s, mi), v in model.items()},
            ))

        for kind, arg in ops:
            if kind == "upsert":
                # keep-last WITHIN the batch too: later tuple wins a key
                batch = {}
                for s, mi, v in arg:
                    batch[(s, mi)] = v
                rows = [(s, _T(mi), v, _day(s)) for (s, mi), v in batch.items()]
                txn.atomic_upsert_partitioned(
                    spark, spark.createDataFrame(rows, SCHEMA), path,
                    keys=["sym", "ts"], order_cols=["ts"],
                    partition_cols=["day"],
                )
                model.update(batch)
                _check()
            elif txn.current_manifest(spark, path) is None:
                continue
            elif kind == "purge_sym":
                txn.purge_rows(
                    spark, path, F.col("sym") == arg, ["day"],
                    vacuum_history=False,
                )
                for k in [k for k in model if k[0] == arg]:
                    del model[k]
                _check()
            elif kind == "compact":
                before = txn.current_manifest(spark, path)["version"]
                txn.compact_partitions(spark, path)
                after = txn.current_manifest(spark, path)["version"]
                if after != before:  # non-empty table: compaction committed
                    diff = txn.table_diff(spark, path, before, after)
                    assert diff.isEmpty(), ops  # pure rewrite: zero CDC
                _check()
            else:
                txn.vacuum(spark, path, keep_manifests=1)
                snapshots.clear()  # history gone: diff no longer checkable
                _check()

    run()


def test_atomic_merge_into_property_matches_dict_model(spark, tmp_path):
    """Model-based sweep of the full MERGE clause set: random batches
    with random insert / update-condition / delete-condition modes
    against a plain-Python dict model of Delta MERGE semantics (delete
    first, then conditional update, then not-matched insert; key moves
    carry the row to its new partition).  The committed table must
    match the model after every step."""
    import uuid

    from hypothesis import given, settings
    from hypothesis import strategies as st

    row = st.tuples(
        st.integers(0, 5),    # k (small pool: forces matches + moves)
        st.integers(0, 2),    # part
        st.integers(-5, 10),  # v (negatives can trigger delete)
    )
    step = st.tuples(
        st.lists(row, min_size=1, max_size=5),
        st.booleans(),  # insert
        st.booleans(),  # use update_condition: s_v > t_v
        st.booleans(),  # use delete_condition: s_v < 0
    )

    @settings(deadline=None, max_examples=6)
    @given(steps=st.lists(step, min_size=1, max_size=4))
    def run(steps):
        path = str(tmp_path / f"merge_prop_{uuid.uuid4().hex[:8]}")
        model: dict = {}
        for rows, insert, use_upd, use_del in steps:
            batch = {}
            for k, part, v in rows:  # MERGE requires unique source keys
                batch[k] = (part, v)
            src = spark.createDataFrame(
                [(k, p, v) for k, (p, v) in batch.items()],
                "k long, part long, v long",
            )
            txn.atomic_merge_into(
                spark, src, path, on=["k"], partition_cols=["part"],
                insert=insert,
                update_condition=(
                    F.col("s_v") > F.col("t_v") if use_upd else None
                ),
                delete_condition=(
                    F.col("s_v") < 0 if use_del else None
                ),
            )
            for k, (part, v) in batch.items():
                if k in model:
                    if use_del and v < 0:
                        del model[k]
                        continue
                    if (not use_upd) or v > model[k][1]:
                        model[k] = (part, v)
                elif insert:
                    model[k] = (part, v)
            t = txn.read_table(spark, path)
            got = (
                {}
                if t is None
                else {r["k"]: (r["part"], r["v"]) for r in t.collect()}
            )
            assert got == model, (steps, got, model)

    run()
