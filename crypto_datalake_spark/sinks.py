"""Lake sinks: idempotent partitioned upsert writes (SURVEY.md §2.1 S4-S6).

The reference writes hour partitions atomically: read-existing → concat →
dedup-keep-last → tmp file → rename, preserving LIVE_ONLY columns on
rewrite (/root/reference/src/binance_minute_lake/writer/atomic.py:27-117;
src/aggregator/target_writer.py:14-46).

Spark-native equivalent: ``spark.sql.sources.partitionOverwriteMode=dynamic``
replaces exactly the partitions present in the incoming frame — the same
atomic-replace granularity as the reference's per-hour tmp+rename, without
driver-side path math. The merge itself (union + keep-last + live-column
preservation) is one shuffle keyed on the upsert keys.

At scale: only the partitions being repaired are read back (partition
pruning on the join against incoming partition keys), so a 100 TB lake
repairs a 2-hour window by touching 2 hours of files. On Delta this whole
module collapses to ``MERGE INTO`` — the API is kept MERGE-shaped on
purpose.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from crypto_datalake_spark.ops.dedup import keep_last


def is_missing_target_error(e: AnalysisException) -> bool:
    """True iff ``e`` means "this table does not exist yet" — the ONE
    classifier for bootstrap-vs-fatal read failures, shared by the sink
    upserts and the corpus-ingest pipeline. Structured error class
    first (getCondition on Spark 4, getErrorClass on 3.x), message
    fallback for versions that predate both; substring match because
    conditions can carry dotted sub-condition suffixes. A directory
    left by a crashed first write (no committed parquet files) surfaces
    as UNABLE_TO_INFER_SCHEMA — still "does not exist yet"; without it,
    retries are bricked forever."""
    klass = ""
    get_cls = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
    if callable(get_cls):
        klass = get_cls() or ""
    return (
        "PATH_NOT_FOUND" in klass
        or "UNABLE_TO_INFER_SCHEMA" in klass
        or "Path does not exist" in str(e)
    )


def _read_existing(spark: SparkSession, path: str, cols: Sequence[str]) -> DataFrame | None:
    """Read the current target table, returning None iff ``path`` does not
    exist yet (first write).

    Only the path-missing AnalysisException maps to "first write" — any
    other failure (transient IO, permissions, corrupt footer, missing
    columns in the select) re-raises, so a flaky read can never be
    mistaken for an empty target and silently overwrite history.
    """
    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if is_missing_target_error(e):
            return None
        raise
    # outside the try: a schema/column mismatch must propagate, not be
    # swallowed as "first write"
    return df.select(*cols)


def _drop_emptied_partitions(
    spark: SparkSession,
    path: str,
    touched_vals: list[tuple],
    out: DataFrame,
    partition_cols: Sequence[str],
) -> None:
    """Delete partition directories that the merge touched but whose rows
    were ALL removed (key moved away, or delete_condition emptied them).

    Dynamic partition overwrite only replaces partitions present in the
    output frame — a partition with zero surviving rows is silently left
    stale on disk, so it must be dropped explicitly (Delta's MERGE does
    the equivalent through the transaction log). ``out`` must be the
    caller's ``evaluate_once`` result, the frame it just wrote: a plain
    or ``persist()``ed merge would be re-evaluated here against the
    files the write just replaced. Partition counts are repair-sized, so
    the collects are tiny driver-side lists.

    ``touched_vals`` holds partition values PRE-RENDERED by Spark's
    cast-to-string (the caller collects them that way), matching the
    directory names ``partitionBy`` wrote.
    """
    present = {
        tuple(r[c] for c in partition_cols)
        for r in out.select(
            *[F.col(c).cast("string").alias(c) for c in partition_cols]
        )
        .distinct()
        .collect()
    }
    stale = [v for v in touched_vals if tuple(v) not in present]
    if not stale:
        return
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for vals in stale:
        # build the directory name with Spark's OWN partition-path escaping
        # (':' → '%3A', NULL → __HIVE_DEFAULT_PARTITION__, …) from values
        # rendered by SPARK's cast-to-string (``touched_vals`` arrives
        # pre-rendered) — Python str() diverges exactly where it breaks
        # the delete: booleans ('True' vs the directory's 'true') and
        # fractional-second timestamps ('.5' vs '.500000'); a mis-rendered
        # name misses the dir, the delete silently no-ops, and removed
        # rows resurrect on the next read
        sub = "/".join(
            esc.getPartitionPathString(c, "" if v is None else v)
            for c, v in zip(partition_cols, vals)
        )
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")
        fs = p.getFileSystem(conf)
        fs.delete(p, True)


def evaluate_once(df: DataFrame) -> DataFrame:
    """Evaluate a frame exactly once.  Every commit path evaluates two
    frames this way: its incoming batch, before the touched-partition
    set is collected from it, and its merged output, before it is
    written under the table it reads from and the ledger entries, the
    present-partition set and the stats are derived from it.

    A batch evaluated twice can disagree with itself: a partition value
    drawn anew on each evaluation would prune the merge to one set of
    partitions and write another, replacing committed partitions with
    only the new rows.  ``persist()`` does not hold the output across
    its self-write either: writing a path re-caches every cached plan
    that reads the path, so the cached merge is rebuilt from the
    just-written files on its next use.  A local checkpoint is an RDD no
    write can invalidate, so every use reads the same materialized rows."""
    return df.localCheckpoint(eager=True)


def local_frame(spark: SparkSession, rows: Sequence, schema: StructType) -> DataFrame:
    """``rows`` (tuples or Rows in ``schema``'s column order) as a local
    relation: the values live in the plan, so collecting, filtering or
    broadcasting the frame runs no Spark job."""
    import datetime as _dt

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import TimestampType

    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, f in enumerate(schema.fields):
        vals = [r[i] for r in rows]
        if isinstance(f.dataType, TimestampType):
            # a collected TIMESTAMP is a naive datetime in this process's
            # zone; arrow would read a naive value as UTC
            vals = [
                v if v is None else v.astimezone(_dt.timezone.utc) for v in vals
            ]
        columns.append(pa.array(vals, type=arrow_schema.field(i).type))
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )


def partition_values(
    df: DataFrame, partition_cols: Sequence[str]
) -> tuple[DataFrame, list[tuple]]:
    """The distinct partition values of ``df``, collected in one pass:
    as a local frame of the values themselves (a pruning predicate or
    semi-join side that re-runs nothing) and as tuples rendered by
    Spark's cast-to-string, the spelling of the directories
    ``partitionBy`` writes.  ``df`` must give the same rows on every
    evaluation (an incoming batch: its ``evaluate_once`` result), so
    both describe the rows the commit merges."""
    n = len(partition_cols)
    rendered = [
        F.col(c).cast("string").alias(f"__s{i}") for i, c in enumerate(partition_cols)
    ]
    rows = df.select(*partition_cols, *rendered).distinct().collect()
    values = local_frame(
        df.sparkSession,
        [tuple(r[:n]) for r in rows],
        df.select(*partition_cols).schema,
    )
    return values, [tuple(r[n:]) for r in rows]


def _filter_to_partitions(
    df: DataFrame,
    touched: DataFrame,
    partition_cols: Sequence[str],
    max_partitions: int = 512,
) -> DataFrame:
    """Statically-prunable partition filter: collect the touched
    partition values driver-side and apply an OR-of-ANDs predicate of
    plain equality / isNull terms — the forms Catalyst pushes into the
    parquet source as partition pruning.  Degrades to a no-op (the
    caller's null-safe semi-join still bounds the rows) when the batch
    touches more partitions than ``max_partitions``, where the literal
    predicate would bloat the plan for little pruning gain."""
    rows = touched.limit(max_partitions + 1).collect()
    if len(rows) > max_partitions:
        return df
    pred = None
    for r in rows:
        conj = None
        for c in partition_cols:
            v = r[c]
            term = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            conj = term if conj is None else conj & term
        if conj is not None:
            pred = conj if pred is None else pred | conj
    return df if pred is None else df.where(pred)


def semi_join_null_safe(
    df: DataFrame, vals: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """``left_semi`` join on ``cols`` treating NULL as a matchable value.

    A plain equi-semi-join silently drops NULL-keyed rows (NULL = NULL is
    UNKNOWN), which for partition pruning means "the NULL partition's
    existing rows are invisible to the merge" — a repair into
    ``day=__HIVE_DEFAULT_PARTITION__`` would REPLACE the partition instead
    of merging with it.  ``eqNullSafe`` makes NULL partition values
    first-class.  ``vals`` is broadcast as given, so pass it distinct.
    """
    tagged = vals.select(*[F.col(c).alias(f"__t_{c}") for c in cols])
    cond = None
    for c in cols:
        eq = F.col(c).eqNullSafe(F.col(f"__t_{c}"))
        cond = eq if cond is None else (cond & eq)
    return df.join(F.broadcast(tagged), cond, "left_semi")


def frame_schema_hash(df: DataFrame) -> str:
    """Stable digest of a frame's column names + types — the ledger's
    schema identity (ref writer/atomic.py:113-117 hashes the canonical
    column spec the same way)."""
    import hashlib

    payload = "\n".join(f"{f.name}|{f.dataType.simpleString()}" for f in df.schema.fields)
    return hashlib.sha256(payload.encode()).hexdigest()


def ledger_entries(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    digest_cols: Sequence[str],
) -> DataFrame:
    """Per-partition audit aggregate: row_count, min/max ``ts_col``, and an
    order-independent content digest (bit_xor of 60-bit md5 row-key
    digests over ``digest_cols``).

    The reference hashes the finished partition FILE bytes
    (writer/atomic.py:121-126) — possible there because a single-writer
    Polars process produces deterministic bytes. A distributed writer
    does not (row order across tasks varies), so the Spark-native
    content identity is a commutative fold over row-key digests:
    order-independent, partition-local (one shuffle-free aggregate per
    rewritten partition), and engine-portable (md5 → 60-bit int bridge,
    same as the dedup family). Digest columns must stringify identically
    across engines — use integer/string keys, not floats.

    Each column is md5-hashed BEFORE the join, with NULL mapped to a
    sentinel no hex digest can collide with: a raw ``concat_ws`` both
    SKIPS null columns and has no separator escaping, so distinct rows
    like (NULL, '5') vs ('5', NULL) or ('a|b', 'c') vs ('a', 'b|c')
    would digest identically — and such a pair XORs to zero, exactly
    the divergence the ledger exists to detect.
    """
    col_digests = [
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit("__NULL__"))
        for c in digest_cols
    ]
    digest = F.conv(
        F.substring(F.md5(F.concat_ws("|", *col_digests)), 1, 15),
        16,
        10,
    ).cast("long")
    return df.withColumn("__digest", digest).groupBy(
        *[F.col(c) for c in partition_cols]
    ).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
        F.expr("bit_xor(__digest)").alias("content_hash"),
    )


# Ledger metric/audit columns — everything else in the ledger schema is a
# partition-identity column (lets readers dedup without carrying the
# partition spec around).
_LEDGER_META = frozenset(
    {
        "row_count",
        "min_ts",
        "max_ts",
        "content_hash",
        "schema_hash",
        "status",
        "committed_at_utc",
        "commit_seq",
        "commit_token",
        "generation",
    }
)


@dataclass(frozen=True)
class _LedgerView:
    """What this process knows of one ledger log, valid only while the
    log holds exactly ``files`` ((name, length) of every file a read of
    the log reads): its highest ``commit_seq`` (None until read) and the
    ``latest_watermarks`` answers computed so far, keyed by key columns,
    each an (answer schema, {key values: watermark}) pair."""

    files: frozenset
    max_seq: int | None = None
    answers: dict = field(default_factory=dict)


#: one view per ledger path.  Views are immutable and replaced whole
#: under the lock; no Spark job runs while it is held.
_VIEWS: dict[str, _LedgerView] = {}
_VIEWS_LOCK = threading.Lock()


def _log_files(spark: SparkSession, ledger_path: str) -> frozenset | None:
    """(name, length) of every file a read of the ledger log reads, or
    None when the log does not exist or holds a directory (which a read
    would take for a partition), where no view applies."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(ledger_path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return None
    files = set()
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):  # hidden from readers too
            continue
        if not st.isFile():
            return None
        files.add((name, st.getLen()))
    return frozenset(files)


def _current_view(ledger_path: str, files: frozenset | None) -> _LedgerView | None:
    with _VIEWS_LOCK:
        view = _VIEWS.get(ledger_path)
    if files is None or view is None or view.files != files:
        return None
    return view


def _remember(
    ledger_path: str, files: frozenset, max_seq: int | None = None, answers=None
) -> None:
    """Record what a scan of the log as listed in ``files`` found.  The
    listing is taken before the scan, so a file landing in between makes
    the view disagree with the next listing and be dropped."""
    with _VIEWS_LOCK:
        view = _VIEWS.get(ledger_path)
        if view is None or view.files != files:
            view = _LedgerView(files)
        _VIEWS[ledger_path] = _LedgerView(
            files,
            view.max_seq if max_seq is None else max_seq,
            {**view.answers, **(answers or {})},
        )


def _advanced_answer(answer, key_cols, rows, schema):
    """A watermark answer after a commit of the entry ``rows``, or None
    when the commit makes it unknowable.  A key whose new max is at or
    above its cached watermark (or that had none) takes the new max:
    every row the commit supersedes was at most the cached value.  A
    lower new max may have superseded the very row that set the
    watermark, so the answer is dropped and the next read scans."""
    ans_schema, marks = answer
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    want = {f.name: f.dataType.simpleString() for f in ans_schema.fields}
    if any(types.get(c) != want[c] for c in key_cols) or (
        types.get("max_ts") != want["watermark"]
    ):
        return None
    new: dict = {}
    for r in rows:
        k = tuple(r[c] for c in key_cols)
        m, prev = r["max_ts"], new.get(k)
        new[k] = m if prev is None or (m is not None and m > prev) else prev
    marks = dict(marks)
    for k, m in new.items():
        if marks.get(k) is not None and (m is None or m < marks[k]):
            return None
        marks[k] = m
    return ans_schema, marks


def _advance_view(
    spark: SparkSession,
    ledger_path: str,
    before: frozenset | None,
    seq: int,
    rows: list,
    schema: StructType,
) -> None:
    """Advance the view past this process's own append of ``rows`` at
    ``seq``, or drop it.  The append writes one file, so the log must
    now hold the files listed ``before`` plus exactly one more; any
    other listing means another writer touched the log."""
    after = _log_files(spark, ledger_path)
    before = before or frozenset()
    with _VIEWS_LOCK:
        view = _VIEWS.pop(ledger_path, None)
        if after is None or not before <= after or len(after - before) != 1:
            return
        answers = {}
        if view is not None and view.files == before:
            for key_cols, answer in view.answers.items():
                advanced = _advanced_answer(answer, key_cols, rows, schema)
                if advanced is not None:
                    answers[key_cols] = advanced
        _VIEWS[ledger_path] = _LedgerView(after, seq, answers)


def upsert_ledger(
    spark: SparkSession,
    ledger_path: str,
    entries: DataFrame,
    partition_cols: Sequence[str],
    schema_hash: str,
) -> None:
    """Append per-partition audit rows to the ledger (ref state/store.py:
    46-136: one row per committed partition).

    The ledger is LOG-STRUCTURED: each commit appends only its own rows
    tagged with a monotonically increasing ``commit_seq``, so commit cost
    does not scale with how many partitions the table has ever
    committed.  Readers resolve the latest row per partition via
    ``read_ledger``; ``compact_ledger`` folds the log down when it grows.
    A repair rewrite appends a newer row for the same partition, which
    supersedes the old one at read time.

    The entries are collected (one row per partition) and appended as
    one file.  This process keeps a view of each ledger it writes: the
    highest seq and the watermark answers (``latest_watermarks``),
    valid only for an exact listing of the log's files.  The append
    advances the view from the collected rows, so the next seq and an
    unchanged watermark cost no scan."""
    import uuid

    # read_ledger infers the partition-identity columns as "everything
    # not in _LEDGER_META" — a partition column NAMED like a meta column
    # would silently vanish from the dedup key and collapse the ledger
    # across those partitions; refuse loudly at write time instead
    clash = set(partition_cols) & set(_LEDGER_META)
    if clash:
        raise ValueError(
            f"partition column(s) {sorted(clash)} collide with reserved "
            f"ledger audit columns {sorted(_LEDGER_META)} — rename the "
            "partition column(s); read_ledger could not tell them apart"
        )

    rows = entries.collect()
    before = _log_files(spark, ledger_path)
    seq = _commit_seq(spark, ledger_path, before)
    # commit_token breaks commit_seq ties DETERMINISTICALLY: two writers
    # racing _next_commit_seq can stamp the same seq (read-max-then-+1 is
    # not atomic), and which of them "wins" keep-last must at least be
    # stable across re-reads — same-partition concurrent writes have no
    # defined order anyway, but a resolution that flips between reads
    # would surface as a flapping watermark.
    (
        local_frame(spark, rows, entries.schema)
        .withColumn("schema_hash", F.lit(schema_hash))
        .withColumn("status", F.lit("COMMITTED"))
        .withColumn("committed_at_utc", F.current_timestamp().cast("string"))
        .withColumn("commit_seq", F.lit(seq))
        .withColumn("commit_token", F.lit(uuid.uuid4().hex))
        .coalesce(1)
        .write.mode("append")
        .parquet(ledger_path)
    )
    _advance_view(spark, ledger_path, before, seq, rows, entries.schema)


def _next_commit_seq(spark: SparkSession, ledger_path: str) -> int:
    """Monotonic commit sequence: max(existing seq)+1, floored at the
    wall clock.  Pure wall-clock seqs break keep-last resolution when NTP
    steps the clock backwards or two commits land in the same microsecond.

    The max comes from this process's view of the ledger when the view
    matches the log's current file listing (no Spark job), else from a
    single-column scan of the append log, which then seeds the view."""
    return _commit_seq(spark, ledger_path, _log_files(spark, ledger_path))


def _commit_seq(spark: SparkSession, ledger_path: str, files: frozenset | None) -> int:
    """``_next_commit_seq`` against the listing ``files``.  Only a
    genuinely missing path falls back to the wall clock; any OTHER read
    failure (corrupt file, permission, FS hiccup) must fail the commit
    loudly — silently reverting to wall-clock seqs on a log whose max is
    ahead of the clock would resurrect exactly the stale-watermark bug
    this function exists to prevent."""
    import time

    wall = time.time_ns() // 1000
    view = _current_view(ledger_path, files)
    if view is not None and view.max_seq is not None:
        return max(view.max_seq + 1, wall)
    try:
        led = spark.read.parquet(ledger_path)
    except AnalysisException as e:  # first commit: path does not exist yet
        # (incl. a directory left by a crashed first append with no
        # committed files — UNABLE_TO_INFER_SCHEMA — which the shared
        # classifier maps to "does not exist"; a bespoke check here once
        # missed it and bricked ledger retries)
        if is_missing_target_error(e):
            return wall
        raise
    if "commit_seq" not in led.columns:
        return wall
    prev = led.agg(F.max("commit_seq")).first()[0]
    if prev is None:
        return wall
    if files is not None:
        _remember(ledger_path, files, max_seq=prev)
    return max(prev + 1, wall)


def read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    """Current ledger state: the latest committed row per partition key
    (keep-last by ``commit_seq`` over the append-only log).

    This is a scan of the whole log.  ``latest_watermarks`` and the next
    commit seq answer from this process's ledger view instead, and come
    here only when the view does not match the log's file listing: on
    first use, and after another writer or ``compact_ledger`` changed
    the log."""
    # mergeSchema: appended commits may add audit columns over time (e.g.
    # `generation` once a table moves to the txn protocol); the log is
    # partition-count-sized so the footer merge is cheap
    led = spark.read.option("mergeSchema", True).parquet(ledger_path)
    key_cols = [c for c in led.columns if c not in _LEDGER_META]
    if "commit_seq" not in led.columns:  # pre-log-structured ledgers
        return led
    # commit_token tiebreak (when present) pins resolution of seq
    # collisions; pre-token rows sort with null tokens, losing to any
    # tokened row at the same seq — acceptable, those rows predate the fix
    order = ["commit_seq"] + (
        ["commit_token"] if "commit_token" in led.columns else []
    )
    return keep_last(led, key_cols, order)


def ledger_watermarks(
    spark: SparkSession, ledger_path: str, key_cols: Sequence[str]
) -> tuple[StructType, dict]:
    """``latest_watermarks``'s answer as (schema, {key values:
    watermark}): from this process's ledger view when it matches the
    log's file listing, else from a scan through ``read_ledger``, which
    seeds the view."""
    key = tuple(key_cols)
    files = _log_files(spark, ledger_path)
    view = _current_view(ledger_path, files)
    if view is not None and key in view.answers:
        return view.answers[key]
    marks = (
        read_ledger(spark, ledger_path)
        .where(F.col("status") == "COMMITTED")
        .groupBy(*key)
        .agg(F.max("max_ts").alias("watermark"))
    )
    answer = (marks.schema, {tuple(r[:-1]): r[-1] for r in marks.collect()})
    if files is not None:
        _remember(ledger_path, files, answers={key: answer})
    return answer


def compact_ledger(spark: SparkSession, ledger_path: str) -> None:
    """Fold the append-only ledger log down to one row per partition.
    Run opportunistically (e.g. every N commits); readers are correct
    with or without it.

    Crash-safe by log structure, no atomic swap needed: (1) snapshot the
    file list, (2) APPEND the resolved rows with their ORIGINAL
    ``commit_seq``/``commit_token`` (each is a byte-identical copy of the
    row it preserves, so keep-last ties between original and copy are
    harmless), (3) delete the snapshotted old files.  At every instant
    the log resolves to the same state — old files only, old + compacted,
    or compacted only; a crash between any two steps just leaves extra
    rows for the next compaction.  Keeping original seqs (not re-stamping
    max+1) also makes compaction safe against a CONCURRENT commit: a
    fresh commit's seq is strictly greater than anything the compaction
    snapshot read, so it always wins resolution — a re-stamped summary
    racing that commit could tie with it and resurrect the stale row.
    A plain read-then-overwrite would instead have a window where the
    ledger — which IS the watermark state — is empty or torn.
    """
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(ledger_path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    old_files = [
        st.getPath()
        for st in fs.listStatus(root)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    ]
    current = read_ledger(spark, ledger_path).localCheckpoint(eager=True)
    current.write.mode("append").parquet(ledger_path)
    for p in old_files:
        fs.delete(p, False)


def merge_frames(
    incoming: DataFrame,
    existing: DataFrame | None,
    keys: Sequence[str],
    order_cols: Sequence[str],
    preserve_cols: Sequence[str] = (),
    flag_cols: Sequence[str] = (),
) -> DataFrame:
    """The upsert merge itself, independent of how the result is committed:
    incoming rows win over existing on the same key (keep-last by
    ``order_cols`` with incoming priority — ref atomic.py:65-97), LIVE_ONLY
    ``preserve_cols`` coalesce from existing when incoming is NULL, and
    boolean ``flag_cols`` OR across versions.  ``existing`` should already
    be restricted to the touched partitions by the caller."""
    cols = incoming.columns
    if existing is None:
        return incoming
    if preserve_cols or flag_cols:
        old = existing.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            *[F.col(c).alias(f"__old_{c}") for c in (*preserve_cols, *flag_cols)],
        )
        # eqNullSafe, not plain equality: the keep-last dedup below
        # treats NULL keys as one group, so the preserve/flag lookup
        # must match the same rows — a plain equi-join never matches a
        # NULL-keyed incoming row, silently resetting its LIVE_ONLY
        # values while the dedup still lets it replace the stored row
        cond = None
        for k in keys:
            eq = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
            cond = eq if cond is None else cond & eq
        merged = incoming.join(old, cond, "left").drop(
            *[f"__k_{k}" for k in keys]
        )
        for c in preserve_cols:
            merged = merged.withColumn(c, F.coalesce(F.col(c), F.col(f"__old_{c}")))
        for c in flag_cols:
            merged = merged.withColumn(
                c,
                F.coalesce(F.col(c), F.lit(False))
                | F.coalesce(F.col(f"__old_{c}"), F.lit(False)),
            )
        incoming = merged.select(*cols)
    out = (
        incoming.withColumn("__prio", F.lit(1))
        .unionByName(existing.withColumn("__prio", F.lit(0)))
    )
    return keep_last(out, keys, [*order_cols, "__prio"]).drop("__prio")


def upsert_partitioned(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
    partition_cols: Sequence[str],
    preserve_cols: Sequence[str] = (),
    flag_cols: Sequence[str] = (),
    ledger_path: str | None = None,
    digest_cols: Sequence[str] | None = None,
) -> None:
    """Merge ``incoming`` into the partitioned parquet lake at ``path``.

    - ``keys``: upsert identity (e.g. symbol+timestamp / tf+symbol+bucket_start);
      incoming rows win over existing on the same key (keep-last by
      ``order_cols`` with incoming priority — ref atomic.py:65-97).
    - ``preserve_cols``: LIVE_ONLY values coalesced from existing when the
      incoming row has NULL (ref atomic.py:65-97, S6).
    - ``flag_cols``: boolean coverage flags OR-ed across versions.
    - ``ledger_path``: when set, each rewritten partition also commits an
      audit row (row_count / min-max of ``order_cols[0]`` / schema hash /
      order-independent content hash over ``digest_cols``, default
      ``keys``) to the ledger table — the reference's partition ledger
      (writer/atomic.py:113-117, state/store.py:46-136). Repair rewrites
      replace exactly the rewritten partitions' ledger rows, so the
      ledger is idempotent under re-upsert.

    Only partitions present in ``incoming`` are rewritten (dynamic overwrite);
    existing data is read partition-pruned via a semi-join on the incoming
    partition values (broadcast — the incoming side of a repair is small).

    For multi-partition ALL-OR-NOTHING visibility (a crash between partition
    writes must not tear the lake), use ``txn.atomic_upsert_partitioned`` —
    same merge semantics, committed via an atomic manifest swap.
    """
    cols = incoming.columns
    existing = _read_existing(spark, path, cols)
    if existing is not None:
        # the touched set, the pruning and the merge read one evaluation
        # of the batch
        incoming = evaluate_once(incoming)
        touched, _ = partition_values(incoming, partition_cols)
        # pushable coarse filter FIRST: an eqNullSafe join condition is
        # excluded from both static partition pruning and dynamic
        # partition pruning, so the semi-join alone would list and scan
        # EVERY partition per incremental batch — O(table) I/O where the
        # module promises repair-proportional cost.  Plain equality (and
        # isNull) predicates prune at the source; the null-safe semi-join
        # stays as the exactness layer on the survivors.
        existing = _filter_to_partitions(existing, touched, partition_cols)
        existing = semi_join_null_safe(existing, touched, partition_cols)
    out = merge_frames(incoming, existing, keys, order_cols, preserve_cols, flag_cols)
    if ledger_path is not None:
        # the ledger describes exactly the rows written
        out = evaluate_once(out)
    _overwrite_partitions(out, path, partition_cols)
    if ledger_path is not None:
        entries = ledger_entries(
            out, partition_cols, order_cols[0], digest_cols or keys
        )
        upsert_ledger(
            spark, ledger_path, entries, partition_cols, frame_schema_hash(out)
        )


def _overwrite_partitions(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Dynamic partition overwrite: replace exactly the partitions present
    in ``df``, one file per partition directory."""
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "timestamp",
    granularity: str = "hour",
    extra_partition_cols: Sequence[str] = ("symbol",),
) -> list[str]:
    """Derive hive partition columns from a timestamp and write
    (ref atomic.py:99-111 path scheme symbol=S/year/month/day/hour).

    Returns the partition column names (callers pass them to
    ``upsert_partitioned`` / read-side pruning filters).
    """
    parts = [*extra_partition_cols, "year", "month", "day"]
    out = (
        df.withColumn("year", F.year(ts_col))
        .withColumn("month", F.month(ts_col))
        .withColumn("day", F.dayofmonth(ts_col))
    )
    if granularity == "hour":
        out = out.withColumn("hour", F.hour(ts_col))
        parts.append("hour")
    _overwrite_partitions(out, path, parts)
    return parts


def merge_into(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    on: Sequence[str],
    partition_cols: Sequence[str],
    update_cols: Sequence[str] | None = None,
    update_condition: Column | None = None,
    delete_condition: Column | None = None,
    insert: bool = True,
    track_key_moves: bool = True,
) -> None:
    """General MERGE INTO for a partitioned parquet lake — the Delta
    ``MERGE`` clause set (matched-update / matched-delete /
    not-matched-insert) realized as one full-outer join over only the
    touched partitions.

    - ``on``: merge keys (must be unique per side).
    - ``update_cols``: columns overwritten from source when matched
      (default: every non-key column). ``update_condition`` (evaluated
      with source columns as ``s_<col>``, target as ``t_<col>``)
      restricts which matched rows update; others keep target values.
    - ``delete_condition``: matched rows satisfying it are dropped.
    - ``insert=False`` turns off not-matched-insert (update-only merge).

    Scale notes: existing data is read partition-pruned via a broadcast
    semi-join on the source's partition values — a repair touching 2
    hours of a 100 TB lake reads 2 hours. The join shuffles both sides
    on the merge keys once; dynamic partition overwrite rewrites exactly
    the touched partitions (same atomicity as the reference's per-hour
    tmp+rename, ref atomic.py:27-117). Unmatched target rows inside a
    touched partition are rewritten unchanged — the cost floor of any
    copy-on-write MERGE.

    Partition moves: when a source row carries a NEW partition value for
    an existing key (e.g. a corrected ``day``), the old row lives in a
    partition the source values alone would never touch. With
    ``track_key_moves=True`` (default) the touched-partition set is the
    union of the source's partition values and the partitions of target
    rows whose merge keys appear in the source — found via a narrow
    keys+partition-cols column-pruned scan + broadcast semi-join, so the
    stale row is read, matched, rewritten under its new partition, and
    its old partition is rewritten without it (a correct move). Set it
    False only when partition columns are immutable for a given key by
    contract; then the narrow scan is skipped entirely.
    """
    cols = source.columns
    existing_full = _read_existing(spark, path, cols)
    if existing_full is None:  # first write: MERGE degenerates to insert
        if insert:
            _overwrite_partitions(source, path, partition_cols)
        return

    out, touched_vals = merge_compute(
        source,
        existing_full,
        on,
        partition_cols,
        update_cols=update_cols,
        update_condition=update_condition,
        delete_condition=delete_condition,
        insert=insert,
        track_key_moves=track_key_moves,
    )

    out = evaluate_once(out)
    _overwrite_partitions(out, path, partition_cols)
    # partitions whose rows ALL moved away / were deleted are not in
    # the output, so dynamic overwrite never rewrites them — drop them
    _drop_emptied_partitions(spark, path, touched_vals, out, partition_cols)


def merge_compute(
    source: DataFrame,
    existing_full: DataFrame,
    on: Sequence[str],
    partition_cols: Sequence[str],
    update_cols: Sequence[str] | None = None,
    update_condition: Column | None = None,
    delete_condition: Column | None = None,
    insert: bool = True,
    track_key_moves: bool = True,
) -> tuple[DataFrame, list[tuple]]:
    """The MERGE itself, independent of commit strategy: returns the merged
    rows for the touched partitions and the touched partition values,
    rendered by Spark's cast-to-string (the directory names).
    ``merge_into`` commits via dynamic partition overwrite;
    ``txn.atomic_merge_into`` commits via the generation manifest.

    ``source`` is evaluated once: the touched set is collected from
    that evaluation and the merge reads it too."""
    cols = source.columns
    keyset = set(on)
    if update_cols is None:
        update_cols = [c for c in cols if c not in keyset]

    source = evaluate_once(source)
    touched = source.select(*partition_cols).distinct()
    if track_key_moves:
        # partitions where a source key's CURRENT row lives (may differ
        # from the source row's partition value) — keys+partition cols
        # only, so the parquet scan reads just those columns
        src_keys = source.select(*on).distinct()
        moved = (
            existing_full.select(*on, *partition_cols)
            .join(F.broadcast(src_keys), list(on), "left_semi")
            .select(*partition_cols)
            .distinct()
        )
        touched = touched.unionByName(moved).distinct()
    touched, touched_vals = partition_values(touched, partition_cols)
    existing = semi_join_null_safe(existing_full, touched, partition_cols)

    # explicit presence markers: NULL merge keys on either side must not
    # flip row classification (a target row with a NULL key never joins,
    # and key-null checks would misread it as source-only)
    tgt = existing.select(
        [F.col(c).alias(f"t_{c}") for c in cols] + [F.lit(True).alias("t__present")]
    )
    src = source.select(
        [F.col(c).alias(f"s_{c}") for c in cols] + [F.lit(True).alias("s__present")]
    )
    cond = None
    for k in on:
        eq = F.col(f"t_{k}") == F.col(f"s_{k}")
        cond = eq if cond is None else (cond & eq)
    j = tgt.join(src, cond, "full_outer")

    matched = F.col("t__present").isNotNull() & F.col("s__present").isNotNull()
    src_only = F.col("t__present").isNull()
    if delete_condition is not None:
        # MERGE three-valued logic: an UNKNOWN (NULL) delete condition
        # must KEEP the row, so coalesce to False before negating
        j = j.where(~F.coalesce(matched & delete_condition, F.lit(False)))
    do_update = matched if update_condition is None else (matched & update_condition)

    out_cols = []
    for c in cols:
        s_c, t_c = F.col(f"s_{c}"), F.col(f"t_{c}")
        if c in keyset:
            v = F.coalesce(t_c, s_c)
        elif c in update_cols:
            v = F.when(do_update | src_only, s_c).otherwise(t_c)
        else:
            v = F.when(src_only, s_c).otherwise(t_c)
        out_cols.append(v.alias(c))
    out = j.select(*out_cols) if insert else j.where(~src_only).select(*out_cols)
    return out, touched_vals


def merge_scd2(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    tracked_cols: Sequence[str],
    ts_col: str,
) -> None:
    """Type-2 slowly-changing-dimension merge: new attribute versions close
    the current row (``valid_to`` = the newcomer's ``valid_from``) and open
    a new current one; unchanged incoming versions are no-ops.

    Table schema: keys + tracked + ``valid_from``/``valid_to``/``is_current``.
    Rebuilds the version chain only for keys present in ``source``
    (semi/anti-joins split touched from untouched); out-of-order arrivals
    are handled because the chain is re-derived from the ordered version
    set, not appended. Dimension-sized by design — at fact scale, version
    history belongs in the fact table, not an SCD2 dim.

    Storage: a ``txn`` generation table — the rebuilt dimension is written
    as a NEW generation and published with an atomic pointer swap, so
    there is no window where readers see a half-overwritten path (the
    old read-then-overwrite-same-path hazard).  Read it back with
    ``txn.read_table``.
    """
    from crypto_datalake_spark import txn

    vf, vt, cur = "valid_from", "valid_to", "is_current"
    out_cols = [*keys, *tracked_cols, vf, vt, cur]
    # intra-batch dedup of same-(key, valid_from) rows: the order column
    # must NOT be only the dedup key itself (a constant within the
    # window — the winner would be partition luck, flapping the SCD2
    # chain across re-runs of the same input); tracked columns break the
    # tie deterministically, mirroring the __prio fix for
    # incoming-vs-stored ties below
    incoming = keep_last(
        source.select(*keys, *tracked_cols, F.col(ts_col).alias(vf)),
        [*keys, vf],
        [vf, *tracked_cols],
    )

    # pin the base: read the manifest version first, read the table AS OF
    # that version, and commit with it as the CAS guard — a concurrent
    # SCD2 merge that lands in between turns this commit into a
    # ConcurrentCommitError (rebase and retry) instead of a silent
    # lost-update of the interleaved version chain
    manifest = txn.current_manifest(spark, path)
    base_version = manifest["version"] if manifest else None
    existing = (
        txn.read_table(spark, path, at_version=base_version)
        if base_version is not None
        else None
    )
    if existing is not None:
        existing = existing.select(*out_cols)

    if existing is not None:
        kdf = incoming.select(*keys).distinct()
        untouched = existing.join(F.broadcast(kdf), list(keys), "left_anti")
        touched = existing.join(F.broadcast(kdf), list(keys), "left_semi")
        versions = touched.select(*keys, *tracked_cols, vf).withColumn(
            "__prio", F.lit(0)
        ).unionByName(incoming.withColumn("__prio", F.lit(1)))
    else:
        untouched = None
        versions = incoming.withColumn("__prio", F.lit(1))

    # Re-derive the chain: order versions, drop runs where tracked values
    # did not change, then valid_to = next valid_from.
    w = Window.partitionBy(*keys).orderBy(F.col(vf).asc())
    # one candidate per (key, ts); an incoming CORRECTION re-sent at the
    # same valid_from as a stored version must deterministically beat it
    # (__prio), not race it — the order column alone equals the dedup key
    # here, which would leave the winner to partition luck
    versions = keep_last(versions, [*keys, vf], [vf, "__prio"]).drop("__prio")
    changed = None
    for c in tracked_cols:
        ne = ~F.col(c).eqNullSafe(F.lag(c).over(w))
        changed = ne if changed is None else (changed | ne)
    # first-row detection via vf (never null), not a possibly-null tracked col
    first = F.lag(vf).over(w).isNull()
    rebuilt = (
        versions.withColumn("__keep", first | changed)
        .where(F.col("__keep"))
        .withColumn(vt, F.lead(vf).over(w))
        .withColumn(cur, F.col(vt).isNull())
        .select(*out_cols)
    )
    out = rebuilt if untouched is None else rebuilt.unionByName(untouched)
    # New generation + atomic pointer swap: the generation we read stays
    # live (and readable) until the commit lands, so no lineage break or
    # in-place overwrite is needed.
    from crypto_datalake_spark import txn

    txn.atomic_overwrite(spark, out, path, base_version=base_version)
