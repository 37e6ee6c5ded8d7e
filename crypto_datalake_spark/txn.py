"""Atomic multi-partition commits via a generation manifest (SURVEY.md §2.1 S4).

The reference guarantees per-partition atomicity with tmp-file + ``rename()``
plus a content-hash ledger (/root/reference/src/binance_minute_lake/writer/
atomic.py:27-117) — atomic for ONE partition file at a time.  A multi-
partition upsert there can still tear: crash after hour-12's rename but
before hour-13's and readers see a half-applied repair.

This module closes that gap with the log-structured design the big table
formats use (Iceberg/Delta), reduced to its minimum:

- Data files are IMMUTABLE and written under per-partition generation
  subdirectories: ``<table>/<part=val>/__gen=<gid>/part-*.parquet``.  A
  commit appends new generation directories; it never mutates or deletes
  live data in place.
- A JSON **manifest** maps each logical partition to the generation that
  currently serves it.  Manifest versions are immutable files
  (``_manifest/v00000007.json``); the pointer file ``_manifest/_CURRENT``
  names the live version and is swapped via tmp + ``FileSystem.rename`` —
  the same single-file atomicity primitive the reference relies on, applied
  to the pointer instead of every data file.
- Readers resolve ``_CURRENT`` → manifest → concrete directories.  A crash
  at ANY point before the pointer swap leaves only orphan generation
  directories that no manifest references: readers keep seeing the previous
  generation of every partition (all-or-nothing visibility).  ``vacuum``
  deletes unreferenced generations afterwards.
- If ``_CURRENT`` itself is lost mid-swap (the only non-atomic window on
  object stores without atomic rename), recovery is deterministic: the
  highest-numbered manifest version wins.

Scale: the manifest is O(live partitions) of a few dozen bytes each —
driver-side JSON, same order as Iceberg's manifest list.  Data-file IO is
identical to the non-atomic path (one append-mode partitioned write);
the commit adds two tiny file writes and one rename, independent of data
volume.  Single-writer per table, like the reference.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_manifest"
CURRENT = "_CURRENT"
GEN_COL = "__gen"
ROOT_PART = "__ROOT__"  # partition key used for unpartitioned tables


# ---------------------------------------------------------------- fs helpers


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def _read_text(spark: SparkSession, path: str) -> str | None:
    jvm, fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same manifest version first.

    The protocol is optimistic single-writer: manifest version files are
    IMMUTABLE, so two writers racing to commit v(N+1) conflict exactly at
    the version-file create — the loser sees the file exist and must
    re-read the new current manifest, rebase its partition map, and retry
    (or surface the conflict).  Same contract as Iceberg's optimistic
    commit loop."""


def _write_text_atomic(
    spark: SparkSession, path: str, text: str, replace: bool = True
) -> None:
    """Write ``path`` via tmp + rename — visible all-or-nothing.

    ``replace=False``: the destination is immutable (a manifest version
    file) — an existing destination means a concurrent writer won the
    version race, so raise instead of clobbering their commit.
    """
    jvm, fs, dst = _fs(spark, path)
    if not replace and fs.exists(dst):
        raise ConcurrentCommitError(f"{path} already committed by another writer")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.tmp-{uuid.uuid4().hex[:8]}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        if not replace:
            # rename refused because the destination appeared between the
            # exists-check and now: the race was lost post-check
            fs.delete(tmp, False)
            raise ConcurrentCommitError(
                f"{path} already committed by another writer"
            )
        # Pointer file path (HDFS rename refuses an existing destination):
        # delete-then-rename. The pointer being briefly absent is
        # recoverable (readers fall back to the highest manifest version),
        # unlike a torn write.
        fs.delete(dst, False)
        if not fs.rename(tmp, dst):
            raise IOError(f"atomic rename to {path} failed twice")


# ------------------------------------------------------------ manifest state


def _manifest_path(table_path: str, version: int) -> str:
    return f"{table_path}/{MANIFEST_DIR}/v{version:08d}.json"


def _list_versions(spark: SparkSession, table_path: str) -> list[int]:
    jvm, fs, mdir = _fs(spark, f"{table_path}/{MANIFEST_DIR}")
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                pass
    return sorted(out)


def current_manifest(spark: SparkSession, table_path: str) -> dict | None:
    """The live manifest, or None if the table has never committed.

    Resolution: the HIGHEST manifest version wins, with the ``_CURRENT``
    pointer as a fast path.  A version file only ever appears after its
    data generations are fully durable and its writer won the version
    CAS, and it appears atomically (tmp + rename) — so a version file
    NEWER than the pointer means exactly one thing: a writer crashed (or
    is an instant away from) swinging the pointer.  Treating it as live
    both serves that committed data and un-wedges the table: without
    this, a crash in the pointer-swap window would leave every later
    commit colliding with the orphaned version file forever.
    """
    ptr = _read_text(spark, f"{table_path}/{MANIFEST_DIR}/{CURRENT}")
    ptr_manifest = None
    if ptr is not None:
        text = _read_text(spark, f"{table_path}/{MANIFEST_DIR}/{ptr.strip()}")
        if text is not None:
            ptr_manifest = json.loads(text)
    if ptr_manifest is not None:
        # Fast path: ONE exists() probe (HEAD on object stores) instead of
        # a directory LIST on every resolution.  Version files are
        # allocated as live+1, so the only way the pointer is stale is
        # that v(ptr+1) exists (crashed pre-swap writer); chained crashes
        # (v(ptr+2) without the pointer moving) still create v(ptr+1)
        # first, and vacuum only ever deletes a contiguous PREFIX of
        # versions (it keeps the top-N) — if v(ptr+1) were vacuumed, the
        # pointer's own manifest would be gone too and we'd be on the
        # listing path below.
        jvm, fs, nxt = _fs(
            spark, _manifest_path(table_path, ptr_manifest["version"] + 1)
        )
        if not fs.exists(nxt):
            return ptr_manifest
    versions = _list_versions(spark, table_path)
    if not versions:
        return ptr_manifest
    if ptr_manifest is not None and ptr_manifest["version"] >= versions[-1]:
        return ptr_manifest
    return json.loads(_read_text(spark, _manifest_path(table_path, versions[-1])))


def guard_unmanaged_data(spark: SparkSession, table_path: str) -> None:
    """Refuse to treat a directory that already holds plain parquet as a
    fresh txn table.  A pre-manifest table at ``table_path`` reads as
    None through :func:`read_table`, so a first generation-format commit
    would silently orphan its history AND leave flat files coexisting
    with ``__gen=`` directories (plain ``spark.read.parquet`` readers see
    duplicates).  Called only on the manifest-less path, so steady-state
    commits never pay the listing."""
    jvm, fs, jpath = _fs(spark, table_path)
    if not fs.exists(jpath):
        return
    # a _manifest DIRECTORY alone proves nothing (a crashed pre-commit
    # write leaves one holding only .tmp files) — only an actual committed
    # manifest version exempts the table from the unmanaged check
    if _list_versions(spark, table_path):
        return
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath()
        if not p.getName().endswith(".parquet"):
            continue
        # generation files from a crashed pre-first-commit write are fine
        if f"/{GEN_COL}=" in p.toString():
            continue
        raise ValueError(
            f"{table_path} contains plain parquet data but no "
            f"{MANIFEST_DIR}/ — refusing to overlay generation-format "
            "writes on an unmanaged table. Migrate it first: read the "
            "existing data and commit it as an initial generation "
            "(e.g. txn.atomic_overwrite(spark, spark.read.parquet(path), "
            "tmp_path) then swap paths), or point this writer at a "
            "fresh directory."
        )


_UNCHECKED = object()  # sentinel: commit without base-version validation


def commit_manifest(
    spark: SparkSession,
    table_path: str,
    partitions: dict[str, str],
    base_version: int | None | object = _UNCHECKED,
    **extra,
) -> dict:
    """Publish a new manifest mapping partition-path → generation id and
    atomically swing ``_CURRENT`` to it.

    ``base_version`` is the compare-and-swap guard: pass the version of
    the manifest the caller READ when it planned this commit (``None``
    for "table had no manifest").  If another writer committed in
    between, the live version differs from the base and the commit is
    rejected with :class:`ConcurrentCommitError` — the caller must
    re-read, rebase its partition map, and retry (Iceberg-style).
    Without the guard, a stale writer would publish a partition map that
    silently reverts the interleaved commit; the version-file name race
    below only catches the narrow same-version window.  Omitting
    ``base_version`` skips validation — correct only for full-replace
    semantics (``atomic_overwrite``) where clobbering the map is the
    contract.
    """
    prev = current_manifest(spark, table_path)
    if base_version is not _UNCHECKED:
        live = prev["version"] if prev else None
        if live != base_version:
            raise ConcurrentCommitError(
                f"{table_path}: manifest moved {base_version!r} -> {live!r} "
                "since this commit was planned; re-read, rebase the "
                "partition map, and retry"
            )
    version = (prev["version"] + 1) if prev else 1
    manifest = {"version": version, "partitions": partitions, **extra}
    # replace=False: losing a version race raises ConcurrentCommitError
    # instead of clobbering the winner (rebase-and-retry is the caller's
    # move).  Airtight on HDFS (rename refuses existing dst); on POSIX
    # local fs a sub-millisecond check-to-rename window remains — local
    # mode is single-writer by construction.
    _write_text_atomic(
        spark,
        _manifest_path(table_path, version),
        json.dumps(manifest, indent=1),
        replace=False,
    )
    _write_text_atomic(
        spark,
        f"{table_path}/{MANIFEST_DIR}/{CURRENT}",
        f"v{version:08d}.json",
    )
    return manifest


# ------------------------------------------------------------------ read side


def _partition_dirs(table_path: str, manifest: dict) -> list[str]:
    dirs = []
    for ppath, gid in manifest["partitions"].items():
        base = table_path if ppath == ROOT_PART else f"{table_path}/{ppath}"
        dirs.append(f"{base}/{GEN_COL}={gid}")
    return dirs


def read_table(
    spark: SparkSession, table_path: str, at_version: int | None = None
) -> DataFrame | None:
    """Resolve the live generation of every partition and read exactly those
    directories.  Returns None for a never-committed (or fully empty) table.

    ``at_version``: read the table AS OF an older manifest version (time
    travel).  Works for any version whose generations ``vacuum`` has not
    reclaimed — the same retention contract as Iceberg snapshots.
    Partition columns are recovered from the directory names (hive
    layout), so partition-pruning filters still apply to the resolved
    directory set.
    """
    if at_version is not None:
        manifest = _manifest_at(spark, table_path, at_version)
    else:
        manifest = current_manifest(spark, table_path)
    if manifest is None or not manifest["partitions"]:
        return None
    return _read_generation_dirs(spark, table_path, manifest)


def _manifest_at(spark: SparkSession, table_path: str, version: int | None) -> dict:
    """Load a specific manifest version (None → the live one); raise if
    it was vacuumed / never committed."""
    if version is None:
        m = current_manifest(spark, table_path)
        if m is None:
            raise ValueError(f"{table_path} has no committed manifest")
        return m
    text = _read_text(spark, _manifest_path(table_path, version))
    if text is None:
        raise ValueError(
            f"manifest v{version:08d} not found (vacuumed or never "
            f"committed) under {table_path}"
        )
    return json.loads(text)


def _manifest_struct(manifest: dict):
    """The manifest's recorded table schema as a StructType (fields pinned
    nullable — parquet round-trips everything nullable, and a stricter
    declared field would reject what files physically hold), or None for
    pre-schema manifests."""
    ts = manifest.get("table_schema")
    if ts is None:
        return None
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [
            StructField(f.name, f.dataType, True, f.metadata)
            for f in StructType.fromJson(ts).fields
        ]
    )


def _read_generation_dirs(
    spark: SparkSession, table_path: str, manifest: dict, parts: dict | None = None
) -> DataFrame | None:
    """Read the generation dirs of ``parts`` (default: the whole manifest)
    with the manifest's recorded schema applied.

    Schema is METADATA, not file-sampled (the Delta/Iceberg model):
    every commit records its table schema, so (a) reads skip footer
    sampling and always see the committed column set/order, (b) schema
    EVOLVES — older generations missing a newly added column read as
    null for it, and time-travel reads return the schema as of that
    version.  Pre-schema manifests fall back to footer sampling."""
    parts = manifest["partitions"] if parts is None else parts
    if not parts:
        return None
    dirs = _partition_dirs(table_path, {"partitions": parts})
    reader = spark.read.option("basePath", table_path)
    st = _manifest_struct(manifest)
    if st is not None:
        from pyspark.sql.types import StringType, StructField

        reader = reader.schema(st.add(StructField(GEN_COL, StringType(), True)))
    return reader.parquet(*dirs).drop(GEN_COL)


def table_diff(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between two manifest versions (CDC-style):
    every column plus ``__change`` ∈ {'insert', 'delete'}; an updated row
    appears as its delete+insert pair.  ``to_version`` None = live.

    Scale: versions are compared at the MANIFEST level first — only
    partitions whose generation changed (or appeared / vanished) between
    the two versions are scanned at all, so cost is proportional to the
    CHURN, never the table (an incremental consumer of a 100 TB table
    with one hot day reads one day).  Within changed partitions the diff
    is ``exceptAll`` — multiset semantics, so duplicate rows diff
    correctly — one shuffle over changed partitions only.  A compaction
    (same rows, new generation) diffs to zero rows.  Retention matches
    ``at_version`` reads: both versions' generations must not be
    vacuumed.

    Schema evolution: each side reads with ITS OWN version's recorded
    manifest schema; the feed is emitted in the to-version's shape, the
    older side aligning by name with null fill — so a row whose only
    change is a newly added column diffs as a proper delete+insert pair,
    and a dropped column is simply absent from the feed.
    """
    old_m = _manifest_at(spark, table_path, from_version)
    new_m = _manifest_at(spark, table_path, to_version)
    # Refuse to diff across a TYPE-CHANGING rewrite (the atomic_overwrite
    # escape hatch from the add-only evolution guard): aligning the old
    # side to the new type is a cast, and a lossy cast (string→double →
    # null) would emit delete rows with nulls in place of the original
    # values and could make genuinely changed rows compare equal —
    # silently corrupting the change feed.  Added/dropped columns remain
    # fine (null-fill / absence is exact, documented above).
    def _refuse_retyped(old_types: dict, new_types: dict) -> None:
        retyped = [
            f"{c}: {old_types[c].simpleString()} -> "
            f"{new_types[c].simpleString()}"
            for c in old_types
            if c in new_types and old_types[c] != new_types[c]
        ]
        if retyped:
            raise ValueError(
                f"table_diff({table_path}, v{from_version} -> "
                f"v{to_version if to_version is not None else 'live'}) "
                "crosses a rewrite that changed column types "
                f"({'; '.join(retyped)}); the diff is undefined across a "
                "lossy cast. Diff up to the rewrite and from it "
                "separately, or re-snapshot consumers at the rewrite."
            )

    old_st, new_st = _manifest_struct(old_m), _manifest_struct(new_m)
    if old_st is not None and new_st is not None:
        _refuse_retyped(
            {f.name: f.dataType for f in old_st.fields},
            {f.name: f.dataType for f in new_st.fields},
        )
    old_parts, new_parts = old_m["partitions"], new_m["partitions"]
    changed_old = {p: g for p, g in old_parts.items() if new_parts.get(p) != g}
    changed_new = {p: g for p, g in new_parts.items() if old_parts.get(p) != g}
    old_df = _read_generation_dirs(spark, table_path, old_m, changed_old)
    new_df = _read_generation_dirs(spark, table_path, new_m, changed_new)

    if old_df is None and new_df is None:
        # no churn (possibly both versions empty): empty feed in the
        # to-version's shape, falling back through the from-version and
        # a live read for pre-schema manifests
        for m in (new_m, old_m):
            st = _manifest_struct(m)
            if st is not None:
                empty = spark.createDataFrame([], st)
                return empty.withColumn("__change", F.lit(""))
        base = read_table(spark, table_path, at_version=to_version)
        if base is None:
            base = read_table(spark, table_path, at_version=from_version)
        if base is None:
            raise ValueError(
                f"{table_path} has no readable schema at either version"
            )
        return base.limit(0).withColumn("__change", F.lit(""))

    # output shape comes from the TO-version's MANIFEST schema, not from
    # whichever side happens to have changed partitions: a commit that
    # widens the schema while emptying its touched partitions leaves
    # new_df None, and deriving the shape from old_df would emit the
    # feed without the new column — breaking consumers that unionByName
    # consecutive feeds
    st_ref = _manifest_struct(new_m) or _manifest_struct(old_m)
    if st_ref is None:  # both versions pre-schema: fall back to a read side
        st_ref = (new_df if new_df is not None else old_df).schema
    cols = [f.name for f in st_ref.fields]
    typ = {f.name: f.dataType for f in st_ref.fields}

    if old_st is None or new_st is None:
        # Pre-schema manifest on either side: the manifest-level guard
        # above could not run, but the same lossy-cast corruption applies
        # — check the READ sides' types against the target shape before
        # any _align_to cast.  Footer-derived DATA-column types are the
        # files' physical truth, but two classes of read-side type are
        # INFERRED and must not false-refuse a legitimate diff:
        # partition columns (directory-name inference: day=20240101
        # reads as int where the manifest records string) and the
        # timestamp<->timestamp_ntz pair (inferTimestampNTZ config).
        part_cols = {
            seg.split("=", 1)[0]
            for m in (old_m, new_m)
            for p in m["partitions"]
            for seg in p.split("/")
            if "=" in seg
        }
        _TS = {"timestamp", "timestamp_ntz"}

        def _real_mismatches(types: dict) -> dict:
            return {
                c: dt
                for c, dt in types.items()
                if c not in part_cols
                and not (
                    c in typ
                    and {dt.simpleString(), typ[c].simpleString()} <= _TS
                )
            }

        if old_df is not None:
            _refuse_retyped(_real_mismatches(
                {f.name: f.dataType for f in old_df.schema.fields}
            ), typ)
        if new_df is not None:
            # arrow direction: typ is the OLD shape here (st_ref fell
            # back to old_m when new_st is None), so the new side goes
            # on the right of the old -> new arrow
            _refuse_retyped(typ, _real_mismatches(
                {f.name: f.dataType for f in new_df.schema.fields}
            ))

    a_old = _align_to(old_df, cols, typ) if old_df is not None else None
    a_new = _align_to(new_df, cols, typ) if new_df is not None else None
    empty = (a_new if a_new is not None else a_old).limit(0)
    deletes = (
        a_old.exceptAll(a_new)
        if a_old is not None and a_new is not None
        else (a_old if a_old is not None else empty)
    )
    inserts = (
        a_new.exceptAll(a_old)
        if a_old is not None and a_new is not None
        else (a_new if a_new is not None else empty)
    )
    return deletes.withColumn("__change", F.lit("delete")).unionByName(
        inserts.withColumn("__change", F.lit("insert"))
    )


# ----------------------------------------------------------------- write side


def _partition_path_strings(
    spark: SparkSession, df: DataFrame, partition_cols: Sequence[str]
) -> list[str]:
    """Hive-escaped relative partition paths for the distinct partition
    values in ``df`` — uses Spark's OWN escaping so the strings match the
    directories ``partitionBy`` writes (':' → '%3A', NULL → default, …).

    Values are rendered by SPARK's cast-to-string, not Python ``str()``:
    the two diverge exactly where it corrupts the manifest — booleans
    (``true`` vs ``True``) and fractional-second timestamps (``.5`` vs
    ``.500000``) — and a mis-rendered key maps a directory that does not
    exist (reads fail) or misses one that does (deleted rows resurrect
    through ``_drop_emptied_partitions``)."""
    from crypto_datalake_spark.sinks import partition_values

    rendered = partition_values(df, partition_cols)[1]
    return sorted(_rendered_paths(spark, rendered, partition_cols))


def _rendered_paths(
    spark: SparkSession, rendered: list[tuple], partition_cols: Sequence[str]
) -> set[str]:
    """Hive-escaped relative partition paths of partition values already
    rendered by Spark's cast-to-string (``sinks.partition_values``)."""
    esc = _hive_escaper(spark)
    return {
        _hive_partition_path(esc, dict(zip(partition_cols, vals)), partition_cols)
        for vals in rendered
    }


def _written_partitions(
    spark: SparkSession,
    table_path: str,
    manifest: dict | None,
    out: DataFrame,
    partition_cols: Sequence[str],
    touched: set[str],
    gid: str,
) -> set[str]:
    """The partitions generation ``gid`` wrote rows to, for a commit whose
    written rows all lie in ``touched``: a partitioned write creates a
    partition's ``__gen=<gid>`` directory only when it holds rows, so one
    existence check per touched partition stands in for a distinct
    collect over the written frame.  A pre-schema manifest reads partition
    values by type inference, which can re-render one ("01" -> 1 -> "1")
    under a directory ``touched`` does not name; there the written
    frame's own values are collected."""
    if manifest is not None and "table_schema" not in manifest:
        return set(_partition_path_strings(spark, out, partition_cols))
    jvm, fs, _ = _fs(spark, table_path)
    return {
        p
        for p in touched
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                _partition_dirs(table_path, {"partitions": {p: gid}})[0]
            )
        )
    }


def _hive_escaper(spark: SparkSession):
    return spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils


def _hive_partition_path(esc, row, partition_cols: Sequence[str]) -> str:
    """Render ONE collected row (of Spark-cast-to-string partition
    values) to its hive-escaped relative path — the single spelling
    shared by the manifest partition map and the stats map, so the two
    can never key the same partition under different strings."""
    if not partition_cols:
        return ROOT_PART
    return "/".join(
        esc.getPartitionPathString(c, "" if row[c] is None else row[c])
        for c in partition_cols
    )


def _align_to(df: DataFrame, cols: Sequence[str], typ: dict) -> DataFrame:
    """Align ``df`` to the (cols, typ) shape by name: present columns
    cast to the target type, absent ones null-filled.  Shared by the
    CDC diff and both evolving write paths so schema alignment can
    never drift between them."""
    return df.select(
        *[
            (
                F.col(c).cast(typ[c])
                if c in df.columns
                else F.lit(None).cast(typ[c])
            ).alias(c)
            for c in cols
        ]
    )


def _guard_and_align_evolution(
    manifest: dict | None, incoming: DataFrame, existing: DataFrame | None
) -> DataFrame | None:
    """Enforce the ADD-ONLY evolution contract shared by the upsert and
    merge write paths, and align ``existing`` to the incoming column set.

    A column the incoming batch adds null-fills for existing rows (the
    commit then records the widened schema; generations written before
    the column existed keep reading as null through the manifest-schema
    path).  A committed column the batch LACKS is rejected loudly:
    committing the narrowed schema would hide that column table-wide —
    including untouched partitions whose files still hold the data.
    The prior shape comes from the manifest's recorded schema, falling
    back to the existing read's columns for pre-schema tables (which
    would otherwise narrow silently and then RECORD the narrowed
    schema).  A same-name column whose TYPE changed is rejected too —
    silently casting stored data to the batch's type is a rewrite, not
    an evolution (atomic_overwrite is the escape hatch)."""
    from pyspark.sql.types import StructType

    cols = incoming.columns
    inc_type = {f.name: f.dataType for f in incoming.schema.fields}
    prior_st = _manifest_struct(manifest) if manifest else None
    if prior_st is None and existing is not None:
        prior_st = StructType(
            [f for f in existing.schema.fields if f.name != GEN_COL]
        )
    if prior_st is not None:
        missing = [f.name for f in prior_st.fields if f.name not in cols]
        if missing:
            raise ValueError(
                f"incoming batch lacks committed column(s) {missing}: "
                "schema evolution is add-only — dropping a column needs an "
                "explicit full-table rewrite (atomic_overwrite)"
            )
        # compare by simpleString: containsNull/metadata variations are
        # not type changes (parquet round-trips everything nullable)
        retyped = [
            f.name
            for f in prior_st.fields
            if f.name in inc_type
            and inc_type[f.name].simpleString() != f.dataType.simpleString()
        ]
        if retyped:
            raise ValueError(
                f"incoming batch changes the type of column(s) {retyped}: "
                "schema evolution is add-only — a type change needs an "
                "explicit full-table rewrite (atomic_overwrite)"
            )
    if existing is None:
        return None
    return _align_to(existing, cols, inc_type)


def write_generation(
    df: DataFrame,
    table_path: str,
    partition_cols: Sequence[str],
    gid: str | None = None,
    files_per_partition: int | None = None,
) -> str:
    """Append one immutable generation of data files; invisible to readers
    until a manifest referencing ``gid`` is committed.

    Layout: one file per partition directory, or the frame's own
    partitioning for an unpartitioned table.  ``files_per_partition``
    (compaction) caps every directory at that many files instead: a
    partitioned write spreads each partition's rows over that many salt
    values, which AQE may merge back for small partitions."""
    gid = gid or uuid.uuid4().hex[:12]
    tagged = df.withColumn(GEN_COL, F.lit(gid))
    if partition_cols:
        by = [F.col(c) for c in partition_cols]
        if files_per_partition and files_per_partition > 1:
            by.append(F.pmod(F.monotonically_increasing_id(), F.lit(files_per_partition)))
        (
            tagged.repartition(*by)
            .write.mode("append")
            .partitionBy(*partition_cols, GEN_COL)
            .parquet(table_path)
        )
    else:
        if files_per_partition:
            tagged = tagged.coalesce(files_per_partition)
        tagged.write.mode("append").partitionBy(GEN_COL).parquet(table_path)
    return gid


def atomic_overwrite(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    base_version: int | None | object = _UNCHECKED,
) -> dict:
    """Replace a whole (unpartitioned) table in one atomic step: write the
    new generation, then swing the pointer.  Readers never observe a
    mid-rewrite state — the fix for the read-then-overwrite-same-path window
    the plain ``mode("overwrite")`` rewrite has.

    ``base_version``: pass the manifest version the caller READ when it
    derived ``df`` to get compare-and-swap semantics (required whenever
    the overwrite is really a read-modify-write, e.g. ``merge_scd2``
    rebuilding a version chain — without it a stale writer silently
    reverts an interleaved commit).  Default skips the check, correct
    only for genuine full-replace writes that derive nothing from the
    table's current state."""
    if current_manifest(spark, table_path) is None:
        guard_unmanaged_data(spark, table_path)
    gid = write_generation(df, table_path, [])
    return commit_manifest(
        spark,
        table_path,
        {ROOT_PART: gid},
        base_version=base_version,
        table_schema=json.loads(df.schema.json()),
    )


def atomic_upsert_partitioned(
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
    stats_cols: Sequence[str] = (),
) -> dict:
    """`sinks.upsert_partitioned` semantics (keep-last merge, LIVE_ONLY
    preservation, flag OR) with an atomic multi-partition commit: all
    touched partitions flip to the new generation in one pointer swap, or
    none do.  Returns the committed manifest.

    ``stats_cols``: record per-partition [min, max] of these columns in
    the manifest (one extra map-side aggregate over the merged output);
    ``read_table_skipping`` then prunes partitions driver-side before
    any filesystem call.  Untouched partitions carry their previous
    stats forward (their generation is unchanged); touched partitions
    always get FRESH stats, so recorded bounds can never describe a
    dead generation.

    The merge reads existing rows through the manifest (only the touched
    partitions' live generations), writes the merged output as a NEW
    generation alongside the old one, then publishes a manifest where
    touched partitions point at the new generation, emptied partitions
    disappear, and untouched partitions keep their old mapping.
    """
    from crypto_datalake_spark.sinks import (
        evaluate_once,
        frame_schema_hash,
        ledger_entries,
        merge_frames,
        partition_values,
        upsert_ledger,
    )

    manifest = current_manifest(spark, path)
    if manifest is None:
        guard_unmanaged_data(spark, path)
    # the touched partition set, rendered once driver-side (reused for
    # the manifest update below) from the evaluation the merge reads
    incoming = evaluate_once(incoming)
    touched = _rendered_paths(
        spark, partition_values(incoming, partition_cols)[1], partition_cols
    )
    existing = None
    if manifest is not None and manifest["partitions"]:
        # read ONLY the touched partitions' live generations, resolved
        # driver-side against the manifest — a full-table read filtered
        # by a null-safe semi-join would LIST and plan every partition's
        # generation directory per upsert (and Catalyst cannot statically
        # prune an eqNullSafe join condition), turning a one-partition
        # incremental batch into an O(table) metadata pass at 100k
        # partitions
        touched_live = {
            p: g for p, g in manifest["partitions"].items() if p in touched
        }
        if touched_live:
            existing = _guard_and_align_evolution(
                manifest,
                incoming,
                _read_generation_dirs(spark, path, manifest, touched_live),
            )
        else:
            # no touched partition exists yet — still enforce the
            # add-only evolution guard against the recorded schema
            _guard_and_align_evolution(manifest, incoming, None)
    # an emptied-but-versioned table holds no data a narrowed schema
    # could hide, so the add-only guard applies only when rows exist

    # the manifest's present set and stats, and the ledger, all describe
    # the one materialization that write_generation writes
    out = evaluate_once(
        merge_frames(incoming, existing, keys, order_cols, preserve_cols, flag_cols)
    )
    gid = write_generation(out, path, partition_cols)
    extra: dict = {}
    if stats_cols:
        # the stats aggregate groups the SAME frame by the SAME
        # rendered partition values — its keys ARE the present set,
        # so the separate distinct-collect job is skipped
        stats_new = partition_stats(spark, out, partition_cols, stats_cols)
        present = set(stats_new)
    else:
        present = _written_partitions(
            spark, path, manifest, out, partition_cols, touched, gid
        )
    parts = dict(manifest["partitions"]) if manifest else {}
    for p in touched:
        parts.pop(p, None)  # emptied partitions stay gone
    for p in present:
        parts[p] = gid
    if stats_cols:
        extra["stats"] = carry_forward_stats(
            manifest, stats_new, touched | present, parts
        )
    else:
        # stats_cols omitted on a table that already records stats
        # must NOT publish a stats-less manifest (that silently
        # disables data skipping table-wide): refresh the touched
        # partitions over the same recorded columns and carry the
        # rest forward, exactly like merge/purge/compaction do.
        extra.update(
            _refresh_stats_extra(
                spark, manifest, out, partition_cols, touched, parts
            )
        )
    committed = commit_manifest(
        spark,
        path,
        parts,
        base_version=manifest["version"] if manifest else None,
        schema_hash=frame_schema_hash(out),
        table_schema=json.loads(out.schema.json()),
        **extra,
    )

    if ledger_path is not None:
        entries = ledger_entries(
            out, partition_cols, order_cols[0], digest_cols or keys
        ).withColumn("generation", F.lit(gid))
        upsert_ledger(
            spark, ledger_path, entries, partition_cols, frame_schema_hash(out)
        )
    return committed


def atomic_merge_into(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    on: Sequence[str],
    partition_cols: Sequence[str],
    **merge_kwargs,
) -> dict:
    """`sinks.merge_into` semantics (matched-update / matched-delete /
    not-matched-insert, key-move tracking) committed through the
    generation manifest.  Beyond all-or-nothing visibility, the manifest
    subsumes the overwrite path's emptied-partition cleanup: a partition
    whose rows all moved away or were deleted simply drops out of the
    manifest in the same atomic swap — no post-write filesystem deletes,
    no window where a reader can see the stale partition.
    """
    from crypto_datalake_spark.sinks import evaluate_once, merge_compute

    cols = source.columns
    manifest = current_manifest(spark, path)
    if manifest is None:
        guard_unmanaged_data(spark, path)
    base_version = manifest["version"] if manifest else None
    if manifest is None or not manifest["partitions"]:
        # empty table: run the SAME merge_compute against an empty frame
        # so insert=False / conditions behave identically (a dedicated
        # "just write the source" branch silently inserted on
        # update-only merges), and commit with the CAS base we actually
        # read — an emptied-but-versioned manifest is NOT version None,
        # and committing None against it would wedge every retry.
        existing_full = spark.createDataFrame([], source.schema).select(*cols)
    else:
        # same add-only evolution contract as the upsert path: a source
        # column the table lacks null-fills; a committed column the
        # source lacks is rejected (narrowed schema would hide it)
        existing_full = _guard_and_align_evolution(
            manifest, source, read_table(spark, path)
        )
    out, touched_vals = merge_compute(
        source, existing_full, on, partition_cols, **merge_kwargs
    )
    out = evaluate_once(out)
    gid = write_generation(out, path, partition_cols)
    touched_paths = _rendered_paths(spark, touched_vals, partition_cols)
    present = _written_partitions(
        spark, path, manifest, out, partition_cols, touched_paths, gid
    )
    parts = dict(manifest["partitions"]) if manifest else {}
    for p in touched_paths:
        parts.pop(p, None)  # emptied/moved-away partitions vanish here
    for p in present:
        parts[p] = gid
    return commit_manifest(
        spark,
        path,
        parts,
        base_version=base_version,
        table_schema=json.loads(out.schema.json()),
        **_refresh_stats_extra(
            spark, manifest, out, partition_cols, touched_paths, parts
        ),
    )


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    target_files_per_partition: int = 1,
    partition_paths: Sequence[str] | None = None,
) -> dict | None:
    """Small-file compaction: rewrite each partition's live generation into
    at most ``target_files_per_partition`` files, committed atomically.

    Continuous ingestion writes a few rows per tick; after a day a hot
    partition holds hundreds of tiny files and scan tasks go
    metadata-bound.  Compaction is a pure rewrite — same rows, fewer
    files — and under the generation protocol it is also SAFE: the
    compacted generation becomes visible in one pointer swap, in-flight
    readers keep their old generation, and a crash mid-compact changes
    nothing.  ``partition_paths`` restricts the rewrite (e.g. yesterday's
    partitions only — compact behind the ingest frontier, never under it).

    Returns the committed manifest, or None if the table is empty.
    """
    manifest = current_manifest(spark, table_path)
    if manifest is None or not manifest["partitions"]:
        return None
    todo = {
        p: g
        for p, g in manifest["partitions"].items()
        if partition_paths is None or p in set(partition_paths)
    }
    if not todo:
        return manifest

    # one read of every requested partition's live generation (recorded
    # schema, no footer sampling) and one write of the new generation;
    # every partition path of a table names the same columns
    first = next(iter(todo))
    partition_cols = (
        [] if first == ROOT_PART else [seg.split("=", 1)[0] for seg in first.split("/")]
    )
    gid = write_generation(
        _read_generation_dirs(spark, table_path, manifest, todo),
        table_path,
        partition_cols,
        files_per_partition=target_files_per_partition,
    )
    if "table_schema" not in manifest:
        # a pre-schema manifest reads partition values by type inference,
        # which can re-render one ("01" -> 1 -> "1") under a directory the
        # manifest does not name: refuse before publishing such a map
        jvm, fs, _ = _fs(spark, table_path)
        for p in todo:
            base = table_path if p == ROOT_PART else f"{table_path}/{p}"
            if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{base}/{GEN_COL}={gid}")):
                raise ValueError(
                    f"{table_path}: partition {p} did not round-trip through "
                    "a pre-schema read; commit the table once (any upsert "
                    "records its schema) before compacting it"
                )
    parts = dict(manifest["partitions"])
    for p in todo:
        parts[p] = gid
    # a compaction never changes the table's logical shape — carry the
    # recorded schema forward so reads stay metadata-driven
    carry = (
        {"table_schema": manifest["table_schema"]}
        if "table_schema" in manifest
        else {}
    )
    if "stats" in manifest:
        # same rows, new layout: recorded bounds still describe the live
        # generation exactly, so they carry through verbatim
        carry["stats"] = {
            p: s for p, s in manifest["stats"].items() if p in parts
        }
    return commit_manifest(
        spark, table_path, parts, base_version=manifest["version"], **carry
    )


# -------------------------------------------------------------------- vacuum


def vacuum(spark: SparkSession, table_path: str, keep_manifests: int = 3) -> int:
    """Delete generation directories no manifest retains and old manifest
    versions beyond ``keep_manifests``.  Returns the number of directories
    removed.  Safe any time AFTER readers of older manifests have drained
    (same contract as Iceberg's expire-snapshots)."""
    manifest = current_manifest(spark, table_path)
    if manifest is None:
        return 0
    versions = _list_versions(spark, table_path)
    keep_versions = set(versions[-keep_manifests:])
    live: set[tuple[str, str]] = set()
    for v in sorted(keep_versions):
        m = json.loads(_read_text(spark, _manifest_path(table_path, v)))
        live.update(m["partitions"].items())

    jvm, fs, root = _fs(spark, table_path)
    removed = 0

    def walk(dir_path, rel):
        nonlocal removed
        for st in fs.listStatus(dir_path):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if name == MANIFEST_DIR:
                continue
            if name.startswith(f"{GEN_COL}="):
                gid = name.split("=", 1)[1]
                key = (rel if rel else ROOT_PART, gid)
                if key not in live:
                    fs.delete(st.getPath(), True)
                    removed += 1
            else:
                walk(st.getPath(), f"{rel}/{name}" if rel else name)

    walk(root, "")
    for v in versions:
        if v not in keep_versions:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(_manifest_path(table_path, v)), False
            )
    return removed


def _refresh_stats_extra(
    spark: SparkSession,
    manifest: dict | None,
    out: DataFrame,
    partition_cols: Sequence[str],
    touched: set[str],
    final_partitions: dict[str, str],
) -> dict:
    """Recompute data-skipping stats for a rewrite commit: when the
    previous manifest recorded stats, the rewritten partitions get FRESH
    bounds over ``out`` (for the same columns, where they still exist)
    and untouched partitions carry forward — so a merge or purge never
    silently disables skipping table-wide.  Returns ``{}`` (no stats
    key) when the table never recorded stats."""
    prev = (manifest or {}).get("stats") or {}
    if not prev:
        return {}
    cols = sorted(
        {c for pstats in prev.values() for c in pstats} & set(out.columns)
    )
    new_stats = partition_stats(spark, out, partition_cols, cols) if cols else {}
    return {
        "stats": carry_forward_stats(
            manifest, new_stats, touched | set(new_stats), final_partitions
        )
    }


def purge_rows(
    spark: SparkSession,
    table_path: str,
    predicate: Column,
    partition_cols: Sequence[str],
    vacuum_history: bool = True,
) -> dict | None:
    """Compliance erasure (GDPR delete / Delta REORG-PURGE shape): remove
    every row where ``predicate`` is TRUE from the live table in one
    atomic commit, then — by default — truncate retained history so the
    purged rows cannot be served from ANY readable state.

    Mechanics: only partitions that actually contain matching rows are
    rewritten (manifest-pruned scan → filtered new generation →
    compare-and-swap commit); untouched partitions keep their
    generation mapping byte-for-byte.  Rows where the predicate is NULL
    are KEPT — erasure must remove exactly what it can prove matches.

    History: an erasure that leaves old generations readable has not
    erased anything — time travel would resurface the rows.  With
    ``vacuum_history`` (default) the commit is followed by
    ``vacuum(keep_manifests=1)``, so pre-purge manifests and the
    rewritten partitions' old generations are deleted; ``at_version``
    reads of pre-purge versions then fail LOUDLY instead of silently
    serving purged data.  Generations shared with the new manifest
    (untouched partitions) survive — they contain no matching rows by
    construction.  Pass ``vacuum_history=False`` only when a separate
    retention process owns vacuuming, and understand the purge is not
    complete until it runs.
    """
    from crypto_datalake_spark.sinks import (
        evaluate_once,
        frame_schema_hash,
        partition_values,
        semi_join_null_safe,
    )

    manifest = current_manifest(spark, table_path)
    if manifest is None or not manifest["partitions"]:
        return None
    live = read_table(spark, table_path)
    hit = F.coalesce(predicate, F.lit(False))
    touched_dirs, rendered = partition_values(live.where(hit), partition_cols)
    touched = _rendered_paths(spark, rendered, partition_cols)
    if not touched:
        return manifest  # nothing matches: no rewrite, history untouched
    keep = evaluate_once(
        semi_join_null_safe(live, touched_dirs, partition_cols).where(~hit)
    )
    gid = write_generation(keep, table_path, partition_cols)
    present = _written_partitions(
        spark, table_path, manifest, keep, partition_cols, touched, gid
    )
    parts = dict(manifest["partitions"])
    for p in touched:
        parts.pop(p, None)  # fully-purged partitions stay gone
    for p in present:
        parts[p] = gid
    committed = commit_manifest(
        spark,
        table_path,
        parts,
        base_version=manifest["version"],
        schema_hash=frame_schema_hash(keep),
        table_schema=json.loads(keep.schema.json()),
        **_refresh_stats_extra(
            spark, manifest, keep, partition_cols, touched, parts
        ),
    )
    if vacuum_history:
        vacuum(spark, table_path, keep_manifests=1)
    return committed


# ------------------------------------------------------- data skipping

def _stat_scalar(v, round_toward: int = 0):
    """JSON-safe, order-preserving rendering of a stats value: ISO
    strings for datetimes (lexicographically ordered), native numbers
    and strings as-is.  The SAME normalization applies to recorded
    stats and to pruning bounds, so comparisons always happen in one
    domain.

    ``round_toward`` (-1 toward -inf, +1 toward +inf) makes Decimal →
    float conversion DIRECTED: above 2**53 nearest-rounding can move a
    recorded min UP past the true min (or a max DOWN).  Because
    correctly-rounded conversion is monotone, even a nearest-rounded
    bound cannot be wrongly pruned against (see the read_table_skipping
    comparison note) — the directed form keeps the stronger, locally
    checkable invariant that recorded bounds BRACKET the true values
    ([lo, hi] ⊇ the exact Decimal range), so soundness never rests on a
    cross-site rounding-mode agreement.  Min-like values (recorded
    mins, query lower bounds) round toward -inf; max-like toward
    +inf."""
    import datetime as _dt
    import decimal as _decimal
    import math as _math

    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, _decimal.Decimal):
        # JSON can't carry Decimal; float keeps numeric ordering so
        # recorded bounds stay comparable with numeric pruning bounds
        # (a stats column is a pruning hint, not an exactness contract)
        f = float(v)
        if round_toward < 0 and _decimal.Decimal(f) > v:
            f = _math.nextafter(f, -_math.inf)
        elif round_toward > 0 and _decimal.Decimal(f) < v:
            f = _math.nextafter(f, _math.inf)
        return f
    if isinstance(v, (bytes, bytearray)):
        # binary stats are not orderable in the JSON domain: record as
        # None so the partition is never (wrongly) pruned on them
        return None
    return v


def partition_stats(
    spark: SparkSession,
    df: DataFrame,
    partition_cols: Sequence[str],
    stats_cols: Sequence[str],
) -> dict[str, dict[str, list]]:
    """Per-partition [min, max] of each stats column — ONE shuffle-free
    (map-side combinable) aggregate over the frame being committed.
    Keys are the same hive-escaped partition paths the manifest maps,
    rendered with Spark's own escaping (`_partition_path_strings`
    doctrine).  Null-only columns record [None, None] (never prunable).
    """
    esc = _hive_escaper(spark)
    aggs = []
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"__mn_{c}"))
        aggs.append(F.max(c).alias(f"__mx_{c}"))
    rows = (
        df.groupBy(*[F.col(c).cast("string").alias(c) for c in partition_cols])
        .agg(*aggs)
        .collect()
    )
    out: dict[str, dict[str, list]] = {}
    for r in rows:
        ppath = _hive_partition_path(esc, r, partition_cols)
        out[ppath] = {
            c: [
                _stat_scalar(r[f"__mn_{c}"], round_toward=-1),
                _stat_scalar(r[f"__mx_{c}"], round_toward=1),
            ]
            for c in stats_cols
        }
    return out


def carry_forward_stats(
    prev_manifest: dict | None,
    new_stats: dict[str, dict[str, list]],
    touched: set[str],
    final_partitions: dict[str, str],
) -> dict[str, dict[str, list]]:
    """Merge freshly-computed stats with the previous manifest's for
    partitions whose GENERATION did not move.  A touched partition's
    old stats are never carried (they describe a dead generation — the
    stale-stats wrong-pruning hazard); a partition absent from the new
    manifest drops out entirely."""
    prev = (prev_manifest or {}).get("stats", {})
    out = {
        p: prev[p]
        for p in final_partitions
        if p in prev and p not in touched
    }
    out.update({p: s for p, s in new_stats.items() if p in final_partitions})
    return out


def read_table_skipping(
    spark: SparkSession,
    table_path: str,
    bounds: dict[str, tuple],
    at_version: int | None = None,
) -> DataFrame | None:
    """`read_table` with MANIFEST-LEVEL data skipping: partitions whose
    recorded column stats prove no overlap with ``bounds`` (col →
    inclusive (lo, hi); either side None = unbounded) are never listed,
    opened, or footer-read — the Delta-transaction-log data-skipping
    design on top of the generation manifest.  Partitions with no
    recorded stats for a bounded column are read (skipping is only ever
    an optimization — the caller still applies the row filter).  At
    100k partitions this prunes from the driver-side JSON in
    microseconds, before any filesystem call.
    """
    manifest = (
        _manifest_at(spark, table_path, at_version)
        if at_version is not None
        else current_manifest(spark, table_path)
    )
    if manifest is None or not manifest["partitions"]:
        return None
    stats = manifest.get("stats", {})
    keep: dict[str, str] = {}
    for ppath, gid in manifest["partitions"].items():
        drop = False
        pstats = stats.get(ppath, {})
        for col, (lo, hi) in bounds.items():
            rng = pstats.get(col)
            if not rng or rng[0] is None or rng[1] is None:
                continue  # no usable stats: must read
            try:
                # soundness note for bounds recorded BEFORE directed
                # rounding existed (plain nearest float()): correctly-
                # rounded conversion is MONOTONE, so a query hi >= the
                # partition's true min always converts to >= the
                # nearest-rounded recorded min — the strict < below can
                # never wrongly prune legacy bounds either; directed
                # rounding keeps the invariant legible (recorded bounds
                # BRACKET the true values) rather than fixing a reachable
                # wrong-prune
                if (
                    hi is not None
                    and _stat_scalar(hi, round_toward=1) < rng[0]
                ) or (
                    lo is not None
                    and _stat_scalar(lo, round_toward=-1) > rng[1]
                ):
                    drop = True
                    break
            except TypeError:
                # bound and recorded stat live in incomparable domains
                # (e.g. numeric bound vs ISO-string timestamp stat):
                # skipping is only ever an optimization, so degrade to
                # "must read" rather than fail the read
                continue
        if not drop:
            keep[ppath] = gid
    if not keep:
        return None
    return _read_generation_dirs(spark, table_path, manifest, keep)
