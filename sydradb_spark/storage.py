"""Storage layer: the points table as hour-bucket-partitioned Parquet.

Reference write path (engine.zig:317-369, storage/segment.zig:11-57): sort
points by ts, split by UTC hour, write compressed segments + manifest entry.
Spark-first translation:

- ``write_points``: repartition by hour_bucket, sort within partitions by
  (series_id, ts), ``partitionBy("hour_bucket")`` Parquet, then commit the
  written file list as the next version of the table's manifest
  (``sydradb_spark.objectstore``). Parquet row-group min/max stats on
  (series_id, ts) replace the reference's per-segment ranges; the hour
  partitions replace its manifest pruning.
- ``hour_bucket_bounds``: the ONE rewrite Catalyst cannot do for us (SURVEY
  §4.1): derive hour_bucket partition predicates from ts predicates so a
  time-ranged query prunes partitions instead of scanning all of them.
- ``compact_points`` / ``apply_retention`` / ``drop_expired_partitions``:
  the compaction dedup (compact.zig:36-49, (series_id, ts) last-wins) and
  TTL jobs (retention.zig:4-20) as batch jobs. Partition drops are
  metadata/filesystem operations — no data rewrite.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sydradb_spark import objectstore
from sydradb_spark.model import SECONDS_PER_HOUR

POINT_COLS = ["series_id", "series", "tags", "ts", "value", "hour_bucket"]

# the table key the objectstore points manifest is kept under; scope the
# store to ONE table (mirrors rollup_stream.STORE_TABLE's one-table scoping)
POINTS_STORE_TABLE = "points"


def _posix_table_path(path: str) -> str | None:
    """Local-filesystem form of ``path`` (plain or file://), or None for a
    non-POSIX URI (s3a://, hdfs://, ...)."""
    from sydradb_spark.ingest import _posix_checkpoint_path

    return _posix_checkpoint_path(path)


def _root(path: str) -> str:
    """Where the table's data files live: the local form of a plain or
    file:// path, else the URI itself."""
    return (_posix_table_path(path) or path).rstrip("/")


def _data_files(path: str, spark: SparkSession | None = None) -> list[str]:
    """Every hour-partition parquet file under ``path`` (relative paths),
    listed locally or, for a URI location, through the Hadoop FS API. What
    the first commit on a manifest-less table adopts, and what vacuum
    reclaims from."""
    local = _posix_table_path(path)
    if local is not None:
        root = Path(local)
        return sorted(
            str(f.relative_to(root)) for f in root.glob("hour_bucket=*/*.parquet")
        )
    from sydradb_spark.util import hadoop_fs

    _, fs, jroot = hadoop_fs(spark, path)
    out = []
    if fs.exists(jroot):
        for part in fs.listStatus(jroot):
            pname = part.getPath().getName()
            if not (part.isDirectory() and pname.startswith("hour_bucket=")):
                continue
            for f in fs.listStatus(part.getPath()):
                name = f.getPath().getName()
                if name.endswith(".parquet") and not name.startswith("."):
                    out.append(f"{pname}/{name}")
    return sorted(out)


def _write_tasks(spark: SparkSession) -> int:
    """Explicit shuffle width for partitioned writes. ``repartition(col)``
    without a count plans REPARTITION_BY_COL, which AQE re-optimizes through
    extra query stages — measured 3.5x slower than the pinned
    REPARTITION_BY_NUM shuffle for the hour-partitioned write at identical
    file layout (ROUND6_NOTES §10). The count follows the session's shuffle
    sizing, which cluster_conf scales with the data."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def _layout(df: DataFrame):
    """The table's file layout as a writer: one shuffle on hour_bucket,
    rows (series_id, ts)-sorted within each hour file.

    The sort key MUST lead with the partition column: Spark's
    planned write (V1Writes, default-on in 3.4+) requires child ordering
    [hour_bucket] for a partitionBy write — a child sorted only by
    (series_id, ts) does not satisfy it, so the planner stacked its own
    Sort[hour_bucket] on top and EliminateSorts then dropped the user sort
    entirely: files were written hour-clustered but NOT (series_id,
    ts)-sorted, silently voiding the row-group-stats skipping the layout
    contract promises. Leading with hour_bucket satisfies the required
    ordering (no extra sort inserted) AND keeps the within-partition
    (series_id, ts) order — one sort, the intended layout."""
    return (
        df.select(*POINT_COLS, *[c for c in df.columns if c not in POINT_COLS])
        .repartition(_write_tasks(df.sparkSession), F.col("hour_bucket"))
        .sortWithinPartitions("hour_bucket", "series_id", "ts")
        .write.partitionBy("hour_bucket")
    )


def write_points(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    txn: tuple[str, int] | None = None,
    store=None,
) -> None:
    """Hour-partitioned write, ts-sorted within files (reference segment
    writer, ``_layout``), committed through the table's manifest
    (``objectstore.commit_cas``) so readers flip between consistent
    versions atomically: ``overwrite`` commits a full-replacement file
    list, ``append`` adds its files to the current one. The first commit
    on a table without a manifest adopts the data files already on disk,
    so an append never hides the rows a plain table held.

    ``txn=(app_id, txn_version)`` makes the write idempotent: a write whose
    txn is already in the manifest's ledger (a replayed streaming batch —
    reference WAL replay-above-highwater guard, engine.zig:406-437) is a
    no-op. The pre-check skips the parquet write entirely on the common
    replay path; the commit itself re-checks inside the CAS loop, so a
    replay that staged files but loses the ledger check leaves only
    unreferenced orphans for vacuum — LATEST never sees a duplicate row.

    Every write stages through a PRIVATE ``.staging-<uuid>/`` dir and
    renames the part files into the layout before committing:
    Spark's ``mode("append")`` shares Hadoop's ``_temporary/0`` staging
    across jobs, so two concurrent appenders to one table destroy each
    other's in-flight staging, and an overwrite into the live path would
    truncate the manifest, its history and every app's txn ledger with it.
    Private staging makes concurrent writes collision-free, gives the
    commit the EXACT moved file list, and a crash between the renames and
    the commit leaves only unreferenced orphans. Hidden dot-dirs are
    invisible to Spark's file index; crashed staging dirs are reclaimed by
    ``vacuum_points``.

    The manifest lives beside the data (``<path>/_manifest/``) unless
    ``store=`` (an ``objectstore.ObjectStore`` scoped to this table) is
    given; a URI ``path`` requires ``store=`` (``objectstore.resolve``),
    and its data staging runs through the Hadoop FS API."""
    # __ns/__tsr/__ssrc are the events-adapter pushdown hints
    # (tables.normalize_events / events_points) — redundant with ts/series;
    # stored tables prune via hour_bucket, and series is a real stored
    # column so its filters push natively.
    for hint in ("__ns", "__tsr", "__ssrc"):
        if hint in df.columns:
            df = df.drop(hint)
    if mode not in ("append", "overwrite"):
        raise ValueError(f"write_points mode must be append or overwrite: {mode!r}")
    mstore, key = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    manifested = objectstore.latest_version(mstore, key) is not None
    if txn is not None and manifested:
        # the pre-check applies to EVERY mode: in overwrite mode especially,
        # the staged rewrite would otherwise run before the ledger check
        last = objectstore.read_txn(mstore, key, txn[0])
        if last is not None and last >= txn[1]:
            return  # replayed batch — this txn is already durable
    spark = df.sparkSession
    # listed BEFORE the publish, so the batch's own files are not adopted
    adopted = [] if manifested or mode == "overwrite" else _data_files(path, spark)
    moved = _publish_staged(_layout(df), path, spark)
    if mode == "overwrite":
        # full-replacement flip: old files stay until vacuum, readers stay
        # atomic, and commit_cas carries the txn ledger forward
        objectstore.commit_cas(mstore, key, files=moved, txn=txn)
    else:
        # an empty batch still commits (the txn ledger must record the batch)
        objectstore.commit_cas(
            mstore, key, mutate=lambda old: sorted({*old, *adopted, *moved}), txn=txn
        )


def _stage_and_publish(shaped_writer, path: str) -> list[str]:
    """Write through a PRIVATE ``.staging-<uuid>/`` dir and rename the part
    files into the live layout, returning the EXACT moved-file list for the
    manifest commit. This is the only safe append shape under concurrent
    committers (r12 + r13 reviews): Spark's ``mode("append")`` into the
    live path shares Hadoop's ``_temporary/0`` staging across jobs, and a
    before/after ``data_files()`` diff double-commits (or drops) a
    concurrent appender's files. Publication time is stamped on every
    renamed file — rename(2) preserves the staging mtime, which would void
    vacuum's age guard for writes longer than the window."""
    import os
    import uuid

    stage = Path(path) / f".staging-{uuid.uuid4().hex}"
    try:
        shaped_writer.mode("overwrite").parquet(str(stage))
        moved: list[str] = []
        for f in sorted(stage.glob("hour_bucket=*/*.parquet")):
            rel = f.relative_to(stage)
            dst = Path(path) / rel
            dst.parent.mkdir(exist_ok=True)
            crc = f.with_name(f".{f.name}.crc")  # local-FS checksum sibling
            if crc.exists():
                crc_dst = dst.with_name(f".{dst.name}.crc")
                crc.rename(crc_dst)
                os.utime(crc_dst)
            f.rename(dst)
            os.utime(dst)
            moved.append(str(rel))
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return moved


def _stage_and_publish_hadoop(shaped_writer, path: str, spark: SparkSession) -> list[str]:
    """URI twin of ``_stage_and_publish``: private ``.staging-<uuid>/`` dir
    inside the table, renames through the Hadoop FileSystem API (a real
    metadata rename on HDFS/ABFS; copy+delete on S3A — slower, but the
    commit unit is the MANIFEST, so a slow publish only widens the orphan
    window for vacuum, never the correctness window readers see).
    Publication time is re-stamped via ``setTimes`` where the store
    supports it — HDFS rename preserves mtime exactly like rename(2), and
    the vacuum age-guard must see just-published files as fresh."""
    import time
    import uuid

    from sydradb_spark.util import hadoop_fs

    root = path.rstrip("/")
    stage = f"{root}/.staging-{uuid.uuid4().hex}"
    jvm, fs, jstage = hadoop_fs(spark, stage)
    try:
        shaped_writer.mode("overwrite").parquet(stage)
        moved: list[str] = []
        now_ms = int(time.time() * 1000)
        for part in fs.listStatus(jstage):
            pname = part.getPath().getName()
            if not (part.isDirectory() and pname.startswith("hour_bucket=")):
                continue
            dst_dir = jvm.org.apache.hadoop.fs.Path(f"{root}/{pname}")
            fs.mkdirs(dst_dir)
            for f in fs.listStatus(part.getPath()):
                name = f.getPath().getName()
                if not name.endswith(".parquet") or name.startswith("."):
                    continue
                dst = jvm.org.apache.hadoop.fs.Path(dst_dir, name)
                if not fs.rename(f.getPath(), dst):
                    raise IOError(f"hadoop rename failed: {f.getPath()} -> {dst}")
                try:
                    fs.setTimes(dst, now_ms, -1)
                except Exception:
                    pass  # stores without setTimes: the PUT time is fresh
                moved.append(f"{pname}/{name}")
        return sorted(moved)
    finally:
        fs.delete(jstage, True)


def _publish_staged(shaped_writer, path: str, spark: SparkSession) -> list[str]:
    """Backend dispatch for the staged publish: POSIX paths use rename(2),
    URI locations the Hadoop FS API."""
    local = _posix_table_path(path)
    if local is not None:
        return _stage_and_publish(shaped_writer, local)
    return _stage_and_publish_hadoop(shaped_writer, path, spark)


def read_points(spark: SparkSession, path: str, store=None) -> DataFrame:
    """Read the table's LATEST manifest version. A table without a manifest
    reads as a plain directory, and so does a URI path without ``store=``
    (no manifest can live beside the data there, ``objectstore.resolve``;
    a store-manifested URI table must be read with its store, or the read
    would include uncommitted staged orphans)."""
    try:
        mstore, key = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    except ValueError:
        return _points_frame(spark.read.parquet(path))
    v = objectstore.latest_version(mstore, key)
    if v is None:
        return _points_frame(spark.read.parquet(_root(path)))
    return _read_files(spark, path, objectstore.read_files(mstore, key, v))


def read_points_version(
    spark: SparkSession, path: str, version: int, store=None
) -> DataFrame:
    """Time travel: read a specific committed manifest version (files are
    immutable and retained until vacuum)."""
    mstore, key = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    return _read_files(spark, path, objectstore.read_files(mstore, key, version))


def _read_files(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    from sydradb_spark.model import POINTS_SCHEMA

    if not files:
        return spark.createDataFrame([], POINTS_SCHEMA)
    root = _root(path)
    return _points_frame(
        spark.read.option("basePath", root).parquet(*[f"{root}/{f}" for f in files])
    )


def _points_frame(df: DataFrame) -> DataFrame:
    # the partition column comes back as the inferred directory-value type
    extra = [c for c in df.columns if c not in POINT_COLS]
    return df.select(
        *POINT_COLS[:5],
        F.col("hour_bucket").cast("long").alias("hour_bucket"),
        *extra,
    )


def hour_bucket_bounds(ts_min: int | None, ts_max: int | None) -> Column | None:
    """ts bounds → hour_bucket partition predicate (SURVEY §4.1). A point at
    ts lives in partition (ts div 3600)*3600, so ts ∈ [mn, mx] implies
    hour_bucket ∈ [floor(mn), floor(mx)]."""
    conds: list[Column] = []
    if ts_min is not None:
        conds.append(
            F.col("hour_bucket") >= (ts_min // SECONDS_PER_HOUR) * SECONDS_PER_HOUR
        )
    if ts_max is not None:
        conds.append(
            F.col("hour_bucket") <= (ts_max // SECONDS_PER_HOUR) * SECONDS_PER_HOUR
        )
    if not conds:
        return None
    pred = conds[0]
    for c in conds[1:]:
        pred = pred & c
    return pred


def scan_range(
    spark: SparkSession,
    path: str,
    series_id: int | None = None,
    start: int | None = None,
    end: int | None = None,
    store=None,
) -> DataFrame:
    """Engine.queryRange (engine.zig:376-378): partition pruning via derived
    hour_bucket bounds + row-group skipping via the (series_id, ts) sort."""
    df = read_points(spark, path, store=store)
    hb = hour_bucket_bounds(start, end)
    if hb is not None:
        df = df.where(hb)
    if series_id is not None:
        df = df.where(F.col("series_id") == series_id)
    if start is not None:
        df = df.where(F.col("ts") >= start)
    if end is not None:
        df = df.where(F.col("ts") <= end)
    return df


# --- compaction (dedup) -------------------------------------------------------
def compact_points(df: DataFrame, order_col: str | None = None) -> DataFrame:
    """(series_id, ts) last-wins dedup (compact.zig:36-49). ``order_col`` is
    the ingest order (e.g. a WAL sequence); without one, max(value) is the
    documented deterministic tiebreak. Single shuffle on (series_id, ts);
    map-side combine keeps it partial-aggregating."""
    # struct wrapper (r13 review): max_by SKIPS rows whose ordering key is
    # null, so a (series_id, ts) group whose every duplicate has value=null
    # aggregated to a NULL __row — an all-null row with its identity
    # destroyed. struct(null) is a non-null ordering key (null field sorts
    # lowest), so a non-null value still wins and an all-null group keeps
    # one intact row instead of corrupting the table.
    order = F.col(order_col) if order_col else F.struct(F.col("value"))
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy("series_id", "ts")
        .agg(F.max_by(payload, order).alias("__row"))
        .select("__row.*")
    )


def _swap_dir(staged: Path, live: Path) -> None:
    """Replace ``live`` with ``staged`` via rename → rename → remove. The only
    crash window leaves ``live`` momentarily absent with the old data intact
    at ``<live>.old`` (recoverable by hand); the previous remove-then-rename
    order could lose the partition outright. True atomicity needs a table
    format's commit (Delta/Iceberg) — this is the best a bare filesystem
    rename gives."""
    old = live.with_name(live.name + ".old")
    if old.exists():
        shutil.rmtree(old)
    if live.exists():
        live.rename(old)
    staged.rename(live)
    shutil.rmtree(old, ignore_errors=True)


def compact_storage(
    spark: SparkSession, path: str, order_col: str | None = None, store=None
) -> None:
    """Rewrite the stored table deduped (the reference's segment-merge job).

    Manifested tables compact through a STAGED MANIFEST FLIP: the deduped
    rows stage into the live layout and ONE commit swaps the file list —
    readers never see the table absent (``_swap_dir`` leaves a crash window
    where the live directory does not exist, and a concurrent reader
    mid-scan crashes). The commit's ``mutate`` drops exactly the
    snapshot-version files this rewrite read, so a concurrent append
    mid-compaction rides through to the new version instead of being lost,
    and ``commit_cas`` carries the txn ledger forward — a streaming batch
    whose checkpoint commit is still pending cannot re-append after
    compaction. Old files are reclaimed by vacuum.

    Pre-manifest plain tables keep the legacy staged-copy + dir swap (the
    best a bare filesystem gives without a manifest to flip)."""
    mstore, key = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    snap_v = objectstore.latest_version(mstore, key)
    if snap_v is None:
        compacted = compact_points(read_points(spark, path), order_col)
        tmp = _root(path) + ".compact.tmp"
        write_points(compacted, tmp, mode="overwrite")
        _swap_dir(Path(tmp), Path(_root(path)))
        return
    files = objectstore.read_files(mstore, key, snap_v)
    compacted = compact_points(_read_files(spark, path, files), order_col)
    moved = _publish_staged(_layout(compacted), path, spark)
    rewritten = set(files)
    objectstore.commit_cas(
        mstore,
        key,
        mutate=lambda old: [f for f in old if f not in rewritten] + moved,
    )


# --- retention (TTL) ----------------------------------------------------------
def retention_keep_predicate(
    now_epoch: int, ttl_days: dict[str, int], default_days: int | None = None
) -> Column:
    """Per-namespace TTL (config.zig:101-105; retention.zig:4-20): a point
    expires when now - (hour_bucket + 3600) > ttl. Namespace = series text
    before the first '.'."""
    ns = F.split(F.col("series"), r"\.").getItem(0)
    age = F.lit(now_epoch) - (F.col("hour_bucket") + SECONDS_PER_HOUR)
    keep = (
        F.lit(True)
        if default_days is None
        else age <= default_days * 86400
    )
    for namespace, days in ttl_days.items():
        keep = F.when(ns == namespace, age <= days * 86400).otherwise(keep)
    return keep


def apply_retention(
    df: DataFrame,
    now_epoch: int,
    ttl_days: dict[str, int],
    default_days: int | None = None,
) -> DataFrame:
    return df.where(retention_keep_predicate(now_epoch, ttl_days, default_days))


def drop_expired_partitions(
    path: str, cutoff_hour_bucket: int, store=None
) -> list[int]:
    """Global-TTL fast path: drop hour_bucket=N partitions with
    N + 3600 <= cutoff. Pure metadata — no data read/rewritten, which is
    what makes retention O(partitions) instead of O(rows) at 100 TB.
    Manifest tables commit a filtered file list (one atomic pointer flip;
    physical files go with vacuum); plain tables remove the directories.
    Returns the dropped bucket values."""

    def _bucket(rel: str) -> int:
        return int(rel.split("=", 1)[1].split("/", 1)[0])

    def _expired(bucket: int) -> bool:
        return bucket + SECONDS_PER_HOUR <= cutoff_hour_bucket

    mstore, key = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    if objectstore.latest_version(mstore, key) is not None:
        files = objectstore.read_files(mstore, key)
        dropped = sorted({_bucket(f) for f in files if _expired(_bucket(f))})
        if dropped:
            objectstore.commit_cas(
                mstore,
                key,
                mutate=lambda old: [f for f in old if not _expired(_bucket(f))],
            )
        return dropped
    dropped = []
    for d in Path(_root(path)).glob("hour_bucket=*"):
        bucket = int(d.name.split("=", 1)[1])
        if _expired(bucket):
            shutil.rmtree(d)
            dropped.append(bucket)
    return sorted(dropped)


def optimize_partitions(
    spark: SparkSession,
    path: str,
    max_files_per_partition: int = 4,
    store=None,
) -> list[int]:
    """Merge small files within hour partitions — the maintenance job that
    keeps streaming appends (one file per micro-batch per partition) from
    degrading scans. Only partitions exceeding ``max_files_per_partition``
    are rewritten: their rows re-shuffle into one file per hour value,
    stage into the live layout, and a single manifest commit swaps the
    file lists atomically (readers never see a partial merge). Returns the
    optimized hour_bucket values. Plain tables: use ``compact_storage``."""
    from collections import defaultdict

    mstore, key = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    if objectstore.latest_version(mstore, key) is None:
        raise ValueError("optimize_partitions requires a manifest table")
    by_part: dict[int, list[str]] = defaultdict(list)
    for f in objectstore.read_files(mstore, key):
        by_part[int(f.split("=", 1)[1].split("/", 1)[0])].append(f)
    targets = sorted(
        b for b, fs in by_part.items() if len(fs) > max_files_per_partition
    )
    if not targets:
        return []
    target_files = [f for b in targets for f in by_part[b]]
    # private staging + exact moved list (r13 review): a direct
    # mode("append") with a before/after listing diff both shares Hadoop's
    # _temporary/0 with concurrent appenders AND double-commits any file
    # they rename in during this job's window
    new = _publish_staged(
        _layout(_read_files(spark, path, target_files)), path, spark
    )
    dropped = set(target_files)
    objectstore.commit_cas(
        mstore, key, mutate=lambda old: [f for f in old if f not in dropped] + new
    )
    return targets


# --- snapshot / restore -------------------------------------------------------
def _local_data_root(path: str, op: str) -> Path:
    """Hardlink-based operations need the data files on a local path."""
    local = _posix_table_path(path)
    if local is None:
        raise ValueError(
            f"{op} hardlinks data files and cannot run on the URI location "
            f"{path!r}: a full remote copy is a job, not a metadata operation"
        )
    return Path(local)


def _link_files(src_root: Path, dst_root: Path, files: list[str]) -> None:
    """Hardlink (or, across devices, copy) ``files`` from one table layout
    into another; a name already present is the identical immutable file
    (part names are unique per write job) and is skipped. Publication time
    is stamped on each new name for the vacuum age guard."""
    import os

    for rel in files:
        dst = dst_root / rel
        if dst.exists():
            continue
        dst.parent.mkdir(parents=True, exist_ok=True)
        try:
            os.link(src_root / rel, dst)
        except OSError:  # cross-device etc. → real copy
            shutil.copy2(src_root / rel, dst)
        os.utime(dst)


def snapshot(path: str, dest: str, store=None) -> None:
    """Consistent copy of the stored table (reference snapshot.zig:3-47 copies
    MANIFEST + wal/ + segments/ + tags.json).

    Manifest tables snapshot in O(metadata): hardlink ONE version's data
    files (immutable once committed — writers only ever add files) and
    commit them, with that same version's txn ledger, as a fresh manifest
    at ``dest`` — no data bytes move, which is the only snapshot that
    works at 100 TB (the same trick as a table-format cheap clone). The
    ledger travels with the files: restoring a snapshot
    WITHOUT it erases the streaming replay guard, and a ledger read at a
    later version than the files would make a batch the snapshot never
    held look durable. Plain tables fall back to a full copy. The snapshot
    itself is always a table with its manifest beside the data; the source
    data must be on a local path."""
    src, skey = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    dst, dkey = objectstore.resolve(dest, None, "")
    src_root = _local_data_root(path, "snapshot")
    dst_root = _local_data_root(dest, "snapshot")
    if dst_root.exists():
        raise FileExistsError(f"snapshot destination exists: {dest}")
    v = objectstore.latest_version(src, skey)
    if v is None:
        shutil.copytree(src_root, dst_root)
        return
    files = objectstore.read_files(src, skey, v)
    ledger = objectstore.read_ledger(src, skey, v)
    dst_root.mkdir(parents=True)
    _link_files(src_root, dst_root, files)
    objectstore.commit_replace(dst, dkey, files, ledger)


def restore(snapshot_path: str, path: str, store=None) -> None:
    """Replace the live table with a snapshot.

    A manifested snapshot restores through a STAGED MANIFEST FLIP: link or
    copy the snapshot's manifest-listed files into the live layout and
    commit the snapshot's file list AND LEDGER as a full replacement (``commit_replace`` — the replay guard rewinds with
    the data, so a streaming batch delivered after the snapshot re-appends
    into the restored table instead of no-op'ing against a future ledger).
    Readers never see the table absent; the pre-restore files stay until
    vacuum.

    A pre-manifest (copytree) snapshot keeps the legacy staged copy + dir
    swap, and only over a live table without a manifest: over a manifested
    one the swap would leave a store-held manifest referencing removed
    files, so it is rejected."""
    snap, snkey = objectstore.resolve(snapshot_path, None, "")
    live, lkey = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    snap_root = _local_data_root(snapshot_path, "restore")
    live_root = _local_data_root(path, "restore")
    snap_v = objectstore.latest_version(snap, snkey)
    if snap_v is not None:
        files = objectstore.read_files(snap, snkey, snap_v)
        _link_files(snap_root, live_root, files)
        objectstore.commit_replace(
            live, lkey, files, objectstore.read_ledger(snap, snkey, snap_v)
        )
        return
    if objectstore.latest_version(live, lkey) is not None:
        raise ValueError(
            f"restore over a manifested table needs a manifested snapshot; "
            f"{snapshot_path!r} has no _manifest (pre-manifest copytree snapshot)"
        )
    tmp = live_root.with_name(live_root.name + ".restore.tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    shutil.copytree(snap_root, tmp)
    _swap_dir(tmp, live_root)


# --- durable DELETE -----------------------------------------------------------
def delete_where(
    spark: SparkSession,
    path: str,
    predicate: Column,
    ts_min: int | None = None,
    ts_max: int | None = None,
    store=None,
) -> None:
    """Partition-scoped anti-filter rewrite: only hour partitions overlapping
    the time bounds are read and rewritten; untouched partitions are never
    opened.

    Manifest tables get a true ATOMIC commit: replacement files stage into
    the live layout (Parquet part names never collide), then one manifest
    commit drops every old file of the affected partitions and adds the new
    ones — a crash at any point leaves LATEST on a fully consistent version
    (the reference's MANIFEST swap; what Delta/Iceberg REPLACE WHERE does).
    Pre-manifest tables keep the staged rename-before-remove dir swap."""
    mstore, key = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    # pin ONE manifest snapshot for both the read plan and the commit's
    # drop list — read_points would take its own LATEST, and a commit
    # landing between two listings would desynchronize them
    snapshot_version = objectstore.latest_version(mstore, key)
    files = (
        objectstore.read_files(mstore, key, snapshot_version)
        if snapshot_version is not None
        else None
    )
    df = (
        _read_files(spark, path, files)
        if files is not None
        else read_points(spark, path, store=store)
    )
    hb = hour_bucket_bounds(ts_min, ts_max)
    scoped = df.where(hb) if hb is not None else df
    affected = [r[0] for r in scoped.select("hour_bucket").distinct().collect()]
    if not affected:
        return
    remaining = scoped.where(~F.coalesce(predicate, F.lit(False)))

    if files is not None:
        # drop EXACTLY the files this rewrite read (the snapshot version's
        # affected-partition files), not everything under the partition
        # prefixes (r13 review): a concurrent append into an affected hour
        # lands files the DELETE's predicate never evaluated — a prefix
        # drop would silently delete those rows, and a before/after
        # directory diff would double-commit them
        affected_dirs = tuple(f"hour_bucket={b}/" for b in affected)
        rewritten = {f for f in files if f.startswith(affected_dirs)}
        new = _publish_staged(_layout(remaining), path, spark)
        objectstore.commit_cas(
            mstore,
            key,
            mutate=lambda old: [f for f in old if f not in rewritten] + new,
        )
        return

    root = _root(path)
    tmp = root + ".delete.tmp"
    if Path(tmp).exists():
        shutil.rmtree(tmp)
    write_points(remaining, tmp, mode="overwrite")
    for bucket in affected:
        live_dir = Path(root) / f"hour_bucket={bucket}"
        staged = Path(tmp) / f"hour_bucket={bucket}"
        if staged.exists():
            _swap_dir(staged, live_dir)
        elif live_dir.exists():  # absent = every row in the partition deleted
            shutil.rmtree(live_dir)
    shutil.rmtree(tmp, ignore_errors=True)


# --- vacuum -------------------------------------------------------------------
def _tree_mtime(root: Path) -> float:
    """Newest mtime anywhere inside ``root`` (the entry itself included).
    A long-running Spark write into a staging tree advances only LEAF
    mtimes — judging liveness by the root dir's own mtime would let a
    vacuum rmtree a live writer's staging mid-write. Missing
    entries (racing their creator/deleter) count as 'now' = maximally
    young, so races always err toward keeping."""
    import time

    try:
        newest = root.stat().st_mtime
        if root.is_dir():
            for p in root.rglob("*"):
                newest = max(newest, p.stat().st_mtime)
    except FileNotFoundError:
        return time.time()
    return newest


def _reclaim_local(
    root: Path, entries: list[str], kept: set[str], min_age_seconds: int
) -> list[str]:
    """The local data pass of vacuum, shared by the points and rollup
    tables: remove every entry (a data file with its checksum sibling, or
    an entry directory) that no retained version references and whose
    newest mtime is outside the age window, then the leftovers a crashed
    writer can strand — hidden-only partition dirs, private staging trees
    and manifest commit temp files. Returns the removed entries."""
    import time

    now = time.time()

    def _old(p: Path) -> bool:
        return now - _tree_mtime(p) >= min_age_seconds

    removed = []
    for rel in entries:
        p = root / rel
        if rel in kept or not _old(p):
            continue
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
        else:
            # missing_ok: two concurrent vacuums (two streams, one table)
            # may both list the same unreferenced file
            p.unlink(missing_ok=True)
            p.with_name(f".{p.name}.crc").unlink(missing_ok=True)
        removed.append(rel)
    # prune partition dirs holding nothing but leftover hidden files —
    # age-guarded and race-tolerant: a concurrent appender
    # renames the hidden .crc sibling BEFORE its parquet file, so a fresh
    # dir can legitimately hold only young hidden files; deleting them and
    # rmdir'ing would yank the parent from under the in-flight rename
    for d in root.glob("hour_bucket=*"):
        try:
            hidden = list(d.iterdir()) if d.is_dir() else None
        except FileNotFoundError:
            continue  # racing another vacuum
        if hidden is None or any(p.name[0] != "." for p in hidden):
            continue
        if not _old(d):
            continue  # possibly an appender's just-renamed .crc
        try:
            for p in hidden:
                p.unlink(missing_ok=True)
            d.rmdir()
        except OSError:
            pass  # a file landed between the listing and the rmdir — keep
    # crashed private staging (a writer died before its renames) and
    # orphaned commit temp files (a committer died between write and link)
    for stg in root.glob(".staging-*"):
        if stg.is_dir() and _old(stg):
            shutil.rmtree(stg, ignore_errors=True)
    for tmp in root.glob("_manifest/.*.tmp"):
        if _old(tmp):
            tmp.unlink(missing_ok=True)
    return sorted(removed)


def vacuum_points(
    path: str,
    store=None,
    keep_versions: int = 2,
    min_age_seconds: int = 600,
    spark: SparkSession | None = None,
) -> list[str]:
    """Reclaim data files unreferenced by the retained manifest versions,
    and prune version docs outside the retained window. Returns the
    removed data files.

    Retained = the last ``keep_versions`` versions PLUS any version younger
    than ``min_age_seconds`` (``objectstore.vacuum_versions``). The age
    window is the local-race guard: a time-travel reader holding version
    N−k, or an appender that has staged data files but not yet committed,
    survives a concurrent vacuum as long as it started within the window;
    files and staging trees younger than it (newest mtime anywhere inside)
    are never deleted. Set ``min_age_seconds=0`` only in offline
    maintenance where no concurrent readers/writers exist. A table with no
    manifest has nothing to reclaim against and is left untouched.

    The data pass walks local paths with the stdlib and URI locations
    through the Hadoop FS API via ``spark``; without a session a non-local
    data pass is SKIPPED with a logged warning (version pruning still
    runs; entries wait for a vacuum that has one — the streaming sink's
    in-sink maintenance always passes its session)."""
    import time

    mstore, key = objectstore.resolve(path, store, POINTS_STORE_TABLE)
    if objectstore.latest_version(mstore, key) is None:
        return []
    objectstore.vacuum_versions(
        mstore, key, keep_versions=keep_versions, min_age_seconds=min_age_seconds
    )
    kept = objectstore.retained_files(mstore, key)
    local = _posix_table_path(path)
    if local is not None:
        return _reclaim_local(Path(local), _data_files(local), kept, min_age_seconds)
    if spark is None:
        # no session to reach the URI filesystem — manifest-only vacuum;
        # NOT silent (VERDICT r13 item 4's pattern): a bare cron-style call
        # would otherwise reclaim nothing forever without a signal
        __import__("logging").getLogger("sydradb_spark.maintenance").warning(
            "vacuum_points(%s): data pass SKIPPED — URI data location and no "
            "SparkSession to reach it; only manifest versions were pruned",
            path,
        )
        return []
    from sydradb_spark.util import hadoop_fs

    now = time.time()
    removed: list[str] = []
    jvm, fs, jroot = hadoop_fs(spark, path)
    if not fs.exists(jroot):
        return []
    for part in fs.listStatus(jroot):
        pname = part.getPath().getName()
        if part.isDirectory() and pname.startswith(".staging-"):
            newest = part.getModificationTime() / 1000.0
            it = fs.listFiles(part.getPath(), True)
            while it.hasNext():
                newest = max(newest, it.next().getModificationTime() / 1000.0)
            if now - newest >= min_age_seconds:
                fs.delete(part.getPath(), True)
            continue
        if not (part.isDirectory() and pname.startswith("hour_bucket=")):
            continue
        for f in fs.listStatus(part.getPath()):
            name = f.getPath().getName()
            if not name.endswith(".parquet") or name.startswith("."):
                continue
            rel = f"{pname}/{name}"
            if rel in kept or now - f.getModificationTime() / 1000.0 < min_age_seconds:
                continue
            fs.delete(f.getPath(), False)
            removed.append(rel)
    return sorted(removed)
