"""Manifest-committed storage: atomic version flips, crash safety, time
travel, vacuum (reference MANIFEST swap, src/sydra/storage/manifest.zig).

A table written without ``store=`` keeps its manifest beside the data,
committed through ``objectstore`` on a ``LocalFSObjectStore`` rooted at the
table directory under the empty table key (``objectstore.resolve``)."""

from __future__ import annotations

import pytest

from sydradb_spark import objectstore as obs
from sydradb_spark import storage
from sydradb_spark.sydraql.engine import SydraQLEngine


def _local(path) -> obs.LocalFSObjectStore:
    """The manifest store of a table written without store=."""
    return obs.LocalFSObjectStore(str(path))


@pytest.fixture()
def table(tmp_path, points):
    path = str(tmp_path / "t")
    storage.write_points(points, path)
    return path


def test_write_creates_manifest_and_roundtrips(spark, points, table):
    assert obs.latest_version(_local(table), "") == 1
    assert storage.read_points(spark, table).count() == points.count()


def test_append_extends_manifest(spark, points, table):
    extra = points.limit(7)
    storage.write_points(extra, table, mode="append")
    assert obs.latest_version(_local(table), "") == 2
    assert storage.read_points(spark, table).count() == points.count() + 7


def test_delete_commits_atomically_with_time_travel(spark, points, table):
    n0 = storage.read_points(spark, table).count()
    eng = SydraQLEngine(spark, storage_path=table)
    eng.query("delete from cpu.total where time >= 0 and time < 2000000")
    v = obs.latest_version(_local(table), "")
    assert v == 2
    after = storage.read_points(spark, table)
    assert after.where("series = 'cpu.total'").count() == 0
    n_after = after.count()
    assert 0 < n_after < n0
    # previous version still fully readable (old files retained until vacuum)
    assert storage.read_points_version(spark, table, version=1).count() == n0


def test_crash_before_commit_preserves_old_version(spark, points, table):
    """Staged data files without a manifest commit are invisible: readers
    stay on LATEST. (Simulates a crash after file writes, before the
    pointer rename.)"""
    n0 = storage.read_points(spark, table).count()
    extra = points.limit(5)
    # stage files the way an append would, but "crash" before commit:
    (
        extra.select(*storage.POINT_COLS)
        .write.partitionBy("hour_bucket")
        .mode("append")
        .parquet(table)
    )
    assert storage.read_points(spark, table).count() == n0  # unchanged
    # the next real commit simply ignores the orphaned files; vacuum reaps
    assert len(storage._data_files(table)) > len(obs.read_files(_local(table), ""))
    removed = storage.vacuum_points(table, keep_versions=1, min_age_seconds=0)
    assert removed
    assert storage.read_points(spark, table).count() == n0


def test_vacuum_keeps_recent_versions(spark, points, table):
    eng = SydraQLEngine(spark, storage_path=table)
    eng.query("delete from cpu.total where time >= 0 and time < 2000000")
    eng.query("delete from weather.room2 where time >= 0 and time < 2000000")
    assert obs.latest_version(_local(table), "") == 3
    storage.vacuum_points(table, keep_versions=2, min_age_seconds=0)
    # latest and latest-1 remain readable; v1's exclusive files are gone
    for v in (2, 3):
        files = obs.read_files(_local(table), "", version=v)
        assert all((__import__("pathlib").Path(table) / f).exists() for f in files)
    with pytest.raises(FileNotFoundError):
        obs.read_files(_local(table), "", version=1)


def test_plain_table_fallback(spark, points, tmp_path):
    """Tables written without a manifest keep plain directory semantics."""
    path = str(tmp_path / "plain")
    (
        points.select(*storage.POINT_COLS)
        .write.partitionBy("hour_bucket")
        .parquet(path)
    )
    assert obs.latest_version(_local(path), "") is None
    assert storage.read_points(spark, path).count() == points.count()


def test_snapshot_is_metadata_only_and_isolated(spark, points, table):
    """Manifest snapshot hardlinks data files (no byte copy) and stays
    readable after the live table mutates and vacuums."""
    import os
    from pathlib import Path

    dest = str(Path(table).parent / "snap")
    storage.snapshot(table, dest)
    f = next(Path(dest).glob("hour_bucket=*/*.parquet"))
    assert os.stat(f).st_nlink >= 2  # hardlink, not a copy
    n0 = storage.read_points(spark, dest).count()

    eng = SydraQLEngine(spark, storage_path=table)
    eng.query("delete from cpu.total where time >= 0 and time < 2000000")
    storage.vacuum_points(table, keep_versions=1, min_age_seconds=0)
    # live table changed; the snapshot still reads the original rows
    assert storage.read_points(spark, dest).count() == n0
    assert storage.read_points(spark, table).count() < n0


def test_commit_mutate_merges_under_lock(tmp_path):
    """Concurrent appenders commit via mutate= so the read-modify-write of
    the file list is re-run against the list each CAS attempt replaces: no
    writer's files are dropped from LATEST (the lost-append race). With
    the pre-fix pattern (read_files() outside the commit, then
    commit(files)) interleaved appenders routinely lose each other's
    files."""
    import threading

    store = _local(tmp_path / "mut")
    obs.commit_cas(store, "", ["hour_bucket=0/base.parquet"])
    start = threading.Barrier(2)
    errors: list[Exception] = []

    def appender(name: str):
        try:
            start.wait(timeout=10)
            for i in range(10):
                rel = f"hour_bucket=0/{name}{i}.parquet"
                obs.commit_cas(store, "", mutate=lambda old, r=rel: old + [r])
        except Exception as e:  # surfaced below — don't swallow in a thread
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(n,)) for n in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors
    files = set(obs.read_files(store, ""))
    assert len(files) == 21  # base + 10 per appender — none lost
    assert obs.latest_version(store, "") == 21


def test_commit_requires_exactly_one_form(tmp_path):
    store = _local(tmp_path / "forms")
    with pytest.raises(ValueError):
        obs.commit_cas(store, "")
    with pytest.raises(ValueError):
        obs.commit_cas(store, "", ["f"], mutate=lambda old: old)


def test_vacuum_age_window_protects_live_readers(spark, points, table):
    """Default-configured vacuum refuses to reap versions (and staged files)
    younger than the retention window, so a concurrent time-travel reader
    on version N-1 — and an appender that staged files but hasn't committed
    yet — both survive."""
    eng = SydraQLEngine(spark, storage_path=table)
    eng.query("delete from cpu.total where time >= 0 and time < 2000000")
    eng.query("delete from weather.room2 where time >= 0 and time < 2000000")
    assert obs.latest_version(_local(table), "") == 3
    n1 = storage.read_points_version(spark, table, version=1).count()
    removed = storage.vacuum_points(table, keep_versions=1)  # default min_age_seconds
    assert removed == []
    # every version is still fully readable, not just the kept ones
    for v in (1, 2, 3):
        assert storage.read_points_version(spark, table, version=v).count() > 0
    assert storage.read_points_version(spark, table, version=1).count() == n1


def test_delete_preserves_extra_columns(spark, points, tmp_path):
    """Manifest-path DELETE rewrites affected partitions with ALL columns —
    an extra ingest-order column (seq) survives the rewrite instead of
    producing mixed file schemas (ADVICE regression)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "extras")
    storage.write_points(points.withColumn("seq", F.col("ts") % 1000), path)
    before = storage.read_points(spark, path)
    assert "seq" in before.columns
    storage.delete_where(
        spark,
        path,
        F.col("series") == "cpu.total",
        ts_min=0,
        ts_max=2_000_000,
    )
    after = storage.read_points(spark, path)
    assert "seq" in after.columns
    assert after.where(F.col("seq").isNull()).count() == 0
    assert after.where("series = 'cpu.total'").count() == 0


def test_optimize_preserves_extra_columns(spark, points, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "optextras")
    seqd = points.withColumn("seq", F.col("ts") % 1000)
    for i in range(3):
        storage.write_points(seqd, path, mode="append" if i else "overwrite")
    optimized = storage.optimize_partitions(spark, path, max_files_per_partition=2)
    assert optimized
    after = storage.read_points(spark, path)
    assert "seq" in after.columns
    assert after.where(F.col("seq").isNull()).count() == 0
    assert after.count() == points.count() * 3


def test_optimize_partitions_merges_small_files(spark, points, tmp_path):
    """Streaming-append shape: several small appends per partition →
    optimize rewrites only oversized partitions, atomically, same rows."""
    path = str(tmp_path / "opt")
    for i in range(3):  # one file per partition per append
        storage.write_points(points, path, mode="append" if i else "overwrite")
    n0 = storage.read_points(spark, path).count()
    files_before = obs.read_files(_local(path), "")
    per_part = {}
    for f in files_before:
        b = f.split("=", 1)[1].split("/", 1)[0]
        per_part[b] = per_part.get(b, 0) + 1
    assert max(per_part.values()) >= 3

    optimized = storage.optimize_partitions(spark, path, max_files_per_partition=2)
    assert optimized
    files_after = obs.read_files(_local(path), "")
    per_part_after = {}
    for f in files_after:
        b = int(f.split("=", 1)[1].split("/", 1)[0])
        per_part_after[b] = per_part_after.get(b, 0) + 1
    assert all(per_part_after[b] == 1 for b in optimized)
    assert storage.read_points(spark, path).count() == n0
    # old small files reaped by vacuum, rows unchanged
    storage.vacuum_points(path, keep_versions=1, min_age_seconds=0)
    assert storage.read_points(spark, path).count() == n0


def test_commit_cas_concurrent_committers(tmp_path):
    """Multi-host commits on a table written without store=: commit_cas is
    the lockless protocol — a barrier forces both committers to read the
    SAME base version, so both race for v+1; exactly one wins the exclusive
    version-file link, the loser retries against the fresh list. No append
    is lost and every version number is won exactly once."""
    import threading

    store = _local(tmp_path / "cas")
    obs.commit_cas(store, "", ["hour_bucket=0/base.parquet"])
    collide = threading.Barrier(2)
    errors: list[Exception] = []

    def appender(name: str):
        try:
            for i in range(5):
                rel = f"hour_bucket=0/{name}{i}.parquet"

                def merge(old, r=rel):
                    try:
                        # force the first attempt of each round to collide;
                        # retries (second call) pass through immediately
                        collide.wait(timeout=5)
                    except threading.BrokenBarrierError:
                        pass
                    return old + [r]

                obs.commit_cas(store, "", mutate=merge)
        except Exception as e:  # surfaced below — don't swallow in a thread
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(n,)) for n in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    collide.abort()
    assert not errors
    files = set(obs.read_files(store, ""))
    assert len(files) == 11  # base + 5 per committer — none lost
    assert obs.latest_version(store, "") == 11
    # every version file exists exactly once, 1..11 with no gaps
    versions = sorted(
        int(p.stem[1:]) for p in (tmp_path / "cas" / "_manifest").glob("v*.json")
    )
    assert versions == list(range(1, 12))


def test_latest_version_survives_stale_pointer(tmp_path):
    """A committed-but-unpointed version (crash or concurrent committer
    between link and pointer advance) is still visible: readers take
    max(pointer hint, listed versions)."""
    store = _local(tmp_path / "stale")
    obs.commit_cas(store, "", ["hour_bucket=0/a.parquet"])
    obs.commit_cas(store, "", mutate=lambda old: old + ["hour_bucket=0/b.parquet"])
    # simulate the crash window: pointer regressed to v1
    (tmp_path / "stale" / "_manifest" / "LATEST").write_text("1")
    assert obs.latest_version(store, "") == 2
    assert "hour_bucket=0/b.parquet" in obs.read_files(store, "")
    # the next commit lands on v3 and repairs the pointer
    obs.commit_cas(store, "", mutate=lambda old: old + ["hour_bucket=0/c.parquet"])
    assert (tmp_path / "stale" / "_manifest" / "LATEST").read_text() == "3"


# ---------------------------------------------------------------------------
# The protocol on each concrete store (conditional PUT).
# ---------------------------------------------------------------------------


def _store_roundtrip(store):
    assert obs.latest_version(store, "tbl") is None
    v1 = obs.commit_cas(store, "tbl", ["hour_bucket=0/a.parquet"])
    assert v1 == 1
    v2 = obs.commit_cas(
        store, "tbl", mutate=lambda old: old + ["hour_bucket=1/b.parquet"]
    )
    assert v2 == 2
    assert obs.latest_version(store, "tbl") == 2
    assert obs.read_files(store, "tbl") == [
        "hour_bucket=0/a.parquet",
        "hour_bucket=1/b.parquet",
    ]
    # time travel to v1 still works
    assert obs.read_files(store, "tbl", 1) == ["hour_bucket=0/a.parquet"]
    with pytest.raises(ValueError):
        obs.commit_cas(store, "tbl")  # neither files nor mutate
    with pytest.raises(ValueError):
        obs.commit_cas(store, "tbl", ["x"], mutate=lambda o: o)  # both


def test_objectstore_commit_roundtrip_memory():
    _store_roundtrip(obs.MemoryObjectStore())


def test_objectstore_commit_roundtrip_localfs(tmp_path):
    _store_roundtrip(obs.LocalFSObjectStore(str(tmp_path / "store")))


def test_objectstore_stale_pointer_harmless():
    """A regressed/lost LATEST hint never decides correctness: the listing
    is the source of truth and the next commit repairs the pointer."""
    store = obs.MemoryObjectStore()
    obs.commit_cas(store, "t", ["a.parquet"])
    obs.commit_cas(store, "t", mutate=lambda old: old + ["b.parquet"])
    store.put("t/_manifest/LATEST", b"1")  # simulate last-wins regression
    assert obs.latest_version(store, "t") == 2
    assert set(obs.read_files(store, "t")) == {"a.parquet", "b.parquet"}
    obs.commit_cas(store, "t", mutate=lambda old: old + ["c.parquet"])
    assert store.get("t/_manifest/LATEST") == b"3"


def test_objectstore_crashed_committer_visible():
    """A committer that died between conditional PUT and pointer advance
    left a committed-but-unpointed version — readers still see it."""
    store = obs.MemoryObjectStore()
    obs.commit_cas(store, "t", ["a.parquet"])
    # hand-craft the crash: v2 exists, pointer still says 1
    import json as _json

    assert store.put_if_absent(
        "t/_manifest/v2.json",
        _json.dumps({"version": 2, "files": ["a.parquet", "b.parquet"]}).encode(),
    )
    assert obs.latest_version(store, "t") == 2
    assert "b.parquet" in obs.read_files(store, "t")


@pytest.mark.parametrize("make_store", ["memory", "localfs"])
def test_objectstore_concurrent_committers_no_lost_appends(tmp_path, make_store):
    """Multi-host commits: commit_cas is the lockless
    protocol — contention is absorbed entirely by the conditional-create
    retry loop. A barrier forces both committers to read the SAME base
    version each round, so both race for v+1; exactly one wins each
    conditional PUT (the exclusive link on localfs), the loser re-reads
    and retries against the fresh list. No append lost, every version won
    exactly once."""
    import threading

    store = (
        obs.MemoryObjectStore()
        if make_store == "memory"
        else obs.LocalFSObjectStore(str(tmp_path / "store"))
    )
    obs.commit_cas(store, "tbl", ["hour_bucket=0/base.parquet"])
    collide = threading.Barrier(2)
    errors: list[Exception] = []

    def appender(name: str):
        try:
            for i in range(5):
                rel = f"hour_bucket=0/{name}{i}.parquet"

                def merge(old, r=rel):
                    try:
                        collide.wait(timeout=5)
                    except threading.BrokenBarrierError:
                        pass
                    return old + [r]

                obs.commit_cas(store, "tbl", mutate=merge)
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(n,)) for n in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    collide.abort()
    assert not errors
    files = set(obs.read_files(store, "tbl"))
    assert len(files) == 11  # base + 5 per committer — none lost
    assert obs.latest_version(store, "tbl") == 11
    # every version doc exists exactly once, 1..11 with no gaps
    assert store.list("tbl/_manifest/v") == sorted(
        f"tbl/_manifest/v{v}.json" for v in range(1, 12)
    )
    if make_store == "memory":
        # the race actually happened: at least one conditional PUT lost
        assert store.cas_losses >= 1


def test_objectstore_vacuum_versions():
    store = obs.MemoryObjectStore()
    for i in range(5):
        obs.commit_cas(store, "t", mutate=lambda old, i=i: old + [f"f{i}.parquet"])
    removed = obs.vacuum_versions(store, "t", keep_versions=2)
    assert removed == ["t/_manifest/v1.json", "t/_manifest/v2.json", "t/_manifest/v3.json"]
    assert obs.latest_version(store, "t") == 5
    assert len(obs.read_files(store, "t")) == 5
    with pytest.raises(FileNotFoundError):
        obs.read_files(store, "t", 1)  # vacuumed past the reader horizon


def test_localfs_store_key_escape_rejected(tmp_path):
    store = obs.LocalFSObjectStore(str(tmp_path / "store"))
    with pytest.raises(ValueError):
        store.put("../outside", b"x")


# --- txn-ledgered idempotent commits (streaming exactly-once replay guard,
# --- reference WAL replay-above-highwater cutoff engine.zig:406-437) -------


def test_commit_txn_replay_is_noop(tmp_path):
    store = _local(tmp_path / "t")
    assert obs.commit_cas(store, "", ["a.parquet"], txn=("app", 0)) == 1
    assert obs.read_txn(store, "", "app") == 0
    # replaying the same txn commits nothing and bumps no version
    assert (
        obs.commit_cas(store, "", mutate=lambda old: old + ["dup.parquet"], txn=("app", 0))
        is None
    )
    assert obs.latest_version(store, "") == 1
    assert obs.read_files(store, "") == ["a.parquet"]
    # the NEXT txn goes through and the ledger advances
    assert obs.commit_cas(store, "", mutate=lambda old: old + ["b.parquet"], txn=("app", 1)) == 2
    assert obs.read_txn(store, "", "app") == 1
    assert obs.read_files(store, "") == ["a.parquet", "b.parquet"]
    # a LOWER txn version is also rejected (replay of an older batch)
    assert obs.commit_cas(store, "", mutate=lambda old: old + ["c"], txn=("app", 0)) is None


def test_commit_txn_ledger_is_per_app(tmp_path):
    store = _local(tmp_path / "t")
    obs.commit_cas(store, "", ["a"], txn=("app1", 5))
    # a different app_id with the same txn version is independent
    assert obs.commit_cas(store, "", mutate=lambda old: old + ["b"], txn=("app2", 5)) == 2
    assert obs.read_txn(store, "", "app1") == 5 and obs.read_txn(store, "", "app2") == 5
    # untxn'd commits carry the ledger forward untouched
    assert obs.commit_cas(store, "", mutate=lambda old: old + ["c"]) == 3
    assert obs.read_txn(store, "", "app1") == 5


def test_write_points_txn_replay_skips_append(spark, points, table):
    n = points.count()
    storage.write_points(points.limit(3), table, mode="append", txn=("ck", 0))
    assert storage.read_points(spark, table).count() == n + 3
    v = obs.latest_version(_local(table), "")
    # replaying batch 0 is a complete no-op: no new version, no new rows
    storage.write_points(points.limit(3), table, mode="append", txn=("ck", 0))
    assert obs.latest_version(_local(table), "") == v
    assert storage.read_points(spark, table).count() == n + 3
    # batch 1 proceeds normally
    storage.write_points(points.limit(2), table, mode="append", txn=("ck", 1))
    assert storage.read_points(spark, table).count() == n + 5


def test_write_points_txn_orphan_after_commit_crash(spark, points, table, monkeypatch):
    """Crash BETWEEN the parquet write and the manifest commit: the retry
    stages fresh files; the first attempt's files stay on disk as manifest-
    orphans but LATEST never references them — no duplicate rows."""
    n = points.count()
    real_commit = obs.commit_cas
    calls = {"n": 0}

    def crashing_commit(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before manifest commit")
        return real_commit(*a, **kw)

    monkeypatch.setattr(obs, "commit_cas", crashing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        storage.write_points(points.limit(3), table, mode="append", txn=("ck", 0))
    # durable state unchanged; staged files are unreferenced orphans
    assert storage.read_points(spark, table).count() == n
    assert len(storage._data_files(table)) > len(obs.read_files(_local(table), ""))
    # the replayed batch commits exactly once
    storage.write_points(points.limit(3), table, mode="append", txn=("ck", 0))
    assert storage.read_points(spark, table).count() == n + 3
    # vacuum reclaims the first attempt's orphans
    removed = storage.vacuum_points(table, keep_versions=99, min_age_seconds=0)
    assert removed
    assert storage.read_points(spark, table).count() == n + 3


def test_objectstore_commit_txn_replay_is_noop():
    store = obs.MemoryObjectStore()
    assert obs.commit_cas(store, "t", ["a"], txn=("app", 0)) == 1
    assert obs.read_txn(store, "t", "app") == 0
    assert (
        obs.commit_cas(store, "t", mutate=lambda old: old + ["dup"], txn=("app", 0))
        is None
    )
    assert obs.latest_version(store, "t") == 1
    assert obs.commit_cas(store, "t", mutate=lambda old: old + ["b"], txn=("app", 1)) == 2
    assert obs.read_files(store, "t") == ["a", "b"]
    # untxn'd commits carry the ledger forward
    assert obs.commit_cas(store, "t", mutate=lambda old: old + ["c"]) == 3
    assert obs.read_txn(store, "t", "app") == 1


def test_vacuum_repeated_with_holes(tmp_path):
    """Repeated vacuums leave version holes below the kept window; a later
    vacuum must skip the holes, not read them (crashed the streaming
    sink's second maintenance pass before the r11 fix)."""
    path = str(tmp_path / "t")
    store = _local(path)
    for i in range(6):
        obs.commit_cas(store, "", mutate=lambda old, i=i: old + [f"f{i}.parquet"])
    assert storage.vacuum_points(path, keep_versions=1, min_age_seconds=0) == []
    assert [p.name for p in (tmp_path / "t" / "_manifest").glob("v*.json")] == ["v6.json"]
    # more commits, then vacuum again across the v1-v5 hole
    obs.commit_cas(store, "", mutate=lambda old: old + ["g.parquet"])
    assert storage.vacuum_points(path, keep_versions=1, min_age_seconds=0) == []
    assert obs.read_files(store, "") == sorted(
        [f"f{i}.parquet" for i in range(6)] + ["g.parquet"]
    )


def test_compact_storage_preserves_txn_ledger(spark, points, table):
    """A whole-table compaction rewrite must carry the txn ledger into the
    swapped-in manifest: a streaming batch whose checkpoint commit was
    pending across the compaction is STILL a no-op on replay."""
    n0 = storage.read_points(spark, table).count()
    storage.write_points(points.limit(4), table, mode="append", txn=("ck", 3))
    storage.compact_storage(spark, table)
    assert obs.read_txn(_local(table), "", "ck") == 3
    # replay of batch 3 after compaction: no duplicates
    before = storage.read_points(spark, table).count()
    storage.write_points(points.limit(4), table, mode="append", txn=("ck", 3))
    assert storage.read_points(spark, table).count() == before
    # and the next batch proceeds
    storage.write_points(points.limit(2), table, mode="append", txn=("ck", 4))
    assert storage.read_points(spark, table).count() == before + 2
    assert before <= n0 + 4  # compaction deduped, never duplicated


def test_commit_cas_retries_through_vacuumed_current_version(tmp_path, monkeypatch):
    """ADVICE r11 (medium): between latest_version() and the ledger read, a
    concurrent committer can advance LATEST and a concurrent vacuum can
    prune v{cur} — the read raises FileNotFoundError and must be absorbed
    as one more lost CAS attempt, not an unhandled crash."""
    store = _local(tmp_path / "t")
    obs.commit_cas(store, "", ["a"], txn=("app", 0))
    real_read = obs._read_doc
    calls = {"n": 0}

    def racing_read(s, table, version):
        calls["n"] += 1
        if calls["n"] == 1:
            # simulate the prune landing between the listing and this read
            raise FileNotFoundError(f"v{version}.json pruned by vacuum")
        return real_read(s, table, version)

    monkeypatch.setattr(obs, "_read_doc", racing_read)
    assert obs.commit_cas(store, "", mutate=lambda old: old + ["b"], txn=("app", 1)) == 2
    assert calls["n"] >= 2  # first attempt lost, retry won
    assert obs.read_files(store, "") == ["a", "b"]
    assert obs.read_txn(store, "", "app") == 1


def test_objectstore_commit_cas_retries_through_vacuumed_version(monkeypatch):
    """Same vacuum race on a keyed memory store: a pruned v{cur} GET
    inside the CAS loop retries instead of raising."""
    store = obs.MemoryObjectStore()
    obs.commit_cas(store, "t", ["a"], txn=("app", 0))
    real_read = obs._read_doc
    calls = {"n": 0}

    def racing_read(s, table, version):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError(f"missing manifest v{version} for {table}")
        return real_read(s, table, version)

    monkeypatch.setattr(obs, "_read_doc", racing_read)
    assert obs.commit_cas(store, "t", mutate=lambda old: old + ["b"], txn=("app", 1)) == 2
    assert calls["n"] >= 2
    assert obs.read_files(store, "t") == ["a", "b"]


def test_write_points_txn_overwrite_replay_is_noop(spark, points, table):
    """ADVICE r11 (low): txn + mode='overwrite' used to run the destructive
    parquet rewrite BEFORE the ledger check — a replayed txn's commit then
    no-op'd while LATEST kept referencing the files the rewrite deleted.
    The pre-check now applies to every mode: the replay never touches disk."""
    storage.write_points(points.limit(3), table, mode="append", txn=("ck", 7))
    n = storage.read_points(spark, table).count()
    v = obs.latest_version(_local(table), "")
    # replayed txn in overwrite mode: full no-op, table still readable
    storage.write_points(points.limit(1), table, mode="overwrite", txn=("ck", 7))
    assert obs.latest_version(_local(table), "") == v
    assert storage.read_points(spark, table).count() == n
    # a NEW txn in overwrite mode still overwrites (legitimate use)
    storage.write_points(points.limit(2), table, mode="overwrite", txn=("ck", 8))
    assert storage.read_points(spark, table).count() == 2
    assert obs.read_txn(_local(table), "", "ck") == 8


def test_write_points_concurrent_appenders_thread_race(spark, points, table):
    """Two real threads append to ONE manifested table simultaneously,
    several rounds each: private staging means neither tramples the
    other's in-flight job files (shared _temporary/0 did, pre-r12), and
    the manifest CAS merges every commit — total rows and the LATEST file
    list must account for every append exactly once."""
    import threading

    n0 = storage.read_points(spark, table).count()
    rounds, per_batch = 3, 5
    errors: list = []

    def appender(app: str) -> None:
        try:
            for i in range(rounds):
                storage.write_points(
                    points.limit(per_batch), table, mode="append", txn=(app, i)
                )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(repr(e))

    threads = [threading.Thread(target=appender, args=(f"app{k}",)) for k in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    expect = n0 + 2 * rounds * per_batch
    assert storage.read_points(spark, table).count() == expect
    # LATEST references exactly the files on disk (no stranded staging)
    assert sorted(obs.read_files(_local(table), "")) == storage._data_files(table)
    assert obs.read_txn(_local(table), "", "app0") == rounds - 1
    assert obs.read_txn(_local(table), "", "app1") == rounds - 1
    from pathlib import Path

    assert not list(Path(table).glob(".staging-*"))


def test_vacuum_spares_staging_with_fresh_leaves(tmp_path):
    """ADVICE r12: a long-running append's staging dir has a STALE root
    mtime (only leaf mtimes advance as Spark writes part files); vacuum
    must judge liveness by the newest mtime anywhere in the tree, or it
    rmtrees a live writer's staging mid-write."""
    import os
    import time

    table = tmp_path / "tbl"
    obs.commit_cas(_local(table), "", [])
    old = time.time() - 7200
    # crashed staging: root AND leaves old → reclaimed
    dead = table / ".staging-dead"
    dead.mkdir()
    (dead / "part-0.parquet").write_bytes(b"x")
    os.utime(dead / "part-0.parquet", (old, old))
    os.utime(dead, (old, old))
    # live staging: old root dir, but a part file written JUST NOW
    live = table / ".staging-live"
    live.mkdir()
    (live / "part-0.parquet").write_bytes(b"x")
    os.utime(live, (old, old))
    storage.vacuum_points(str(table), min_age_seconds=600)
    assert not dead.exists()
    assert live.exists()  # fresh leaf kept the whole tree alive


def test_vacuum_spares_concurrently_committed_version(tmp_path, monkeypatch):
    """r13 review (severe): a version committed DURING a vacuum is above the
    vacuum's snapshot and must survive the version-doc prune — unlinking it
    left LATEST pointing at a deleted manifest, bricking reads AND commits."""
    table = str(tmp_path / "tbl")
    store = _local(table)
    for i in range(5):
        obs.commit_cas(store, "", [f"f{i}"])
    # simulate the race: a concurrent committer lands v6 right after the
    # vacuum took its snapshot of the latest version — with min_age=0
    # nothing is 'young', so only the <= snapshot bound protects it
    real_latest = obs.latest_version
    fired = {"done": False}

    def snapshot_then_commit(s, t):
        v = real_latest(s, t)
        if not fired["done"]:
            fired["done"] = True
            obs.commit_cas(s, t, ["f_concurrent"])
        return v

    monkeypatch.setattr(obs, "latest_version", snapshot_then_commit)
    obs.vacuum_versions(store, "", keep_versions=2, min_age_seconds=0)
    monkeypatch.setattr(obs, "latest_version", real_latest)
    assert fired["done"]
    assert obs.latest_version(store, "") == 6
    assert obs.read_files(store, "") == ["f_concurrent"]  # readable, not bricked
    obs.commit_cas(store, "", mutate=lambda old: old + ["f_next"])  # committable too


def test_vacuum_keeps_fresh_partition_dir_with_only_hidden_crc(tmp_path):
    """r13 review: an appender renames the hidden .crc sibling BEFORE its
    parquet file, so a fresh partition dir can hold only a young hidden
    file — the empty-dir prune must not delete it (the in-flight rename
    would lose its parent). Old all-hidden dirs are still pruned."""
    import os
    import time

    table = tmp_path / "tbl"
    obs.commit_cas(_local(table), "", [])
    fresh = table / "hour_bucket=0"
    fresh.mkdir()
    (fresh / ".part-0.parquet.crc").write_bytes(b"x")  # appender mid-rename
    stale = table / "hour_bucket=3600"
    stale.mkdir()
    (stale / ".leftover.crc").write_bytes(b"x")
    old = time.time() - 7200
    os.utime(stale / ".leftover.crc", (old, old))
    os.utime(stale, (old, old))
    storage.vacuum_points(str(table), min_age_seconds=600)
    assert (fresh / ".part-0.parquet.crc").exists()  # young: kept
    assert not stale.exists()  # genuinely stale leftovers: pruned


def test_concurrent_vacuums_tolerate_each_other(tmp_path, monkeypatch):
    """r13 review: the second of two racing vacuums must not crash on a
    file the first already unlinked (missing_ok on the data prune)."""
    import os
    import time

    table = tmp_path / "tbl"
    d = table / "hour_bucket=0"
    d.mkdir(parents=True)
    (d / "part-dead.parquet").write_bytes(b"x")
    old = time.time() - 7200
    os.utime(d / "part-dead.parquet", (old, old))
    obs.commit_cas(_local(table), "", [])  # dead file is unreferenced
    # simulate the loser: remove the file after the data listing saw it
    real_data_files = storage._data_files

    def list_then_steal(path, spark=None):
        rels = real_data_files(path, spark)
        for rel in rels:
            (table / rel).unlink(missing_ok=True)  # the winner got there first
        return rels

    monkeypatch.setattr(storage, "_data_files", list_then_steal)
    removed = storage.vacuum_points(str(table), min_age_seconds=600)
    # the loser neither crashes nor double-claims: the missing file stats
    # as 'young' (racing its deleter) and is skipped entirely
    assert removed == []
    assert not (d / "part-dead.parquet").exists()


def test_latest_version_survives_corrupt_pointer(tmp_path):
    """r13 review: a truncated/empty LATEST hint must not brick the table —
    the listed versions are the source of truth."""
    store = _local(tmp_path / "tbl")
    obs.commit_cas(store, "", ["f0"])
    obs.commit_cas(store, "", ["f0", "f1"])
    (tmp_path / "tbl" / "_manifest" / "LATEST").write_text("")  # corrupt
    assert obs.latest_version(store, "") == 2
    assert obs.read_files(store, "") == ["f0", "f1"]
    assert obs.commit_cas(store, "", mutate=lambda old: old + ["f2"]) == 3


def test_commit_doc_bytes(tmp_path):
    """A new commit's version doc and LATEST hint are byte-equal to the
    format every existing table was written in: ``{"version", "files"
    (sorted), "txn"?}`` as ``json.dumps`` renders it, and the bare version
    number. Nothing else is left in ``_manifest/``."""
    store = _local(tmp_path / "t")
    obs.commit_cas(
        store, "", ["hour_bucket=3600/b.parquet", "hour_bucket=0/a.parquet"],
        txn=("app", 3),
    )
    obs.commit_cas(
        store, "", mutate=lambda old: old + ["hour_bucket=0/c.parquet"], txn=("other", 0)
    )
    obs.commit_replace(store, "", ["hour_bucket=0/c.parquet"], None)
    mdir = tmp_path / "t" / "_manifest"
    assert (mdir / "v1.json").read_bytes() == (
        b'{"version": 1, "files": ["hour_bucket=0/a.parquet", '
        b'"hour_bucket=3600/b.parquet"], "txn": {"app": 3}}'
    )
    assert (mdir / "v2.json").read_bytes() == (
        b'{"version": 2, "files": ["hour_bucket=0/a.parquet", '
        b'"hour_bucket=0/c.parquet", "hour_bucket=3600/b.parquet"], '
        b'"txn": {"app": 3, "other": 0}}'
    )
    assert (mdir / "v3.json").read_bytes() == (
        b'{"version": 3, "files": ["hour_bucket=0/c.parquet"]}'
    )
    assert (mdir / "LATEST").read_bytes() == b"3"
    assert sorted(p.name for p in mdir.iterdir()) == [
        "LATEST", "v1.json", "v2.json", "v3.json",
    ]


def test_reads_table_committed_in_earlier_format(spark, points, tmp_path):
    """A table committed by the earlier same-host-flock committer: literal
    ``v1.json``/``LATEST`` bytes plus the empty ``COMMIT_LOCK`` file it
    left in ``_manifest/``. It reads, replays, appends, compacts and
    vacuums unchanged, and the lock file is ignored."""
    import os

    from pyspark.sql import functions as F

    path = tmp_path / "old"
    two_hours = points.where(F.col("ts") < 1_000_000 + 600).select(*storage.POINT_COLS)
    two_hours.coalesce(1).write.partitionBy("hour_bucket").parquet(str(path))
    names = []
    for i, f in enumerate(sorted(path.glob("hour_bucket=*/*.parquet"))):
        f.with_name(f".{f.name}.crc").unlink(missing_ok=True)
        dst = f.with_name(f"part-0000{i}-old.c000.snappy.parquet")
        os.rename(f, dst)
        names.append(str(dst.relative_to(path)))
    assert names == ["hour_bucket=997200/part-00000-old.c000.snappy.parquet"]
    mdir = path / "_manifest"
    mdir.mkdir()
    (mdir / "v1.json").write_bytes(
        b'{"version": 1, "files": '
        b'["hour_bucket=997200/part-00000-old.c000.snappy.parquet"], '
        b'"txn": {"app-old": 4}}'
    )
    (mdir / "LATEST").write_bytes(b"1")
    (mdir / "COMMIT_LOCK").write_bytes(b"")
    table = str(path)
    n0 = two_hours.count()
    assert storage.read_points(spark, table).count() == n0
    assert obs.read_txn(_local(table), "", "app-old") == 4
    # a replayed batch is still a no-op, the next one appends
    extra = points.limit(3)
    storage.write_points(extra, table, mode="append", txn=("app-old", 4))
    assert storage.read_points(spark, table).count() == n0
    storage.write_points(extra, table, mode="append", txn=("app-old", 5))
    assert obs.latest_version(_local(table), "") == 2
    assert storage.read_points(spark, table).count() == n0 + 3
    storage.compact_storage(spark, table)
    compacted = storage.read_points(spark, table).count()
    assert compacted <= n0 + 3
    storage.vacuum_points(table, keep_versions=1, min_age_seconds=0)
    assert storage.read_points(spark, table).count() == compacted
    assert obs.read_txn(_local(table), "", "app-old") == 5
    assert (mdir / "COMMIT_LOCK").exists()
    assert sorted(p.name for p in mdir.glob("v*.json")) == ["v3.json"]
