"""Versioned table manifests committed through an object store's
conditional write: the one commit protocol every table in the engine uses.

The reference tracks live segments in a MANIFEST and swaps it atomically
(``src/sydra/storage/manifest.zig:18-57``); the Spark translation is the
idea a table format (Delta/Iceberg) uses — a JSON file list per version,
published with an atomic create-if-absent:

    <table>/_manifest/v1.json    {"version": 1, "files": [...]}
    <table>/_manifest/v2.json
    <table>/_manifest/LATEST     "2"    (unconditional hint, never trusted)

The COMMIT POINT is "create ``v{N+1}.json`` iff it does not exist",
atomic server-side on all three major stores:

- S3:    ``PutObject`` with ``If-None-Match: *`` (412 when the key exists)
- GCS:   upload with ``x-goog-if-generation-match: 0``
- Azure: ``Put Blob`` with ``If-None-Match: *``
- POSIX: write a temp file, then exclusive ``link(2)`` (EEXIST when taken;
         atomic on local filesystems and NFS alike)

Exactly one committer wins a version; a loser re-reads and retries, so a
concurrent committer's files are never dropped, and a crash before the
create leaves the table at the previous version. ``LATEST`` is a monotonic
pointer HINT advanced after the create; readers take ``max(pointer, listed
versions)``, so a stale or briefly regressed pointer is harmless. Old
version docs stay until ``vacuum_versions`` (cheap time travel meanwhile).

Concrete stores: ``MemoryObjectStore`` (test fake with atomic
put-if-absent under a lock — models the server-side atomicity) and
``LocalFSObjectStore`` (keys as files under a directory). A table written
without a store is ``LocalFSObjectStore(<table dir>)`` under the empty
table key (``resolve``), so its manifest is ``<table>/_manifest/``. A
production S3/GCS/Azure client needs only the six methods of
``ObjectStore``; no other code changes. Managed-table alternative: replace
``commit_cas`` with a table format's conditional commit (its optimistic
transaction log is this CAS, generalized).
"""

from __future__ import annotations

import json
import threading
import time
from typing import Protocol


class ObjectStore(Protocol):
    """The six primitives the protocol needs. ``put_if_absent`` is the
    only one with atomicity requirements: it must create the key iff it
    does not already exist, atomically against concurrent creators (S3
    If-None-Match, GCS if-generation-match:0, Azure If-None-Match).
    ``delete`` and ``mtime`` are used only by maintenance
    (``vacuum_versions``); ``mtime`` is the key's last-modified time in
    epoch seconds (S3 ``LastModified``, GCS ``updated``, Azure
    ``Last-Modified``), or None when the key does not exist."""

    def put_if_absent(self, key: str, data: bytes) -> bool: ...

    def put(self, key: str, data: bytes) -> None: ...

    def get(self, key: str) -> bytes | None: ...

    def list(self, prefix: str) -> list[str]: ...

    def delete(self, key: str) -> None: ...

    def mtime(self, key: str) -> float | None: ...


class MemoryObjectStore:
    """In-memory fake with object-store semantics: flat key space, atomic
    put-if-absent (the lock models the store's server-side conditional-PUT
    atomicity), last-wins unconditional put. Thread-safe — the concurrency
    tests race real threads through it."""

    def __init__(self) -> None:
        self._data: dict[str, bytes] = {}
        self._mtime: dict[str, float] = {}
        self._lock = threading.Lock()
        self.cas_attempts = 0  # diagnostics: total conditional PUTs
        self.cas_losses = 0  # ... and how many hit the 412 path

    def put_if_absent(self, key: str, data: bytes) -> bool:
        with self._lock:
            self.cas_attempts += 1
            if key in self._data:
                self.cas_losses += 1
                return False
            self._data[key] = bytes(data)
            self._mtime[key] = time.time()
            return True

    def put(self, key: str, data: bytes) -> None:
        with self._lock:
            self._data[key] = bytes(data)
            self._mtime[key] = time.time()

    def get(self, key: str) -> bytes | None:
        with self._lock:
            return self._data.get(key)

    def list(self, prefix: str) -> list[str]:
        with self._lock:
            return sorted(k for k in self._data if k.startswith(prefix))

    def delete(self, key: str) -> None:
        with self._lock:
            self._data.pop(key, None)
            self._mtime.pop(key, None)

    def mtime(self, key: str) -> float | None:
        with self._lock:
            return self._mtime.get(key)


class LocalFSObjectStore:
    """Object-store protocol over a local directory: keys are relative file
    paths; ``put_if_absent`` is write-temp-then-exclusive-``link(2)``, so
    the store-generic protocol runs unmodified on POSIX/NFS. Constructing
    the store touches nothing on disk (a read of a missing table must not
    create it); the first put creates the directories it needs."""

    def __init__(self, root: str) -> None:
        from pathlib import Path

        self.root = Path(root)

    def _p(self, key: str):
        p = (self.root / key).resolve()
        if self.root.resolve() not in p.parents and p != self.root.resolve():
            raise ValueError(f"key escapes store root: {key}")
        return p

    def put_if_absent(self, key: str, data: bytes) -> bool:
        import os
        import uuid

        p = self._p(key)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.parent / f".{p.name}.{uuid.uuid4().hex}.tmp"
        tmp.write_bytes(data)
        try:
            os.link(tmp, p)
            return True
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)

    def put(self, key: str, data: bytes) -> None:
        import uuid

        p = self._p(key)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.parent / f".{p.name}.{uuid.uuid4().hex}.tmp"
        tmp.write_bytes(data)
        tmp.replace(p)

    def get(self, key: str) -> bytes | None:
        try:
            return self._p(key).read_bytes()
        except FileNotFoundError:
            return None

    def list(self, prefix: str) -> list[str]:
        # walk only the prefix's fixed directory, not the whole store:
        # manifest reads call list() once per read AND per CAS attempt, and
        # a store root that also holds data files made every manifest
        # operation O(all keys) (r13 review)
        from pathlib import PurePath

        pp = PurePath(prefix)
        base = self.root / (pp if prefix.endswith("/") else pp.parent)
        if not base.is_dir():
            return []
        out = []
        for p in base.rglob("*"):
            if p.is_file() and not p.name.startswith("."):
                rel = str(p.relative_to(self.root))
                if rel.startswith(prefix):
                    out.append(rel)
        return sorted(out)

    def delete(self, key: str) -> None:
        self._p(key).unlink(missing_ok=True)

    def mtime(self, key: str) -> float | None:
        try:
            return self._p(key).stat().st_mtime
        except FileNotFoundError:
            return None


def resolve(path: str, store: ObjectStore | None, key: str) -> tuple[ObjectStore, str]:
    """The ``(store, table key)`` a table's manifest commits through. With
    ``store=`` the manifest lives in that store under ``key``; without one
    it lives beside the data, ``<path>/_manifest/``, through a
    ``LocalFSObjectStore`` rooted at the table directory (empty key).

    A URI ``path`` without a store is rejected loudly:
    ``Path('s3a://b/t')`` is the RELATIVE local directory ``s3a:/b/t`` on
    which mkdir/link all SUCCEED — the exactly-once ledger would land on
    a local disk while the data goes to the store, silently voiding the
    guarantee. ``file://`` URIs are local paths."""
    from sydradb_spark.ingest import _posix_checkpoint_path

    if store is None:
        local = _posix_checkpoint_path(path)
        if local is None:
            raise ValueError(
                f"the manifest of {path!r} cannot live beside its data: "
                "link(2) has no object-store equivalent — pass store= (an "
                "objectstore.ObjectStore scoped to this table) so the "
                "manifest commits through the store's conditional PUT"
            )
        return LocalFSObjectStore(local), ""
    return store, key


def _mprefix(table: str) -> str:
    return f"{table.rstrip('/')}/_manifest/".lstrip("/")


def _listed_versions(store: ObjectStore, table: str) -> list[tuple[int, str]]:
    """(version, key) of every listed version doc. Hidden temp files and
    other keys under ``_manifest/`` (a legacy ``COMMIT_LOCK``) are skipped."""
    pre = _mprefix(table)
    out = []
    for key in store.list(pre + "v"):
        name = key[len(pre):]
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append((int(name[1:-5]), key))
            except ValueError:
                pass
    return out


def latest_version(store: ObjectStore, table: str) -> int | None:
    """Newest committed version: max of the pointer hint and the LISTED
    version keys — a committed-but-unpointed version (crash or concurrent
    winner between CAS and pointer advance) is still visible, and a stale,
    regressed or corrupt pointer is harmless. Object-store LIST is strongly
    consistent on S3 (since 2020)/GCS/Azure, so the listing is safe to
    trust as the source of truth."""
    cands = [v for v, _ in _listed_versions(store, table)]
    raw = store.get(_mprefix(table) + "LATEST")
    if raw is not None:
        try:
            cands.append(int(raw.decode().strip()))
        except ValueError:
            pass
    return max(cands) if cands else None


def _read_doc(store: ObjectStore, table: str, version: int) -> dict:
    raw = store.get(_mprefix(table) + f"v{version}.json")
    if raw is None:
        raise FileNotFoundError(f"missing manifest v{version} for {table!r}")
    return json.loads(raw)


def read_files(
    store: ObjectStore, table: str, version: int | None = None
) -> list[str]:
    """Relative data-file paths of ``version`` (default: latest)."""
    v = version if version is not None else latest_version(store, table)
    if v is None:
        raise FileNotFoundError(f"no manifest for {table!r}")
    return list(_read_doc(store, table, v)["files"])


def read_ledger(
    store: ObjectStore, table: str, version: int | None = None
) -> dict[str, int]:
    """The txn ledger of ``version`` (default: latest; {} when absent)."""
    v = version if version is not None else latest_version(store, table)
    if v is None:
        return {}
    return {k: int(t) for k, t in (_read_doc(store, table, v).get("txn") or {}).items()}


def read_txn(store: ObjectStore, table: str, app_id: str) -> int | None:
    """Highest transaction version committed for ``app_id`` (None when the
    table has no manifest or the app has never committed). The txn ledger
    is the streaming sink's replay guard — the Spark-side twin of the
    reference's WAL highwater-mark replay cutoff (engine.zig:406-437): a
    foreachBatch re-delivery of an already-durable ``batch_id`` is detected
    here and becomes a no-op instead of a duplicate append."""
    return read_ledger(store, table).get(app_id)


def _publish(
    store: ObjectStore, table: str, v: int, files: list[str], txn_map: dict[str, int]
) -> bool:
    """CAS: create ``v{v}.json`` iff no other committer already has."""
    doc: dict = {"version": v, "files": sorted(files)}
    if txn_map:
        doc["txn"] = txn_map
    return store.put_if_absent(_mprefix(table) + f"v{v}.json", json.dumps(doc).encode())


def commit_replace(
    store: ObjectStore, table: str, files: list[str], txn_map: dict[str, int] | None
) -> int:
    """Full-replacement commit that also REPLACES the txn ledger — the
    restore path: rewinding a table to a snapshot must rewind the
    replay guard WITH it, so a streaming batch delivered after the snapshot
    re-appends into the restored table instead of no-op'ing against the
    future ledger. Offline-maintenance context: one publish attempt."""
    cur = latest_version(store, table)
    v = 1 if cur is None else cur + 1
    txn = {k: int(t) for k, t in (txn_map or {}).items()}
    if not _publish(store, table, v, files, txn):
        raise RuntimeError(f"commit_replace lost a version race at {table!r}")
    _advance_pointer(store, table, v)
    return v


def commit_cas(
    store: ObjectStore,
    table: str,
    files: list[str] | None = None,
    *,
    mutate=None,
    txn: tuple[str, int] | None = None,
    max_retries: int = 16,
) -> int | None:
    """CAS-with-retry commit: the multi-host, no-locks protocol.

    Two forms: ``files=`` is a full replacement (overwrite / fresh tables);
    ``mutate(old_files) -> new_files`` is read-modify-write against the
    list actually being replaced — appenders and compactors must use it,
    since a list computed outside the commit lets a concurrent committer's
    files be dropped (lost append). ``mutate`` may run once PER ATTEMPT
    against a fresh list, so it must be a pure function of its input.

    Each attempt reads the current version, computes the new file list, and
    tries to create ``v{N+1}.json`` with put-if-absent; exactly one
    committer wins a version, a loser re-reads and retries with linear
    backoff. Contention is absorbed entirely by the retry loop, which is
    why committers should batch — one commit per micro-append multiplies
    the conditional-PUT rate.

    ``txn=(app_id, txn_version)`` makes the commit idempotent per app: the
    ledger (carried forward version to version) records the highest
    committed txn_version per app_id, and an attempt whose txn_version is
    already <= the ledger entry returns None WITHOUT committing — the
    re-check happens inside the CAS loop, so a racing duplicate committer
    loses either the version create or the ledger check."""
    if (files is None) == (mutate is None):
        raise ValueError("pass exactly one of files= or mutate=")
    for attempt in range(max_retries):
        cur = latest_version(store, table)
        v = 1 if cur is None else cur + 1
        try:
            cur_doc = _read_doc(store, table, cur) if cur is not None else {}
        except FileNotFoundError:
            # concurrent committer advanced the version and a concurrent
            # vacuum_versions pruned v{cur} between the listing and the
            # GET — re-read and retry, same as losing the version race
            time.sleep(0.005 * (attempt + 1))
            continue
        txn_map = {k: int(tv) for k, tv in (cur_doc.get("txn") or {}).items()}
        if txn is not None:
            app_id, txn_v = txn
            if txn_map.get(app_id, -1) >= txn_v:
                return None  # already applied — replayed batch is a no-op
            txn_map[app_id] = txn_v
        new = (
            list(mutate(list(cur_doc.get("files", []))))
            if mutate is not None
            else list(files)  # type: ignore[arg-type]
        )
        if _publish(store, table, v, new, txn_map):
            _advance_pointer(store, table, v)
            return v
        time.sleep(0.005 * (attempt + 1))
    raise RuntimeError(
        f"manifest commit contention: lost the version race "
        f"{max_retries} times at {table!r}"
    )


def _advance_pointer(store: ObjectStore, table: str, v: int) -> None:
    """Best-effort monotonic advance of the LATEST hint (unconditional PUT
    — two racing winners can briefly regress it; ``latest_version`` maxes
    the hint with the listing, so the hint only speeds reads up, never
    decides correctness)."""
    pre = _mprefix(table)
    raw = store.get(pre + "LATEST")
    if raw is not None:
        try:
            if int(raw.decode().strip()) >= v:
                return
        except ValueError:
            pass
    store.put(pre + "LATEST", str(v).encode())


def vacuum_versions(
    store: ObjectStore, table: str, keep_versions: int = 2, min_age_seconds: int = 0
) -> list[str]:
    """Delete version docs outside the retained window; returns the deleted
    keys. Retained = the last ``keep_versions`` versions PLUS any version
    younger than ``min_age_seconds`` (a time-travel reader holding version
    N−k survives as long as it started within the window). Only versions
    from this call's snapshot's past (<= latest) are pruned: a version
    committed during the vacuum must survive, or LATEST would point at a
    deleted doc and the table would be unreadable AND uncommittable. Data
    files are the caller's to reclaim against ``retained_files``."""
    v = latest_version(store, table)
    if v is None:
        return []
    now = time.time()
    removed = []
    for kv, key in _listed_versions(store, table):
        if kv > v - keep_versions:
            continue
        m = store.mtime(key)
        if m is None or now - m < min_age_seconds:
            continue  # young, or already pruned by a concurrent vacuum
        store.delete(key)
        removed.append(key)
    return sorted(removed)


def retained_files(store: ObjectStore, table: str) -> set[str]:
    """Every file any still-listed version references — the keep-set a
    data vacuum reclaims against."""
    kept: set[str] = set()
    for kv, _ in _listed_versions(store, table):
        try:
            kept.update(_read_doc(store, table, kv)["files"])
        except FileNotFoundError:
            continue  # racing a concurrent vacuum
    return kept
