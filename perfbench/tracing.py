"""Spans around the engine's public entry points, recorded from outside.

Nothing under ``sydradb_spark/`` is edited: ``install_engine_spans``
replaces module and class attributes with wrappers that time the call and
keep a span ``(name, start, end, parent, request id)`` in memory. Request-level wrappers
(``top=True``) open a new request id and tag the calling thread's Spark jobs
with it as the job group, so ``spark_ledger`` can read each request's jobs,
stages, tasks, run time and CPU time from the JVM status store afterwards.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

_local = threading.local()
_ids = itertools.count(1)
_lock = threading.Lock()
SPANS: list[tuple] = []  # (span id, parent id, request id, name, t0, t1)


def _stack() -> list:
    st = getattr(_local, "stack", None)
    if st is None:
        st = _local.stack = []
    return st


class span:
    """Context manager for one span; ``top=True`` starts a new request id
    (``prefix`` names its kind) and sets it as the thread's Spark job
    group."""

    def __init__(self, name: str, top: bool = False, prefix: str = "req", sc=None):
        self.name, self.top, self.prefix, self.sc = name, top, prefix, sc

    def __enter__(self):
        st = _stack()
        self.sid = next(_ids)
        if self.top or not st:
            self.rid = f"{self.prefix}-{self.sid}"
            self.parent = None
            if self.sc is not None:
                self.sc.setJobGroup(self.rid, self.name)
        else:
            self.parent, self.rid = st[-1][:2]
        st.append((self.sid, self.rid, self.name))
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        _stack().pop()
        with _lock:
            SPANS.append((self.sid, self.parent, self.rid, self.name, self.t0, t1))
        if self.top and self.sc is not None:
            self.sc._jsc.clearJobGroup()
        return False


def wrap(owner, attr: str, name: str, top: bool = False, prefix: str = "req",
         sc=None, nested_only: bool = False) -> bool:
    """Replace ``owner.attr`` with a span-recording wrapper. Returns False
    (and changes nothing) when the attribute does not exist, so a renamed
    entry point drops its span instead of failing the run.
    ``nested_only`` records a span only inside an open request; a call
    made directly inside a span of the same name records no second span."""
    fn = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
    if fn is None:
        return False
    is_static = isinstance(fn, staticmethod)
    raw = fn.__func__ if is_static else fn

    @functools.wraps(raw)
    def wrapper(*args, **kwargs):
        st = _stack()
        if (nested_only and not st) or (st and st[-1][2] == name):
            return raw(*args, **kwargs)
        with span(name, top=top, prefix=prefix, sc=sc):
            return raw(*args, **kwargs)

    setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)
    return True


# (module, attribute path, span name, wrap options). Both manifest commit
# protocols are listed, so the storage.commit span survives the table
# commit moving from one to the other.
ENTRY_POINTS = (
    # request boundaries: one request id + Spark job group per call
    ("sydradb_spark.server", "_Handler.do_GET", "server.handle", {"top": True, "prefix": "http"}),
    ("sydradb_spark.server", "_Handler.do_POST", "server.handle", {"top": True, "prefix": "http"}),
    ("sydradb_spark.compat.wire", "_Handler._query", "compat.wire.handle",
     {"top": True, "prefix": "pg"}),
    # layers inside a request
    ("sydradb_spark.server", "_Handler._ingest", "server.ingest", {}),
    ("sydradb_spark.compat.translator", "translate", "compat.translate", {}),
    ("sydradb_spark.sydraql.engine", "SydraQLEngine.query", "sydraql.query", {}),
    ("sydradb_spark.sydraql.engine", "parse", "sydraql.parse", {}),
    ("sydradb_spark.sydraql.engine", "validate", "sydraql.validate", {}),
    ("sydradb_spark.sydraql.translator", "Translator.translate", "sydraql.translate", {}),
    ("sydradb_spark.sydraql.engine", "SydraQLEngine.ingest_points", "engine.ingest_points", {}),
    ("sydradb_spark.api", "to_response", "api.to_response", {}),
    ("sydradb_spark.tagindex", "find_series", "tagindex.find", {}),
    ("sydradb_spark.storage", "write_points", "storage.write_points", {}),
    ("sydradb_spark.storage", "read_points", "storage.read_points", {}),
    ("sydradb_spark.manifest", "commit", "storage.commit", {}),
    ("sydradb_spark.objectstore", "commit_cas", "storage.commit", {}),
)


def install_engine_spans(spark) -> list[str]:
    """Wrap the entry points in ``ENTRY_POINTS`` and ``DataFrame.collect``
    inside requests; returns the ones that do not exist in this checkout."""
    import importlib

    sc = spark.sparkContext
    missing = []
    for module, path, name, kw in ENTRY_POINTS:
        try:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
        except (ImportError, AttributeError):
            missing.append(f"{module}.{path}")
            continue
        if not wrap(owner, attr, name, sc=sc if kw.get("top") else None, **kw):
            missing.append(f"{module}.{path}")
    wrap(type(spark.range(1)), "collect", "spark.collect", nested_only=True)
    return missing


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def spark_ledger(spark) -> dict[str, dict]:
    """Job group -> {jobs, stages, tasks, run_ms, cpu_ms} from the JVM
    status store (``statusStore().stageList``; skipped stages report zero
    completed tasks). Jobs without a group are pooled under ``""``."""
    sc = spark.sparkContext
    jvm = spark._jvm
    store = sc._jsc.sc().statusStore()
    stages = {}
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for s in _iter(
        store.stageList(jvm.java.util.ArrayList(), False, False, no_quantiles,
                        jvm.java.util.ArrayList())
    ):
        prev = stages.get(s.stageId(), (0, 0, 0))
        stages[s.stageId()] = (
            prev[0] + s.numCompleteTasks(),
            prev[1] + s.executorRunTime(),
            prev[2] + s.executorCpuTime() / 1e6,
        )
    out: dict[str, dict] = {}
    for j in _iter(store.jobsList(jvm.java.util.ArrayList())):
        g = j.jobGroup()
        group = g.get() if g.isDefined() else ""
        rec = out.setdefault(
            group, {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0})
        rec["jobs"] += 1
        for sid in _iter(j.stageIds()):
            tasks, run_ms, cpu_ms = stages.get(sid, (0, 0, 0.0))
            rec["stages"] += 1 if tasks else 0
            rec["tasks"] += tasks
            rec["run_ms"] += run_ms
            rec["cpu_ms"] += cpu_ms
    return out
