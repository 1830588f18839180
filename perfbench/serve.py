"""Serving workloads: ``serve_query`` and ``ingest_read``.

Both start ``server_child.py`` (Spark, the stored ``events`` table, the
HTTP and pgwire servers) and drive it from one closed-loop client: it sends
its next request only after the previous reply. Responses are kept and
checked after the timed window against DuckDB twins over the same
generated points, so the twins cost no client think time.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np

from pgclient import PgConnection

T0 = 1704067200  # first second of the generated events window (2024-01-01)
# hours of loaded events: the first 7 days of sf0.1's month, at its density
# (23,333 points). Over the whole month (720 hour files) each ingest's
# re-read, a listing job with one task per file, takes ~3.7 s, so a run held
# three ingests; and the month's ~45 s set-up left too little of a run's
# time budget to measure in (see README.md)
HOURS = 168
T_END = T0 + HOURS * 3600
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
HOSTS = tuple(f"h{i}" for i in range(5))
DCS = ("dc0", "dc1")
INGEST_BATCH = 200
INGEST_SERIES = 4  # series per batch, 50 points each
# Read templates run in a fixed cycle (seeded parameters), and the timed
# window holds whole cycles only, so every run and seed sends the same
# template proportions: sydraQL range, aggregate, rate and top-k reads, the
# range API, and a pgwire simple-query share. The tag find (a full scan,
# ~3 s, ten times a range read) is not in the cycle: whether a window held
# one or two of them moved the run's mean by a third. Traced runs make one
# in the warm-up, for its layer figure and its check.
SERVE_CYCLE = (
    "sql_range", "sql_bucket", "api_range", "sql_rate", "pg_range",
    "sql_topk", "sql_range", "sql_bucket", "pg_agg", "api_range",
)
# ingest_read's read of the loaded window, one per cycle after the ingest
# and its read-back. One template, and whole cycles only, so a run's read
# mix does not depend on how many cycles fit in its window.
INGEST_READ = "sql_range"
# untimed, before the window: one whole cycle of the workload, which pays
# the first-use costs (connections, the first append's staged-publish path).
# A fresh JVM then keeps compiling the serving path for ~40 s (a serve_query
# cycle fell from 3.0 s to 1.7 s over 17 cycles), but warming through that
# would cost every run's set-up, which the comparison's time limit pays for,
# and on a shared 4-vCPU VM a window's median moves more with 10-60 s bursts
# of host load and CPU steal than with where it sits on that curve: a long
# window beats a long warm-up.
WARM_CYCLES = 1
# one closed-loop client on both workloads: on 4 vCPUs a second
# serve_query client added no throughput (3.05 vs 3.17 reads/s over the
# sf0.1 month) and doubled the median latency (497 vs 266 ms), so two
# clients measured queueing
CLIENTS = 1
REQUEST_TIMEOUT_S = 60.0


def rq(expr: str, dp: int = 6) -> str:
    """The contract's cross-engine float stabilizer (contract/base.py
    ``rq``): (dp+3)-decimal then dp-decimal rounding, valid in both sydraQL
    and DuckDB SQL."""
    return f"round(round(({expr}) * {10 ** (dp + 3)}) / 1000) / {10 ** dp}"


DELTA_SQL = "last(value ORDER BY ts, value) - first(value ORDER BY ts, value)"
POINTS_VIEW = """CREATE VIEW points AS
  SELECT 'events.' || event_type AS series,
         'h' || CAST(user_id % 5 AS VARCHAR) AS host,
         'dc' || CAST(user_id % 2 AS VARCHAR) AS dc,
         epoch_ns(ts) // 1000000000 AS ts,
         value
  FROM read_parquet('{path}')"""


# --- read templates -------------------------------------------------------

def read_op(rng: np.random.Generator, template: str) -> dict:
    """One seeded read over the loaded window: the request and the DuckDB
    twin that must produce the same rows."""
    t = EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))]
    h = HOSTS[int(rng.integers(len(HOSTS)))]
    d = DCS[int(rng.integers(len(DCS)))]

    def window(hours: int) -> tuple[int, int]:
        a = T0 + int(rng.integers(0, HOURS - hours)) * 3600
        return a, a + hours * 3600

    sel = f"series = 'events.{t}'"
    if template == "sql_range":
        a, b = window(6)
        return dict(
            template=template, via="http", path="/api/v1/sydraql",
            body=f"select time, value from events.{t} where time >= {a} and time < {b} "
            f"and tag.host = '{h}'",
            twin=f"SELECT ts, value FROM points WHERE {sel} AND host = '{h}' "
            f"AND ts >= {a} AND ts < {b}",
            ordered=False,
        )
    if template == "sql_bucket":
        a, b = window(24)
        return dict(
            template=template, via="http", path="/api/v1/sydraql",
            body=f"select time_bucket(3600, time) as bucket, {rq('avg(value)')} as avg_v, "
            f"count() as n, max(value) as max_v from events.{t} "
            f"where time >= {a} and time < {b} group by time_bucket(3600, time)",
            twin=f"SELECT (ts // 3600) * 3600, {rq('avg(value)')}, count(*), max(value) "
            f"FROM points WHERE {sel} AND ts >= {a} AND ts < {b} GROUP BY 1",
            ordered=False,
        )
    if template == "sql_rate":
        a, b = window(48)
        return dict(
            template=template, via="http", path="/api/v1/sydraql",
            body=f"select tag.host as host, tag.dc as dc, time_bucket(86400, time) as bucket, "
            f"{rq('rate(value)')} as rate_v, {rq('delta(value)')} as delta_v "
            f"from events.{t} where time >= {a} and time < {b} "
            f"group by tag.host, tag.dc, time_bucket(86400, time)",
            twin=f"SELECT host, dc, (ts // 86400) * 86400, "
            f"CASE WHEN max(ts) > min(ts) THEN "
            f"{rq(f'({DELTA_SQL}) / (max(ts) - min(ts))')} END, {rq(DELTA_SQL)} "
            f"FROM points WHERE {sel} AND ts >= {a} AND ts < {b} GROUP BY 1, 2, 3",
            ordered=False,
        )
    if template == "sql_topk":
        a, b = window(72)
        return dict(
            template=template, via="http", path="/api/v1/sydraql",
            body=f"select time, value from events.{t} where time >= {a} and time < {b} "
            f"order by value desc, time limit 10",
            twin=f"SELECT ts, value FROM points WHERE {sel} AND ts >= {a} AND ts < {b} "
            f"ORDER BY value DESC, ts LIMIT 10",
            ordered=True,
        )
    if template == "api_range":
        a, b = window(12)
        return dict(
            template=template, via="http", path="/api/v1/query/range",
            body=json.dumps({"series": f"events.{t}", "tags": {"host": h, "dc": d},
                             "start": a, "end": b}),
            twin=f"SELECT ts, value FROM points WHERE {sel} AND host = '{h}' AND dc = '{d}' "
            f"AND ts >= {a} AND ts <= {b} ORDER BY ts, value",
            ordered=True,
        )
    if template == "api_find":
        op = "and" if rng.integers(2) else "or"
        cond = f"host = '{h}' {op.upper()} dc = '{d}'"
        return dict(
            template=template, via="http", path="/api/v1/query/find",
            body=json.dumps({"tags": {"host": h, "dc": d}, "op": op}),
            twin=f"SELECT count(*) FROM (SELECT DISTINCT series, host, dc FROM points "
            f"WHERE {cond})",
            ordered=True,
        )
    if template == "pg_range":
        a, b = window(6)
        return dict(
            template=template, via="pg",
            body=f"SELECT time, value FROM events.{t} WHERE time >= {a} AND time < {b} "
            f"AND tag.dc = '{d}'",
            twin=f"SELECT ts, value FROM points WHERE {sel} AND dc = '{d}' "
            f"AND ts >= {a} AND ts < {b}",
            ordered=False,
        )
    if template == "pg_agg":
        a, b = window(24)
        return dict(
            template=template, via="pg",
            body=f"SELECT count(value) AS n, max(value) AS max_v FROM events.{t} "
            f"WHERE time >= {a} AND time < {b}",
            twin=f"SELECT count(value), max(value) FROM points WHERE {sel} "
            f"AND ts >= {a} AND ts < {b}",
            ordered=True,
        )
    raise ValueError(template)


def ingest_batch(rng: np.random.Generator, k: int) -> dict:
    """Batch k: INGEST_BATCH points in hour k after the loaded window, over
    INGEST_SERIES series that no earlier batch used."""
    hour = T_END + k * 3600
    secs = rng.choice(3600, INGEST_BATCH, replace=False)
    values = np.round(rng.exponential(50.0, INGEST_BATCH), 2)
    rows = [
        {"series": f"ingest.b{k}", "tags": {"host": f"h{i % INGEST_SERIES}"},
         "ts": int(hour + secs[i]), "value": float(values[i])}
        for i in range(INGEST_BATCH)
    ]
    return dict(k=k, hour=hour, rows=rows,
                body="\n".join(json.dumps(r) for r in rows))


def post_batch(client: "Client", batch: dict) -> int:
    status, data = client.http("POST", "/api/v1/ingest", batch["body"])
    if status != 200:
        raise RuntimeError(f"HTTP {status}: {data[:200]!r}")
    n = json.loads(data)["ingested"]
    if n != len(batch["rows"]):
        raise RuntimeError(f"ingested {n} of {len(batch['rows'])}")
    return n


def visibility_op(batch: dict) -> dict:
    """Read of an acknowledged batch's series: must see every point."""
    k, hour = batch["k"], batch["hour"]
    return dict(
        template="ingest_visible", via="http", path="/api/v1/sydraql",
        body=f"select tag.host as host, count() as n, {rq('sum(value)')} as sum_v "
        f"from ingest.b{k} where time >= {hour} and time < {hour + 3600} group by tag.host",
        twin=f"SELECT host, count(*), {rq('sum(value)')} FROM ingested WHERE batch = {k} "
        f"GROUP BY host",
        ordered=False,
    )


# --- clients --------------------------------------------------------------

class Client:
    """One closed-loop client: a keep-alive HTTP connection and a pgwire
    session, used strictly one request at a time."""

    def __init__(self, http_addr, pg_addr):
        self.http_addr, self.pg_addr = tuple(http_addr), tuple(pg_addr)
        self.conn = None
        self.pg = None

    def http(self, method: str, path: str, body: str) -> tuple[int, bytes]:
        if self.conn is None:
            self.conn = http.client.HTTPConnection(*self.http_addr, timeout=REQUEST_TIMEOUT_S)
        try:
            self.conn.request(method, path, body=body.encode(),
                              headers={"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            data = resp.read()
        except (OSError, http.client.HTTPException):
            self.conn.close()
            self.conn = None
            raise
        if resp.getheader("Connection", "").lower() == "close":
            # the server closes keep-alive after an error reply
            self.conn.close()
            self.conn = None
        return resp.status, data

    def read(self, op: dict):
        if op["via"] == "pg":
            if self.pg is None:
                self.pg = PgConnection(self.pg_addr, timeout=REQUEST_TIMEOUT_S)
            return self.pg.query(op["body"])[1]
        status, data = self.http("POST", op["path"], op["body"])
        if status != 200:
            raise RuntimeError(f"HTTP {status}: {data[:200]!r}")
        obj = json.loads(data)
        if op["path"] == "/api/v1/sydraql":
            return obj["rows"]
        if op["path"] == "/api/v1/query/range":
            return [[r["ts"], r["value"]] for r in obj]
        return obj  # find: series ids

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
        if self.pg is not None:
            self.pg.close()


def timed(records: list, kind: str, op: dict, fn):
    t0 = time.perf_counter()
    try:
        out, err = fn(), None
    except Exception as exc:  # noqa: BLE001 - a failed request is counted, not fatal
        out, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
    t1 = time.perf_counter()
    records.append(dict(kind=kind, op=op, t0=t0, t1=t1, out=out, err=err))
    return out, err


# --- result checks ----------------------------------------------------------

def _norm(v):
    if v is None:
        return None
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return v
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    return v


def _key(row):
    return tuple((0, "") if v is None else ((1, v) if isinstance(v, float) else (2, str(v)))
                 for v in row)


def rows_match(got, want, ordered: bool) -> str | None:
    """None when the served rows equal the twin's (floats to 1e-9 relative),
    else a reason."""
    g = [[_norm(v) for v in r] for r in got]
    w = [[_norm(v) for v in r] for r in want]
    if len(g) != len(w):
        return f"rows {len(g)} != twin {len(w)}"
    if not ordered:
        g, w = sorted(g, key=_key), sorted(w, key=_key)
    for rg, rw in zip(g, w):
        if len(rg) != len(rw):
            return f"width {len(rg)} != twin {len(rw)}"
        for a, b in zip(rg, rw):
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) > 1e-9 * max(1.0, abs(b)):
                    return f"value {a} != twin {b}"
            elif a != b:
                return f"value {a!r} != twin {b!r}"
    return None


def check_read(con, op: dict, out) -> str | None:
    want = con.execute(op["twin"]).fetchall()
    if op["template"] == "api_find":
        n = want[0][0]
        if len(out) != n or len(set(out)) != len(out):
            return f"find returned {len(out)} ids, twin {n}"
        return None
    return rows_match(out, want, op["ordered"])


# --- the workloads ------------------------------------------------------------

class ServerProcess:
    def __init__(self, root: str, sf_dir: str, table: str, trace: bool, env: dict, log: str):
        cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                            "server_child.py"),
               "--sf-dir", sf_dir, "--table", table]
        if trace:
            cmd.append("--trace")
        self.log = open(log, "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, env=env, text=True, cwd=root)

    def ready(self, timeout: float) -> dict:
        box: list = []
        t = threading.Thread(target=lambda: box.append(self.proc.stdout.readline()),
                             daemon=True)
        t.start()
        t.join(timeout)
        if not box or not box[0]:
            raise RuntimeError("server process did not become ready")
        return json.loads(box[0])

    def command(self, line: str) -> str:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        return self.proc.stdout.readline().strip()

    def stop(self) -> None:
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("stop\n")
                self.proc.stdin.flush()
                self.proc.stdin.close()
                self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


def run_serving(workload: str, ctx: dict) -> dict:
    """Runs one serving workload; returns the raw records and counters for
    ``report.py``."""
    import duckdb

    seed, seconds, trace, work = ctx["seed"], ctx["seconds"], ctx["trace"], ctx["work"]
    table = os.path.join(work, "table")
    server = ServerProcess(ctx["root"], ctx["sf_dir"], table, trace, ctx["env"],
                           os.path.join(work, "server.log"))
    ctx["children"].append(server.proc)
    try:
        info = server.ready(timeout=150)
        con = duckdb.connect()
        con.execute(POINTS_VIEW.format(path=os.path.join(ctx["sf_dir"], "events.parquet")))
        con.execute("CREATE TABLE ingested (batch BIGINT, series VARCHAR, host VARCHAR, "
                    "ts BIGINT, value DOUBLE)")
        acked: list = []  # ingest batches, in acknowledgement order
        client = Client(info["http"], info["pg"])
        rng = np.random.default_rng([seed, 100])

        if workload == "serve_query":
            def cycle(out: list, k: int) -> None:
                for name in SERVE_CYCLE:
                    op = read_op(rng, name)
                    timed(out, "read", op, lambda op=op: client.read(op))
        else:
            # one session: ingest batch k, read batch k back, one range read
            # of the loaded window. Serialized on purpose: with a concurrent
            # reader every read either queued behind the ingest's Spark jobs
            # or did not, and medians of a few ingests moved ~15% between
            # seeds.
            def cycle(out: list, k: int) -> None:
                batch = ingest_batch(rng, k)
                _, err = timed(out, "ingest", batch, lambda: post_batch(client, batch))
                if err is None:
                    acked.append(batch)
                    op = visibility_op(batch)
                    timed(out, "read", op, lambda: client.read(op))
                op = read_op(rng, INGEST_READ)
                timed(out, "read", op, lambda: client.read(op))

        # warm-up, untimed; its replies are checked with the rest
        warm: list = []
        if trace:
            op = read_op(np.random.default_rng([seed, 1]), "api_find")
            timed(warm, "read", op, lambda: client.read(op))
        k = 0
        for k in range(WARM_CYCLES):
            cycle(warm, k)
        setup_s = time.perf_counter() - ctx["t_start"]

        # the timed window: whole cycles, started until the deadline
        records: list = []
        cpu_before = host_cpu_ticks()
        t_measure = time.perf_counter()
        deadline = t_measure + seconds
        try:
            while time.perf_counter() < deadline:
                k += 1
                cycle(records, k)
        finally:
            client.close()
        t_done = time.perf_counter()
        steal_pct = host_steal_pct(cpu_before, host_cpu_ticks())

        trace_dump = None
        if trace:
            path = os.path.join(work, "trace.json")
            if server.command(f"dump {path}") == "dumped":
                with open(path) as fh:
                    trace_dump = json.load(fh)
    finally:
        server.stop()

    # --- checks, after the timed window and with the server stopped ---------
    for b in acked:
        con.executemany(
            "INSERT INTO ingested VALUES (?, ?, ?, ?, ?)",
            [(b["k"], r["series"], r["tags"]["host"], r["ts"], r["value"]) for r in b["rows"]],
        )
    wrong: list[str] = []
    for rec in warm + records:
        if rec["kind"] != "read" or rec["err"] is not None:
            continue
        why = check_read(con, rec["op"], rec["out"])
        if why is not None:
            wrong.append(f"{rec['op']['template']}: {why} [{rec['op']['body'][:160]}]")
    storage = storage_counters(table)
    n_ingest_attempts = sum(1 for r in warm + records if r["kind"] == "ingest")
    loaded = con.execute("SELECT count(*) FROM points").fetchone()[0]
    expected_min = loaded + INGEST_BATCH * len(acked)
    expected_max = loaded + INGEST_BATCH * n_ingest_attempts
    if not expected_min <= storage["points_live"] <= expected_max:
        wrong.append(f"table holds {storage['points_live']} points, expected {expected_min} "
                     f"(loaded {loaded} + {len(acked)} acknowledged batches)")
    return dict(
        setup_s=setup_s, setup_parts=info.get("setup", {}), records=records, warm=warm,
        measure_s=t_done - t_measure, n_clients=CLIENTS, wrong=wrong, storage=storage,
        host_steal_pct=steal_pct,
        trace=trace_dump, untraced_layers=info.get("untraced_layers", []),
    )


def host_cpu_ticks() -> list[int] | None:
    """The aggregate ``cpu`` line of /proc/stat (None where there is none)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def host_steal_pct(before, after) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``host_cpu_ticks`` samples: the host noise a window ran under."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / sum(delta) if sum(delta) else None


def storage_counters(table: str) -> dict:
    """Table counters read from outside, from the manifest's LATEST
    document: live files and bytes, version count, points in the live
    files, and staged orphans (data files on disk that no version lists,
    plus leftover private staging dirs)."""
    import glob

    import pyarrow.parquet as pq

    mdir = os.path.join(table, "_manifest")
    versions = [int(os.path.basename(p)[1:-5])
                for p in glob.glob(os.path.join(mdir, "v*.json"))]
    try:
        with open(os.path.join(mdir, "LATEST")) as fh:
            latest = int(fh.read().strip())
    except (OSError, ValueError):
        latest = max(versions) if versions else None
    files: list[str] = []
    if latest is not None:
        with open(os.path.join(mdir, f"v{latest}.json")) as fh:
            files = json.load(fh)["files"]
    live = set(files)
    on_disk = [os.path.relpath(p, table)
               for p in glob.glob(os.path.join(table, "hour_bucket=*", "*.parquet"))]
    return dict(
        files_live=len(files),
        bytes_live=sum(os.path.getsize(os.path.join(table, f)) for f in files),
        points_live=sum(pq.ParquetFile(os.path.join(table, f)).metadata.num_rows for f in files),
        manifest_versions=len(versions),
        latest_version=latest,
        orphan_files=sum(1 for f in on_disk if f not in live),
        staging_dirs=len(glob.glob(os.path.join(table, ".staging-*"))),
    )
