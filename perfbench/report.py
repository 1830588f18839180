"""Metric definitions and the arithmetic from raw run records to metrics.

End-to-end metrics (``--trace 0``) are defined on every workload through
the workload's primary operation: a served read on ``serve_query``, an
acknowledged ingest POST on ``ingest_read``, one catalog entry on
``batch_catalog``. Per-layer metrics (``--trace 1``) come from the spans in
``tracing.py`` and the Spark status store; a layer that a workload never
calls reports 0.
"""

from __future__ import annotations

import statistics

import batch
import serve

FLUSH_POLICY = ("sandbox figures: Hadoop local FileSystem, no fsync, reads served "
                "from the OS page cache; not a storage device's numbers")

END_TO_END = {
    "setup_s": "s",
    "op_median_ms": "ms",
    "ops_per_s": "1/s",
    "read_median_ms": "ms",
}
PER_LAYER = {
    "server.overhead_ms": "ms",
    "compat.translate_us": "us",
    "compat.wire.overhead_ms": "ms",
    "sydraql.parse_us": "us",
    "sydraql.validate_us": "us",
    "sydraql.translate_ms": "ms",
    "api.to_response_ms": "ms",
    "api.collect_ms": "ms",
    "tagindex.find_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.executor_run_ms_per_query": "ms",
    "spark.executor_cpu_ms_per_query": "ms",
    "storage.write_points_ms": "ms",
    "storage.commit_ms": "ms",
    "storage.read_points_ms": "ms",
    "server.ingest_parse_ms": "ms",
    "ingest.unattributed_ms": "ms",
    "spark.jobs_per_ingest": "count",
    "spark.tasks_per_ingest": "count",
    "storage.files_live": "count",
    "storage.bytes_per_point": "B",
    "storage.manifest_versions": "count",
    "storage.orphans": "count",
    "read_p95_ms": "ms",
    "trace.op_median_ms": "ms",
    "trace.read_median_ms": "ms",
    "read_p50_ms": "ms",
}
# batch_catalog adds one ledger row per catalog entry
BATCH_LAYER = {}
for _e in batch.ENTRIES:
    BATCH_LAYER[f"batch.{_e}_s"] = "s"
    BATCH_LAYER[f"spark.jobs.{_e}"] = "count"
    BATCH_LAYER[f"spark.tasks.{_e}"] = "count"
    BATCH_LAYER[f"spark.executor_cpu_ms.{_e}"] = "ms"
UNITS = {**END_TO_END, **PER_LAYER, **BATCH_LAYER}


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100); 0.0 when empty."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _ms(recs) -> list[float]:
    return [(r["t1"] - r["t0"]) * 1e3 for r in recs]


def _template(r) -> str:
    """A read's template; an ingest or a catalog entry is its own kind."""
    return r.get("op", {}).get("template", r["kind"])


def mix_median_ms(recs) -> float:
    """Median latency of each template, weighted by the template's share of
    ``recs``. A read mix is multi-modal by template (140-550 ms on
    serve_query), so its plain median sits in a gap between two templates
    and jumps with one sample; each template's own median does not. Records
    without a template (ingests, catalog entries) form one group: a plain
    median."""
    groups: dict = {}
    for r in recs:
        groups.setdefault(_template(r), []).append((r["t1"] - r["t0"]) * 1e3)
    n = sum(len(v) for v in groups.values())
    return sum(len(v) * pct(v, 50) for v in groups.values()) / n if n else 0.0


def summarize(workload: str, ctx: dict, res: dict) -> dict:
    recs = res["records"]
    primary_kind = {"serve_query": "read", "ingest_read": "ingest",
                    "batch_catalog": "entry"}[workload]
    primary = [r for r in recs if r["kind"] == primary_kind]
    ok_primary = [r for r in primary if r["err"] is None]
    ok_all = [r for r in recs if r["err"] is None]
    if workload == "batch_catalog":
        reads = [r for r in recs if r["name"] in batch.READ_ENTRIES and r["err"] is None]
    else:
        reads = [r for r in recs if r["kind"] == "read" and r["err"] is None]
    failed = sum(1 for r in recs if r["err"] is not None)
    span = (max(r["t1"] for r in recs) - min(r["t0"] for r in recs)) if recs else 0.0
    op_ms = _ms(ok_primary)
    read_ms = _ms(reads)
    e2e = {
        "setup_s": res["setup_s"],
        "op_median_ms": mix_median_ms(ok_primary),
        "ops_per_s": len(ok_all) / span if span > 0 else 0.0,
        "read_median_ms": mix_median_ms(reads),
    }
    summary = {"setup_s": res["setup_s"],
               "error_rate": failed / len(recs) if recs else 0.0}
    if workload == "batch_catalog":
        summary["batch_total_s"] = sum(r["t1"] - r["t0"] for r in recs)
    else:
        summary.update(
            query_p50_ms=pct(read_ms, 50),
            query_p95_ms=pct(read_ms, 95),
            query_samples=len(read_ms),
            query_p95_supported=len(read_ms) >= 200,
            query_throughput_qps=(len(reads) / res["measure_s"]) if res["measure_s"] else 0.0,
        )
        st = res["storage"]
        summary["stored_bytes_per_point"] = st["bytes_live"] / max(st["points_live"], 1)
        if workload == "ingest_read":
            summary.update(
                ingest_p50_ms=pct(op_ms, 50),
                ingest_samples=len(op_ms),
                ingest_points_per_s=(serve.INGEST_BATCH * len(ok_primary) / span
                                     if span > 0 else 0.0),
            )
    by_template: dict = {}
    for r in recs:
        if r["err"] is None and r["kind"] == "read":
            by_template.setdefault(r["op"]["template"], []).append((r["t1"] - r["t0"]) * 1e3)
    templates = {k: [len(v), round(pct(v, 50), 1), round(max(v), 1)]
                 for k, v in sorted(by_template.items())}
    out = dict(
        latencies_ms={k: [round((r["t1"] - r["t0"]) * 1e3, 1) for r in recs if r["kind"] == k]
                      for k in sorted({r["kind"] for r in recs})},
        templates_n_p50_max_ms=templates,
        raw_kind_template_ms=[[r["kind"], _template(r), round((r["t1"] - r["t0"]) * 1e3, 2)]
                              for r in recs],
        workload=workload, seed=ctx["seed"], seconds=ctx["seconds"], trace=ctx["trace"],
        clients=res["n_clients"], loop="closed", attempted=len(recs), failed=failed,
        wrong=res["wrong"], errors=[r["err"] for r in recs if r["err"]][:10],
        end_to_end=e2e, summary_metrics=summary, storage=res.get("storage"),
        setup_parts=res.get("setup_parts"), flush_policy=FLUSH_POLICY,
        host_steal_pct=res.get("host_steal_pct"),
        untraced_layers=res.get("untraced_layers", []),
    )
    if ctx["trace"]:
        out["per_layer"] = per_layer(workload, res, e2e, read_ms)
    return out


def per_layer(workload: str, res: dict, e2e: dict, read_ms: list[float]) -> dict:
    """Per-layer metrics from one traced run. Span-side and client-side
    figures cover the same requests: the warm-up and the timed window."""
    m = {k: 0.0 for k in PER_LAYER}
    if workload == "batch_catalog":
        m.update({k: 0.0 for k in BATCH_LAYER})
    m["trace.op_median_ms"] = e2e["op_median_ms"]
    m["trace.read_median_ms"] = e2e["read_median_ms"]
    m["read_p50_ms"] = pct(read_ms, 50)
    m["read_p95_ms"] = pct(read_ms, 95)
    st = res.get("storage")
    if st:
        m["storage.files_live"] = st["files_live"]
        m["storage.bytes_per_point"] = st["bytes_live"] / max(st["points_live"], 1)
        m["storage.manifest_versions"] = st["manifest_versions"]
        m["storage.orphans"] = st["orphan_files"] + st["staging_dirs"]
    tr = res.get("trace") or {"spans": [], "ledger": {}}
    spans = [tuple(s) for s in tr["spans"]]  # (id, parent, request, name, t0, t1)
    ledger = tr["ledger"]
    by_id = {s[0]: s for s in spans}
    children: dict = {}
    for s in spans:
        if s[1] is not None:
            children.setdefault(s[1], []).append(s)
    dur = {s[0]: (s[5] - s[4]) * 1e3 for s in spans}  # ms

    def kids(s):
        return children.get(s[0], [])

    def below(s):
        out, stack = [], list(kids(s))
        while stack:
            c = stack.pop()
            out.append(c)
            stack.extend(kids(c))
        return out

    def mean_ms(sel):
        return _mean(dur[s[0]] for s in sel)

    tops = [s for s in spans if s[1] is None]
    handles = [s for s in tops if s[3] in ("server.handle", "compat.wire.handle")]
    ingests = [s for s in handles if any(c[3] == "server.ingest" for c in below(s))]
    reads = [s for s in handles if s not in ingests]
    http_reads = [s for s in reads if s[3] == "server.handle"]
    pg_reads = [s for s in reads if s[3] == "compat.wire.handle"]
    in_reads = [c for s in reads for c in below(s)]
    in_ingests = [c for s in ingests for c in below(s)]

    def named(sel, name, under=None):
        return [s for s in sel if s[3] == name
                and (under is None or (s[1] is not None and by_id[s[1]][3] == under))]

    m["compat.translate_us"] = mean_ms(named(in_reads, "compat.translate")) * 1e3
    m["sydraql.parse_us"] = mean_ms(named(in_reads, "sydraql.parse")) * 1e3
    m["sydraql.validate_us"] = mean_ms(named(in_reads, "sydraql.validate")) * 1e3
    m["sydraql.translate_ms"] = mean_ms(named(in_reads, "sydraql.translate"))
    m["api.to_response_ms"] = mean_ms(named(in_reads, "api.to_response"))
    m["api.collect_ms"] = mean_ms(named(in_reads, "spark.collect", under="api.to_response"))
    finds = [s for s in http_reads if any(c[3] == "tagindex.find" for c in kids(s))]
    # find_series builds the plan; the handler's collect right after runs it
    m["tagindex.find_ms"] = _mean(sum(dur[c[0]] for c in kids(s)) for s in finds)

    recs = [r for r in res.get("warm", []) + res["records"] if r["err"] is None]
    client_http = _ms(r for r in recs if r["kind"] == "read" and r["op"]["via"] == "http")
    client_pg = _ms(r for r in recs if r["kind"] == "read" and r["op"]["via"] == "pg")
    client_ingest = _ms(r for r in recs if r["kind"] == "ingest")
    if http_reads and client_http:
        m["server.overhead_ms"] = _mean(client_http) - _mean(
            sum(dur[c[0]] for c in kids(s)) for s in http_reads)
    if pg_reads and client_pg:
        m["compat.wire.overhead_ms"] = _mean(client_pg) - _mean(
            sum(dur[c[0]] for c in kids(s)) for s in pg_reads)

    def ledger_mean(sel, key):
        return _mean(ledger.get(s[2], {}).get(key, 0) for s in sel)

    m["spark.jobs_per_query"] = ledger_mean(reads, "jobs")
    m["spark.tasks_per_query"] = ledger_mean(reads, "tasks")
    m["spark.executor_run_ms_per_query"] = ledger_mean(reads, "run_ms")
    m["spark.executor_cpu_ms_per_query"] = ledger_mean(reads, "cpu_ms")
    if ingests:
        n = len(ingests)
        # per-request sums, so a layer called twice per ingest counts twice
        write = sum(dur[s[0]] for s in named(in_ingests, "storage.write_points")) / n
        read = sum(dur[s[0]] for s in named(in_ingests, "storage.read_points")) / n
        m["storage.write_points_ms"] = write
        m["storage.commit_ms"] = sum(dur[s[0]] for s in named(in_ingests, "storage.commit")) / n
        m["storage.read_points_ms"] = read
        parse = []
        for c in named(in_ingests, "server.ingest"):
            parse.append(dur[c[0]] - sum(dur[g[0]] for g in kids(c)
                                         if g[3] == "engine.ingest_points"))
        m["server.ingest_parse_ms"] = _mean(parse)
        m["ingest.unattributed_ms"] = _mean(client_ingest) - (
            write + read + m["server.ingest_parse_ms"])
        m["spark.jobs_per_ingest"] = ledger_mean(ingests, "jobs")
        m["spark.tasks_per_ingest"] = ledger_mean(ingests, "tasks")
    for s in tops:
        if s[3].startswith("batch."):
            name = s[3][len("batch."):]
            g = ledger.get(s[2], {})
            m[f"batch.{name}_s"] = dur[s[0]] / 1e3
            m[f"spark.jobs.{name}"] = g.get("jobs", 0)
            m[f"spark.tasks.{name}"] = g.get("tasks", 0)
            m[f"spark.executor_cpu_ms.{name}"] = g.get("cpu_ms", 0.0)
    return m


def render(s: dict) -> str:
    lines = [f"== {s['workload']} seed={s['seed']} seconds={s['seconds']} trace={int(s['trace'])} "
             f"clients={s['clients']} ({s['loop']} loop)  attempted={s['attempted']} "
             f"failed={s['failed']} wrong={len(s['wrong'])}"]
    if s.get("host_steal_pct") is not None:
        lines.append(f"   host CPU steal in the window: {s['host_steal_pct']:.1f}%")
    for k, v in s["summary_metrics"].items():
        lines.append(f"   {k:28s} {v}")
    if s.get("templates_n_p50_max_ms"):
        lines.append(f"   reads by template [n, p50 ms, max ms]: {s['templates_n_p50_max_ms']}")
    if s.get("storage"):
        lines.append(f"   storage {s['storage']}  [{s['flush_policy']}]")
    if s.get("per_layer"):
        for k, v in s["per_layer"].items():
            if v:
                lines.append(f"   {k:44s} {v:.6g} {UNITS[k]}")
    for w in s["wrong"][:10]:
        lines.append(f"   WRONG {w}")
    for e in s["errors"]:
        lines.append(f"   ERROR {e}")
    return "\n".join(lines)


SUMMARY_UNITS = {
    "setup_s": "s", "query_p50_ms": "ms", "query_p95_ms": "ms", "query_samples": "count",
    "query_throughput_qps": "1/s", "ingest_p50_ms": "ms", "ingest_samples": "count",
    "ingest_points_per_s": "1/s", "stored_bytes_per_point": "B", "batch_total_s": "s",
    "error_rate": "ratio", "query_p95_supported": "bool",
}


def render_all(summaries: dict) -> tuple[str, dict]:
    lines, metrics = [], {}
    correct, attempted, failed = True, 0, 0
    for (w, trace), s in sorted(summaries.items(), key=lambda kv: (kv[0][1], kv[0][0])):
        lines.append(render(s))
        if trace:
            continue
        correct &= not s["wrong"]
        attempted += s["attempted"]
        failed += s["failed"]
        for k, v in s["summary_metrics"].items():
            metrics[f"{w}.{k}"] = {"value": v, "unit": SUMMARY_UNITS[k]}
        t = summaries.get((w, 1))
        if t:
            metrics[f"{w}.trace_overhead_op_median_ms"] = {
                "value": t["per_layer"]["trace.op_median_ms"] - s["end_to_end"]["op_median_ms"],
                "unit": "ms"}
    lines.append("== end-to-end metrics (untraced runs)")
    for k, v in metrics.items():
        lines.append(f"   {k:44s} {v['value']} {v['unit']}")
    return "\n".join(lines), {"correct": correct and bool(summaries),
                              "attempted": max(attempted, 1), "failed": failed,
                              "metrics": metrics}
