"""sydradb-spark benchmark: served queries, ingest beside reads, and the
batch operator catalog.

    python3 perfbench/run.py --workload serve_query --seed 1 --seconds 22 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 22 [--trace 1]

Run from the root of a checkout: the engine under test is the checkout's
own ``sydradb_spark/``. Inputs are generated from ``--seed``; every reply
is checked, and a wrong result makes the run fail (exit 1) rather than
count as an error. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics (from spans recorded around the
engine's entry points and the Spark status store) with ``--trace 1``.
``--workload all`` runs the three workloads one after another and prints
the full metric table; with ``--trace 1`` it also runs each traced and
reports the tracing overhead. Definitions and predictions: README.md here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_query", "ingest_read", "batch_catalog")
RUN_LIMIT_S = 170  # a run that is still going here is killed and fails


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_env(work: str, mem: str, trace: bool) -> dict:
    """Environment for the engine's JVM: pinned cores and heap, and every
    scratch path inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
        SYDRA_DRIVER_MEM=mem,
        SYDRA_DRIVER_JVM_OPTS=f"-Xms{mem} -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
    )
    env.pop("SPARK_MASTER", None)
    env.pop("SYDRA_SHUFFLE_PARTITIONS", None)
    if trace:
        # keep every job and stage of the run in the status store
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedJobs=1000000 "
            "--conf spark.ui.retainedStages=1000000 pyspark-shell"
        )
    return env


def run_one(args) -> int:
    if not (os.path.isdir(os.path.join(ROOT, "sydradb_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no sydradb_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cache_dir = os.path.join(base, "cache")
    os.makedirs(cache_dir, exist_ok=True)
    children: list = []

    def watchdog():
        print(f"perfbench: run exceeded {RUN_LIMIT_S}s, aborting", file=sys.stderr)
        for p in children:
            p.kill()
        os._exit(3)

    timer = threading.Timer(RUN_LIMIT_S - (time.perf_counter() - T_START), watchdog)
    timer.daemon = True
    timer.start()

    import report

    ctx = dict(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work,
               root=ROOT, sf_dir=os.path.join(work, "sf"), cache_dir=cache_dir,
               t_start=T_START)
    try:
        if args.workload == "batch_catalog":
            os.environ.update(engine_env(work, "3g", ctx["trace"]))
            import batch

            res = batch.run_batch(ctx)
        else:
            import datagen
            import serve

            datagen.write_sf(ctx["sf_dir"], args.seed, serve.HOURS)
            ctx["env"] = engine_env(work, "2g", ctx["trace"])
            ctx["children"] = children
            res = serve.run_serving(args.workload, ctx)
        summary = report.summarize(args.workload, ctx, res)
    finally:
        timer.cancel()
    os.makedirs(os.path.join(base, "reports"), exist_ok=True)
    with open(os.path.join(base, "reports",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(summary, fh, indent=1, default=str)
    print(report.render(summary), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    metrics = summary["per_layer"] if args.trace else summary["end_to_end"]
    print(json.dumps({
        "correct": not summary["wrong"],
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": report.UNITS[k]} for k, v in metrics.items()},
    }), flush=True)
    return 1 if summary["wrong"] else 0


def run_all(args) -> int:
    """Every workload as its own process (untraced, then traced with
    ``--trace 1``); prints the full metric table and one JSON line."""
    import report

    summaries = {}
    rc = 0
    for trace in (0, 1) if args.trace else (0,):
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            rc = rc or p.returncode
            path = os.path.join(ROOT, ".perfbench", "reports",
                                f"{w}-seed{args.seed}-trace{trace}.json")
            if p.returncode in (0, 1) and os.path.exists(path):
                with open(path) as fh:
                    summaries[(w, trace)] = json.load(fh)
            else:
                print(f"perfbench: {w} (trace {trace}) exited {p.returncode}", file=sys.stderr)
    table, line = report.render_all(summaries)
    print(table)
    print(json.dumps(line), flush=True)
    return rc if rc else (0 if line["correct"] else 1)


def main() -> int:
    args = parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
