"""Server process for the serving workloads: the pieces of
``python -m sydradb_spark serve``, started by the benchmark's own launcher.

Setup (timed by the parent): start Spark, write the generated ``events``
table as points with ``storage.write_points``, open a ``SydraQLEngine`` on
the table and start ``SydraHttpServer`` and ``PgWireServer`` on ephemeral
ports. One JSON line on stdout then reports the bound addresses.

Control is one command per stdin line:

- ``dump <path>``: write the recorded spans and the per-job-group Spark
  ledger (traced mode) to ``<path>`` and answer ``dumped``.
- ``stop`` (or end of input): stop both servers and exit.

Usage (with the checkout and this directory on PYTHONPATH):
    python3 perfbench/server_child.py --sf-dir <dir> --table <dir> [--trace]
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    t0 = time.perf_counter()
    from sydradb_spark.session import get_spark

    spark = get_spark("perfbench-serve")
    spark.sparkContext.setLogLevel("ERROR")
    t_jvm = time.perf_counter()

    from sydradb_spark.storage import write_points
    from sydradb_spark.tables import events_points

    write_points(events_points(spark, args.sf_dir), args.table, mode="overwrite")
    t_write = time.perf_counter()

    missing: list[str] = []
    if args.trace:
        import tracing

        missing = tracing.install_engine_spans(spark)

    from sydradb_spark.compat.wire import PgWireServer
    from sydradb_spark.server import SydraHttpServer
    from sydradb_spark.sydraql.engine import SydraQLEngine

    engine = SydraQLEngine(spark, storage_path=args.table)
    http = SydraHttpServer(engine, port=0).start()
    pg = PgWireServer(engine, port=0).start()
    t_ready = time.perf_counter()
    print(
        json.dumps(
            {
                "http": list(http.addr),
                "pg": list(pg.addr),
                "setup": {
                    "jvm_s": t_jvm - t0,
                    "table_write_s": t_write - t_jvm,
                    "server_start_s": t_ready - t_write,
                },
                "untraced_layers": missing,
            }
        ),
        flush=True,
    )
    try:
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "dump":
                import tracing

                with open(arg, "w") as fh:
                    json.dump(
                        {
                            "spans": list(tracing.SPANS),
                            "ledger": tracing.spark_ledger(spark) if args.trace else {},
                        },
                        fh,
                    )
                print("dumped", flush=True)
            elif cmd == "stop":
                break
    finally:
        http.stop()
        pg.stop()
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
