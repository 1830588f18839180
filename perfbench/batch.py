"""``batch_catalog``: the 20 headline catalog entries, in process.

Each entry from ``__spark_entry__.queries()`` runs once through the noop
sink (``count()`` would let Catalyst prune the computed columns); an
``Observation`` on the same action counts its rows, which must equal the
row count of the entry's ``oracle_sql()`` twin on DuckDB over the same
parquet files.

The oracle counts cost about a minute of DuckDB time per dataset, more than
a run can spend, so the tables come from one of ``DATA_VARIANTS`` seeded
variants (``seed % DATA_VARIANTS``) and the counts are cached in the work
dir under the sha256 of the input files: only the first run on a variant
pays for them.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

# pinned copy of bench.py's headline list (one entry per operator family)
ENTRIES = (
    "corpus_curation",
    "doc_chunking",
    "scan_range",
    "agg_bucket_basic",
    "agg_rate_delta",
    "agg_irate_integral",
    "window_moving_avg",
    "fill_linear",
    "topk_desc",
    "dedup_exact",
    "minhash_lsh_pairs",
    "knn_cosine_brute",
    "ann_lsh_cosine",
    "near_dup_scores",
    "text_stats",
    "storage_roundtrip",
    "rollup_served_engine_query",
    "align_asof_ratio",
    "funnel_retention",
    "vocab_lm_coverage",
)
# the entries that query the events points table (sydraQL and points
# operators): the catalog's reads, for ``read_p50_ms``
READ_ENTRIES = (
    "scan_range",
    "agg_bucket_basic",
    "agg_rate_delta",
    "agg_irate_integral",
    "window_moving_avg",
    "fill_linear",
    "topk_desc",
    "rollup_served_engine_query",
    "align_asof_ratio",
)
DATA_VARIANTS = 3
TABLES = ("events", "documents", "embeddings")


def _materialize_ctes(sql: str, skip: set[str]) -> str:
    """Declare every CTE ``AS MATERIALIZED`` except those in ``skip``:
    DuckDB inlines CTEs, so an oracle that reads one CTE from several
    places (or from a recursive step) re-evaluates it each time. The rows
    are the same either way."""
    return re.sub(
        r"(\bWITH\s+(?:RECURSIVE\s+)?|,\s*)([A-Za-z_]\w*) AS \(",
        lambda m: m.group(0) if m.group(2) in skip
        else f"{m.group(1)}{m.group(2)} AS MATERIALIZED (",
        sql,
    )


def _self_referencing(sql: str) -> set[str]:
    """Names of CTEs whose body mentions themselves (recursive steps)."""
    out = set()
    for m in re.finditer(r"\b([A-Za-z_]\w*) AS \(", sql):
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        if re.search(rf"\b{m.group(1)}\b", sql[m.end():i]):
            out.add(m.group(1))
    return out


def oracle_counts(sf_dir: str, cache_dir: str) -> dict[str, int]:
    """Row count of every entry's DuckDB twin over ``sf_dir``, cached by
    the sha256 of the input parquet files."""
    import duckdb

    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    cache = os.path.join(cache_dir, f"oracle-counts-{h.hexdigest()[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    # the near-dup oracles rebuild their union-find input from this dir
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    import __spark_entry__ as E

    sqls = E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    counts = {}
    for name in ENTRIES:
        sql = sqls[name]
        try:
            fast = _materialize_ctes(sql, _self_referencing(sql))
            counts[name] = con.execute(f"SELECT count(*) FROM ({fast})").fetchone()[0]
        except duckdb.Error:
            # the rewrite is a regex over SQL text: when it lands somewhere
            # DuckDB rejects, run the oracle as written
            counts[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    con.close()
    tmp = cache + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(counts, fh)
    os.replace(tmp, cache)
    return counts


def run_batch(ctx: dict) -> dict:
    import datagen

    sf_dir = ctx["sf_dir"]
    datagen.write_sf(sf_dir, ctx["seed"] % DATA_VARIANTS)
    # oracle first: DuckDB must not share the cores with the timed entries.
    # It is the benchmark's own check, so its time is left out of setup_s.
    t0 = time.perf_counter()
    expected = oracle_counts(sf_dir, ctx["cache_dir"])
    oracle_s = time.perf_counter() - t0

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sydradb_spark.session import get_spark

    spark = get_spark("perfbench-batch")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    import __spark_entry__ as E
    import tracing

    if ctx["trace"]:
        tracing.install_engine_spans(spark)
    queries = E.queries()
    # the first parquet read pays the reader's class loading once
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    setup_s = time.perf_counter() - ctx["t_start"] - oracle_s

    records = []
    wrong = []
    for name in ENTRIES:
        obs = Observation(f"rows_{name}")
        err = None
        t0 = time.perf_counter()
        try:
            with tracing.span(f"batch.{name}", top=True, prefix=f"entry.{name}",
                              sc=sc if ctx["trace"] else None):
                (queries[name](spark, sf_dir)
                 .observe(obs, F.count(F.lit(1)).alias("n"))
                 .write.format("noop").mode("overwrite").save())
        except Exception as exc:  # noqa: BLE001 - a failed entry is counted, not fatal
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        t1 = time.perf_counter()
        rows = obs.get["n"] if err is None else None
        if err is None and rows != expected[name]:
            wrong.append(f"{name}: {rows} rows, oracle {expected[name]}")
        records.append(dict(kind="entry", name=name, t0=t0, t1=t1, err=err, rows=rows))
    trace_dump = None
    if ctx["trace"]:
        trace_dump = {"spans": list(tracing.SPANS), "ledger": tracing.spark_ledger(spark)}
    spark.stop()
    return dict(setup_s=setup_s, setup_parts={"oracle_counts_s": oracle_s}, records=records,
                wrong=wrong, trace=trace_dump,
                measure_s=sum(r["t1"] - r["t0"] for r in records), n_clients=1)
