"""Seeded sf0.1-shaped input tables for the benchmark.

The engine's catalog entries read ``<sf_dir>/<table>.parquet``. This module
writes the three tables the benchmarked entries touch, with the shape of the
repository's sf0.1 test data:

- ``events``: 100k rows over the 30 days from 2024-01-01 UTC (720 hour
  partitions once stored), 1,500 users, five event types, exponential values
  (mean 50, two decimals), ``props`` = ``{"k": 0..99}``. Mapped to points it
  is 50 series (5 event types x 5 hosts x 2 dcs). ``hours`` shortens the
  window at the same density (168 hours: 23,333 rows).
- ``documents``: 5,000 docs of 10-100 words over a 30-word vocabulary; 250 of
  them are an earlier doc's text plus `` dup`` (the near/exact-dup pairs the
  dedup entries look for).
- ``embeddings``: 2,000 unit vectors of dimension 64, labels 0-9.

Everything derives from ``numpy.random.default_rng(seed)``; the same seed
gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1704067200  # 2024-01-01 00:00:00 UTC
HOURS = 720
N_EVENTS = 100_000  # over HOURS; a shorter window keeps this density
N_USERS = 1_500
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_DOCS = 5_000
N_DUP_DOCS = 250
N_VECS = 2_000
VEC_DIM = 64
LANGS = ("en", "en", "zh", "de", "fr", "es")  # en ~ 1/3, four others ~ 1/6
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def events_table(rng: np.random.Generator, hours: int = HOURS) -> pa.Table:
    n = N_EVENTS * hours // HOURS
    span_us = hours * 3600 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n)) + T0 * 1_000_000
    values = np.round(rng.exponential(50.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(values),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def documents_table(rng: np.random.Generator) -> pa.Table:
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    dups = rng.choice(np.arange(1, N_DOCS), N_DUP_DOCS, replace=False)
    for d in sorted(dups):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)]),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator) -> pa.Table:
    x = rng.standard_normal((N_VECS, VEC_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32)),
        }
    )


def write_sf(out_dir: str, seed: int, hours: int = HOURS) -> dict[str, int]:
    """Write events (over ``hours`` hours)/documents/embeddings parquet
    under ``out_dir``; returns row counts. Each table gets its own child
    generator, so one table's shape never shifts another's draws."""
    os.makedirs(out_dir, exist_ok=True)
    ss = np.random.SeedSequence(seed)
    ev_rng, doc_rng, vec_rng = (np.random.default_rng(s) for s in ss.spawn(3))
    tables = {
        "events": events_table(ev_rng, hours),
        "documents": documents_table(doc_rng),
        "embeddings": embeddings_table(vec_rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
