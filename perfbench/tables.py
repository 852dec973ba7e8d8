"""Seeded ``documents`` / ``embeddings`` / ``events`` tables for ``curation_ops``.

Same schemas and value shapes as the engine's query corpus (the tables the
curation queries read), so every query of the workload has its oracle SQL:

* documents: texts drawn from a 30-word vocabulary, 10-99 words, and 5% of
  them near-duplicates of an earlier text with one or two ``dup`` words
  appended (the dedup/cluster queries need real duplicate clusters);
* embeddings: 64-d unit vectors with a weak per-label offset (10 labels);
* events: 5 event types, ~4.3 min mean inter-arrival, exponential values
  (mean 50, so hourly per-user series have DTW near-pairs), ``props`` JSON.

Money-like doubles keep two decimals, as the oracle-parity rules assume.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

#: row counts: the engine corpus' 0.01 scale factor
N_DOCS = 500
N_VECS = 500
N_EVENTS = 10_000
N_USERS = 150
DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05


def documents(rng: np.random.Generator, n: int = N_DOCS) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int = N_VECS) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    centres = rng.normal(0.0, 0.02, (N_LABELS, DIM))
    x = rng.normal(0.0, 0.125, (n, DIM)) + centres[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def events(rng: np.random.Generator, n: int = N_EVENTS) -> pa.Table:
    gaps_us = rng.exponential(259e6, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(np.clip(rng.exponential(50.0, n), 0.01, 490.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_tables(root: str, seed: int) -> list[str]:
    """Write ``<name>.parquet`` under ``root``; byte-identical per seed."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    made = {"documents": documents(rng), "embeddings": embeddings(rng), "events": events(rng)}
    for name, table in made.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return list(made)
