"""Seeded input tables for the ``query_mix`` workload.

The registered queries read parquet tables from one directory
(``catalog.load``). The benchmark's query set reads three of them,
``documents``, ``customer`` and ``events``; this module writes those
three from a seed, with the column names and types of the repo's
test tables and the same shape:

- ``documents``: 500 texts of 10–99 words from a 30-word vocabulary,
  25 of which are another text plus the word ``dup`` (the near-duplicate
  pairs the pair kernels must find);
- ``customer``: ``events / 10 * 1.5`` TPC-H style rows;
- ``events``: ``n_events`` rows over January 2024 in event-id order,
  from ``customers / 10`` users, five event types and ``{"k": 0..99}``
  props.

The same seed and size give byte-identical files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the row column table part key value hash sort merge join group agg scan "
    "filter query order line customer batch stream window spark data vector "
    "small big fast slow"
).split()
LANGS = (("en", 0.4), ("zh", 0.15), ("de", 0.15), ("fr", 0.15), ("es", 0.15))
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_DOCS, N_DUPS = 500, 25
JAN_US = int(datetime(2024, 1, 1).timestamp() * 1_000_000)
MONTH_US = 30 * 86_400 * 1_000_000


def documents(rng: np.random.Generator) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        for _ in range(N_DOCS)
    ]
    ids = rng.permutation(N_DOCS)
    for copy, orig in zip(ids[:N_DUPS], ids[N_DUPS: 2 * N_DUPS]):
        texts[copy] = texts[orig] + " dup"
    langs, weights = zip(*LANGS)
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(langs, size=N_DOCS, p=weights)),
        "source": [f"src{i}" for i in rng.integers(0, 20, size=N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n), 2),
        "c_mktsegment": list(rng.choice(SEGMENTS, size=n)),
    })


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, MONTH_US, size=n)) + JAN_US
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, size=n)),
        "value": np.round(rng.exponential(50.0, size=n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def generate(root: str, n_events: int, seed: int) -> str:
    """Write the three tables under ``root`` and return it."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_customers = max(10, n_events * 3 // 20)
    tables = {
        "documents": documents(rng),
        "customer": customer(rng, n_customers),
        "events": events(rng, n_events, max(1, n_customers // 10)),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root
