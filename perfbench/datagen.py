"""Seeded input generator for the benchmark.

Every table the workloads read is generated here from ``--seed`` with
numpy and written as parquet under the run's work directory, so the
benchmark never reads a fixture from outside its checkout. Schemas
follow the engine's fixture tables (FIXTURES.md group A):

- ``documents(doc_id, text, lang, source, n_chars)`` — whitespace text
  over a 30-word vocabulary, 10–100 words per document, with a planted
  share of near-duplicates (a copy of an earlier document with its
  last word replaced) so text dedup has multi-member groups;
- ``embeddings(vec_id, embedding array<float>, label)`` — 64-d unit
  vectors (the image space is the first 32 dims, the combined space
  all 64);
- ``orders`` and ``events`` — the two inputs the curated pipeline
  derives its dirty raw metadata and annotation envelopes from.

The default (``bench``) sizes are the sf0.1 fixture's documents and
embeddings counts, and a fifth of its orders and events: at full size
the curated flow and the backfill alone would take over half of a batch
round, and a batch run fits its time budget only at this size.
Only the random draws change with the seed; every count and every ratio
is fixed, so two seeds give the same amount of work.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error", "share")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DIM = 64
IMAGE_DIM = 32


@dataclass(frozen=True)
class Scale:
    docs: int
    vectors: int
    orders: int
    events: int
    near_dup_share: float = 0.04


SCALES = {
    "bench": Scale(docs=5000, vectors=2000, orders=30_000, events=20_000),
    # the benchmark's own tests: sf0.001-sized
    "tiny": Scale(docs=500, vectors=500, orders=1_500, events=1_000),
    # the batch workload's oracle-check inputs: small enough for the
    # DuckDB recursive-CTE oracles to finish in seconds
    "check": Scale(docs=200, vectors=300, orders=3_000, events=2_000),
}


def unit_vectors(rng: np.random.Generator, n: int, dim: int = DIM) -> np.ndarray:
    x = rng.standard_normal((n, dim))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def random_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents(rng: np.random.Generator, n: int, near_dup_share: float) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < near_dup_share:
            words = texts[int(rng.integers(0, i))].split()
            words[-1] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(random_text(rng, int(rng.integers(10, 101))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = unit_vectors(rng, n)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(0, 365 * 7, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n).astype(np.int64)),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(900, 400_000, n), 2),
            "o_orderdate": pa.array(
                (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
            ),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        }
    )


def events(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.integers(1, 60_000_000, n)  # microseconds between events
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, 2000, n).astype(np.int64)),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.uniform(0, 200, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(seed: int, out_dir: str, scale: Scale, names: tuple[str, ...]) -> str:
    """Write the named tables for ``seed`` under ``out_dir`` (one
    parquet file each, the fixture layout) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "documents": lambda r: documents(r, scale.docs, scale.near_dup_share),
        "embeddings": lambda r: embeddings(r, scale.vectors),
        "orders": lambda r: orders(r, scale.orders),
        "events": lambda r: events(r, scale.events),
    }
    for i, name in enumerate(("documents", "embeddings", "orders", "events")):
        if name in names:
            # one child stream per table: adding a table to ``names``
            # never changes the draws of another
            rng = np.random.default_rng([seed, i])
            pq.write_table(makers[name](rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
