"""Seeded input tables for the analytic queries the benchmark runs.

The package's ``QUERIES`` read a star-schema directory of parquet tables
(one ``<name>.parquet`` per table). The benchmark runs the queries that
read only ``events``, ``documents`` and ``embeddings`` (see
``workloads.QUERY_SUBSET``), so it writes just those three, from
``--seed``, with the column types and value shapes the queries expect:

- ``events``: click/purchase/view/signup/error events of a few dozen users
  over 30 days, dense enough that clicks fall within an hour before a
  same-user purchase (as-of and range joins have matches);
- ``documents``: bag-of-words texts over a small vocabulary, with exact
  duplicates and near-duplicates (one word changed), so the dedup
  functions find groups and candidate pairs;
- ``embeddings``: 64-dimensional float32 vectors with a class label.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

EVENT_TYPES = ("click", "purchase", "view", "signup", "error")
LANGS = ("en", "en", "de", "fr", "es", "zh")
WORDS = (
    "the a data row column table key value join merge filter group sort "
    "order agg hash scan window batch stream spark query line part customer "
    "fast slow big small vector dup"
).split()
BASE = dt.datetime(2024, 1, 1)
EVENTS_PER_USER = 60
DIM = 64


def events(rng: random.Random, n: int) -> list[dict]:
    n_users = max(1, n // EVENTS_PER_USER)
    span_us = 30 * 86_400 * 1_000_000
    ts = sorted(rng.randrange(span_us) for _ in range(n))
    return [
        {
            "event_id": i,
            "ts": BASE + dt.timedelta(microseconds=t),
            "user_id": rng.randrange(n_users),
            "event_type": rng.choice(EVENT_TYPES),
            "value": round(rng.uniform(1.0, 200.0), 2),
            "props": json.dumps({"k": rng.randrange(100)}),
        }
        for i, t in enumerate(ts)
    ]


def documents(rng: random.Random, n: int) -> list[dict]:
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.1:  # exact duplicate of an earlier document
            text = rng.choice(texts)
        elif texts and r < 0.2:  # near-duplicate: one word replaced
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(20, 80)))
        texts.append(text)
    return [
        {
            "doc_id": i,
            "text": text,
            "lang": rng.choice(LANGS),
            "source": f"src{i % 20}",
            "n_chars": len(text),
        }
        for i, text in enumerate(texts)
    ]


def embeddings(rng: random.Random, n: int) -> list[dict]:
    return [
        {
            "vec_id": i,
            "embedding": [rng.gauss(0.0, 0.12) for _ in range(DIM)],
            "label": rng.randrange(10),
        }
        for i in range(n)
    ]


def write(out_dir: str, seed: int, n_events: int, n_docs: int, n_vecs: int) -> int:
    """Write the three tables under ``out_dir``; return their bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    schemas = {
        "events": pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
            ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
        ]),
        "documents": pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ]),
        "embeddings": pa.schema([
            ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
    }
    rows = {
        "events": events(rng, n_events),
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
    }
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, schema in schemas.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pylist(rows[name], schema=schema), path)
        total += os.path.getsize(path)
    return total
