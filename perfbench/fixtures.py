"""Seeded input generators.

Every input the benchmark feeds the program is made here from the
workload seed, so one seed always gives the same inputs. The tables
follow the shape of the project's ``sf0.1`` fixtures (FIXTURES.md):
``documents`` (5000 short texts over a 30-word vocabulary, with exact
and " dup"-suffixed near duplicates), ``embeddings`` (2000 unit vectors
of dimension 64 with a class label) and ``events`` (100k transfer
events over 30 days).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector customer the join"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
EVENT_TYPES = np.array(["click", "purchase", "signup", "view", "error"])
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400


def _text(rng: np.random.Generator) -> str:
    n = int(rng.integers(8, 100))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def documents(rng: np.random.Generator, n: int = 5000) -> pa.Table:
    texts = [_text(rng) for _ in range(n)]
    # 5% near duplicates (an earlier text plus " dup") and a few exact ones
    for i in rng.choice(np.arange(n // 10, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(n // 10, n), size=4, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)].tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int = 2000, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    v = rng.normal(size=(n, dim)) + 0.5 * centers[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def events(rng: np.random.Generator, n: int = 100_000) -> pa.Table:
    offs = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, n))
    ts = np.datetime64(EVENTS_START, "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)].tolist(),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(seed: int, sf_dir: str, curation: bool) -> dict[str, pa.Table]:
    """Write the events table, and with ``curation`` the documents and
    embeddings tables, as parquet files into ``sf_dir`` (the
    ``<sf_dir>/<name>.parquet`` layout ``load_table`` reads)."""
    tables = {"events": events(np.random.default_rng([seed, 0]))}
    if curation:
        tables["documents"] = documents(np.random.default_rng([seed, 1]))
        tables["embeddings"] = embeddings(np.random.default_rng([seed, 2]))
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return tables


def correlation_id(name: str, content: bytes) -> str:
    """SHA-256 of name ‖ content: the id the file source must derive."""
    return hashlib.sha256(name.encode() + content).hexdigest()


def stream_files(seed: int, n: int, prefix: str, body_bytes: int) -> list[tuple[str, bytes]]:
    """``n`` (name, body) pairs; every 8th file is ``.exe`` (rejected by
    validation, so it must land in the retry leg)."""
    rng = np.random.default_rng([seed, n, body_bytes])
    out = []
    for i in range(n):
        words = []
        size = 0
        target = int(body_bytes * rng.uniform(0.5, 1.5))
        while size < target:
            w = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append(w)
            size += len(w) + 1
        ext = "exe" if i % 8 == 0 else "pdf"
        out.append((f"{prefix}-{i:06d}.{ext}", " ".join(words).encode()))
    return out
