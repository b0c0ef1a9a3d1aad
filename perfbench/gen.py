"""Seeded input generator for the engine benchmark.

Every workload's input is made here from ``(seed, spec)`` alone and
written in the schemas the query registry already reads:

- ``events(event_id, ts, user_id, event_type, value, props)``: one
  series per ``event_type`` (``sources.events_as_series``);
- ``documents(doc_id, text, lang, source, n_chars)``.

The same seed and spec always give byte-identical tables.  The specs
vary the properties the engine's cost depends on: series count against
series length (wide versus long) and the near-duplicate share of a
corpus (which sets the MinHash-LSH candidate volume).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
STEP_US = 300_000_000  # 5-minute grid, as NAB's realKnownCause series
PERIOD = 48  # season length in points
DUP_EDITS = 2  # word substitutions in a near-duplicate document
MIN_WORDS, MAX_WORDS = 20, 60  # length of an original document

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


@dataclass(frozen=True)
class SeriesSpec:
    """``n_series`` NAB-shaped series of ``length`` points each."""

    n_series: int
    length: int
    spike_rate: float = 0.004


@dataclass(frozen=True)
class CorpusSpec:
    """``n_docs`` documents, ``dup_share`` of them near-copies of an
    earlier document with ``DUP_EDITS`` word substitutions."""

    n_docs: int
    dup_share: float


def series_id(i: int) -> str:
    return f"s{i:05d}"


def series_values(rng: np.random.Generator, spec: SeriesSpec) -> np.ndarray:
    """``(n_series, length)`` values: level + trend + daily season +
    AR(1) noise, with injected spikes and one level shift per series."""
    n, m = spec.n_series, spec.length
    t = np.arange(m, dtype=float)
    level = rng.uniform(50.0, 150.0, (n, 1))
    trend = rng.normal(0.0, 0.01, (n, 1)) * t
    amp = rng.uniform(2.0, 10.0, (n, 1))
    phase = rng.uniform(0.0, 2 * np.pi, (n, 1))
    season = amp * np.sin(2 * np.pi * t / PERIOD + phase)
    eps = rng.normal(0.0, 1.0, (n, m))
    noise = np.empty_like(eps)
    noise[:, 0] = eps[:, 0]
    for j in range(1, m):
        noise[:, j] = 0.5 * noise[:, j - 1] + eps[:, j]
    shift_at = rng.integers(m // 4, 3 * m // 4, n)
    shift = np.where(t[None, :] >= shift_at[:, None], rng.normal(0, 8.0, (n, 1)), 0.0)
    spikes = (rng.random((n, m)) < spec.spike_rate) * rng.choice(
        [-1.0, 1.0], (n, m)
    ) * rng.uniform(15.0, 40.0, (n, m))
    return np.round(level + trend + season + noise + shift + spikes, 4)


def series_table(seed: int, spec: SeriesSpec) -> pa.Table:
    """The events table for ``spec``; row order is shuffled so no
    operator can rely on file order."""
    rng = np.random.default_rng([seed, spec.n_series, spec.length])
    vals = series_values(rng, spec)
    n, m = vals.shape
    sid = np.repeat(np.arange(n), m)
    # distinct timestamps per series; a per-series start offset keeps
    # series from sharing one global grid
    start = rng.integers(0, 288, n) * STEP_US
    ts = T0_US + np.repeat(start, m) + np.tile(np.arange(m) * STEP_US, n)
    order = rng.permutation(n * m)
    return events_from_arrays(sid[order], ts[order], vals.ravel()[order], rng)


def events_from_arrays(
    sid: np.ndarray, ts_us: np.ndarray, value: np.ndarray, rng: np.random.Generator,
    first_event_id: int = 0,
) -> pa.Table:
    k = len(sid)
    names = np.array([series_id(i) for i in range(int(sid.max()) + 1)] if k else [])
    return pa.table(
        {
            "event_id": np.arange(first_event_id, first_event_id + k, dtype=np.int64),
            "ts": pa.array(ts_us.astype(np.int64), pa.timestamp("us")),
            "user_id": rng.integers(0, 1000, k).astype(np.int64),
            "event_type": names[sid] if k else np.array([], dtype=str),
            "value": value.astype(float),
            "props": pa.array(["{}"] * k, pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


VOCAB = (
    "time series anomaly window score model trend season noise spike level "
    "shift forecast residual stream state batch query plan join sort scan "
    "shuffle partition worker kernel filter merge event metric label sensor "
    "machine cluster latency throughput signal error alert threshold median "
    "variance detector change point bayes kalman filter smooth holt winters "
    "theta search index token corpus document dedup hash band bucket minhash "
    "engine spark arrow pandas numpy python java memory disk network cache"
).split()


def corpus_table(seed: int, spec: CorpusSpec) -> pa.Table:
    """The documents table: Zipf-distributed words from ``VOCAB`` plus
    seeded nonce words (so distinct documents rarely collide), with a
    ``dup_share`` of near-duplicates of earlier documents."""
    rng = np.random.default_rng([seed, spec.n_docs, int(spec.dup_share * 1000)])
    vocab = np.array(VOCAB)
    w = 1.0 / np.arange(1, len(vocab) + 1)
    w /= w.sum()
    texts: list[str] = []
    is_dup = rng.random(spec.n_docs) < spec.dup_share
    is_dup[0] = False
    for i in range(spec.n_docs):
        if is_dup[i]:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), DUP_EDITS):
                words[j] = str(rng.choice(vocab, p=w))
        else:
            k = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
            words = list(rng.choice(vocab, k, p=w))
            for j in rng.integers(0, k, max(1, k // 4)):
                words[j] = f"w{int(rng.integers(0, 1 << 20)):x}"
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(spec.n_docs, dtype=np.int64),
            "text": texts,
            "lang": ["en"] * spec.n_docs,
            "source": [f"src{int(s)}" for s in rng.integers(0, 5, spec.n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCUMENTS_SCHEMA,
    )


def write_table(table: pa.Table, path: str) -> int:
    """Write ``table`` as one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)
