"""Seeded generators for the benchmark's inputs.

`write_events` writes the fixture `events` table that the flagship OHLCV
query reads. `DocStream` yields documents with an embedding, the input of
the near-dup gate.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "vector batch part value a slow scan merge sort hash table join fast column "
    "key spark agg the line order data small customer query window big stream "
    "group row filter"
).split()
DIM = 64
FIXTURE_SEED = 42  # the events fixture is the same in every run
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n)])


def random_text(rng) -> str:
    n = int(rng.integers(20, 101))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _unit_rows(rng, labels: np.ndarray, centers: np.ndarray) -> np.ndarray:
    v = 0.15 * centers[labels] + rng.normal(0.0, 1.0 / 8.0, (len(labels), DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _centers(rng) -> np.ndarray:
    c = rng.normal(0.0, 1.0, (10, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def write_events(sf_dir: str, sf: float) -> None:
    """The fixture `events` table (tick events the flagship OHLCV query
    reads), with the engine's fixture column names, types and value ranges."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_ev = int(1_000_000 * sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": t0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))


class DocStream:
    """Seeded documents `(doc_id, text, embedding)` for the near-dup gate.

    Fresh documents get consecutive ids from 0; `fresh` keeps every emitted
    document so later batches can plant exact copies (new id, same text)
    and redeliveries (same id, same text) of documents already stored."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.centers = _centers(self.rng)
        self.next_id = 0
        self.emitted: list[tuple[int, str, list[float]]] = []

    def fresh(self, n: int) -> list[tuple[int, str, list[float]]]:
        vecs = _unit_rows(self.rng, self.rng.integers(0, 10, n), self.centers)
        rows = []
        for v in vecs:
            rows.append((self.next_id, random_text(self.rng), v.tolist()))
            self.next_id += 1
        self.emitted.extend(rows)
        return rows

    def stored_sample(self, n: int, upto: int) -> list[tuple[int, str, list[float]]]:
        """`n` distinct documents among the first `upto` emitted."""
        idx = self.rng.choice(upto, n, replace=False)
        return [self.emitted[i] for i in idx]
