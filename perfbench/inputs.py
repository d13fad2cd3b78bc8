"""Seeded input generators.

Every table is written as parquet under the run's work directory, so the
library sees only generated files, never anything outside the checkout.

- ``events``: a fixed base of ``BASE_EVENTS`` synthetic events cloned
  ``CLONES`` times. Offsets (``event_id``) shift by one base per clone so
  object names stay distinct. The seed picks the row order inside each
  clone, the record payloads and a user salt: a permutation of the user ids
  inside each ``user_id % 4`` class, so record keys change while each
  record keeps its Kafka partition. The seed does not move records between
  partitions: with 20 large objects hashed onto 4 write tasks, moving them
  would change the object names, hence the task layout, and the slowest
  task would swing the write time by ±20% from seed to seed.
- stream files: the same events, mapped to Kafka records by
  ``records.kafka_records_from_events`` and split into parquet files.
- ``documents`` and ``embeddings``: fixed registry-shaped tables for the
  curation layer. They do not depend on the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EVENTS = 20_000
CLONES = 5
N_USERS = 1_500  # a multiple of N_PARTITIONS, so every salt class is full
N_PARTITIONS = 4  # records.kafka_records_from_events: partition = user_id % 4
EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"])
_BASE_SEED = 42
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EMBED_DIM = 64
N_LABELS = 10


def _base_events() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(_BASE_SEED)
    n = BASE_EVENTS
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": _EPOCH_US + np.cumsum(rng.integers(1, 200_000_000, n)),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.random(n) * 50, 2),
    }


def _user_salt(rng: np.random.Generator) -> np.ndarray:
    """user id -> salted user id, a permutation within each partition class."""
    per_class = N_USERS // N_PARTITIONS
    salt = np.empty(N_USERS, dtype=np.int64)
    for r in range(N_PARTITIONS):
        salt[r::N_PARTITIONS] = rng.permutation(per_class) * N_PARTITIONS + r
    return salt


def events_table(seed: int, clones: int = CLONES) -> pa.Table:
    """``clones`` shifted copies of the base events, ordered, salted and given
    payloads by ``seed`` (see module docstring)."""
    base = _base_events()
    rng = np.random.default_rng(seed)
    users = _user_salt(rng)[base["user_id"]]
    parts = []
    for c in range(clones):
        order = rng.permutation(BASE_EVENTS)
        ks = rng.integers(0, 100, BASE_EVENTS)
        parts.append(
            pa.table(
                {
                    "event_id": base["event_id"][order] + c * BASE_EVENTS,
                    "ts": pa.array(
                        (base["ts_us"][order] + c * 1_000).astype("datetime64[us]")
                    ),
                    "user_id": users[order],
                    "event_type": base["event_type"][order],
                    "value": base["value"][order],
                    "props": pa.array([f'{{"k": {k}, "c": {c}}}' for k in ks]),
                }
            )
        )
    return pa.concat_tables(parts)


def write_events(sf_dir: str, seed: int, clones: int = CLONES) -> int:
    """Write ``<sf_dir>/events.parquet``; returns the row count."""
    os.makedirs(sf_dir, exist_ok=True)
    table = events_table(seed, clones)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
    return table.num_rows


def write_registry_tables(sf_dir: str, n_docs: int, n_vectors: int) -> None:
    """Fixed ``documents`` and ``embeddings`` tables shaped like the
    registry's: word-salad texts, ~5% of them near-duplicates (a copy of an
    earlier text plus " dup"), and 64-dim float vectors with 10 labels."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(_BASE_SEED)
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": _LANGS[rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    vectors = (rng.standard_normal((n_vectors, EMBED_DIM)) * 0.1).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n_vectors, dtype=np.int64),
                "embedding": pa.array(list(vectors), type=pa.list_(pa.float32())),
                "label": rng.integers(0, N_LABELS, n_vectors).astype(np.int32),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
