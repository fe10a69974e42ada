"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy/pyarrow: the program under test sees only
the files these functions write.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- registry

# Table contents are fixed (like a TPC-style generator's fixed seed) so
# every query's oracle result is the same on every run; the workload
# seed only permutes row order and query order.
REGISTRY_CONTENT_SEED = 42
REGISTRY_TABLES = ("events", "documents", "embeddings")

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = (["en"] * 44) + (["zh"] * 15) + (["es"] * 15) + (["de"] * 14) + (["fr"] * 12)
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def registry_tables() -> dict:
    """The three tables the registry workload reads, shaped like the
    repository's test data at sf0.01 (events / documents / embeddings)."""
    rng = np.random.default_rng(REGISTRY_CONTENT_SEED)
    n_events, n_docs, n_vecs = 10_000, 500, 500

    gaps = rng.exponential(259.0, n_events)
    ts_us = (1_704_067_200.0 + np.cumsum(gaps)) * 1e6
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts_us.astype(np.int64), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n_docs)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.018, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.123, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}


def stage_registry_tables(out_dir: str, seed: int) -> str:
    """Write the registry tables to ``out_dir`` with a seed-permuted row
    order; returns the directory (the queries' ``sf_dir``)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in registry_tables().items():
        order = rng.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ------------------------------------------------------------ sink fan-out

TOMBSTONE_SHARE = 0.05
FANOUT_FORMATS = ("json", "parquet", "csv", "json", "csv", "parquet", "json", "avro")
FANOUT_TOPICS = tuple(f"t{i}" for i in range(len(FANOUT_FORMATS)))

VALUE_TYPE = pa.struct(
    [
        ("rid", pa.int64()),
        ("user_id", pa.int64()),
        ("kind", pa.string()),
        ("amount", pa.float64()),
        ("note", pa.string()),
    ]
)
_KINDS = np.array(["click", "view", "purchase", "signup", "error"])
_NOTE_WORDS = np.array(_WORDS)


def topic_weights(n_topics: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n_topics + 1) ** s
    return w / w.sum()


def fanout_epoch(seed: int, epoch: int, n_records: int, n_partitions: int) -> pa.Table:
    """One epoch of Kafka-shaped records: Zipf-skewed topics, struct
    payloads, a share of null-value tombstones. ``value.rid`` is unique
    across epochs so the output check can trace every record."""
    rng = np.random.default_rng([seed, epoch])
    n_topics = len(FANOUT_TOPICS)
    topic_idx = rng.choice(n_topics, n_records, p=topic_weights(n_topics))
    partition = rng.integers(0, n_partitions, n_records)
    # dense per-(topic, partition) offsets in arrival order
    key = topic_idx * n_partitions + partition
    order = np.argsort(key, kind="stable")
    counts = np.bincount(key, minlength=n_topics * n_partitions)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    offset = np.empty(n_records, np.int64)
    offset[order] = np.arange(n_records) - np.repeat(starts, counts)
    offset += epoch * n_records  # offsets keep growing across epochs

    rid = epoch * 10_000_000 + np.arange(n_records, dtype=np.int64)
    words = rng.choice(_NOTE_WORDS, (n_records, 4))
    note = [" ".join(w) for w in words]
    value = pa.StructArray.from_arrays(
        [
            pa.array(rid),
            pa.array(rng.integers(0, 5000, n_records), pa.int64()),
            pa.array(_KINDS[rng.integers(0, len(_KINDS), n_records)]),
            pa.array(np.round(rng.exponential(50.0, n_records), 2)),
            pa.array(note),
        ],
        fields=list(VALUE_TYPE),
        mask=pa.array(rng.random(n_records) < TOMBSTONE_SHARE),
    )
    return pa.table(
        {
            "key": pa.array(rid.astype(str)),
            "value": value,
            "topic": pa.array(np.array(FANOUT_TOPICS)[topic_idx]),
            "partition": pa.array(partition, pa.int64()),
            "offset": pa.array(offset),
        }
    )


# ----------------------------------------------------------- sink stream


def stream_record(rng: np.random.Generator, seq: int, due: float, partition: int,
                  offset: int, tombstone: bool) -> str:
    """One NDJSON line in the replay source's Kafka shape. The payload
    is a JSON string stamped with its due time and a unique id."""
    if tombstone:
        value = None
    else:
        pad = " ".join(_NOTE_WORDS[rng.integers(0, len(_NOTE_WORDS), 30)])
        value = json.dumps({"rid": seq, "due": due, "note": pad[:190]})
    return json.dumps(
        {"key": str(seq), "value": value, "topic": "events",
         "partition": partition, "offset": offset}
    )
