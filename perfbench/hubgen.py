"""Seeded input generation for the benchmark.

Everything here is pure numpy + pyarrow, so the inputs of a run depend
only on ``--seed`` and never on the program under test. Hub files use
the hub-log layout the connector reads: hive ``partition=<pid>/``
directories of parquet files in the 8-column file schema, each file
sorted by ``sequenceNumber``, sequence numbers dense from 0.
"""

from __future__ import annotations

import os
from typing import Dict, List, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in microseconds
BASE_US = 1_704_067_200_000_000

FILE_SCHEMA = pa.schema(
    [
        pa.field("body", pa.binary()),
        pa.field("offset", pa.string()),
        pa.field("sequenceNumber", pa.int64()),
        pa.field("enqueuedTime", pa.timestamp("us", tz="UTC")),
        pa.field("publisher", pa.string()),
        pa.field("partitionKey", pa.string()),
        pa.field("properties", pa.map_(pa.string(), pa.string())),
        pa.field("systemProperties", pa.map_(pa.string(), pa.string())),
    ]
)


def split_counts(total: int, weights: Sequence[int]) -> List[int]:
    """Split ``total`` by integer ``weights``; the remainder goes to the
    first partitions so the counts always sum to ``total``."""
    w = sum(weights)
    counts = [total * x // w for x in weights]
    for i in range(total - sum(counts)):
        counts[i % len(counts)] += 1
    return counts


def random_bodies(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    """``n`` random binary bodies with lengths uniform in [lo, hi]."""
    lens = rng.integers(lo, hi + 1, size=n, dtype=np.int64)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    data = rng.integers(0, 256, size=int(offsets[-1]), dtype=np.uint8)
    return pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def event_table(
    bodies: pa.Array, first_seq: int, enq_us: np.ndarray
) -> pa.Table:
    """One hub file's rows: ``bodies`` at dense seqNos from ``first_seq``."""
    n = len(bodies)
    seq = pa.array(np.arange(first_seq, first_seq + n, dtype=np.int64))
    empty_map = pa.array([[]] * n, pa.map_(pa.string(), pa.string()))
    return pa.table(
        [
            bodies,
            pc.cast(seq, pa.string()),
            seq,
            pa.array(enq_us, pa.timestamp("us", tz="UTC")),
            pa.nulls(n, pa.string()),
            pa.nulls(n, pa.string()),
            empty_map,
            empty_map,
        ],
        schema=FILE_SCHEMA,
    )


def write_atomic(tbl: pa.Table, path: str) -> None:
    """Write ``path`` under a dot-prefixed name and rename it, so a
    concurrent reader only ever sees complete files."""
    d, f = os.path.split(path)
    tmp = os.path.join(d, "." + f + ".tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)


def write_backlog(
    hub_dir: str,
    seed: int,
    n_events: int,
    weights: Sequence[int] = (40, 30, 20, 10),
    files_per_partition: int = 32,
    body_bytes: tuple = (50, 400),
) -> Dict[int, int]:
    """A closed backlog: partitions skewed by ``weights``, each written as
    ``files_per_partition`` files like a log appended by a stream.
    Returns {partition: event count}."""
    rng = np.random.default_rng(seed)
    counts = split_counts(n_events, weights)
    for pid, n in enumerate(counts):
        pdir = os.path.join(hub_dir, f"partition={pid}")
        os.makedirs(pdir, exist_ok=True)
        sizes = split_counts(n, [1] * files_per_partition)
        first = 0
        for i, m in enumerate(sizes):
            enq = BASE_US + (first + np.arange(m, dtype=np.int64)) * 1000
            tbl = event_table(random_bodies(rng, m, *body_bytes), first, enq)
            write_atomic(tbl, os.path.join(pdir, f"part-{i:05d}.parquet"))
            first += m
    return dict(enumerate(counts))


class TickAppender:
    """Open-loop producer state for one hub: each :meth:`append` writes
    one file per partition holding the events due in one tick, stamped
    with their scheduled send time as ``enqueuedTime``."""

    def __init__(self, hub_dir: str, seed: int, partitions: int,
                 body_bytes: tuple = (50, 400)) -> None:
        self.hub_dir = hub_dir
        self.rng = np.random.default_rng(seed)
        self.partitions = partitions
        self.body_bytes = body_bytes
        self.next_seq = [0] * partitions
        self.ticks = 0
        for pid in range(partitions):
            os.makedirs(os.path.join(hub_dir, f"partition={pid}"), exist_ok=True)

    def append(self, per_partition: int, due_us: int, step_us: int) -> int:
        """Append ``per_partition`` events to every partition; event k of a
        partition is due at ``due_us + k * step_us``. Returns events written."""
        enq = due_us + np.arange(per_partition, dtype=np.int64) * step_us
        for pid in range(self.partitions):
            bodies = random_bodies(self.rng, per_partition, *self.body_bytes)
            tbl = event_table(bodies, self.next_seq[pid], enq)
            path = os.path.join(
                self.hub_dir, f"partition={pid}", f"tick-{self.ticks:08d}.parquet"
            )
            write_atomic(tbl, path)
            self.next_seq[pid] += per_partition
        self.ticks += 1
        return per_partition * self.partitions


# ---------------------------------------------------------------------------
# catalog tables (the schema of the catalog's sf<k> test directories)
# ---------------------------------------------------------------------------

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = np.array(
    "a the key row value table part hash scan sort merge batch window "
    "fast slow line spark agg join stream event state query plan index "
    "vector token doc shard page block cache group order".split()
)
LANGS = np.array(["en", "de", "fr", "es", "it"])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def write_catalog_tables(out_dir: str, seed: int, n_events: int,
                         n_docs: int, n_vecs: int, dim: int = 64,
                         n_orders: int = 1500) -> None:
    """Seeded ``events``, ``documents``, ``embeddings``, ``orders`` and
    ``lineitem`` parquet tables with the column names and types of the
    catalog's sf directories."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_users = max(10, n_events // 60)

    # events: ~30 days of sorted timestamps with per-user bursts
    gaps = rng.exponential(30 * 86_400e6 / n_events, size=n_events).astype(np.int64) + 1
    props = np.array([f'{{"k": {k}}}' for k in range(100)])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(BASE_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(40.0, n_events), 2)),
        "props": pa.array(props[rng.integers(0, 100, n_events)]),
    }), os.path.join(out_dir, "events.parquet"))

    # documents: Zipf-ish vocabulary, a share of docs repeating a shared
    # boilerplate span so substring dedup has duplicated spans to find
    boiler = [" ".join(VOCAB[rng.integers(0, len(VOCAB), 24)]) for _ in range(8)]
    texts = []
    for i in range(n_docs):
        n_tok = int(rng.integers(20, 90))
        ranks = np.minimum(rng.zipf(1.3, n_tok) - 1, len(VOCAB) - 1)
        words = " ".join(VOCAB[ranks])
        if rng.random() < 0.3:
            words = words + " " + boiler[int(rng.integers(0, len(boiler)))]
        texts.append(words)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{k:02d}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))

    # embeddings: 10 gaussian clusters, label = cluster id
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centers[labels] + rng.normal(0.0, 0.35, (n_vecs, dim))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))

    # orders + lineitem: the co-purchase graph input
    day_us = 86_400_000_000
    odate = 883_612_800_000_000 + rng.integers(0, 1300, n_orders) * day_us
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_orders), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_orders)]),
    }), os.path.join(out_dir, "orders.parquet"))
    n_li = n_orders * 4
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    n_parts = max(20, n_orders // 8)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 10, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(883_612_800_000_000 + rng.integers(0, 1400, n_li) * day_us),
    }), os.path.join(out_dir, "lineitem.parquet"))
