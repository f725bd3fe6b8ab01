"""The benchmark's in-process stand-in for a Kafka producer.

``sinks.kafka_write_batch`` calls the factory once per Spark task, inside a
Python worker, and drives the kafka-python protocol: ``send`` per row,
``flush`` once, ``close``.  Each producer counts what it was sent, sums
payload bytes and digests, notes the sequence number at the head of each
payload and the partition it was routed to, and on ``close`` writes one
record to ``out_dir``.  The benchmark reads those records back: delivered
counts never come from the engine's own return values.
"""

from __future__ import annotations

import json
import os
import uuid
from array import array

from perfbench.gen import MASK64, SEQ_WIDTH, digest


class ProducerFactory:
    """Picklable factory: ``factory(bootstrap_servers, configs)``."""

    def __init__(self, out_dir: str, num_partitions: int):
        self.out_dir = out_dir
        self.num_partitions = num_partitions

    def __call__(self, bootstrap_servers: str, configs: dict) -> "BenchProducer":
        return BenchProducer(self.out_dir, self.num_partitions)


class BenchProducer:
    def __init__(self, out_dir: str, num_partitions: int):
        self.out_dir = out_dir
        self.seqs = array("q")
        self.parts = [0] * num_partitions
        self.bytes = 0
        self.digest = 0
        self.sends = 0
        self.flushes = 0

    def send(self, topic, value=None, key=None, headers=None, partition=None):
        self.seqs.append(int(value[:SEQ_WIDTH]))
        self.parts[partition] += 1
        self.bytes += len(value)
        self.digest = (self.digest + digest(value)) & MASK64
        self.sends += 1
        return None  # no future: every send succeeds

    def flush(self) -> None:
        self.flushes += 1

    def close(self) -> None:
        name = os.path.join(self.out_dir, f"{os.getpid()}-{uuid.uuid4().hex}")
        with open(name + ".seq", "wb") as f:
            self.seqs.tofile(f)
        with open(name + ".json", "w") as f:
            json.dump({"sends": self.sends, "flushes": self.flushes,
                       "bytes": self.bytes, "digest": self.digest,
                       "parts": self.parts}, f)


def read_delivery(out_dir: str) -> dict:
    """Merge every producer record in ``out_dir``."""
    import numpy as np

    recs, seqs = [], []
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if name.endswith(".json"):
            with open(path) as f:
                recs.append(json.load(f))
        elif name.endswith(".seq"):
            seqs.append(np.fromfile(path, dtype=np.int64))
    parts = [sum(col) for col in zip(*(r["parts"] for r in recs))] if recs else []
    return {
        "sends": sum(r["sends"] for r in recs),
        "flushes": sum(r["flushes"] for r in recs),
        "bytes": sum(r["bytes"] for r in recs),
        "digest": sum(r["digest"] for r in recs) & MASK64,
        "parts": parts,
        "seqs": np.concatenate(seqs) if seqs else np.zeros(0, dtype=np.int64),
    }
