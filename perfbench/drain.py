"""Workload ``thrift_drain``: a seeded backlog of rotated framed-Thrift
files drained by ``PipelineManager.run_cycle`` (reader ``thrift``,
partitioner ``crc32``, writer ``kafka_direct`` with an audit topic) into the
benchmark's own producer.  Closed loop: one backlog, drained once per
repetition on a fresh checkpoint, repeated for the run's duration.

The traced run adds the cumulative-cut harness.  Each cut rebuilds the
pipeline from the layers' public functions and drains the same backlog on a
fresh checkpoint:

    cut 1  engine.build_source                        -> noop sink
    cut 2  engine.build_transforms(cut 1)             -> noop sink
    cut 3  cut 2 -> sinks.kafka_direct_sink
    cut 4  cut 2 -> sinks.with_audit(sinks.kafka_write_batch)

and the full run is ``run_cycle`` itself.  The increments (cut n minus cut
n-1) are the layers' shares; ``drain.unattributed_s`` is the traced full
run minus cut 4, so the shares add back up to the traced wall time.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import harness
from perfbench.gen import thrift_backlog
from perfbench.producer import ProducerFactory, read_delivery

NUM_PARTITIONS = 16
SERVERS = "bench-broker:9092"
TOPIC = "bench.thrift"
AUDIT_TOPIC = "audit.thrift_drain"


def log_config(log_dir: str):
    from singer_spark.config import LogConfig, ReaderConfig, WriterConfig

    return LogConfig(
        name="thrift_drain", log_dir=log_dir, log_stream_regex="thrift.log.*",
        reader=ReaderConfig(type="thrift"),
        writer=WriterConfig(type="kafka_direct", topic=TOPIC,
                            bootstrap_servers=SERVERS, partitioner="crc32",
                            num_partitions=NUM_PARTITIONS,
                            audit_topic=AUDIT_TOPIC))


class Drainer:
    """One backlog and the scratch space its repeated drains use."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.log_dir = os.path.join(work, "backlog")
        self.expected = thrift_backlog(self.log_dir, seed)
        self.cfg = log_config(self.log_dir)
        self.count = 0

    def _fresh(self) -> tuple[str, str]:
        self.count += 1
        out = os.path.join(self.work, f"delivered-{self.count}")
        ckpt = os.path.join(self.work, f"ckpt-{self.count}")
        os.makedirs(out)
        return out, ckpt

    def drain(self, spark, mode: str = "full") -> dict:
        """Drain the whole backlog once; return wall time and the checked
        delivery.  ``mode`` is ``full`` (the engine) or ``cut1``..``cut4``."""
        import dataclasses

        from singer_spark import engine, sinks
        from singer_spark.audit import AuditCollector

        out, ckpt = self._fresh()
        factory = ProducerFactory(out, NUM_PARTITIONS)
        audit = AuditCollector()
        cfg = dataclasses.replace(self.cfg, checkpoint_dir=ckpt)
        t0 = time.perf_counter()
        if mode == "full":
            mgr = engine.PipelineManager(spark, checkpoint_root=ckpt,
                                         kafka_producer_factory=factory)
            mgr.run_cycle(cfg, audit_sink=audit)
            query = mgr.queries[cfg.name]
        else:
            df = engine.build_source(spark, cfg)
            if mode != "cut1":
                df = engine.build_transforms(df, cfg)
            if mode in ("cut1", "cut2"):
                writer = sinks.noop_sink(df, ckpt)
            elif mode == "cut3":
                writer = sinks.kafka_direct_sink(df, SERVERS, TOPIC, ckpt, factory, {})
            else:
                def write(batch_df, batch_id):
                    sinks.kafka_write_batch(batch_df, SERVERS, TOPIC, factory, {})

                writer = sinks.with_audit(df, AUDIT_TOPIC, ckpt, write, audit)
            query = writer.trigger(availableNow=True).start()
            query.awaitTermination()
        wall = time.perf_counter() - t0
        res = {"wall": wall, "phases": harness.progress_phases(query.recentProgress),
               "audit_rows": len(audit.rows)}
        if mode in ("full", "cut3", "cut4"):
            res.update(self.check(read_delivery(out), audit if mode != "cut3" else None))
        shutil.rmtree(out)
        shutil.rmtree(ckpt, ignore_errors=True)
        return res

    def check(self, got: dict, audit) -> dict:
        """Exactly-once with matching digest; audit total == delivered.
        Counts come from the producer records, never from run_cycle."""
        exp = self.expected
        n = exp["messages"]
        seqs = got["seqs"]
        bad_seq = int(((seqs < 0) | (seqs >= n)).sum())
        counts = np.bincount(seqs[(seqs >= 0) & (seqs < n)], minlength=n)
        missing = int((counts == 0).sum())
        dups = int(np.maximum(counts - 1, 0).sum())
        failed = missing + dups + bad_seq
        if failed == 0 and (got["digest"] != exp["digest"]
                            or got["bytes"] != exp["payload_bytes"]):
            failed = 1  # every message arrived once, but altered
        attempted = n
        if audit is not None:
            batches = len(audit.rows)
            attempted += batches
            if audit.total() != got["sends"] or audit.total() != n:
                failed += max(batches, 1)
        return {"attempted": attempted, "failed": failed, "sends": got["sends"],
                "flushes": got["flushes"], "parts": got["parts"]}


# ---------------------------------------------------------------------------
# Workload entry points (see run.py)
# ---------------------------------------------------------------------------
def prepare(work: str, seed: int, seconds: float) -> tuple[Drainer, Drainer]:
    """The measured backlog, and a second one of the same shape to warm up on."""
    return (Drainer(os.path.join(work, "main"), seed),
            Drainer(os.path.join(work, "warm"), seed + 1_000_003))


WARM_DRAINS = 2
MIN_DRAINS = 3
TRACED_ROUNDS = 2


def warm_up(spark, inputs: tuple[Drainer, Drainer]) -> None:
    """Drains of the second backlog, so Python workers, plans and the JIT
    are warm before the first timed drain (the first drain of a session
    takes five times as long as later ones, and the drain time keeps
    falling for a few drains more)."""
    for _ in range(WARM_DRAINS):
        res = inputs[1].drain(spark)
        if res["failed"]:
            raise RuntimeError(f"warm-up drain failed {res['failed']} checks")


def measure(spark, inputs: tuple[Drainer, Drainer], seconds: float) -> dict:
    drainer = inputs[0]
    runs = harness.repeat(lambda: drainer.drain(spark), seconds, MIN_DRAINS)
    exp = drainer.expected
    return {
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {
            "mb_s": harness.median(exp["framed_bytes"] / 1e6 / r["wall"] for r in runs),
            "msgs_s": harness.median(exp["messages"] / r["wall"] for r in runs),
            # catch-up time: backlog present to its last message delivered
            "latency_ms": 1e3 * harness.median(r["wall"] for r in runs),
        },
    }


def measure_traced(spark, inputs: tuple[Drainer, Drainer], seconds: float,
                   tracer) -> dict:
    """Per-layer numbers: untraced and traced full drains, the four cuts,
    a single-core decode baseline, runtime counters and span self times."""
    drainer = inputs[0]
    from singer_spark import engine, sinks
    from singer_spark.audit import AuditCollector
    from singer_spark.framing import decode_frames

    exp = drainer.expected
    walls: dict[str, list[float]] = {m: [] for m in
                                     ("untraced", "full", "cut1", "cut2", "cut3", "cut4")}
    full_runs, attempted, failed = [], 0, 0
    spark_delta = None
    for r in range(TRACED_ROUNDS):
        order = ["untraced", "full", "cut1", "cut2", "cut3", "cut4"]
        order = order[r % len(order):] + order[:r % len(order)]
        for mode in order:
            if mode == "full":
                tracer.new_run()
                tracer.wrap(engine.PipelineManager, "run_cycle")
                tracer.wrap(engine, "build_source")
                tracer.wrap(engine, "build_transforms")
                tracer.wrap(sinks, "kafka_write_batch")
                tracer.wrap(sinks, "make_audit_df")
                tracer.wrap(AuditCollector, "append", "audit_append")
                before = harness.status_totals(spark)
                try:
                    res = drainer.drain(spark, "full")
                finally:
                    tracer.unwrap_all()
                d = harness.delta(harness.status_totals(spark), before)
                spark_delta = d if spark_delta is None else {
                    k: spark_delta[k] + d[k] for k in d}
                full_runs.append(res)
            else:
                res = drainer.drain(spark, "full" if mode == "untraced" else mode)
            walls[mode].append(res["wall"])
            attempted += res.get("attempted", 0)
            failed += res.get("failed", 0)
    med = {m: harness.median(v) for m, v in walls.items()}

    # single-threaded decode baseline over the same corpus, no Spark
    blobs = []
    for name in sorted(os.listdir(drainer.log_dir)):
        with open(os.path.join(drainer.log_dir, name), "rb") as f:
            blobs.append(f.read())
    decode_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        for b in blobs:
            for _row in decode_frames(b):
                pass
        decode_s.append(time.perf_counter() - t0)

    selfs = tracer.self_times()
    n_full = len(full_runs)
    parts = np.array([r["parts"] for r in full_runs], dtype=float).sum(axis=0)
    phases = [r["phases"] for r in full_runs]
    spans = [s for s in tracer.spans if s["name"] == "kafka_write_batch"]
    m = {
        "framing.decode_1core_mb_s": exp["framed_bytes"] / 1e6 / harness.median(decode_s),
        "sources.s": med["cut1"],
        "transforms.s": med["cut2"] - med["cut1"],
        "sinks.kafka_s": med["cut3"] - med["cut2"],
        "audit.s": med["cut4"] - med["cut3"],
        "drain.unattributed_s": med["full"] - med["cut4"],
        "drain.traced_wall_s": med["full"],
        "partitioners.skew": float(parts.max() / parts.mean()) if parts.size else 0.0,
        "sinks.kafka_calls": len(spans) / n_full,
        "sinks.sends": sum(r["sends"] for r in full_runs) / n_full,
        "sinks.flushes": sum(r["flushes"] for r in full_runs) / n_full,
        "audit.rows": sum(r["audit_rows"] for r in full_runs) / n_full,
        "harness.trace_overhead_frac": med["full"] / med["untraced"] - 1.0,
    }
    m.update(harness.engine_metrics(phases))
    m.update({f"spark.{k}": v / n_full for k, v in spark_delta.items()})
    m.update(harness.span_metrics(selfs, n_full))
    return {"attempted": attempted, "failed": failed, "metrics": m}
