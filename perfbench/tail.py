"""Workload ``text_tail``: an open-loop writer thread appends timestamped
text lines at a fixed rate to a rename-rotated log while
``PipelineManager.start_log`` tails it (reader ``tail``, a regex filter that
drops the ~5% DEBUG lines, ``prepend_hostname``) into the ``file`` writer
(parquet, one directory per batch) with an audit topic and
``min_upload_seconds=0``.

The query is started once, during set-up, and keeps running, as an agent
does: set-up ends when a short warm-up load has been delivered, and every
load after it is measured on the running query.

Latency follows the SingerLatencyTest method: for every delivered line,
the commit time of its batch (the ``_SUCCESS`` mtime of ``batch=<id>/``)
minus the time the line was due to be written.  Lines due in the first
``WARM_FRAC`` of the load are dropped as warm-up.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime

import numpy as np

from perfbench import harness
from perfbench.gen import KEEP_REGEX, MASK64, TextLoad, digest

ROTATE_BYTES = 8 << 20    # rename-rotate the live file past this size
WARM_FRAC = 0.1            # share of each load dropped from the latency samples
WARM_LOAD_S = 2.0          # length of the set-up load on the fresh query
HOST_PREFIX = "localhost "  # prepend_hostname with the transform default host
AUDIT_TOPIC = "audit.text_tail"
DELIVERY_TIMEOUT_S = 90


def log_config(log_dir: str, out_dir: str, ckpt: str):
    from singer_spark.config import LogConfig, ReaderConfig, WriterConfig

    return LogConfig(
        name="text_tail", log_dir=log_dir, log_stream_regex="app.log*",
        reader=ReaderConfig(type="tail", filter_message_regex=KEEP_REGEX,
                            prepend_hostname=True),
        writer=WriterConfig(type="file", path=out_dir, format="parquet",
                            audit_topic=AUDIT_TOPIC, min_upload_seconds=0),
        checkpoint_dir=ckpt)


class Writer(threading.Thread):
    """Writes each line of ``load`` when it is due (open loop: a stalled
    pipeline does not slow the writer), appending to the live file and
    renaming it to ``app.log.<n>`` past ``ROTATE_BYTES``.  Logs (time, first
    line, end line) per write so lateness and the written-bytes curve can
    be computed."""

    def __init__(self, load: TextLoad, log_dir: str, rotations: int):
        super().__init__(daemon=True)
        self.load = load
        self.path = os.path.join(log_dir, "app.log")
        self.rotations = rotations
        self.log: list[tuple[float, int, int]] = []
        self.t0 = 0.0

    def run(self) -> None:
        load, n, ends = self.load, self.load.n, self.load.ends
        f = open(self.path, "ab")
        try:
            self.t0 = time.time()
            i = 0
            while i < n:
                now = time.time()
                j = int(np.searchsorted(load.due_s, now - self.t0, side="right"))
                if j > i:
                    lo = ends[i - 1] if i else 0
                    f.write(load.buf[lo:ends[j - 1]])
                    f.flush()
                    self.log.append((now, i, j))
                    i = j
                    if f.tell() >= ROTATE_BYTES:
                        f.close()
                        self.rotations += 1
                        os.rename(self.path, f"{self.path}.{self.rotations}")
                        f = open(self.path, "ab")
                time.sleep(0.002)
        finally:
            f.close()

    def lateness_s(self) -> np.ndarray:
        late = [now - (self.t0 + self.load.due_s[i:j]) for now, i, j in self.log]
        return np.concatenate(late) if late else np.zeros(0)

    def written_at(self, t: float) -> int:
        """Bytes of this load written by wall time ``t``."""
        k = int(np.searchsorted([x[0] for x in self.log], t, side="right"))
        return int(self.load.ends[self.log[k - 1][2] - 1]) if k else 0


class Tailer:
    """One log directory, one long-running query on it, and the loads
    written to it one after another."""

    def __init__(self, work: str, load: TextLoad, warm: TextLoad):
        self.load = load
        self.warm = warm
        self.log_dir = os.path.join(work, "logs")
        self.out_dir = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")
        os.makedirs(self.log_dir)
        open(os.path.join(self.log_dir, "app.log"), "wb").close()
        self.rotations = 0
        self.bytes_before = 0     # log bytes written by earlier loads
        self.last_batch = -1      # newest batch id delivered by earlier loads
        self.query = self.mgr = self.audit = None

    def start(self, spark) -> None:
        """Start the query; :meth:`run` waits for its deliveries."""
        from singer_spark.audit import AuditCollector
        from singer_spark.engine import PipelineManager

        self.audit = AuditCollector()
        self.mgr = PipelineManager(spark, checkpoint_root=self.ckpt)
        self.query = self.mgr.start_log(
            log_config(self.log_dir, self.out_dir, self.ckpt), audit_sink=self.audit)

    def stop(self) -> None:
        self.mgr.stop_all()
        self.query.awaitTermination(60)

    def _raise_if_failed(self) -> None:
        if self.query.exception() is not None:
            raise RuntimeError(f"text_tail query failed: {self.query.exception()}")

    def _audited(self) -> int:
        return sum(r[3] for r in self.audit.rows if r[4] > self.last_batch)

    def run(self, load: TextLoad, seconds: float) -> dict:
        """Write one load, wait until it is delivered, and check it: the
        batches after ``last_batch`` hold exactly this load's lines."""
        writer = Writer(load, self.log_dir, self.rotations)
        writer.start()
        writer.join()
        deadline = time.time() + DELIVERY_TIMEOUT_S
        while self._audited() < load.expected["kept"] and time.time() < deadline:
            self._raise_if_failed()
            time.sleep(0.05)
        progress = [p for p in self.query.recentProgress
                    if p["batchId"] > self.last_batch and p.get("numInputRows")]
        res = self.check(load)
        res.update(self.latency(load, res.pop("commits"), writer, seconds))
        res["phases"] = harness.progress_phases(progress)
        res["lag_mb_max"] = self.lag_mb_max(progress, writer)
        res["gen_late_s"] = writer.lateness_s()
        res["rows"] = sum(p["numInputRows"] for p in progress)
        self.rotations = writer.rotations
        self.bytes_before += len(load.buf)
        self.last_batch = max([r[4] for r in self.audit.rows] + [self.last_batch])
        return res

    def check(self, load: TextLoad) -> dict:
        """Every kept line delivered exactly once with matching digest, no
        DEBUG line delivered, and per batch audit count == rows written."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        n = load.n
        seqs, commits, dsum, bad_prefix = [], [], 0, 0
        written: dict[int, int] = {}
        for name in sorted(os.listdir(self.out_dir)):
            if not name.startswith("batch=") or int(name[6:]) <= self.last_batch:
                continue
            d = os.path.join(self.out_dir, name)
            if not os.path.exists(os.path.join(d, "_SUCCESS")):
                continue
            commit = os.stat(os.path.join(d, "_SUCCESS")).st_mtime
            if not any(f.endswith(".parquet") for f in os.listdir(d)):
                written[int(name[6:])] = 0
                continue
            values = pq.read_table(d, columns=["value"]).column("value")
            written[int(name[6:])] = len(values)
            for v in values.to_pylist():
                if v.startswith(HOST_PREFIX):
                    dsum = (dsum + digest(v[len(HOST_PREFIX):].encode())) & MASK64
                else:
                    bad_prefix += 1
            s = pc.cast(pc.utf8_slice_codeunits(values, len(HOST_PREFIX),
                                                len(HOST_PREFIX) + 10), "int64")
            seqs.append(s.to_numpy(zero_copy_only=False))
            commits.append(np.full(len(values), commit))
        seqs = np.concatenate(seqs) if seqs else np.zeros(0, dtype=np.int64)
        commits = np.concatenate(commits) if commits else np.zeros(0)
        ok = (seqs >= 0) & (seqs < n)
        counts = np.bincount(seqs[ok], minlength=n)
        missing = int(((counts == 0) & load.keep).sum())
        dups = int(np.maximum(counts - 1, 0).sum())
        unexpected = int(((counts > 0) & ~load.keep).sum()) + int((~ok).sum())
        failed = missing + dups + unexpected + bad_prefix
        if failed == 0 and dsum != load.expected["digest"]:
            failed = 1
        audited = {int(r[4]): int(r[3]) for r in self.audit.rows if r[4] > self.last_batch}
        batches = sorted(set(audited) | set(written))
        bad_batches = sum(audited.get(b) != written.get(b) for b in batches)
        return {"attempted": load.expected["kept"] + len(batches),
                "failed": failed + bad_batches, "audit_rows": len(audited),
                "commits": (seqs[ok], commits[ok])}

    @staticmethod
    def latency(load: TextLoad, commits, writer: Writer, seconds: float) -> dict:
        """Due-to-commit latency of every line due after the warm-up, and
        the delivery rate: kept bytes and lines per second from the start
        of the load to the commit of its last line.  While the pipeline
        keeps up, the rate is the offered rate scaled by
        ``seconds / (seconds + last batch's latency)``; it falls further
        when a backlog builds."""
        seqs, commit_t = commits
        due = load.due_s[seqs]
        steady = due >= WARM_FRAC * seconds
        lat = (commit_t - (writer.t0 + due))[steady]
        lens = np.diff(np.concatenate([[0], load.ends]))[seqs] - 1
        span = commit_t.max() - writer.t0
        return {"lat_s": lat, "lat_batches": len(np.unique(commit_t[steady])),
                "mb_s": float(lens.sum()) / 1e6 / span,
                "msgs_s": len(seqs) / span}

    def lag_mb_max(self, progress: list, writer: Writer) -> float:
        """Largest gap between bytes written and bytes in a committed offset,
        sampled at the end of every batch of this load."""
        lag = 0.0
        for p in progress:
            end = json.loads(p.json)["sources"][0]["endOffset"]
            if isinstance(end, str):
                end = json.loads(end)
            committed = sum(int(f["off"]) for f in end["files"].values())
            t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            t += p["durationMs"].get("triggerExecution", 0) / 1e3
            lag = max(lag, (self.bytes_before + writer.written_at(t) - committed) / 1e6)
        return lag


# ---------------------------------------------------------------------------
# Workload entry points (see run.py)
# ---------------------------------------------------------------------------
def prepare(work: str, seed: int, seconds: float) -> Tailer:
    return Tailer(os.path.join(work, "tail"), TextLoad(seed, seconds),
                  TextLoad(seed + 1_000_003, WARM_LOAD_S))


def warm_up(spark, tailer: Tailer) -> None:
    """Start the long-running query and, while it starts, run a short load
    through it at the measured rate (a first load on a fresh query runs
    slower than later ones)."""
    tailer.start(spark)
    res = tailer.run(tailer.warm, WARM_LOAD_S)
    if res["failed"]:
        raise RuntimeError(f"warm-up tail failed {res['failed']} checks")


def measure(spark, tailer: Tailer, seconds: float) -> dict:
    try:
        res = tailer.run(tailer.load, seconds)
    finally:
        tailer.stop()
    lat = res["lat_s"]
    print(f"text_tail: {len(lat)} latency samples in {res['lat_batches']} batches "
          "after the warm-up")
    return {"attempted": res["attempted"], "failed": res["failed"],
            "metrics": {"mb_s": res["mb_s"], "msgs_s": res["msgs_s"],
                        "latency_ms": 1e3 * float(np.percentile(lat, 50))}}


def measure_traced(spark, tailer: Tailer, seconds: float, tracer) -> dict:
    """Untraced, traced and untraced loads on the same running query (the
    tracing overhead compares the traced load with the mean of the two
    around it, so the query's own warming up cancels), with spans around
    the per-batch calls the engine makes into the sinks and audit, and
    status-store totals around the traced load."""
    from singer_spark import sinks
    from singer_spark.audit import AuditCollector

    try:
        plain = [tailer.run(tailer.load, seconds)]
        tracer.new_run()
        tracer.wrap(sinks, "write_batch_idempotent")
        tracer.wrap(sinks, "make_audit_df")
        tracer.wrap(AuditCollector, "append", "audit_append")
        before = harness.status_totals(spark)
        try:
            res = tailer.run(tailer.load, seconds)
        finally:
            tracer.unwrap_all()
        spark_delta = harness.delta(harness.status_totals(spark), before)
        plain.append(tailer.run(tailer.load, seconds))
    finally:
        tailer.stop()
    writes = [1e3 * (s["end"] - s["start"]) for s in tracer.spans
              if s["name"] == "write_batch_idempotent" and s["end"]]
    selfs = tracer.self_times()
    p50 = float(np.percentile(res["lat_s"], 50))
    plain_p50 = float(np.mean([np.percentile(p["lat_s"], 50) for p in plain]))
    m = {
        "streaming.tail.rows": res["rows"],
        "streaming.tail.lag_mb_max": res["lag_mb_max"],
        "sinks.file_write_ms_p50": harness.median(writes),
        "sinks.file_calls": len(writes),
        "audit.rows": res["audit_rows"],
        "audit.span_s": selfs.get("make_audit_df", 0.0) + selfs.get("audit_append", 0.0),
        "harness.gen_late_p99_ms": 1e3 * float(np.percentile(res["gen_late_s"], 99)),
        "harness.trace_overhead_frac": p50 / plain_p50 - 1.0,
    }
    m.update(harness.engine_metrics([res["phases"]]))
    m.update({f"spark.{k}": v for k, v in spark_delta.items()})
    m.update(harness.span_metrics(selfs, 1))
    return {"attempted": sum(r["attempted"] for r in plain + [res]),
            "failed": sum(r["failed"] for r in plain + [res]), "metrics": m}
