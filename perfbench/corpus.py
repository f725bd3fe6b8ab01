"""Workload ``corpus_ops``: a fixed subset of the program's corpus queries
(``__spark_entry__.queries()``) over seeded tables, each result collected
and compared with the query's DuckDB oracle (``__spark_entry__.oracle_sql()``).
Closed loop: the subset runs pass after pass for the run's duration.

The subset covers the corpus layers at a size that fits the run budget:

    dedup_minhash_lsh   operators.dedup: fan_out, MinHash LSH, persisted
                        band groups (the cache registry)
    sim_ivf_ann         operators.similarity: fan_out, IVF assignment,
                        persisted vector base (the cache registry)

After every query the benchmark releases the registry
(``functions.release_cache_handles``) and clears Spark's cache, as the
program's own batch drivers do between queries, so each query starts
from the same state.  The first ``WARM_PASSES`` passes are set-up.
"""

from __future__ import annotations

import contextlib
import math
import os
import time

from perfbench import harness
from perfbench.gen import corpus_tables

QUERIES = {"dedup_minhash_lsh": "documents", "sim_ivf_ann": "embeddings"}  # query: table read
WARM_PASSES = 2
MIN_PASSES = 3
TRACED_ROUNDS = 4


def _cell(v):
    """One result value in a form both engines agree on: numbers as int
    when integral, else float; lists as tuples; anything else as text."""
    import numpy as np

    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating)) or type(v).__name__ == "Decimal":
        f = float(v)
        if math.isnan(f):
            return None
        if isinstance(v, (int, np.integer)):
            return int(v)
        return int(f) if f.is_integer() and abs(f) < 2 ** 53 else f
    return str(v)


def canonical(df) -> tuple:
    """Column names and rows of a pandas frame, order-independent."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return tuple(cols), sorted(rows, key=repr)


class Corpus:
    """The seeded tables, the oracle's answer for each query, and the
    timed runs of the queries over them."""

    def __init__(self, work: str, seed: int):
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        self.dir = os.path.join(work, "tables")
        corpus_tables(self.dir, seed)
        self.queries = entry.queries()
        sql = entry.oracle_sql()
        self.expected = {q: canonical(self._duck(sql[q])) for q in QUERIES}
        inputs = [os.path.join(self.dir, f"{t}.parquet") for t in QUERIES.values()]
        self.input_bytes = sum(os.path.getsize(f) for f in inputs)
        self.input_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in inputs)

    def _duck(self, sql: str):
        import duckdb

        con = duckdb.connect()
        for name in sorted(os.listdir(self.dir)):
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.dir, name)}')")
        try:
            return con.sql(sql).df()
        finally:
            con.close()

    def run(self, spark, name: str, tracer=None) -> dict:
        """Build and collect one query; check it against the oracle; then
        release the cache registry.  ``wall`` covers the build and the
        collect."""
        from singer_spark import functions

        span = tracer.span if tracer else (lambda _name: contextlib.nullcontext())
        with span(name):
            t0 = time.perf_counter()
            with span("build"):
                df = self.queries[name](spark, self.dir)
            with span("collect"):
                got = df.toPandas()
            wall = time.perf_counter() - t0
        cached_mb = _cached_mb(spark)
        handles = functions.release_cache_handles()
        spark.catalog.clearCache()
        return {"wall": wall, "ok": canonical(got) == self.expected[name],
                "cached_mb": cached_mb, "handles": handles,
                "left": _persistent_rdds(spark)}

    def run_pass(self, spark, tracer=None) -> dict[str, dict]:
        return {q: self.run(spark, q, tracer) for q in QUERIES}


def _cached_mb(spark) -> float:
    """MB held by Spark's cached RDDs (memory plus disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _tally(passes: list[dict[str, dict]]) -> tuple[int, int]:
    results = [r for p in passes for r in p.values()]
    return len(results), sum(not r["ok"] for r in results)


def _per_query_s(passes: list[dict[str, dict]]) -> dict[str, float]:
    return {q: harness.median(p[q]["wall"] for p in passes) for q in QUERIES}


# ---------------------------------------------------------------------------
# Workload entry points (see run.py)
# ---------------------------------------------------------------------------
def prepare(work: str, seed: int, seconds: float) -> Corpus:
    return Corpus(os.path.join(work, "corpus"), seed)


def warm_up(spark, corpus: Corpus) -> None:
    """Checked passes that start the Python workers, compile the plans and
    let the JIT settle (the pass time falls by a quarter over the first
    three passes after the cold one)."""
    for _ in range(WARM_PASSES):
        failed = [q for q, r in corpus.run_pass(spark).items() if not r["ok"]]
        if failed:
            raise RuntimeError(f"corpus queries differ from their oracle: {failed}")


def measure(spark, corpus: Corpus, seconds: float) -> dict:
    passes = harness.repeat(lambda: corpus.run_pass(spark), seconds, MIN_PASSES)
    total_s = sum(_per_query_s(passes).values())
    attempted, failed = _tally(passes)
    print(f"corpus_ops: {len(passes)} passes of {len(QUERIES)} queries, "
          f"{corpus.input_rows} input rows per pass")
    return {"attempted": attempted, "failed": failed,
            "metrics": {"mb_s": corpus.input_bytes / 1e6 / total_s,
                        "msgs_s": corpus.input_rows / total_s,
                        "latency_ms": 1e3 * total_s}}


def measure_traced(spark, corpus: Corpus, seconds: float, tracer) -> dict:
    """Rounds of an untraced and a traced pass, in alternating order so the
    pass time's own fall over a session cancels in the tracing overhead,
    with spans around each query and its build and collect, status-store
    totals around the traced passes, and the cache registry read after
    each query."""
    plain, traced, spark_delta = [], [], None
    for r in range(TRACED_ROUNDS):
        for with_trace in ((False, True) if r % 2 == 0 else (True, False)):
            if not with_trace:
                plain.append(corpus.run_pass(spark))
                continue
            tracer.new_run()
            before = harness.status_totals(spark)
            traced.append(corpus.run_pass(spark, tracer))
            d = harness.delta(harness.status_totals(spark), before)
            spark_delta = d if spark_delta is None else {k: spark_delta[k] + d[k] for k in d}
    n = len(traced)
    selfs = tracer.self_times()
    results = [r for p in traced for r in p.values()]
    m = {f"corpus.{q}_s": s for q, s in _per_query_s(traced).items()}
    m.update({
        "corpus.build_s": selfs.get("build", 0.0) / n,
        "corpus.collect_s": selfs.get("collect", 0.0) / n,
        "functions.cached_mb_peak": max(r["cached_mb"] for r in results),
        "functions.cache_handles": sum(r["handles"] for r in results) / n,
        "functions.cache_handles_after": max(r["left"] for r in results),
        "harness.trace_overhead_frac":
            sum(_per_query_s(traced).values()) / sum(_per_query_s(plain).values()) - 1.0,
    })
    m.update({f"spark.{k}": v / n for k, v in spark_delta.items()})
    attempted, failed = _tally(plain + traced)
    return {"attempted": attempted, "failed": failed, "metrics": m}
