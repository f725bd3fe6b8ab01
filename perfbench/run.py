"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from the
seed, sets the program up (session start plus a warm-up through the same
pipeline), measures for ``--seconds``, checks every delivery, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, as ``BENCHMARK.json`` declares them (see
``perfbench/README.md``).  Exits non-zero when any check fails or when the
checkout holds no ``singer_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("thrift_drain", "text_tail", "corpus_ops")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _module(workload: str):
    if workload == "thrift_drain":
        from perfbench import drain as mod
    elif workload == "text_tail":
        from perfbench import tail as mod
    else:
        from perfbench import corpus as mod
    return mod


def _stop(spark) -> None:
    """Stop the session and its JVM, then wait for every child to end."""
    from perfbench import harness

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while True:
        kids = harness.children_map()
        todo, pids = list(kids.get(os.getpid(), [])), []
        while todo:
            p = todo.pop()
            pids.append(p)
            todo.extend(kids.get(p, []))
        if not pids:
            return
        if time.time() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "singer_spark", "__init__.py")):
        sys.stderr.write(f"perfbench: no singer_spark package under {ROOT}; "
                         "run from the root of a repository checkout\n")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    mod = _module(args.workload)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.prepare_env(ROOT, work)
    try:
        inputs = mod.prepare(work, args.seed, args.seconds)
        with harness.RssSampler() as rss:
            # set-up: session start plus the workload's warm-up
            t0 = time.perf_counter()
            spark = harness.start_spark(args.workload)
            try:
                mod.warm_up(spark, inputs)
                setup_s = time.perf_counter() - t0
                if args.trace:
                    tracer = harness.Tracer()
                    res = mod.measure_traced(spark, inputs, args.seconds, tracer)
                    spans = os.path.join(ROOT, ".perfbench_out")
                    os.makedirs(spans, exist_ok=True)
                    tracer.write(os.path.join(
                        spans, f"spans-{args.workload}-{args.seed}.json"))
                else:
                    res = mod.measure(spark, inputs, args.seconds)
            finally:
                _stop(spark)
        metrics = res["metrics"]
        if not args.trace:
            metrics["setup_s"] = setup_s
            metrics["peak_rss_mb"] = rss.peak
        out = {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
               "failed": int(res["failed"]),
               "metrics": _declared(metrics, "per_layer" if args.trace else "end_to_end")}
        print(json.dumps(out))
        return 0 if out["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):
            os.rmdir(parent)


def _declared(metrics: dict, kind: str) -> dict:
    """Every metric BENCHMARK.json declares under ``kind``, with its unit.
    A per-layer metric of a layer the workload bypasses reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    unknown = sorted(set(metrics) - set(declared))
    missing = sorted(set(declared) - set(metrics)) if kind == "end_to_end" else []
    if unknown or missing:
        raise RuntimeError(f"metrics not matching BENCHMARK.json {kind}: "
                           f"undeclared {unknown}, missing {missing}")
    return {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()}


if __name__ == "__main__":
    sys.exit(main())
