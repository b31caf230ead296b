#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {gated_queries,store_requests} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds its inputs from the seed under
``.perfbench_work/`` (removed at exit), measures for ``--seconds`` after
a fixed warm-up, checks the program's outputs, writes the run's
batch series (and, traced, its spans) to ``.perfbench_out/`` and prints
one JSON object as the last line of standard output:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json`` (set-up
and batch timings as CPU seconds of the process tree less the JVM's JIT
compiler threads, since on a shared virtual machine stolen time doubles
wall time but is not charged as CPU, with a batch's CPU taken so that a
busy host moves it little, see ``Harness.batch_cpu``; and peak memory);
``--trace 1`` reports its per-layer metrics, wall-clock figures included,
with timed batches alternating traced and untraced so that the tracing
overhead comes out of the same run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = {"gated_queries": "wl_gated.GatedQueries",
             "store_requests": "wl_store.StoreRequests"}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_metric_lists() -> tuple[list[dict], list[dict]]:
    """The end-to-end and per-layer metrics, as ``BENCHMARK.json`` names
    them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["end_to_end"], bench["per_layer"]


def load_workload(name: str):
    import importlib

    mod, cls = WORKLOADS[name].rsplit(".", 1)
    return getattr(importlib.import_module(mod), cls)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "medallion_data_lake_spark")):
        print("perfbench: the program (medallion_data_lake_spark/) is not in "
              f"{ROOT}", file=sys.stderr)
        return 2
    end_to_end, per_layer = load_metric_lists()
    sys.path.insert(0, ROOT)
    import common

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    common.remove_tree(work)
    common.prepare_env(work)
    from harness import Harness

    tracer = common.Tracer(enabled=bool(args.trace))
    wl_cls = load_workload(args.workload)
    spark = None
    wl = None
    try:
        with common.RssSampler() as rss:
            t = time.perf_counter()
            cpu0 = common.cpu_snapshot()
            spark = common.start_spark(work)
            session_s = time.perf_counter() - t
            wl = wl_cls(spark, work, args.seed, tracer)
            t = time.perf_counter()
            wl.inputs()
            inputs_s = time.perf_counter() - t
            t = time.perf_counter()
            with tracer.span("setup"):
                wl.setup()
            setup_wall_s = session_s + time.perf_counter() - t
            setup_cpu_s = common.cpu_between(cpu0, common.cpu_snapshot())
            tracer.enabled = False
            t = time.perf_counter()
            checks = wl.check()
            check_s = time.perf_counter() - t
            harness = Harness(wl, args.seconds, bool(args.trace))
            harness.run()
            layers = harness.layer_metrics() if args.trace else {}
    finally:
        t = time.perf_counter()
        if wl is not None:
            wl.close()
        if spark is not None:
            common.stop_spark(spark)
        common.remove_tree(work)
        teardown_s = time.perf_counter() - t

    attempted, failed = harness.counts()
    attempted += len(checks)
    failed += sum(not c["ok"] for c in checks)
    if args.trace:
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in per_layer}
    else:
        e2e = {"setup_s": setup_cpu_s, "peak_rss_mb": rss.peak_mb,
               **Harness.figures(harness.timed())}
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in end_to_end}
    series = [b.summary() for b in harness.series]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "task_threads": common.task_threads(),
        "nproc": os.cpu_count(), "inputs": wl.describe(),
        "session_s": session_s, "inputs_s": inputs_s,
        "setup_wall_s": setup_wall_s, "setup_cpu_s": setup_cpu_s,
        "figures": Harness.figures(harness.timed(traced=False)),
        "check_s": check_s, "teardown_s": teardown_s,
        "warmup_s": sum(b.wall for b in harness.series if b.phase == "warmup"),
        "timed_s": sum(b.wall for b in harness.timed()),
        "wall_s": time.perf_counter() - T_START,
        "checks": checks, "series": series, "metrics": metrics,
    }
    if args.trace:
        record["spans"] = tracer.dump()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    common.write_json(os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), record)
    if args.trace:
        print(json.dumps({"series": series}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
