#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_cc --seed 1 --seconds 15 \
        --trace 0

Prints one line per metric, then, as the last line of standard output, a
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the run's spans to ``.bench_work/traces/``). Exits 1 when
an output check fails, 2 when the checkout has no package to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_metrics as bm  # noqa: E402
import bench_spark as bs  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "docling_rag_spark",
                                       "__init__.py")):
        print("perfbench: no docling_rag_spark package in the current "
              "directory; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import bench_workloads as bw

    if args.workload not in bw.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(bw.WORKLOADS)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    bench_root = os.path.join(root, ".bench_work")
    work = bs.fresh_dir(os.path.join(
        bench_root, f"{args.workload}-{args.seed}-{os.getpid()}"))
    log_dir = bs.prepare_env(work, trace)
    ctx = bw.Ctx(args.seed, args.seconds, trace, work, log_dir,
                 bs.cpu_count())
    t0 = time.perf_counter()
    try:
        with bs.RssSampler() as rss:
            try:
                ctx.start()
                e2e = bw.WORKLOADS[args.workload](ctx)
            finally:
                ctx.stop()
                bs.shutdown_jvm()
        if trace:
            ctx.tracer.write(os.path.join(
                bench_root, "traces", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = bool(e2e) and ctx.failed == 0
    for note in ctx.notes:
        print(f"{args.workload} {note}")
    for p in ctx.problems:
        print(f"FAILED {p}")
    if trace:
        metrics = {k: ctx.layer[k] for k in bm.LAYER_NAMES}
    else:
        e2e["peak_rss_mb"] = rss.peak / 2**20
        metrics = {k: e2e.get(k, 0.0) for k in bm.E2E_NAMES}
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {bm.UNITS[k]}")
    share = ctx.failed / max(1, ctx.attempted)
    print(f"{args.workload} error_share = {share:.6g} "
          f"({ctx.failed} of {ctx.attempted}); run wall "
          f"{time.perf_counter() - t0:.1f} s")
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": bm.UNITS[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
