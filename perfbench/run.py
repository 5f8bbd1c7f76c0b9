"""Benchmark of the asterlake engine, one workload per invocation.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  The workload's inputs are generated from
``--seed`` into a scratch directory under ``perfbench/.work`` that is removed
at the end; a traced run (``--trace 1``) writes its spans to
``perfbench/.out``.  The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it is a report for humans: the figures under
the names the design uses, sample counts, the core count and every Spark conf
and environment variable the benchmark sets.

Every workload does a fixed amount of work, the same for every seed, sized
so that its timed phases take about ``--seconds`` on a 4-core box at the
commit that introduced the benchmark; a faster engine finishes sooner.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "batch_s": "s", "step_s": "s", "op_ms": "ms",
              "peak_rss_mb": "MB"}


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    return "MB" if name.endswith("_mb") else "count"


def per_layer_names() -> list[str]:
    import lake
    import suite

    return (["session.build_s", "trace.batch_s", "trace.bookkeeping_s"]
            + lake.layer_names() + suite.layer_names())


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("lake", "query_suite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "asterlake")):
        print(f"no asterlake package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from common import DRIVER_MEMORY, Run

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    env = {"TZ": "UTC", "TMPDIR": os.path.join(work, "tmp")}
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.environ.update(env)
    time.tzset()

    run = Run(args.workload, args.seed, bool(args.trace), work)
    try:
        if args.workload == "lake":
            import lake as workload
        else:
            import suite as workload
        layers = workload.workload(run)
        if run.tracer is not None:
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            run.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)

    if run.trace:
        names = per_layer_names()
        metrics = {n: {"value": layers.get(n, 0.0), "unit": _unit(n)} for n in names}
    else:
        metrics = {n: {"value": run.metrics[n], "unit": u} for n, u in END_TO_END.items()}
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": os.cpu_count(), "spark_conf": run.spark_conf,
              "env": {**env, "ASTERLAKE_DRIVER_MEMORY": DRIVER_MEMORY},
              "failures": run.failures, **run.report,
              "failed_frac": len(run.failures) / max(run.attempted, 1)}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": len(run.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
