"""icechunk_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload {versioned_txn,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from ``--seed``;
``--seconds`` is the least length of the closed-loop window (one
client, one process, a ``local[$SPARK_GRAFT_CPUS]`` session, default:
the usable cores); each workload also runs a minimum number of cycles of its op mix.
Every op's output is checked; the run prints one line of detail (seed,
load evidence, the workload's own per-kind figures, sample counts,
space per object kind, tracing overhead) and then, as its last line,
the result: ``{"correct", "attempted", "failed", "metrics"}`` with
every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
per-layer metric (``--trace 1``: Spark event log on, repo roots
wrapped in LatencyStorage).  Everything it writes stays under ``.perfbench_work/``
in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("versioned_txn", "query_mix")


def _overhead(results_dir: str, workload: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced, per end-to-end metric, against the untraced
    run of the same workload and seed in this checkout; None if there is
    none."""
    path = os.path.join(results_dir, f"{workload}-seed{seed}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)
    return {k: traced[k] - v for k, v in base.items() if traced.get(k) is not None and v is not None}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    sys.path.insert(0, ROOT)
    try:
        import icechunk_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program to measure is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from perfbench.harness import Bench, prepare_env

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    results_dir = os.path.join(work_root, "results")
    os.makedirs(results_dir, exist_ok=True)
    prepare_env(ROOT, work, trace)
    bench = Bench(args.workload, args.seed, args.seconds, trace, work)
    try:
        try:
            by_kind = importlib.import_module(f"perfbench.{args.workload}").run(bench)
            e2e = bench.end_to_end()
            peak_rss_mib = bench.peak_rss_mib()
            env = bench.env_evidence()
        finally:
            bench.stop()
        layers, layers_by_kind = bench.layer_metrics() if trace else ({}, {})
    finally:
        bench.cleanup()

    op_seconds = bench.op_seconds()
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "end_to_end": e2e,
        "by_kind": by_kind,
        "setup_s": bench.setup,
        "cycles": len(bench.cycles),
        "cycle_s": [round(x, 3) for x in bench.cycles],
        "op_seconds": op_seconds,
        "n": {op: len(xs) for op, xs in op_seconds.items()},
        "peak_rss_mib": peak_rss_mib,
        **bench.detail,
    }
    if trace:
        detail["per_layer"] = layers
        detail["per_layer_by_kind"] = layers_by_kind
        detail["tracing_overhead"] = _overhead(results_dir, args.workload, args.seed, e2e)
    else:
        with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(e2e, f)
    print(json.dumps({"perfbench_detail": detail}))

    declared = spec["per_layer"] if trace else spec["end_to_end"]
    values = layers if trace else e2e
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        print(f"perfbench: {args.workload} measured no {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(
        json.dumps(
            {
                "correct": bench.failed() == 0,
                "attempted": bench.attempted(),
                "failed": bench.failed(),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
