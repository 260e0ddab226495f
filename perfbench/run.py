"""Benchmark entry point.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 15 --trace 0

Runs one workload of the ``elasticsearch_spark`` engine from the root of
a source checkout, checks its responses against the pure-Python oracle,
prints every figure by name with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` holding the
``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``).  Full details, and the spans of a
traced run, go to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common as C  # noqa: E402

WORKLOADS = ("search_hot", "search_plan", "ingest")


def main() -> int:
    """Run one workload, then stop every process it left behind."""
    C.become_reaper()
    # a SIGTERM unwinds through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run_workload()
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stray = C.end_children()
        if stray:
            print(f"perfbench: stopped {stray} leftover process(es)", file=sys.stderr)


def run_workload() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not C.checkout_ok():
        print(f"perfbench: no elasticsearch_spark package and queryset under {C.ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(C.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    C.use_checkout_env()
    from perfbench import inputs
    from perfbench import workloads as W

    # the one-off search build (about 2 minutes) lands in the first run
    # in a checkout, whichever workload that is
    inputs.ensure("search")

    run = W.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.workload == "ingest":
        W.run_ingest(run)
    else:
        W.run_search(run, turbo=args.workload == "search_hot")
    # threads that had inherited the client's one-CPU mask (see pin_client)
    run.report["narrowed_threads"] = C.NARROWED[0]

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    figures = run.layers if args.trace else run.report
    missing = [m["name"] for m in wanted if m["name"] not in figures]
    if missing:
        raise SystemExit(f"perfbench: {args.workload} produced no {missing}")
    write_results(args, run)
    for name, value in sorted(run.report.items()):
        print(f"# {args.workload} {name} = {value:.6g} {unit(name)}")
    print(f"# {args.workload} fail_ratio = {run.failed / max(1, run.attempted):.6g} "
          f"({run.failed} of {run.attempted} operations)")
    if args.trace:
        print_trace(args.workload, run)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": figures[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


def unit(name: str) -> str:
    if name.endswith("qps") or name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share"):
        return "ratio"
    if name.endswith("per_text_byte"):
        return "B/B"
    return "count"


def print_trace(workload: str, run) -> None:
    print(f"# {workload} per-layer self time (traced pass)")
    print(f"#   {'layer':<10} {'calls':>8} {'total_ms':>11} {'self_ms':>11}")
    for layer, row in sorted(run.detail["layer_table"].items()):
        print(f"#   {layer:<10} {row['calls']:>8} {row['total_ms']:>11.2f} {row['self_ms']:>11.2f}")
    for phase, row in sorted(run.detail["spark_phases"].items()):
        print(f"# {workload} spark {phase}: {row['calls']} calls, {row['jobs']} jobs, "
              f"{row['stages']} stages, {row['tasks']} tasks")
    for name, value in sorted(run.layers.items()):
        print(f"# {workload} layer {name} = {value:.6g}")
    over = run.detail["trace_overhead"]
    print(f"# {workload} tracing overhead (traced - untraced): "
          + ", ".join(f"{k} {v:+.4g}" for k, v in sorted(over.items())))


def write_results(args, run) -> None:
    out = os.path.join(C.WORK, "results")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"report": run.report, "layers": run.layers, "detail": run.detail,
                   "attempted": run.attempted, "failed": run.failed}, f, indent=1, default=str)
    if args.trace:
        run.tracer.dump(stem + ".spans.json")


if __name__ == "__main__":
    sys.exit(main())
