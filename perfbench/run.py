"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload er_hot_hosts --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics of an untraced run, ``--trace 1`` the per-layer metrics of a
traced run (and writes its spans to ``.perfbench_work/spans/``).  Every
metric is printed as ``name value unit``; the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  The exit code
is 1 when a correctness check fails and 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402


def _declared(trace: bool) -> dict[str, str]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (self-tests run toy sizes)")
    args = p.parse_args(argv)

    if not harness.program_present():
        print("perfbench: orchid_fst_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    harness.prepare_env()
    run = workloads.Run()
    er = args.workload in workloads.ER
    if args.trace:
        if er:
            metrics, tracer = workloads.run_er_traced(
                args.workload, args.seed, args.scale, run)
        else:
            metrics, tracer = workloads.run_fuzzy_traced(args.seed, args.scale, run)
        spans_dir = os.path.join(harness.WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"))
        info = {}
    else:
        if er:
            metrics = workloads.run_er(
                args.workload, args.seed, args.seconds, args.scale, run)
        else:
            metrics = workloads.run_fuzzy(args.seed, args.seconds, args.scale, run)
        info = metrics.pop("_info")

    units = _declared(bool(args.trace))
    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} do not "
              "match BENCHMARK.json", file=sys.stderr)
        return 2
    for name in units:
        print(f"{name} {metrics[name]:.6g} {units[name]}")
    tail = info.pop("tail", None)
    for key, value in info.items():
        print(f"# {key} {value}")
    if tail:
        value, pct, n = tail
        print(f"# op_tail_s {value:.6g} s (p{pct:.0f} of {n} ops)")
    print(f"# failed_ops_ratio {run.failed / run.attempted:.6g} ratio "
          f"({run.failed} of {run.attempted} operations and checks)")
    for note in run.notes:
        print(f"# FAILED: {note}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
