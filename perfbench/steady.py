"""Steadiness runs: the benchmark over many seeds, and their spreads.

    python3 perfbench/steady.py run --set A --seeds 1-10 [--workload NAME ...]
    python3 perfbench/steady.py run --set sizing --seeds 3 --workload er_hot_hosts --trace 1 --scale 0.25
    python3 perfbench/steady.py summary perfbench/runs/A.jsonl perfbench/runs/B.jsonl

``run`` calls the benchmark command once per workload and seed (untraced
and at full size unless told otherwise) with BENCHMARK.json's
``run_seconds``, and appends one JSON line per run to
``perfbench/runs/<set>.jsonl``: workload, seed, set, trace, scale, wall
time, exit code, the run's ``#`` lines and its final JSON result.
``summary`` prints, per file, workload and end-to-end metric of the
untraced full-size runs, the median and the spread (interquartile range
from ``statistics.quantiles(values, n=4)`` over the median), and, for two
files, how far the second median is from the first.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(set_name: str, seeds: list[int], workloads: list[str],
        trace: int, scale: float) -> None:
    spec = _spec()
    os.makedirs(os.path.join(HERE, "runs"), exist_ok=True)
    path = os.path.join(HERE, "runs", f"{set_name}.jsonl")
    for workload in workloads:
        for seed in seeds:
            cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
                   "--scale", str(scale)]
            t = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t
            lines = p.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                result = None
            row = {"workload": workload, "seed": seed, "set": set_name,
                   "trace": trace, "scale": scale, "wall_s": round(wall, 1), "exit": p.returncode,
                   "notes": [x[2:] for x in lines if x.startswith("# ")],
                   "result": result}
            with open(path, "a") as f:
                f.write(json.dumps(row) + "\n")
            print(workload, seed, round(wall, 1), p.returncode, flush=True)


def _medians(path: str) -> dict[tuple[str, str], float]:
    by: dict[tuple[str, str], list[float]] = {}
    walls: dict[str, list[float]] = {}
    bad = []
    with open(path) as f:
        rows = [r for r in map(json.loads, filter(str.strip, f))
                if r.get("trace", 0) == 0 and r.get("scale", 1.0) == 1.0]
    for r in rows:
        walls.setdefault(r["workload"], []).append(r["wall_s"])
        res = r["result"]
        if r["exit"] != 0 or not res or not res["correct"]:
            bad.append((r["workload"], r["seed"], r["exit"]))
            continue
        for name, m in res["metrics"].items():
            by.setdefault((r["workload"], name), []).append(m["value"])
    print(f"== {os.path.basename(path)}")
    out = {}
    for (w, name), vals in sorted(by.items()):
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4)
        spread = (q[2] - q[0]) / med if med else 0.0
        out[w, name] = med
        print(f"{w:14s} {name:12s} n={len(vals):2d} median={med:<10.5g} "
              f"spread={spread:.4f} min={min(vals):.5g} max={max(vals):.5g}")
    for w, ws in walls.items():
        print(f"{w:14s} wall mean {statistics.mean(ws):.1f} s, max {max(ws):.1f} s")
    print("failed runs:", bad or "none")
    return out


def summary(paths: list[str]) -> None:
    meds = [_medians(p) for p in paths]
    if len(meds) == 2:
        better = {m["name"]: m["better"] for m in _spec()["end_to_end"]}
        print("== second median vs first (positive = worse)")
        for key, a in sorted(meds[0].items()):
            b = meds[1].get(key)
            if b is None or not a:
                continue
            worse = (b - a) / a if better[key[1]] == "lower" else (a - b) / a
            print(f"{key[0]:14s} {key[1]:12s} {worse:+.4f}")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10")
    r.add_argument("--workload", action="append")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--scale", type=float, default=1.0)
    s = sub.add_parser("summary")
    s.add_argument("paths", nargs="+")
    args = p.parse_args()
    if args.cmd == "run":
        workloads = args.workload or [w["name"] for w in _spec()["workloads"]]
        run(args.set, _seeds(args.seeds), workloads, args.trace, args.scale)
    else:
        summary(args.paths)


if __name__ == "__main__":
    main()
