"""Repeat the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads extract_long graph_saturate \
        --seeds 1 2 3 4 5 [--trace 0]

For every workload, runs ``perfbench/run.py`` once per seed (one after
another), then prints per metric the median, the interquartile range as
a share of the median (``statistics.quantiles(values, n=4)``), and that
share against the metric's bound in BENCHMARK.json. Also prints how long
each run took, the figure that sizes the benchmark's time budget. Each
run's stderr is kept in ``.perfbench_work/spread/<workload>-<seed>.log``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(statistics.median(values))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+",
                   default=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    logs = os.path.join(ROOT, ".perfbench_work", "spread")
    os.makedirs(logs, exist_ok=True)
    for w in args.workloads:
        results, took = [], []
        for seed in args.seeds:
            cmd = spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]),
                "--trace", str(args.trace)]
            t0 = time.perf_counter()
            with open(os.path.join(logs, f"{w}-{seed}.log"), "w") as err:
                proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                      stderr=err, text=True)
            took.append(time.perf_counter() - t0)
            last = proc.stdout.strip().splitlines()[-1:] or ["{}"]
            res = json.loads(last[0]) if proc.returncode == 0 else {}
            results.append(res)
            print(f"{w} seed={seed} rc={proc.returncode} "
                  f"took={took[-1]:.1f}s correct={res.get('correct')} "
                  f"failed={res.get('failed')}", flush=True)
        ok = [r for r in results if r]
        if len(ok) < 3:
            print(f"{w}: too few successful runs", flush=True)
            continue
        print(f"{w}: run seconds median={statistics.median(took):.1f} "
              f"max={max(took):.1f}")
        for name in ok[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            s = spread(vals) if med else float("nan")
            b = bounds.get(name)
            verdict = "" if b is None else (
                f" bound={b} {'OK' if s < b / 3 else 'WIDE'}")
            print(f"  {name:34s} median={med:.6g} spread={s:.3f}{verdict}")
            print("    " + " ".join(f"{v:.4g}" for v in vals))
    return 0


if __name__ == "__main__":
    sys.exit(main())
