"""Steadiness runner: repeat one workload in fresh processes and print each
metric's median and quartiles, with every run's hypervisor steal beside it.

    python3 perfbench/steady.py --workload elt_hourly --seeds 1-10 --seconds 20
    python3 perfbench/steady.py --workload query_suite --seeds 1-3 --seconds 20 --trace both

Steal is context for reading a run, not a metric. ``--trace both`` runs each
seed untraced and traced and also reports the tracing overhead: the traced
run's figures against the untraced run's. Its output is what the bounds in
BENCHMARK.json were set from.
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
REPO = os.path.dirname(HERE)


def cpu_sample() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    before = cpu_sample()
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, check=False,
    )
    wall = time.perf_counter() - t0
    after = cpu_sample()
    total = after[0] - before[0]
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed} trace {trace} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["steal_pct"] = 100.0 * (after[1] - before[1]) / total if total else 0.0
    result["wall_s"] = wall
    with open(os.path.join(REPO, ".perfbench", f"report-{workload}-{seed}-t{trace}.json")) as f:
        report = json.load(f)
    # The timed work's wall figures are in the report, not in the result line.
    result["timed_wall"] = {k: report[k] for k in ("work_s", "op_p50_s", "jit_cpu_s", "gc_cpu_s")}
    return result


def spread(vals: list[float]) -> dict:
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def summarize(runs: list[dict]) -> dict:
    return {
        name: {**spread([r["metrics"][name]["value"] for r in runs]),
               "unit": runs[0]["metrics"][name]["unit"]}
        for name in runs[0]["metrics"]
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()

    modes = (0, 1) if args.trace == "both" else (int(args.trace),)
    runs: dict[int, list[dict]] = {m: [] for m in modes}
    for seed in seeds(args.seeds):
        for m in modes:
            r = run_once(args.workload, seed, args.seconds, m)
            runs[m].append(r)
            print(json.dumps({"seed": seed, "trace": m, "wall_s": round(r["wall_s"], 1),
                              "steal_pct": round(r["steal_pct"], 2),
                              "correct": r["correct"], "failed": r["failed"],
                              "attempted": r["attempted"],
                              "metrics": {k: v["value"] for k, v in r["metrics"].items()},
                              "timed_wall": r["timed_wall"]}),
                  flush=True)
    report = {"workload": args.workload, "seconds": args.seconds}
    for m in modes:
        report[f"trace{m}"] = summarize(runs[m])
        report[f"trace{m}_wall"] = {
            name: spread([r["timed_wall"][name] for r in runs[m]])
            for name in ("work_s", "op_p50_s", "jit_cpu_s", "gc_cpu_s")
        }
    if args.trace == "both":
        # Tracing overhead: the traced runs' figures (reported as trace.*)
        # against the untraced runs', for CPU seconds and wall time.
        overhead = {
            name: report["trace1"][f"trace.{name}"]["median"] / report["trace0"][name]["median"] - 1.0
            for name in ("work_cpu_s", "op_cpu_p50_s")
        }
        for name in ("work_s", "op_p50_s"):
            overhead[name] = (report["trace1_wall"][name]["median"]
                              / report["trace0_wall"][name]["median"] - 1.0)
        report["tracing_overhead"] = overhead
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
