"""Steadiness tool: run each workload k times and report the spread.

    python3 perfbench/steady.py [-k 10] [--first-seed 1] [--trace 0]
        [--workloads crawl_wide,query_mix] [--seconds N]

Each run is ``perfbench/run.py`` with its own seed, one after another.
For every metric it prints the median, the first and third quartiles
(``statistics.quantiles(n=4)``) and the relative spread (IQR over
median), with each run's host steal share, interfered (re-run) rounds,
first/second-half round medians and wall time.  Set the bounds in
BENCHMARK.json from this output; keep the output in STEADINESS.md.
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


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    context = json.loads(lines[-2].split(" ", 1)[1])
    return {"result": json.loads(lines[-1]), "context": context,
            "wall": wall}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def report(workload: str, runs: list[dict], bounds: dict) -> str:
    out = [f"### {workload} ({len(runs)} runs)", "",
           "| metric | unit | median | q1 | q3 | spread | bound |",
           "| --- | --- | --- | --- | --- | --- | --- |"]
    metrics = runs[0]["result"]["metrics"]
    for name, m in metrics.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med, q1, q3, rel = spread(vals)
        b = bounds.get(name, "")
        out.append(f"| {name} | {m['unit']} | {med:.6g} | {q1:.6g} | "
                   f"{q3:.6g} | {rel:.3f} | {b} |")
    out += ["", "| seed | steal % | busy | ops | interfered rounds | failed | "
            "1st half s | 2nd half s | halves | run wall s |",
            "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |"]
    for r in runs:
        c = r["context"]
        a, b = c["first_half_op_s"], c["second_half_op_s"]
        out.append(
            f"| {c['seed']} | {c['host.steal_pct']:.2f} | "
            f"{c['host.cpu_busy_frac']:.2f} | {c['ops']} | "
            f"{c['interfered_rounds']} | {r['result']['failed']} | "
            f"{a:.3f} | {b:.3f} | "
            f"{abs(b - a) / a:.3f} | {r['wall']:.1f} |")
    return "\n".join(out) + "\n"


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for workload in args.workloads.split(","):
        runs = []
        for i in range(args.k):
            runs.append(one_run(workload, args.first_seed + i, args.seconds,
                                args.trace))
            c = runs[-1]["context"]
            values = {k: round(m["value"], 4) for k, m in
                      runs[-1]["result"]["metrics"].items()}
            print(f"# {workload} seed {c['seed']}: {runs[-1]['wall']:.1f} s "
                  f"{json.dumps(values)}", file=sys.stderr, flush=True)
        print(report(workload, runs, bounds), flush=True)


if __name__ == "__main__":
    main()
