"""Repeatability check: runs the benchmark N times per workload, untraced,
each run with another seed, and prints for every (metric, workload) pair the
median, the quartiles, the spread (q3 - q1) / median and whether that spread
stays within the metric's bound in BENCHMARK.json (and within a third of it,
the margin the benchmark aims for).

    python3 perfbench/repeat.py --runs 10 [--workloads probe_const,gate_mix] [--first-seed 1]

Raw results go to .bench_build/repeat/<workload>.json. Exits 1 when any run
fails or any spread other than setup_s exceeds its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    ctx = json.loads(lines[-2])["context"]
    ctx["run_wall_s"] = time.monotonic() - t0
    return ctx, json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(ROOT, ".bench_build", "repeat")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    print(f"{'workload':<12} {'metric':<14} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}  verdict")
    for wl in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            ctx, res = run_once(wl, a.first_seed + i, bench["run_seconds"])
            if not res["correct"] or res["failed"]:
                ok = False
            runs.append({"context": ctx, "result": res})
            print(f"  {wl} seed {a.first_seed + i}: load {ctx['loadavg_1m_start']:.2f}, "
                  f"{res['attempted']} ops, failed {res['failed']}, "
                  f"{ctx['run_wall_s']:.0f} s wall", file=sys.stderr)
        with open(os.path.join(out_dir, f"{wl}.json"), "w") as f:
            json.dump(runs, f, indent=1)
        for metric, bound in bounds.items():
            vals = [r["result"]["metrics"][metric]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            verdict = ("steady" if spread < bound / 3 else
                       "within bound" if spread <= bound else "OVER BOUND")
            if spread > bound and metric != "setup_s":
                ok = False
            print(f"{wl:<12} {metric:<14} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} "
                  f"{spread:>7.3f} {bound:>6.2f}  {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
