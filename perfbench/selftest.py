"""Self-test of the benchmark's checks.

    python3 perfbench/selftest.py

1. Each tampering must be caught: a wrong expected hit count (probe_const),
   a flipped blob byte (build_agg) and a gate that throws (gate_mix) must each
   print a result with failed > 0 and correct = false, then exit 1.
2. Run from a directory that holds only BENCHMARK.json and perfbench/, the
   benchmark must exit non-zero without printing a result.
Exits 0 when every case behaves as stated.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CASES = [("probe_const", "count"), ("build_agg", "blob"), ("gate_mix", "throw")]


def bench(cwd, workload, extra=()):
    return subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", "7", "--seconds", "1", "--trace", "0", *extra],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    ok = True
    for workload, tamper in CASES:
        p = bench(ROOT, workload, ["--tamper", tamper])
        res = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else None
        caught = (p.returncode == 1 and res is not None and res["failed"] > 0
                  and not res["correct"])
        ok &= caught
        print(f"{workload} tamper={tamper}: exit {p.returncode}, "
              f"failed {res and res['failed']} of {res and res['attempted']}: "
              f"{'caught' if caught else 'NOT CAUGHT'}")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(bare, "probe_const")
    refused = p.returncode != 0 and not p.stdout.strip()
    ok &= refused
    print(f"bare directory: exit {p.returncode}, stdout {len(p.stdout)} bytes: "
          f"{'refused' if refused else 'NOT REFUSED'}")
    shutil.rmtree(bare)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
