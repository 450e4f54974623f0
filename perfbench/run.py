"""Benchmark entry point.

    python3 perfbench/run.py --workload probe_const --seed 1 --seconds 20 --trace 0

Builds the repo and the benchmark from source (perfbench/build.py), runs one
workload in a fresh JVM, and prints as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}. The line before it carries the
run context (seed, slots, heap, load, input sizes, workload-specific rates).
Exits 1 after printing when any operation failed or returned a wrong result,
and 2 without printing a result when the build or the JVM fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("probe_const", "build_agg", "gate_mix")
HEAP = "3g"
# Spark task slots: half the CPUs, so the driver thread, the JIT
# compilers and the collector run beside the tasks instead of pre-empting
# them, and a stage does not wait on the one CPU the host takes away.
TASK_SLOTS = max(1, (os.cpu_count() or 2) // 2)
# More JIT compiler threads than the 3 a 4-CPU JVM picks: Spark's driver code
# then reaches C2 speed during the warm-up cycles rather than in the window.
JIT_THREADS = 6
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def loadavg_1m():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    """Total and steal jiffies of all CPUs, or None without /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(v[:8]), (v[7] if len(v) > 7 else 0)


def source_revision(stamp):
    """The git commit when run from a clone, else the digest of the sources built."""
    if os.path.isdir(os.path.join(build.ROOT, ".git")):
        p = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        if p.returncode == 0:
            return p.stdout.strip()
    return "sources-sha256:" + stamp


def run_jvm(cmd, cwd):
    """Runs the JVM to its end; None when it had to be killed."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", choices=("none", "count", "blob", "throw"), default="none",
                    help="self-test of the checks: corrupt one expected value or gate")
    ap.add_argument("--record-expected", action="store_true",
                    help="gate_mix only: rewrite perfbench/expected_gates.json")
    a = ap.parse_args()
    if a.record_expected and a.workload != "gate_mix":
        ap.error("--record-expected applies to gate_mix only")

    try:
        classpath, stamp, out_dir = build.build()
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(build.BUILD_DIR, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result_file = os.path.join(run_dir, "result.json")
    trace_dir = os.path.join(build.BUILD_DIR, "traces")
    os.makedirs(trace_dir, exist_ok=True)

    def jvm(workload, extra_flags, extra_args=()):
        return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] + [
            f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-XX:CICompilerCount={JIT_THREADS}",
            f"-Dperfbench.slots={TASK_SLOTS}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}", "-Xlog:cds=error",
        ] + extra_flags + [
            "-cp", ":".join(classpath + [os.path.join(build.SPARK_JARS, "*")]),
            "perfbench.Main",
            "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tamper", a.tamper,
            "--fixture", os.path.join(build.BENCH_DIR, "fixture"),
            "--expected", os.path.join(build.BENCH_DIR, "expected_gates.json"),
            "--result", result_file,
            "--trace-out", os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.jsonl"),
        ] + list(extra_args))

    # Spark's classes, parsed and verified once per build into a
    # class-data-sharing archive, load in a few seconds less; a training JVM
    # that runs every workload briefly decides which classes go in.
    archive = os.path.join(out_dir, "classes.jsa")
    if not os.path.exists(archive):
        rc = run_jvm(jvm("train", [f"-XX:ArchiveClassesAtExit={archive}"]), run_dir)
        if rc != 0 and os.path.exists(archive):
            os.remove(archive)
    share = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    load0, cpu0 = loadavg_1m(), cpu_times()
    rc = run_jvm(jvm(a.workload, share, ["--record-expected"] if a.record_expected else []),
                 run_dir)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc is None:
        return 2
    if a.record_expected:
        return rc
    if rc != 0 or not os.path.exists(result_file):
        print(f"perfbench: JVM exited with {rc} and no result", file=sys.stderr)
        return 2
    with open(result_file) as f:
        out = json.load(f)
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if {(m["name"], m["unit"]) for m in declared} != {
            (n, m["unit"]) for n, m in out["metrics"].items()}:
        print("perfbench: metrics printed differ from those BENCHMARK.json declares",
              file=sys.stderr)
        return 2
    cpu1 = cpu_times()
    context = out.pop("context")
    context.update({
        "seed": a.seed, "nproc": os.cpu_count(), "heap": HEAP, "jit_threads": JIT_THREADS,
        "class_archive": bool(share), "loadavg_1m_start": load0, "loadavg_1m_end": loadavg_1m(),
        "steal_share": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]) if cpu0 and cpu1 else None,
        "revision": source_revision(stamp)})
    print(json.dumps({"context": context}, sort_keys=True))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] and out["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
