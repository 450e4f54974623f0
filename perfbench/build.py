"""Build step of the benchmark: compiles the repo's main sources and the
benchmark's own sources with the Scala 2.13 compiler shipped in the Spark
distribution, without sbt and without touching the repo's build.

Outputs go to `.bench_build/` at the repo root, keyed by a digest of every
source file, so a second run in the same checkout reuses the classes. The
classes are packed into jars, because the JVM's class-data-sharing archive
that run.py makes from them accepts only jars on the class path.

    python3 perfbench/build.py          # prints the classpath it built
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def _spark_jars():
    """The jars of $SPARK_HOME, else of the Spark that holds spark-submit on
    $PATH, else of the pyspark package; the first that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    return ""


SPARK_JARS = _spark_jars()


def _sources(base, exts):
    out = []
    for ext in exts:
        out += glob.glob(os.path.join(base, "**", "*" + ext), recursive=True)
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(scala_srcs, java_srcs, classpath, out_dir):
    os.makedirs(out_dir)
    jars = os.path.join(SPARK_JARS, "*")
    cp = ":".join([c for c in classpath] + [jars])
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-classpath", cp, "-d", out_dir]
        + scala_srcs + java_srcs,
        check=True)
    if java_srcs:
        subprocess.run(["javac", "-nowarn", "-d", out_dir, "-cp", out_dir + ":" + cp]
                       + java_srcs, check=True)


def _jar(classes_dir, jar_path):
    with zipfile.ZipFile(jar_path, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in sorted(os.walk(classes_dir)):
            for name in sorted(files):
                p = os.path.join(base, name)
                z.write(p, os.path.relpath(p, classes_dir))


def build():
    """Returns the classpath entries, the digest of the sources built and
    the directory that holds the build's outputs."""
    main = os.path.join(ROOT, "src", "main")
    repo_scala = _sources(os.path.join(main, "scala"), [".scala"])
    repo_java = _sources(os.path.join(main, "java"), [".java"])
    if not repo_scala:
        raise RuntimeError("no repo sources under src/main/scala: "
                           "run from the root of a full checkout")
    if not SPARK_JARS:
        raise RuntimeError("no Spark distribution with a Scala compiler found: set SPARK_HOME")
    bench_srcs = _sources(os.path.join(BENCH_DIR, "src"), [".scala"])
    stamp = _digest(repo_scala + repo_java + bench_srcs)
    out = os.path.join(BUILD_DIR, "classes-" + stamp[:16])
    repo_out, bench_out = os.path.join(out, "repo"), os.path.join(out, "bench")
    jars = [os.path.join(out, "bench.jar"), os.path.join(out, "repo.jar")]
    if not os.path.exists(os.path.join(out, "DONE")):
        for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
            shutil.rmtree(old)
        _compile(repo_scala, repo_java, [], repo_out)
        _compile(bench_srcs, [], [repo_out], bench_out)
        _jar(bench_out, jars[0])
        _jar(repo_out, jars[1])
        open(os.path.join(out, "DONE"), "w").close()
    return jars, stamp, out


if __name__ == "__main__":
    try:
        print(":".join(build()[0]))
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
