#!/usr/bin/env python3
"""Benchmark command: builds graft and the harness from source, generates
the inputs, runs one workload in a fresh JVM and prints its result line.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 5 --trace 0

Run it from the repository root. Everything it writes goes under
``$CARGO_TARGET_DIR`` (default ``.bench_build``): the compiled classes,
the generated inputs, one scratch directory per run (deleted at the
end) and the traced runs' artifacts (``perfbench/traces``). See
``perfbench/README.md``.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# the fixture scales each workload reads (Olap.Queries)
WORKLOADS = {"olap": ["sf0.02", "sf0.01"], "api": []}
PLAYS = 3000
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars under {jars!r} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build(root, out):
    """Compile src/main/scala, then the harness against it. Output is
    keyed by a hash of the sources, so an unchanged tree builds once."""
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    if not main or not bench:
        fail("no sources to build: run from the repository root")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    dest = os.path.join(out, "classes", h.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, "_OK")):
        return dest
    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    jars = spark_jars()
    for name, srcs, cp in [("main", main, jars),
                           ("bench", bench, os.path.join(dest, "main") + os.pathsep + jars)]:
        os.makedirs(os.path.join(dest, name))
        argfile = os.path.join(dest, f"{name}.args")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs))
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                            "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                            "-d", os.path.join(dest, name), "@" + argfile],
                           stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            fail(f"compiling {name} failed")
    open(os.path.join(dest, "_OK"), "w").close()
    return dest


def java(classes, work, args):
    """The harness JVM: pinned heap, every temporary file inside `work`."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Xss8m",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([os.path.join(classes, "main"), os.path.join(classes, "bench"),
                                       spark_jars()]), "perfbench.Main"] + args)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test only: alter one pinned fingerprint, which must fail the run
    p.add_argument("--corrupt-expected", action="store_true")
    a = p.parse_args()

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = build(root, out)

    data = os.path.join(out, "data")
    # the self-test's tiny configuration: every OLAP query at one small scale
    sf = os.environ.get("PERFBENCH_SF")
    work = os.path.join(out, "runs", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--sf", sf or "-", "--data", data, "--work", work,
            "--traces", os.path.join(out, "traces"), "--expected", os.path.join(HERE, "expected.json"),
            "--corrupt", "1" if a.corrupt_expected else "0"]
    for s in [sf] if sf else WORKLOADS[a.workload]:
        gen.fixtures(os.path.join(data, s), float(s[2:]))
    if a.workload == "api" and not os.path.exists(os.path.join(data, "models", "_OK")):
        # the api workload's models: fitted once per checkout, outside any run's timing
        os.makedirs(data, exist_ok=True)
        gen.plays(os.path.join(data, "plays.csv"), gen.FIXTURE_SEED, PLAYS)
        shutil.rmtree(os.path.join(data, "models"), ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            r = subprocess.run(java(classes, work, args + ["--pin", "-"]), cwd=work,
                               stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if r.returncode != 0:
            fail("training the api models failed")
        open(os.path.join(data, "models", "_OK"), "w").close()

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java(classes, work, args)
    try:
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{a.workload} exited with {r.returncode} and no result line")
    print(json.dumps(result))
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
