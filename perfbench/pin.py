#!/usr/bin/env python3
"""Pins the olap workload's output checks: computes every query's result
fingerprint on the generated fixtures, cross-checks each result against
its ``SparkEntry.oracleSql`` text in DuckDB (``tools/parity_check.py``),
and writes ``perfbench/expected.json``.

    python3 perfbench/pin.py          # from the repository root

Run it only when the fixture generator or the query list changes, on a
commit whose outputs are known good; every benchmark run then compares
against these values. It pins the workload's own scales and the
self-test's sf0.001.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def main():
    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = run.build(root, out)
    data = os.path.join(out, "data")
    res = os.path.join(out, "pin")
    shutil.rmtree(res, ignore_errors=True)
    for sf in ["-", "sf0.001"]:
        for s in run.WORKLOADS["olap"] if sf == "-" else [sf]:
            run.gen.fixtures(os.path.join(data, s), float(s[2:]))
        work = os.path.join(out, "runs", f"pin-{sf}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        cmd = run.java(classes, work, [
            "--workload", "olap", "--seed", "0", "--seconds", "0", "--trace", "0", "--sf", sf,
            "--data", data, "--work", work, "--traces", work, "--expected", "-", "--pin", res])
        try:
            subprocess.run(cmd, cwd=work, check=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    expected, ok = {}, True
    for sf in sorted(os.listdir(res)):
        parity = subprocess.run([sys.executable, os.path.join(root, "tools", "parity_check.py"),
                                 os.path.join(data, sf), os.path.join(res, sf)],
                                capture_output=True, text=True)
        print(f"== {sf}\n{parity.stdout}", end="")
        ok &= parity.returncode == 0
        with open(os.path.join(res, sf, "fingerprints.json")) as fh:
            expected[sf] = json.load(fh)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
