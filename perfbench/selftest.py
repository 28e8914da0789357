#!/usr/bin/env python3
"""Self-test of the benchmark, at the tiny sf0.001 fixture scale.

    python3 perfbench/selftest.py     # from the repository root, ~5 min

Checks that BENCHMARK.json is well formed; that each workload's result
line parses and carries every end-to-end metric (``--trace 0``) and
every per-layer metric (``--trace 1``) named in BENCHMARK.json, with its
unit; that a deliberately wrong pinned fingerprint is reported as failed
operations with a non-zero exit; and that the command fails without a
result line in a directory holding only BENCHMARK.json and perfbench/.
"""
import json
import os
import re
import shutil
import subprocess
import sys

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run(bench, workload, trace, *extra, cwd=None):
    env = dict(os.environ, PERFBENCH_SF="sf0.001")
    p = subprocess.run(bench["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                                           "--trace", str(trace), *extra],
                       cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except ValueError:
        return p.returncode, None


def check(cond, what):
    print(("ok    " if cond else "FAIL  ") + what)
    return bool(cond)


def main():
    bench = json.load(open("BENCHMARK.json"))
    ok = check(set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
               "BENCHMARK.json has exactly the contract's keys")
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in bench[k]]
    ok &= check(all(NAME.match(n) for n in names) and len(names) == len(set(names)), "metric and workload names")
    ok &= check(all(UNIT.match(m["unit"]) for k in ("end_to_end", "per_layer") for m in bench[k]), "units")
    ok &= check(all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"]), "bounds within (0, 0.25]")
    ok &= check({"name": "setup_s", "unit": "s", "better": "lower",
                 "bound": max(m["bound"] for m in bench["end_to_end"])} in bench["end_to_end"],
                "setup_s present with the largest bound")

    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(bench, w, trace)
            ok &= check(rc == 0 and res is not None, f"{w} --trace {trace}: exit 0 with a result line")
            if res is None:
                continue
            ok &= check(set(res) == {"correct", "attempted", "failed", "metrics"} and res["correct"]
                        and res["failed"] == 0 and res["attempted"] >= 1, f"{w} --trace {trace}: all operations correct")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            ok &= check(got == want and all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                        f"{w} --trace {trace}: every {key} metric, with its unit")
            if trace == 0:
                ok &= check(all(v["value"] > 0 for v in res["metrics"].values()), f"{w}: end-to-end metrics are not 0")

    rc, res = run(bench, "olap", 0, "--corrupt-expected")
    ok &= check(rc != 0 and res is not None and not res["correct"] and res["failed"] > 0,
                "a wrong pinned fingerprint is reported as failed operations and a non-zero exit")

    bare = os.path.join(".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    for p in bench["paths"]:
        shutil.copytree(p, os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = run(bench, bench["workloads"][0]["name"], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    ok &= check(rc != 0 and res is None, "fails without a result line where only the benchmark's files are")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
