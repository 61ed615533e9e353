#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny input sizes.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json: an untraced and a traced smoke run
must be correct and print every metric BENCHMARK.json names, with its unit;
a run with a deliberately wrong reference answer must report a failed
check. Last, the command run in a directory holding only BENCHMARK.json and
perfbench/ must fail without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT):
    p = subprocess.run(["python3", "perfbench/run.py", *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []

    def expect(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            problems.append(msg)

    for w in (x["name"] for x in bench["workloads"]):
        base = ["--workload", w, "--seed", "7", "--seconds", "1",
                "--scale", "tiny"]
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            rc, out = run(base + ["--trace", trace])
            expect(rc == 0 and out is not None, f"{w} trace {trace}: exit 0 with a result")
            if out is None:
                continue
            expect(set(out) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace {trace}: result keys")
            expect(out["correct"] is True and out["failed"] == 0
                   and out["attempted"] >= 1, f"{w} trace {trace}: correct")
            for m in bench[key]:
                got = out["metrics"].get(m["name"])
                expect(got is not None and got.get("unit") == m["unit"]
                       and isinstance(got.get("value"), (int, float)),
                       f"{w} trace {trace}: {m['name']} printed in {m['unit']}")
        rc, out = run(base + ["--trace", "0", "--wrong-reference"])
        expect(rc == 0 and out is not None and out["correct"] is False
               and out["failed"] > 0, f"{w}: wrong reference answer is a failed check")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project/project"))
    w = bench["workloads"][0]["name"]
    rc, out = run(["--workload", w, "--seed", "1", "--seconds", "1",
                   "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    expect(rc != 0 and out is None, "without engine sources: non-zero exit, no result")

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
