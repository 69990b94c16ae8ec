#!/usr/bin/env python3
"""Smoke test of the benchmark's own code, at minimal length and input size.

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: all four the harness knows) it runs run.py with
--tiny inputs (sf0.001 tables, 200 documents and vectors, a 200k-row bulk
table) for one second, untraced and traced, and checks that the last line
is the result object with every metric BENCHMARK.json names, each with its
unit. It then checks that a deliberately corrupted reference digest is
counted as a failed request, and that run.py fails without printing a
result when the library sources are absent. Takes about 13 minutes on 4 cpus.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
ALL = ("hist_interactive", "hist_bulk", "pipeline_cold", "mixed_concurrent")


def run(workload, trace, *extra, cwd=REPO, script=os.path.join(HERE, "run.py")):
    cmd = [sys.executable, script, "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


def result_of(proc, what):
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"FAIL {what}: exit code {proc.returncode}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit(f"FAIL {what}: result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise SystemExit(f"FAIL {what}: attempted {res['attempted']}")
    return res


def main():
    workloads = sys.argv[1:] or ALL
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            what = f"{w} trace={trace}"
            res = result_of(run(w, trace), what)
            for m in SPEC[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or \
                        not isinstance(got["value"], (int, float)):
                    raise SystemExit(f"FAIL {what}: metric {m['name']} is {got}")
            if not res["correct"] or res["failed"]:
                raise SystemExit(f"FAIL {what}: {res['failed']} failed requests")
            print(f"ok   {what}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} requests", flush=True)

    res = result_of(run("hist_bulk", 0, "--corrupt", "fast1d"), "corrupted digest")
    if res["correct"] or res["failed"] < 1:
        raise SystemExit(f"FAIL corrupted digest not counted: {res}")
    print(f"ok   corrupted digest counted: {res['failed']} of {res['attempted']} failed")

    bare = os.path.join(REPO, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    proc = run("hist_bulk", 0, cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        raise SystemExit("FAIL run.py without library sources did not fail cleanly")
    print("ok   fails cleanly without library sources")


if __name__ == "__main__":
    main()
