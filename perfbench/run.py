#!/usr/bin/env python3
"""graft benchmark: builds the library and the harness (build.py), runs one
workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload hist_interactive --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}; the lines before it
print the capture context, per-query detail and every metric with its unit.
With --trace 1 the metrics are the per-layer ones and the spans are written
to .bench_build/perfbench/work/traces/. Everything the run writes stays
under .bench_build/ in the repository. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
from build import BUILD, build, fail, spark_jars

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(BUILD, "work")
WORKLOADS = ("hist_interactive", "hist_bulk", "pipeline_cold", "mixed_concurrent")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin for shutdown
# star-schema inputs per workload: (sf, documents, vectors); hist_bulk
# builds its table inside the JVM
SCALES = {"hist_interactive": (0.1, 500, 500), "pipeline_cold": (0.001, 500, 500),
          "mixed_concurrent": (0.01, 500, 500)}
TINY = (0.001, 200, 200)

# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt's jdk17AddOpens)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    path = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    spec = json.load(open(path))
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smoke-test only: minimal inputs, and a query whose reference digest
    # is deliberately corrupted
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", help=argparse.SUPPRESS)
    args = ap.parse_args()

    t_start = time.time()
    jars = spark_jars()
    classes = build(jars)
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    for d in ("tmp", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # set-up counts the median of three generations of the same inputs
    generated_s = 0.0
    if args.workload in SCALES:
        scale = gen.Scale(*(TINY if args.tiny else SCALES[args.workload]))
        times = []
        for _ in range(3):
            t0 = time.time()
            gen.write(os.path.join(WORK, "data", f"seed-{args.seed}"), args.seed, scale)
            times.append(time.time() - t0)
        generated_s = statistics.median(times)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log_path = os.path.join(WORK, "logs", tag + ".log")
    # a fixed heap: resizing it would vary the collections from run to run
    cmd = (["java", "-Xms4g", "-Xmx4g", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes] + jars), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", WORK,
              "--generated-s", str(generated_s)]
           + (["--tiny"] if args.tiny else [])
           + (["--corrupt", args.corrupt] if args.corrupt else []))
    budget = RUN_LIMIT_S - (time.time() - t_start) if not args.tiny else 600
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=WORK, env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(budget, 30))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded its time limit; log: {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    lines = {}
    for line in out.splitlines():
        key, _, rest = line.partition(" ")
        if key.startswith("PERFBENCH_"):
            lines[key] = json.loads(rest)
    result = lines.get("PERFBENCH_RESULT")
    if proc.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with code {proc.returncode}; log: {log_path}")

    # the result carries exactly the metrics BENCHMARK.json lists for this
    # mode; the harness measures a superset
    measured = dict(result["metrics"])
    expected = expected_metrics(args.trace)
    if expected is not None:
        missing = set(expected) - set(result["metrics"])
        if missing:
            fail(f"metrics missing from the result: {sorted(missing)}")
        for name, unit in expected.items():
            if result["metrics"][name]["unit"] != unit:
                fail(f"{name} has unit {result['metrics'][name]['unit']}, expected {unit}")
        result["metrics"] = {n: result["metrics"][n] for n in expected}

    context = lines["PERFBENCH_CONTEXT"]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump({"context": context, "detail": lines.get("PERFBENCH_DETAIL"),
                   "measured": measured, "result": result}, f, indent=1)
    print("context " + json.dumps(context))
    print("detail " + json.dumps(lines.get("PERFBENCH_DETAIL")))
    # every measured metric, gated or not; the last line carries the gated ones
    for name, m in measured.items():
        note = "" if name in result["metrics"] else "  (not gated)"
        if name == "latency_tail_s":
            note += (f"  (p{context['tail_percentile']:g}, {context['latency_samples']} samples, "
                     f"{context['tail_samples_beyond']} beyond)")
        print(f"{name:34s} {m['value']:.6g} {m['unit']}{note}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
