#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --offered-rows-per-s N --workload W --seed S \
        --seconds T --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), runs one workload in one JVM (Spark local[k],
k = the CPUs this process may use), and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. Everything the run writes lives under the build directory
and is deleted before the script exits. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("etl_stream", "analyst_queries", "curation_batches")
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xmx3g", "-Xss16m",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    # dozens of codegen'd plans churn the default code cache; when it fills,
    # compiled kernels drop to the interpreter (see build.sbt)
    "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def declared_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json declares for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--offered-rows-per-s", type=float, required=True,
                    help="etl_stream offered load; fixed in BENCHMARK.json")
    a = ap.parse_args()

    expected = declared_metrics(a.trace)
    classpath = build.build()
    runs = os.path.join(build.build_dir(), "run")
    # leftovers of an interrupted run would add writeback pressure to this one
    for d in os.listdir(runs) if os.path.isdir(runs) else []:
        if not os.path.exists(f"/proc/{d.rsplit('-', 1)[-1]}"):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    work = os.path.join(runs, f"{a.workload}-{os.getpid()}")
    os.makedirs(work)
    record = os.path.join(build.build_dir(), "records",
                          f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"), "-cp", ":".join(classpath), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--work", work,
        "--offered-rows-per-s", str(a.offered_rows_per_s),
        "--record", record]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work,
                            start_new_session=True)
    lines = []
    try:
        deadline = time.monotonic() + RUN_TIMEOUT_S
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)
            if time.monotonic() > deadline:
                break
        proc.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.exit(f"run: the benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1]) if lines else None
    if not result or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("run: no result line")
    got = result["metrics"]
    wrong = [m for m, u in expected if m not in got or got[m].get("unit") != u]
    if wrong or len(got) != len(expected):
        sys.exit(f"run: metrics differ from BENCHMARK.json: {wrong}")
    result["metrics"] = {m: got[m] for m, _ in expected}
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
