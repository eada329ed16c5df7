#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload etl-steady --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark (perfbench/build.py). The workload runs in a fresh JVM; its
end-to-end metrics (--trace 0) or per-layer metrics (--trace 1) are printed
as one JSON object, with the units BENCHMARK.json gives them.

Extra flags:
  --out FILE   also append the full record (both metric sets, the
               problems found, the workload and seed) to FILE as one JSON
               line; perfbench/diff.py compares two such files.
  --data DIR   table directory of the inventory workloads (default
               $SPARK_GRAFT_SF_DIR, else ~/testdata/sf0.1).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    ap.add_argument("--data", default=os.environ.get("SPARK_GRAFT_SF_DIR")
                    or os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    classpath = build.build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    trace_dir = os.path.join(WORK, "traces")
    for d in (run_dir, os.path.join(run_dir, "tmp"), trace_dir):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx4g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dderby.system.home={run_dir}",
        f"-Dderby.stream.error.file={run_dir}/derby.log",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", os.pathsep.join(classpath), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--data", a.data,
        "--work", run_dir, "--traces", trace_dir,
        "--expected", os.path.join(BENCH, "expected", "inventory.json"),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            record = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or record is None:
        fail(f"{a.workload} exited with code {proc.returncode} and no result")
    for p in record["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    e2e, layers = record["end_to_end"], record["per_layer"]
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
    if missing:
        fail(f"{a.workload} did not report {', '.join(missing)}")
    if a.trace:
        # a layer the workload does not pass through reports 0
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    if a.out:
        with open(a.out, "a") as fh:
            fh.write(json.dumps(dict(record, workload=a.workload, seed=a.seed,
                                     seconds=a.seconds, trace=a.trace)) + "\n")
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
