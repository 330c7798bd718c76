"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in one JVM on a local[3] Spark session, and prints as
its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

With --trace 0 the metrics are the end_to_end list of BENCHMARK.json,
with --trace 1 the per_layer list. A traced run also writes its spans to
.bench_build/trace/<workload>-seed<seed>.jsonl. Exits non-zero without a
result line when the build or the run fails.

The first run of each workload after a build records the classes it
loads in a class-data sharing archive (.bench_build/cds); later runs map
it instead of loading Spark's classes from the jars one by one, which
takes seconds off every JVM start.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
# A fixed heap, touched in full at JVM start: how far a growing heap
# reaches depends on GC timing, so peak RSS would vary from run to run;
# with the heap fixed it moves only with what the run holds off-heap.
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(msg, file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.load(open("BENCHMARK.json"))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)

    # one run at a time: whatever an interrupted run left behind goes
    shutil.rmtree(os.path.join(build.OUT, "work"), ignore_errors=True)
    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}")
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build.OUT, "trace", f"{a.workload}-seed{a.seed}.jsonl")
    cds_dir = os.path.join(build.OUT, "cds")
    prefix = build.build_id()[:16]
    archive = os.path.join(cds_dir, f"{prefix}-{a.workload}.jsa")
    os.makedirs(cds_dir, exist_ok=True)
    for f in os.listdir(cds_dir):  # archives of older builds
        if not f.startswith(prefix):
            os.remove(os.path.join(cds_dir, f))
    if os.path.exists(archive):
        cds = ["-XX:SharedArchiveFile=" + archive]
    else:
        cds = ["-XX:ArchiveClassesAtExit=" + archive + ".tmp"]
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + cds +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode == 0 and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with {proc.returncode} and no result", 4)

    measured = result["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            metrics[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}
        elif a.trace:
            # a layer the workload does not exercise did no work
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} was not measured", 4)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
