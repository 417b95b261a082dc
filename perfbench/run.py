#!/usr/bin/env python3
"""Benchmark entry point for the profile analyzer.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. On first use (or when any source changed) it
compiles the analyzer's sources plus the benchmark code (build.py in this
directory), then starts one JVM for the workload. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the line before
it holds the fingerprint of every checked output. Progress, Spark
logs and a human-readable metric table go to stderr. Every run also leaves a
JSON artifact (inputs, per-run timings, spans when traced) under perfbench/out/.
See perfbench/README.md for workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
from build import build, java  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("ops_mix", "dashboard")
END_TO_END = ("run_s", "cpu_s", "peak_rss_mb", "setup_s")
RUN_TIMEOUT_S = 175
REFERENCE = os.path.join(HERE, "reference", "fingerprints.json")
JVM_OPTS = [
    # Generation sizes that follow occupancy only: a fixed young generation,
    # and an old generation that starts at 512 MiB and grows when a full GC
    # leaves it too full. G1, and the parallel collector's adaptive sizing,
    # grow the heap when GC pauses take long, so on a loaded machine
    # peak_rss_mb jumped by 300-500 MB from run to run. Pages are touched only
    # when used (no pre-touch).
    "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
    "-Xms1g", "-Xmx2g", "-Xmn512m",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    # what spark-submit adds on JDK 17 (JavaModuleOptions.defaultModuleOptions)
    opt
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-reference", action="store_true",
                    help=f"after a correct run, store its fingerprints for this workload and "
                         f"seed in {os.path.relpath(REFERENCE, ROOT)}, where later runs at the "
                         f"same seed are checked against them")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala")):
        sys.exit("perfbench: the analyzer's sources (src/main/scala) are not next to this "
                 "directory; run from a full checkout of the repository")
    classpath = build()

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, f"work-{name}-{os.getpid()}")
    artifact = os.path.join(OUT, f"{name}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java(), *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--artifact", artifact, "--reference", REFERENCE]
    # Spark lets these override spark.local.dir, which must stay inside the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    out = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was killed")

    lines = out.splitlines()
    for ln in lines:
        if not ln.startswith("PERFBENCH"):
            print(ln, file=sys.stderr)
    fingerprints = [ln[len("PERFBENCH-FP "):] for ln in lines if ln.startswith("PERFBENCH-FP ")]
    results = [ln[len("PERFBENCH "):] for ln in lines if ln.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not results:
        sys.exit(f"perfbench: benchmark JVM exited {proc.returncode} without a result")
    result = json.loads(results[-1])
    if a.trace == "0":
        missing = [m for m in END_TO_END if m not in result["metrics"]]
        if missing:
            sys.exit(f"perfbench: result lacks {missing}")
    # every output fingerprint on its own line, so that two trees can be
    # compared at the same seed; the result stays the last line
    for fp in fingerprints:
        print(fp)
    if a.record_reference and result["correct"] and fingerprints:
        record_reference(json.loads(fingerprints[-1]))
    print(json.dumps(result), flush=True)


def record_reference(fp):
    ref = {}
    if os.path.exists(REFERENCE):
        with open(REFERENCE) as f:
            ref = json.load(f)
    ref.setdefault(fp["workload"], {})[str(fp["seed"])] = fp["fingerprints"]
    os.makedirs(os.path.dirname(REFERENCE), exist_ok=True)
    with open(REFERENCE, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
