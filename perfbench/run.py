"""Benchmark command for webtoolkitspark.

    python3 perfbench/run.py --workload crawl_durable --seed 7 --seconds 20 --trace 0

Builds the library and the benchmark from source (see build.py), then runs
one workload in one JVM: Spark local[nproc], one closed-loop caller. The
last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; with --trace 0 the metrics are the
end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones, each
with its unit from BENCHMARK.json. Lines before it carry the run's settings
and a named summary. Exit code 0 only when every output was correct. Run
from the repository root.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl_durable", "dedup_clusters")
PINNED = os.path.join(build.BENCH_DIR, "pinned.tsv")

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# org.apache.spark.launcher.JavaModuleOptions injects).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classpath, main_class, work):
    """the java command line for one of the benchmark's mains; `work` is a
    fresh scratch directory of the run"""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [build.java_bin(), "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" +
           os.path.join(build.BENCH_DIR, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, main_class]


def run_jvm(cmd, echo):
    """runs cmd, passing every non-empty stdout line but the last to echo;
    returns (exit code, that last line). The JVM is stopped with us: whoever runs the benchmark
    may interrupt or terminate this process, and no child may outlive it."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    held = None
    try:
        for line in proc.stdout:
            if line.strip():
                if held is not None:
                    echo(held)
                held = line
        code = proc.wait()
    finally:
        if proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    return code, held and held.rstrip("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    # scratch space of one run; a run that was killed leaves its own behind
    work = os.path.join(build.OUT, "work")
    cmd = jvm(classpath, "perfbench.Main", work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", work, "--pinned", PINNED]

    def echo(line):
        sys.stdout.write(line)
        sys.stdout.flush()
    code, last = run_jvm(cmd, echo)
    try:
        result = json.loads(last or "")
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        if last is not None:
            echo(last + "\n")
        print("[perfbench] the JVM printed no result line", file=sys.stderr)
        return code or 3
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    unknown = sorted(set(result["metrics"]) - set(declared))
    missing = [] if args.trace else sorted(set(declared) - set(result["metrics"]))
    if unknown or missing:
        print(f"[perfbench] metrics not declared in BENCHMARK.json: {unknown}; "
              f"end-to-end metrics not reported: {missing}", file=sys.stderr)
        return 3
    # a layer this workload does not exercise reads 0
    result["metrics"] = {
        name: {"value": result["metrics"].get(name, 0.0), "unit": unit}
        for name, unit in declared.items()}
    echo(json.dumps(result, separators=(",", ":")) + "\n")
    return code or (0 if result["correct"] else 1)


def declared_metrics(kind):
    """name -> unit of BENCHMARK.json's `kind` metrics, in its order"""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


if __name__ == "__main__":
    sys.exit(main())
