"""Run one benchmark measurement and print its result as the last line.

    python3 perfbench/run.py --workload etl_migrate --seed 1 --seconds 10 --trace 0

Builds the program from source (see build.py), then runs one JVM that
generates the workload's inputs from the seed, sets up, measures warm
passes for --seconds and checks every pass against a reference. With
--trace 1 it reports the per-layer metrics instead of the end-to-end ones.
Everything it writes stays under .bench_build of the working directory.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("etl_migrate", "curate_batch", "curate_incremental")
# Two task threads and two collector threads: on a shared host the
# hypervisor takes cores away for tens of milliseconds at a time (steal),
# and every thread that must wait for the others at a stage or collector
# barrier turns one stolen core into a stall of the whole pass.
MAX_CORES = 2
GC_THREADS = 2
# A fixed heap and young generation keep the peak RSS a function of the
# work, not of the collector's adaptive sizing.
HEAP = "2g"
YOUNG = "512m"
JVM_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (same list as the
# program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def jvm_command(classes, main, args, work):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
             f"-XX:ParallelGCThreads={GC_THREADS}", "-XX:ConcGCThreads=1", f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dderby.system.home={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", *opens,
             "-cp", build.classpath(classes), main] + args)


def run_jvm(cmd):
    """Run the JVM, stream its stderr, return its stdout lines."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.stdout.write(out)
        raise SystemExit(f"benchmark JVM exited with code {proc.returncode}")
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        raise SystemExit(f"build: {e}")
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    work = build.BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = build.BUILD / "traces" / f"{a.workload}-seed{a.seed}.json"
    trace_out.parent.mkdir(parents=True, exist_ok=True)
    try:
        lines = run_jvm(jvm_command(classes, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--work", str(work),
            "--trace-out", str(trace_out)], work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != RESULT_KEYS:
        raise SystemExit("benchmark JVM printed no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
