"""Tests of the benchmark itself: seeded inputs are reproducible, and every
workload's output check catches a perturbed output.

    python3 perfbench/selftest.py
"""
import os
import shutil
import subprocess
import sys

import run

if __name__ == "__main__":
    try:
        classes = run.build.build()
    except run.build.BuildError as e:
        raise SystemExit(f"build: {e}")
    work = run.build.BUILD / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = min(run.MAX_CORES, len(os.sched_getaffinity(0)))
    cmd = run.jvm_command(classes, "perfbench.SelfTest",
                          ["--work", str(work), "--cores", str(cores)], work)
    try:
        code = subprocess.run(cmd).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)
