#!/usr/bin/env python3
"""Run one workload of the pub/sub table-store benchmark.

    python3 tdbench/run.py --workload <dag_refresh|small_commits|history_reads>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (build.py),
then runs the benchmark JVM from the repository root. Human-readable lines go
first; the last line of standard output is the result JSON. Every file the
run writes lives under .bench_build/tdbench/work/ and is removed at exit.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the source tree free of __pycache__
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = build.java_command(classpath, work) + [
        "tdbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work), "--traces", str(build.OUT / "traces")]
    try:
        # subprocess.run kills and reaps the JVM if it overruns
        return subprocess.run(cmd, cwd=build.ROOT, stdin=subprocess.DEVNULL,
                              env=build.child_env(work),
                              timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"tdbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
