"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_drain|serve_reads|dim_merge \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the engine and the harness (see build.py), runs one workload in
a fresh JVM on local[nproc], and relays its output: a report line with
every metric, then the result object as the last line. Work files live
under .bench_build/perfbench/work and are removed afterwards.
"""
import argparse
import os
import shutil
import subprocess
import sys

import build

TIMEOUT_S = 170


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    classpath, archive, source_sha = build.build()
    cpus = str(len(os.sched_getaffinity(0)))
    work = os.path.join(build.OUT, "work", f"{a.workload or 'selftest'}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               PERFBENCH_GIT_COMMIT=git_commit(), PERFBENCH_SOURCE_SHA=source_sha)
    if a.selftest:
        args, main_class = [], "perfbench.SelfTest"
    else:
        main_class = "perfbench.Main"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--trace-out", os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.json")]
    proc = subprocess.Popen(build.java_cmd(classpath, main_class, args, tmp, archive), env=env,
                            stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: timed out after {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
