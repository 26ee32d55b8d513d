#!/usr/bin/env python3
"""Runs one benchmark workload against graft.

    python3 perfbench/run.py --workload build|churn --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --describe --seed N

Run from the root of a checkout. The first run compiles graft and the
benchmark (perfbench/build.py); every run then starts one JVM with a
local Spark session, works in .bench_work/ under the checkout, and
removes that directory when it ends. The JVM's last stdout line is the
result JSON; Spark's log goes to the work directory and its tail is
shown only if the run fails."""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["build", "churn"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--describe", action="store_true", help="print the input make-up of --seed")
    a = ap.parse_args()
    if not (a.selftest or a.describe or a.workload):
        ap.error("--workload is required")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        return 2
    work_root = os.path.join(build.ROOT, ".bench_work")
    shutil.rmtree(work_root, ignore_errors=True)
    work = os.path.join(work_root, a.workload or "tool")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx2g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Bench"]
    if a.selftest:
        cmd += ["--workload", "selftest"]
    elif a.describe:
        cmd += ["--workload", "describe", "--seed", str(a.seed)]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--cores", str(cores())]
    log_path = os.path.join(work_root, "jvm.log")
    code = 1
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                 cwd=work, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=TIMEOUT_S)
                code = p.returncode
            except BaseException:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                sys.stderr.write(f"perfbench: run stopped after {TIMEOUT_S} s or interrupted\n")
                return 1
        lines = out.strip().splitlines()
        if code != 0 or not lines:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            return code or 1
        with open(log_path) as f:
            for line in f:
                if line.startswith("perfbench"):
                    sys.stderr.write(line)
        sys.stdout.write("\n".join(lines) + "\n")
        return 0
    finally:
        shutil.rmtree(work_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
