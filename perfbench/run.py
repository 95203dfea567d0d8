#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds first (see build.py), then runs the workload in one JVM on
local[<cpus>] with a single client. Every metric is printed by name,
with unit and sample count; the last stdout line is the JSON result.
Exits non-zero when the build fails, an operation fails or an output
check does not match.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=["serve", "ingest"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and a.workload is None:
        p.error("--workload is required")

    cp = build.build()
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    jvm = [build.java(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}",
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    jvm += [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
    if a.selftest:
        cmd = jvm + ["-cp", cp, "graftbench.SelfTest"]
    else:
        os.makedirs(work, exist_ok=True)
        cmd = jvm + ["-cp", cp, "graftbench.Main", "--workload", a.workload,
                     "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", a.trace, "--work", work, "--cpus", str(cpus)]
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    proc = subprocess.Popen(cmd, env=env, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run: timed out after {TIMEOUT_S} s", file=sys.stderr)
        code = 3
    shutil.rmtree(work, ignore_errors=True)  # left behind by a killed run
    sys.exit(code)


if __name__ == "__main__":
    main()
