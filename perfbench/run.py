#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload month_e2e --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source when they changed
(see build.py), then runs ``perfbench.Main`` in one JVM on a
``local[<cores>]`` session. Every byte the run writes goes to a
per-run scratch directory under ``.bench_build/`` that is deleted when
the run ends. The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; everything else goes
to standard error. The workloads, metrics and bounds are documented in
BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

WORKLOADS = ("month_e2e", "dedup_corpus")
HEAP = "3g"
# Beyond this the run is abandoned; a run must end within 180 s.
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def result_line(stdout):
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == {
                "correct", "attempted", "failed", "metrics"}:
            return line
    return None


def main():
    args = parse_args()
    # a terminated run still stops its JVM and deletes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print("perfbench: no program sources (src/main/scala) in "
              f"{ROOT}", file=sys.stderr)
        return 2
    classes = build.build()
    scratch = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cp = os.pathsep.join(classes + [build.spark_jars()])
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dlog4j2.configurationFile="
              + os.path.join(HERE, "log4j2.properties"),
              "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--scratch", scratch])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE,
                            text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        proc.send_signal(signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    line = result_line(stdout)
    for other in stdout.splitlines():
        if other.strip() != line:
            print(other, file=sys.stderr)
    if proc.returncode != 0 or line is None:
        print(f"perfbench: run failed (exit {proc.returncode})",
              file=sys.stderr)
        return 1
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
