#!/usr/bin/env python3
"""Layer-resolved extraction benchmark: build, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first call compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in the Spark jars directory (see build.py) into .bench_build/; later calls reuse
the classes while the sources are unchanged. The JVM prints a summary line
and, last, the result object {correct, attempted, failed, metrics}.
"""
import os
import signal
import subprocess
import sys
from pathlib import Path

import build

RUN_TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these (see build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main(argv):
    root = Path(__file__).resolve().parent.parent
    os.chdir(root)
    problem = build.missing_inputs(root)
    if problem:
        print(f"perfbench: {problem}; run from the root of a full checkout", file=sys.stderr)
        return 2
    classes = build.build(root)
    tmp = root / build.BUILD_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap: G1 shrinks a resizable heap after each full GC, and the
    # next call then pays for faulting its pages back in
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars(root)}/*", "perfbench.Main"] + argv
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, stopping it", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 3


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
