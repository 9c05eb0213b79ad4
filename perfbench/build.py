#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources and the
benchmark's sources into .bench_build/classes with scalac from the Spark jars
directory the program builds against (build.sbt's unmanagedBase, else
$SPARK_HOME/jars). A stamp over the source paths and contents skips the compile
when nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date) and print the classes dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
REQUIRED = ["build.sbt", "src/main/scala", "src/test/resources/corpus/corpus.json",
            "src/test/resources/golden/index.json"]


def spark_jars(root):
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return str(Path(os.environ["SPARK_HOME"]) / "jars")
    raise SystemExit("perfbench: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def missing_inputs(root):
    for rel in REQUIRED:
        if not (root / rel).exists():
            return f"missing {rel}"
    return None


def sources(root):
    out = []
    for rel in SOURCE_ROOTS:
        out += sorted((root / rel).rglob("*.scala"))
    return out


def stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root):
    files = sources(root)
    out = root / BUILD_DIR / "classes"
    stamp_file = root / BUILD_DIR / "classes.stamp"
    want = stamp(root, files)
    if out.is_dir() and stamp_file.exists() and stamp_file.read_text() == want:
        return out
    staging = root / BUILD_DIR / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    args_file = root / BUILD_DIR / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    jars = f"{spark_jars(root)}/*"
    print(f"perfbench: compiling {len(files)} Scala sources", file=sys.stderr)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", str(staging), "-classpath", jars, f"@{args_file}"],
                   check=True, stdout=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    staging.rename(out)
    stamp_file.write_text(want)
    return out


if __name__ == "__main__":
    root = Path(__file__).resolve().parent.parent
    problem = missing_inputs(root)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        sys.exit(2)
    print(build(root))
