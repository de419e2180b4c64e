#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) into .bench_build/perfbench/classes, using the
Scala compiler that ships with Spark ($SPARK_HOME/jars, or the install that
holds `spark-submit` on PATH). A digest of every source file is kept next
to the classes, so an unchanged tree is not compiled again.

Run from the repository root:  python3 perfbench/build.py
Prints the class path to run with on its last line.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

OUT = pathlib.Path(".bench_build/perfbench")
SOURCE_DIRS = [pathlib.Path("src/main/scala"), pathlib.Path("perfbench/src")]


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: set SPARK_HOME (no spark-submit on PATH either)")
        home = str(pathlib.Path(os.path.realpath(submit)).parent.parent)
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar in {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            sys.exit(f"build: {d} is missing; run from the repository root")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def main() -> None:
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p).encode() + b"\0" + p.read_bytes() + b"\0")
    digest.update(",".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    stamp = OUT / "classes.sha256"
    classes = OUT / "classes"
    classpath = f"{classes.resolve()}{os.pathsep}{jars}/*"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        print(classpath)
        return
    staging = OUT / "classes.new"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-cp", f"{jars}/*"] + [str(p) for p in srcs]
    print(f"build: compiling {len(srcs)} files", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(digest.hexdigest())
    print(classpath)


if __name__ == "__main__":
    main()
