#!/usr/bin/env python3
"""PromHouse-on-Spark wire-path benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), then runs one workload:

  dashboard    4 remote-read clients, F1-F5 matcher mix, preloaded store
  query_board  the first registered query of each graft.queries module,
               in-process as 4 query streams, over the test data in
               perfbench/data; --full 1 runs every query graft.Bench
               benches (about a minute a pass)
  ingest       4 remote-write clients, 100k-sample requests, fresh store
  mixed        2 writers + 2 readers on the preloaded store

The last two are not part of BENCHMARK.json (perfbench/README.md says why).

With --trace 0 the wire workloads drive `graft.api.HttpApi` in its own JVM
over loopback HTTP and report end-to-end metrics; with --trace 1 the same
requests replay in-process through the layers' public functions and the
per-layer metrics are reported. Every metric is printed by name and unit,
the run artifact is written under .bench_build/perfbench/out, and the last
line is the JSON result: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
from build import OUT, java  # noqa: E402

RUN_TIMEOUT_S = 170
# the module opens Spark needs outside spark-submit (as build.sbt sets);
# the benchmark JVM passes them on to the server JVM it starts
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop_group(proc: subprocess.Popen) -> None:
    """Stop a process group (a child and every process it started), and wait."""
    for sig, wait_s in ((signal.SIGTERM, 60), (signal.SIGKILL, 30)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            try:
                proc.wait(timeout=0.5)
            except subprocess.TimeoutExpired:
                pass


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--full", choices=["0", "1"], default="0",
                    help="query_board: every benched query instead of the gated subset")
    ap.add_argument("--capture", help="query_board: write a new output reference to this file")
    a = ap.parse_args()

    if not pathlib.Path("src/main/scala").is_dir():
        fail("no program sources (src/main/scala); run from the repository root")
    # a terminated benchmark still stops the processes it started (see the `finally`s)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build = subprocess.Popen([sys.executable, "perfbench/build.py"], stdout=subprocess.PIPE, text=True,
                             start_new_session=True)
    try:
        built, _ = build.communicate(timeout=800)
    except subprocess.TimeoutExpired:
        fail("build exceeded 800 s")
    finally:
        stop_group(build)
    if build.returncode != 0:
        fail("build failed")
    classpath = built.strip().splitlines()[-1]

    tag = f"{a.workload}-trace{a.trace}-seed{a.seed}"
    out, work, tmp = OUT / "out", OUT / "work" / tag, OUT / "tmp"
    shutil.rmtree(work, ignore_errors=True)
    for d in (out, work, tmp):
        d.mkdir(parents=True, exist_ok=True)
    props = [f"-Dperfbench.capture={a.capture}"] if a.capture else []
    cmd = ([java(), "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp.resolve()}",
            f"-Dspark.local.dir={tmp.resolve()}"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + props + ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", a.trace, "--out", str(out), "--work", str(work),
                      "--full", a.full])
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    log = out / f"{tag}.stderr.log"
    timeout = 3600 if a.full == "1" or a.capture else RUN_TIMEOUT_S
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env,
                                start_new_session=True)
        lines = []

        def relay() -> None:
            for line in proc.stdout:
                line = line.rstrip("\n")
                lines.append(line)
                if not line.startswith("{"):
                    print(line, flush=True)

        reader = threading.Thread(target=relay, daemon=True)
        reader.start()
        try:
            proc.wait(timeout=timeout)
            reader.join(timeout=10)
        except (subprocess.TimeoutExpired, KeyboardInterrupt):
            stop_group(proc)
            fail(f"run exceeded {timeout} s; log: {log}")
        finally:
            stop_group(proc)
            shutil.rmtree(work, ignore_errors=True)
    last = next((x for x in reversed(lines) if x.startswith("{")), None)
    if proc.returncode != 0 or last is None:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"run failed (exit {proc.returncode}); log: {log}")
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {last}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
