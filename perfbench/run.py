#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload sudan_api --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds graft and the harness
(see build.py). The session is `GraftSession.local(nproc)`. Each run gets a private, emptied java.io.tmpdir,
spark.local.dir and warehouse directory under the build directory, and the
JVM flags of build.sbt's javaOptions. The harness (src/perfbench) prints
human-readable `[perfbench]` lines; the last line of standard output is the
JSON result: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1 (that run also writes its spans under <build dir>/perfbench-trace).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
# Wall-clock limits for the harness JVM, in seconds: a run must end within
# 180 s, or 900 s when it had to compile first.
LIMIT_S, LIMIT_BUILD_S = 170, 880

# build.sbt javaOptions (Spark 4 on JDK 17 outside spark-submit).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags():
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
        "-XX:ReservedCodeCacheSize=1g",
        "-XX:+UseCodeCacheFlushing",
        # sources and fixtures hold Arabic text; do not depend on the locale
        "-Dfile.encoding=UTF-8",
    ]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    started = time.monotonic()
    root = Path.cwd()
    try:
        classpath, built = build.build(root)
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    bdir = build.build_dir(root)
    run_dir = bdir / "perfbench-run" / a.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (run_dir / d).mkdir(parents=True)
    log = run_dir / "harness.log"

    cmd = [build.java()] + jvm_flags() + [
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dspark.local.dir={run_dir / 'local'}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "-cp", classpath, "perfbench.Harness",
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(os.cpu_count()),
        "--data", str(BENCH / "data"), "--expected", str(BENCH / "expected.tsv"),
        "--out", str(bdir / "perfbench-trace"),
        "--spawn-ms", repr(time.time() * 1000.0),
    ]
    limit = (LIMIT_BUILD_S if built else LIMIT_S) - (time.monotonic() - started)
    lines = []
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        reader = threading.Thread(target=lambda: lines.extend(p.stdout))
        reader.start()

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=max(limit, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            reader.join()
            print(f"perfbench: harness exceeded {limit:.0f} s; log: {log}",
                  file=sys.stderr)
            return 1
        reader.join()

    result = None
    for line in lines:
        if line.startswith("{"):
            result = line
        else:
            sys.stdout.write(line)
    if p.returncode != 0 or result is None:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        print(f"perfbench: harness exited with {p.returncode}; log: {log}",
              file=sys.stderr)
        return 1
    json.loads(result)
    sys.stdout.write(result)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
