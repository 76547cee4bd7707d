#!/usr/bin/env python3
"""Run one perfbench workload and print its one-line JSON result.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 20 --trace 0

Workloads: query_suite, incoming_scan, outgoing_upsert. Run it from the root
of a checkout of the repository: the program is compiled from src/main/scala
on first use (see build.py). With --trace 0 the result carries the
end-to-end metrics; with --trace 1 the per-layer metrics, and the run's
spans are kept in perfbench/out/runs/ for summarize.py. --size tiny shrinks
every input (used by smoke_test.py). The full result with host, config and
both metric sets is written to perfbench/out/runs/<run>/result.json.

Exit status: 0 with the result as the last stdout line; non-zero, and no
result, when the build, the run or the output check machinery fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("query_suite", "incoming_scan", "outgoing_upsert")
RUN_LIMIT_S = 170
JVM_FLAGS = [
    "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", "-XX:MetaspaceSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # the fake server answers headers and body in separate writes; without
    # TCP_NODELAY every response stalls on the client's delayed ACK
    "-Dsun.net.httpserver.nodelay=true",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--record", metavar="PATH",
                   help="run every registered query once and write its fingerprint to PATH")
    return p.parse_args(argv)


def run(args) -> dict:
    started = time.monotonic()
    classes, digest = build.build()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.size}"
    out = HERE / "out" / "runs" / name
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    cmd = ["java", *JVM_FLAGS,
           f"-Djava.io.tmpdir={out / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
           "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--data", str(HERE / "data" / "sf0.01"),
           "--out", str(out), "--source", digest]
    if args.record:
        cmd += ["--record", str(Path(args.record).resolve())]
    proc = subprocess.Popen(cmd, cwd=out, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        limit = None if args.record else max(30, RUN_LIMIT_S - (time.monotonic() - started))
        code = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("benchmark JVM timed out")
    finally:
        for scratch in ("tmp", "spark-local", "warehouse"):
            shutil.rmtree(out / scratch, ignore_errors=True)
        for ckpt in out.glob("ckpt-*"):
            shutil.rmtree(ckpt, ignore_errors=True)
    if code != 0:
        raise RuntimeError(f"benchmark JVM exited with {code}")
    if args.record:
        return {"line": {"recorded": args.record}}
    return json.loads((out / "result.json").read_text())


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        result = run(args)
    except (build.BuildError, RuntimeError, OSError, ValueError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    print(json.dumps(result["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
