#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny size.

    python3 perfbench/smoke_test.py

Runs every workload with --size tiny, untraced and traced, and checks that
each run exits 0, prints a result line with exactly the contract's keys,
emits every metric BENCHMARK.json declares with its unit, checks its
outputs (correct, no failed operation, error_rate 0), and that on both
flows http.requests_per_feature follows the counting rule below. Takes
about three minutes.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# What counts as a request: every HTTP request the fake server answered,
# rejected ones included, is counted once under its endpoint, and
# http.requests_per_feature is their sum over the features the flow
# delivered (incoming) or wrote (outgoing). The tiny incoming layer has 3
# offset pages of maxRecordCount 10, so a pass makes exactly one query GET
# per page, and at least one metadata and one count GET for the layer info.
# How often the layer info is fetched is the program's business and is not
# pinned here.
TINY_PAGES = 3
ENDPOINTS = ("metadata", "count", "query", "probe", "add", "update", "rejected")


def check_request_count(workload: str, metrics: dict, result: dict) -> None:
    where = f"{workload} trace=1"
    per_op = {e: metrics[f"fake_server.requests.{e}"]["value"] for e in ENDPOINTS}
    if workload == "incoming_scan":
        assert per_op["query"] == TINY_PAGES, f"{where}: query GETs per pass {per_op['query']}"
        assert per_op["metadata"] >= 1 and per_op["count"] >= 1, f"{where}: layer-info GETs {per_op}"
        assert per_op["probe"] == per_op["add"] == per_op["update"] == 0, f"{where}: writes on a read flow {per_op}"
    else:
        assert per_op["probe"] >= 1 and per_op["add"] + per_op["update"] >= 1, f"{where}: requests {per_op}"
    requests = sum(per_op.values()) * result["ops"]
    want = requests / result["items"]
    got = metrics["http.requests_per_feature"]["value"]
    assert abs(got - want) < 1e-9 * want, f"{where}: http.requests_per_feature {got}, counted {want}"


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300)
    assert done.returncode == 0, f"{workload} trace={trace}: exit {done.returncode}"
    line = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, sorted(line)
    return line


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {0: spec["end_to_end"], 1: spec["per_layer"]}
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            line = run(workload, trace)
            where = f"{workload} trace={trace}"
            assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1, f"{where}: {line}"
            metrics = line["metrics"]
            assert set(metrics) == {m["name"] for m in declared[trace]}, f"{where}: metric names differ"
            for m in declared[trace]:
                got = metrics[m["name"]]
                assert got["unit"] == m["unit"], f"{where}: {m['name']} unit {got['unit']}"
                assert isinstance(got["value"], (int, float)), f"{where}: {m['name']} value {got['value']}"
                if trace == 0:
                    assert got["value"] > 0, f"{where}: {m['name']} is {got['value']}"
            if trace == 1:
                assert metrics["error_rate"]["value"] == 0, f"{where}: error_rate {metrics['error_rate']}"
            if trace == 1 and workload != "query_suite":
                run_dir = HERE / "out" / "runs" / f"{workload}-seed7-trace1-tiny"
                check_request_count(workload, metrics, json.loads((run_dir / "result.json").read_text()))
            print(f"ok  {where}: {line['attempted']} operations")
    return 0


if __name__ == "__main__":
    sys.exit(main())
