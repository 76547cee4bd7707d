#!/usr/bin/env python3
"""Turn traced perfbench runs into a per-layer self-time table.

    python3 perfbench/summarize.py perfbench/out/runs/incoming_scan-seed{1,2,3,4,5}-trace1-full \
        --untraced perfbench/out/runs/incoming_scan-seed{1,2,3,4,5}-trace0-full

Each traced run directory holds spans.jsonl (one span per line: id, parent,
op, name, thread, start_us, end_us) and result.json. Each span is nested
under the smallest span of the same operation that contains it in time and
runs on its thread, or is a container (an operation, a Spark job, a
Catalyst phase, a micro-batch body). A span's self time is its duration
minus the part of it that its children cover. Spans whose operation is not
known (Catalyst phases reported by the listener bus) are given the
operation whose span contains their start. The table pools the spans of
every traced run given.

With --untraced, the tracing overhead compares the median of each
end-to-end metric over the traced runs with its median over the untraced
runs (same workload), so that one run's host noise is not read as tracing
cost. Prints markdown.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

CONTAINERS = ("op.", "spark.job", "catalyst.", "queries.build", "stream.")


def load_spans(path: Path) -> list:
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


def attribute_ops(spans: list) -> None:
    """Give spans without an operation the op span that contains their start."""
    ops = sorted((s for s in spans if s["name"].startswith("op.")), key=lambda s: s["start_us"])
    for s in spans:
        if s["op"]:
            continue
        for o in ops:
            if o["start_us"] <= s["start_us"] <= o["end_us"]:
                s["op"] = o["op"]
                break


def nest(spans: list) -> dict:
    """Return {span id: [child spans]} by time containment within each op."""
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    children = defaultdict(list)
    for group in by_op.values():
        group.sort(key=lambda s: (s["start_us"], -(s["end_us"] - s["start_us"])))
        for s in group:
            best = None
            for p in group:
                if p is s or not (p["start_us"] <= s["start_us"] and s["end_us"] <= p["end_us"]):
                    continue
                if p["end_us"] - p["start_us"] == s["end_us"] - s["start_us"] and p["id"] > s["id"]:
                    continue  # identical intervals: the earlier-opened span is the parent
                if p["thread"] != s["thread"] and not p["name"].startswith(CONTAINERS):
                    continue
                if best is None or p["end_us"] - p["start_us"] < best["end_us"] - best["start_us"]:
                    best = p
            if best is not None:
                children[best["id"]].append(s)
    return children


def covered(span: dict, kids: list) -> int:
    """Microseconds of `span` covered by the union of its children."""
    iv = sorted((max(k["start_us"], span["start_us"]), min(k["end_us"], span["end_us"])) for k in kids)
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_table(spans: list) -> tuple:
    attribute_ops(spans)
    kids = nest(spans)
    n_ops = len({s["op"] for s in spans if s["name"].startswith("op.")}) or 1
    rows = defaultdict(lambda: [0, 0, 0])  # name -> [count, total_us, self_us]
    for s in spans:
        dur = s["end_us"] - s["start_us"]
        r = rows[s["name"]]
        r[0] += 1
        r[1] += dur
        r[2] += dur - covered(s, kids.get(s["id"], []))
    return n_ops, rows


def median(results: list, section: str, key: str) -> float:
    return statistics.median(r[section].get(key, 0.0) for r in results)


def seeds(results: list) -> str:
    return ", ".join(str(r["seed"]) for r in results)


def overhead(traced: list, untraced: list) -> list:
    steal = [statistics.median(r["host"]["steal_pct_timed"] for r in rs) for rs in (traced, untraced)]
    out = [f"Medians of {len(traced)} traced runs (seeds {seeds(traced)}) against {len(untraced)} untraced "
           f"runs (seeds {seeds(untraced)}); median CPU steal in the timed region {steal[0]:.1f} % traced, "
           f"{steal[1]:.1f} % untraced.", "",
           "| metric | traced | untraced | traced vs untraced | untraced spread |", "|---|---:|---:|---:|---:|"]
    for k in traced[0]["end_to_end"]:
        t, u = median(traced, "end_to_end", k), median(untraced, "end_to_end", k)
        q = statistics.quantiles([r["end_to_end"][k] for r in untraced], n=4)
        out.append(f"| `{k}` | {t:.4g} | {u:.4g} | {(t - u) / u:+.1%} | {(q[2] - q[0]) / u:.1%} |")
    out += ["", "The untraced spread is the distance between the quartiles of the untraced runs as a share of "
            "their median; a difference smaller than it is not told apart from host noise."]
    return out


def added_share(results: list) -> list:
    """Share of written features that were inserts, overall and per quarter of the timed batches."""
    per_run = [r["detail"]["added_per_batch"] for r in results]
    written = sum(r["items"] for r in results)
    quarters = []
    for q in range(4):
        added = total = 0
        for r, batches in zip(results, per_run):
            n = len(batches)
            part = range(q * n // 4, (q + 1) * n // 4)
            added += sum(batches[i] for i in part)
            total += r["items"] * len(part) / n  # features written, spread evenly over the batches
        quarters.append(added / total if total else 0.0)
    share = sum(map(sum, per_run)) / written
    return [f"Inserts: {share:.1%} of the features written in the timed batches were added, the rest updated. "
            "By quarter of the timed batches (pooled over the traced runs; written features spread evenly "
            "over the batches): " + ", ".join(f"{x:.0%}" for x in quarters) + "."]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="per-layer self times of traced perfbench runs")
    p.add_argument("traced", type=Path, nargs="+", help="run directories of --trace 1 runs")
    p.add_argument("--untraced", type=Path, nargs="+", help="run directories of --trace 0 runs of the same workload")
    a = p.parse_args(argv)
    traced = [json.loads((d / "result.json").read_text()) for d in a.traced]
    n_ops, rows = 0, defaultdict(lambda: [0, 0, 0])
    for d in a.traced:
        n, run_rows = layer_table(load_spans(d / "spans.jsonl"))
        n_ops += n
        for name, r in run_rows.items():
            rows[name] = [x + y for x, y in zip(rows[name], r)]
    first = traced[0]
    op_wall_us = sum(r[1] for n, r in rows.items() if n.startswith("op."))
    print(f"## {first['workload']} ({len(traced)} traced runs, seeds {seeds(traced)}; --seconds {first['seconds']}, "
          f"{n_ops} operations, {first['host']['nproc']} cores)\n")
    print("| span | calls/op | total ms/op | self ms/op | self % of op wall |")
    print("|---|---:|---:|---:|---:|")
    for name, (count, total, self_us) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"| {name} | {count / n_ops:.2f} | {total / n_ops / 1000:.2f} | "
              f"{self_us / n_ops / 1000:.2f} | {100.0 * self_us / max(op_wall_us, 1):.1f} |")
    print("\nSelf times of spans on parallel executor threads overlap, so the column can sum past 100 %.")
    if a.untraced:
        untraced = [json.loads((d / "result.json").read_text()) for d in a.untraced]
        print("\n### Tracing overhead\n")
        print("\n".join(overhead(traced, untraced)))
    print("\n### Per-layer metrics (median of the traced runs, non-zero ones)\n")
    print("| metric | value |\n|---|---:|")
    for k in first["per_layer"]:
        v = median(traced, "per_layer", k)
        if v:
            print(f"| `{k}` | {v:.4g} |")
    if first["workload"] == "outgoing_upsert":
        print("\n" + "\n".join(added_share(traced)))
        print(f"\n`http.requests_per_feature` = {median(traced, 'per_layer', 'http.requests_per_feature'):.3g} "
              "requests per upserted feature, beside the reference's ≤2 HTTP calls per upserted feature "
              "(BASELINE.md, `task.ts:267,285,318`). Recorded, not gated.")
    h = first["host"]
    print(f"\nHost: {h['nproc']} cores, JDK {h['jdk']}, Spark {h['spark']}, max heap {h['max_heap_mb']} MB, "
          f"calibration {h['calib_st_ms']:.1f} ms single-thread / {h['calib_mt_ms']:.1f} ms all cores "
          f"(first traced run). Sources {h['source']}.")
    return 0


if __name__ == "__main__":
    sys.exit(main())
