#!/usr/bin/env python3
"""Smoke test of the benchmark itself: runs every workload at sf 0.001
for a few ops, untraced and traced, and asserts that each run is
correct and emits every metric BENCHMARK.json declares, with its unit,
plus the workload's named metrics with a unit and a sample count.

    python3 perfbench/smoke.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMED = {
    "feed_requests": ["feed_p50_ms", "feed_p90_ms", "feed_rps"],
    "ingest_serve": ["ingest_rows_per_s", "ingest_fresh_p50_ms", "ingest_fresh_p90_ms",
                     "state_read_p50_ms", "state_read_p90_ms"],
    "catalog_sample": ["catalog_geomean_s", "catalog_total_s"],
}
COMMON = ["setup_s", "live_heap_mb"]


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in NAMED:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "7",
                 "--seconds", "1", "--trace", str(trace), "--sf", "0.001", "--max-ops", "6"],
                cwd=ROOT, capture_output=True, text=True, timeout=400)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                problems.append(f"{w} trace={trace}: exit {out.returncode}: {out.stderr[-1500:]}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: not correct: {[l for l in lines if 'FAILED' in l]}")
            want = spec["per_layer"] if trace else spec["end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} missing or unit {got and got['unit']}")
            if set(res["metrics"]) != {m["name"] for m in want}:
                problems.append(f"{w} trace={trace}: unexpected metrics {set(res['metrics']) - {m['name'] for m in want}}")
            for name in COMMON + NAMED[w] + ["fail_frac"]:
                if not any(l.startswith(f"{w} {name} = ") and "(n=" in l for l in lines):
                    problems.append(f"{w} trace={trace}: named metric {name} not printed with unit and n")
            print(f"{w} trace={trace}: {res['attempted']} ops, {len(res['metrics'])} metrics", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("smoke ok" if not problems else f"smoke failed: {len(problems)} problems")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
