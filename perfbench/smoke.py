#!/usr/bin/env python3
"""Smoke test of the benchmark itself (a few minutes on 4 cores).

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced on the smallest fixtures
(star sf0.001, dbgen sf0.01) and checks that each run exits 0, prints a
result line with exactly the contract's keys, reports every metric named in
BENCHMARK.json with its unit, fails no operation, and records spans whose
self times are all non-negative; every per-layer metric must be measured by
at least one workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def check_run(spec: dict, workload: str, trace: int, measured: set[str]) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"{where}: correct={result['correct']} failed={result['failed']} "
                        f"attempted={result['attempted']}: {proc.stdout.splitlines()[-2][:2000]}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
            problems.append(f"{where}: metric {m['name']} missing or wrong: {got}")
    extra = set(result["metrics"]) - {m["name"] for m in wanted}
    if extra:
        problems.append(f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}")
    if trace:
        measured.update(json.loads(proc.stdout.strip().splitlines()[-2])["layers_measured"])
        problems += check_spans(os.path.join(HERE, "_work", f"spans-{workload}-{SEED}.jsonl"), where)
        if result["metrics"]["failed_share"]["value"] != 0.0:
            problems.append(f"{where}: failed_share != 0")
    return problems


def check_spans(path: str, where: str) -> list[str]:
    sys.path.insert(0, HERE)
    from spans import Tracer

    tr = Tracer()
    with open(path) as f:
        tr.spans = [json.loads(line) for line in f]
    if not tr.spans:
        return [f"{where}: no spans recorded"]
    bad = [(s["name"], t) for s, t in tr.self_times() if t < 0]
    return [f"{where}: negative self time {bad[:5]}"] if bad else []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []
    measured: set[str] = set()
    for w in spec["workloads"]:
        for trace in (0, 1):
            found = check_run(spec, w["name"], trace, measured)
            print(f"{w['name']} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    never = [m["name"] for m in spec["per_layer"] if m["name"] not in measured]
    if never:
        problems.append(f"per-layer metrics no workload measures: {never}")
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
