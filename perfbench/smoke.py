"""Smoke test of the benchmark itself.

Runs every workload in BENCHMARK.json for one pass at sf0.001, untraced and
traced, and checks that each run prints every metric BENCHMARK.json names,
with its unit, and that each module layer shows no calls on the workload
that bypasses it. Run from the repository root:

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Layers each workload must never enter.
BYPASSED = {
    "groupby_session": ["operators.dedup", "operators.similarity",
                        "operators.ranking", "operators.cleaning",
                        "operators.sampling", "operators.packing",
                        "operators.classify"],
    "curation_suite": ["groupby.core", "groupby.pivot", "functions.ordered",
                       "operators.joins"],
}


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--smoke"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def check(workload: str, trace: int, spec: list[dict]) -> list[str]:
    result = run(workload, trace)
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"correct={result['correct']} failed={result['failed']}")
    metrics = result["metrics"]
    for m in spec:
        got = metrics.get(m["name"])
        if got is None:
            problems.append(f"missing {m['name']}")
        elif got.get("unit") != m["unit"]:
            problems.append(f"{m['name']} unit {got.get('unit')!r} != {m['unit']!r}")
        elif not isinstance(got.get("value"), (int, float)) or not math.isfinite(got["value"]):
            problems.append(f"{m['name']} value {got.get('value')!r}")
    extra = set(metrics) - {m["name"] for m in spec}
    if extra:
        problems.append(f"unlisted metrics {sorted(extra)}")
    if trace:
        for layer in BYPASSED[workload]:
            calls = metrics.get(f"{layer}.calls", {}).get("value")
            if calls != 0:
                problems.append(f"{layer}.calls = {calls}, expected 0")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failed = False
    for w in bench["workloads"]:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            problems = check(w["name"], trace, spec)
            failed |= bool(problems)
            print(f"{w['name']} trace={trace}: {'OK' if not problems else problems}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
