"""Smoke test of the benchmark itself, at toy input sizes.

    python3 perfbench/smoke.py

For each workload it makes one traced toy run and checks that every
metric BENCHMARK.json names is emitted with its unit and that the
run's own correctness checks pass; then one toy run against a
deliberately wrong pinned result, which must count as a failed
operation. Each run gets its own process (a Spark session cannot be
restarted inside one). Takes a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import run as bench

WRONG = "0:0"


def _case(name: str, kind: str) -> dict:
    """Child process: one toy run; prints what the parent checks."""
    if kind == "traced":
        res = bench.run_workload(name, seed=3, seconds=0, trace=True, toy=True)
    else:
        keys = ("bulk", "trickle") if name == "cdc_apply" else bench.load_pins()["query_suite"]
        pins = {k: WRONG for k in keys}
        res = bench.run_workload(name, seed=3, seconds=0, trace=False, toy=True, pins=pins)
    return {
        "failed": res["failed"],
        "failed_op_ratio": res["detail"]["failed_op_ratio"],
        "failures": res["detail"]["failures"],
        "lines": {str(t): bench.result_line(res, t) for t in ((False, True) if kind == "traced" else ())},
    }


def _run_case(name: str, kind: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), name, kind],
        stdout=subprocess.PIPE, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        "False": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "True": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    if tuple(w["name"] for w in spec["workloads"]) != bench.WORKLOADS:
        problems.append("BENCHMARK.json workloads differ from run.WORKLOADS")
    for name in bench.WORKLOADS:
        got = _run_case(name, "traced")
        if got["failed"]:
            problems.append(f"{name}: toy run failed {got['failures']}")
        for trace, line in got["lines"].items():
            units = {k: v["unit"] for k, v in line["metrics"].items()}
            if units != want[trace]:
                problems.append(f"{name} trace={trace}: metrics differ {sorted(set(units) ^ set(want[trace]))}")
            values = {k: v["value"] for k, v in line["metrics"].items()}
            bad = [k for k, v in values.items() if not math.isfinite(v) or (trace == "False" and v <= 0)]
            if bad:
                problems.append(f"{name} trace={trace}: non-finite or non-positive {bad}")
            if trace == "True" and not 0 < values["trace.uncovered_share"] < 1:
                problems.append(f"{name}: trace.uncovered_share {values['trace.uncovered_share']} not in (0, 1)")
        got = _run_case(name, "wrong_pins")
        if not got["failed"] or got["failed_op_ratio"] <= 0 or not any(WRONG in f for f in got["failures"]):
            problems.append(f"{name}: a wrong pinned result did not raise failed_op_ratio")
    for p in problems:
        print("FAIL", p)
    print("smoke: OK" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    if len(sys.argv) == 3:
        print(json.dumps(_case(sys.argv[1], sys.argv[2])))
    else:
        sys.exit(main())
