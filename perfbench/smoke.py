"""Smoke test of the benchmark itself, at tiny size.

    python3 perfbench/smoke.py

Runs every workload at smoke size (a 2k-edge graph for 3 epochs; three
keys on the sf0.001 fixture), untraced and traced, and checks that each
run is correct and prints every metric of BENCHMARK.json by name with
its unit. Then plants a wrong diff (a wrong result row for batch) and
checks that the output check catches it. Exits 0 when all of it holds.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(workload: str, trace: int, plant: bool = False) -> dict:
    cmd = [
        sys.executable, str(BENCH / "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "smoke",
    ]
    if plant:
        cmd.append("--plant-wrong-diff")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, declared: list[dict], label: str) -> list[str]:
    problems = []
    got = result["metrics"]
    for m in declared:
        if m["name"] not in got:
            problems.append(f"{label}: missing {m['name']}")
        elif got[m["name"]]["unit"] != m["unit"]:
            problems.append(
                f"{label}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}"
            )
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        problems.append(f"{label}: undeclared {sorted(extra)}")
    return problems


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{name} trace={trace}"
            res = run(name, trace)
            if not res["correct"] or res["failed"]:
                problems.append(f"{label}: not correct ({res['failed']} failed)")
            problems += expect_metrics(res, declared, label)
            print(f"{label}: {len(res['metrics'])} metrics", flush=True)
        planted = run(name, 0, plant=True)
        if planted["correct"] or planted["failed"] < 1:
            problems.append(f"{name}: planted wrong diff was not caught")
        print(f"{name} planted: correct={planted['correct']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
