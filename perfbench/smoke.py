#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny scale.

    python3 perfbench/smoke.py

Runs every workload named in BENCHMARK.json untraced and traced on small
inputs (1,500 records; 1,500 orders and 9 distinct queries) with every
output check on, and asserts for each run: exit code 0, a result line,
no failed operation, and exactly the metrics BENCHMARK.json names for
that mode, with their units.  Prints one line per run and exits 1 if any
run fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = ["--records", "1500", "--orders", "1500", "--queries", "9"]


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace)] + TINY
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-500:]}"]
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return ["no JSON result line"]
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        why = [ln for ln in p.stderr.replace("\r", "\n").splitlines() if "FAILED" in ln]
        problems.append(f"error_rate > 0: {result.get('failed')} of {result.get('attempted')} "
                        f"operations failed {why}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if set(got) != set(wanted):
        problems.append(f"metrics missing {sorted(set(wanted) - set(got))}, "
                        f"unexpected {sorted(set(got) - set(wanted))}")
    problems += [f"{k}: unit {got[k]}, want {u}" for k, u in wanted.items()
                 if k in got and got[k] != u]
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failed = False
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = check_run(spec, w["name"], trace)
            failed |= bool(problems)
            print(f"{w['name']} trace={trace}: {'ok' if not problems else '; '.join(problems)}",
                  flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
