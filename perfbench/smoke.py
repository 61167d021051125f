"""Smoke check for the benchmark itself.

Runs every workload of ``BENCHMARK.json`` once on the smallest table set,
untraced and traced, and checks each run's result line: outputs correct,
at least one item attempted, and exactly the end-to-end (untraced) or
per-layer (traced) metrics the file names, each with its unit.

Usage, from the root of a checkout: python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import subprocess
import sys


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--smoke",
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    where = f"{workload} trace={trace}"
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"{where}: exit {proc.returncode}, stderr tail: {proc.stderr[-500:]}"]
    result = json.loads(lines[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        errors.append(f"{where}: correct={result.get('correct')} failed={result.get('failed')} "
                      f"attempted={result.get('attempted')}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result.get("metrics", {})
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            errors.append(f"{where}: metric {name} missing")
        elif m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            errors.append(f"{where}: metric {name} = {m}, want a number in {unit}")
    for name in sorted(set(got) - set(want)):
        errors.append(f"{where}: metric {name} not named in BENCHMARK.json")
    return errors


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs = check_run(spec, w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            errors.extend(errs)
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
