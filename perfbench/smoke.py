"""Smoke test of the benchmark: one tiny run (a few hundred docs, sf0.001
tables, one query leaf) of each workload, untraced and traced. Asserts that
each run passes its correctness checks and prints every metric BENCHMARK.json
names, with its unit. Takes a few minutes.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", wl, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--size", "tiny",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            found = _problems(proc, want[trace])
            print(f"{wl} --trace {trace}: {'FAIL' if found else 'ok'}", flush=True)
            problems += [f"{wl} --trace {trace}: {p}" for p in found]
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    return 1 if problems else 0


def _problems(proc, want: dict) -> list:
    if proc.returncode != 0:
        return [f"exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    found = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        found.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"]:
        found.append(f"checks failed: {json.loads(lines[-2])['raw']['failures']}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        found.append(
            f"metrics/units differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}, "
            f"units {[(k, got[k], u) for k, u in want.items() if k in got and got[k] != u]}"
        )
    return found


if __name__ == "__main__":
    sys.exit(main())
