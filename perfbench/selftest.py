"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs each workload at sf0.001 for exactly two timed passes, traced and
untraced, and checks that

* every run is correct and exits with code 0;
* every metric ``BENCHMARK.json`` names is emitted, with its unit, and
  no other;
* every ``*.jobs`` count repeats exactly between the two passes.

Exits with code 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--sf", "0.001", "--passes", "2",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            record, result = run(w["name"], trace)
            where = f"{w['name']} trace={trace}"
            if not result["correct"] or result["failed"]:
                sys.exit(f"{where}: incorrect result, errors {record['errors']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                sys.exit(f"{where}: metrics differ from BENCHMARK.json: want {want}, got {got}")
            if trace:
                for item, jobs in record["jobs_each"].items():
                    if len(set(jobs)) > 1:
                        sys.exit(f"{where}: {item}.jobs differs between passes: {jobs}")
            print(f"ok  {where}: {len(got)} metrics, {result['attempted']} items", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
