"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py <workload> <seconds> <seed> [<seed> ...]

Runs ``run.py`` once per seed (untraced), then prints, per metric, the
median and the interquartile range as a share of the median, computed
with ``statistics.quantiles(values, n=4)``; these shares are what the
bounds in BENCHMARK.json are compared with. Raw results are appended
to ``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys


def main() -> int:
    workload, seconds, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
    here = os.path.dirname(os.path.abspath(__file__))
    log = os.path.join(".perfbench", f"spread-{workload}.jsonl")
    os.makedirs(".perfbench", exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds:
        cmd = [sys.executable, os.path.join(here, "run.py"), "--workload", workload,
               "--seed", seed, "--seconds", seconds, "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(seed, result["correct"], result["failed"],
              {k: round(m["value"], 3) for k, m in result["metrics"].items()}, flush=True)
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:14s} median {med:12.4f}  iqr/median {(q3 - q1) / med:.4f}  n={len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
