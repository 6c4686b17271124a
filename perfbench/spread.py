"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median, the rule BENCHMARK.json's
bounds are checked against).

    python3 perfbench/spread.py --workload graph_iterative --seeds 1-10

Runs are sequential; each is a fresh ``perfbench/run.py`` process with
BENCHMARK.json's ``run_seconds``. Prints one JSON line per run, then a
summary line per metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    ok = True
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        ok &= result["correct"] and result["failed"] == 0
        notes = [ln for ln in lines[:-1] if ln.startswith("# ")]
        print(json.dumps({"seed": seed, **result, "notes": notes}), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        line = {"metric": name, "median": statistics.median(vs), "n": len(vs)}
        if len(vs) >= 2:
            line["spread"] = quartile_spread(vs)
        if name in bounds:
            line["bound"] = bounds[name]
        print(json.dumps(line))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
