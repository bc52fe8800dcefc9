#!/usr/bin/env python3
"""Run every workload untraced and traced; print the end-to-end
metrics with their units, the per-layer metrics, and the tracing
overhead (traced ``trace.pass_s`` minus untraced ``pass_s``).

    python3 perfbench/report.py --seed 1

Every workload of ``BENCHMARK.json`` runs for its ``run_seconds``.
Each run is a fresh ``perfbench/run.py`` process; the per-layer
numbers come only from the traced run, the end-to-end numbers only
from the untraced one.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    for w in (w["name"] for w in spec["workloads"]):
        plain = run(w, args.seed, spec["run_seconds"], 0)
        traced = run(w, args.seed, spec["run_seconds"], 1)
        print(f"== {w}  correct={plain['correct']} attempted={plain['attempted']}"
              f" failed={plain['failed']}")
        for name, m in {**plain["metrics"], **traced["metrics"]}.items():
            print(f"  {name:28s} {m['value']:14.4f} {m['unit']}")
        overhead = traced["metrics"]["trace.pass_s"]["value"] - plain["metrics"]["pass_s"]["value"]
        print(f"  {'trace overhead (pass_s)':28s} {overhead:14.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
