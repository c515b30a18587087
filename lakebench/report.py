"""Run every workload of ``BENCHMARK.json`` untraced and traced, and
print each end-to-end metric by name with its unit, plus the tracing
overhead (traced minus untraced ``wall_s``).

Usage (from the repository root)::

    python3 lakebench/report.py [--seed 1] [--seconds 20]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", str(trace),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    for w in bench["workloads"]:
        plain = run_once(w["name"], args.seed, seconds, 0)
        traced = run_once(w["name"], args.seed, seconds, 1)
        print(f"{w['name']}: correct={plain['correct']} failed={plain['failed']}/{plain['attempted']}")
        for name, m in plain["metrics"].items():
            print(f"  {name:12s} {m['value']:14.4f} {m['unit']}")
        tm = traced["metrics"]
        overhead = tm["trace.wall_s"]["value"] - plain["metrics"]["wall_s"]["value"]
        print(f"  tracing overhead {overhead:+.4f} s per round; "
              f"span self-time cover {tm['trace.self_cover']['value']:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
