#!/usr/bin/env python3
"""Tracing overhead: runs one workload plain and traced with the same
seed and prints, per end-to-end metric, traced minus plain.

    python3 perfbench/overhead.py --workload service_mix --seed 1 --seconds 20

The traced run's end-to-end values come from the summary of the trace
file it writes (perfbench/out/trace-<workload>-<seed>.json).
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run(args, trace):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(trace)],
        cwd=HERE.parent, stdout=subprocess.PIPE, check=True)
    return json.loads(out.stdout.decode().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    plain = run(args, 0)["metrics"]
    run(args, 1)
    trace_file = HERE / "out" / f"trace-{args.workload}-{args.seed}.json"
    summary = json.loads(trace_file.read_text())["summary"]
    for name, m in plain.items():
        if name in summary:
            print(f"{args.workload} {name}: plain {m['value']:.4g} traced "
                  f"{summary[name]:.4g} overhead {summary[name] - m['value']:+.4g} {m['unit']}")


if __name__ == "__main__":
    main()
