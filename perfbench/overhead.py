#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same seed
and print, per end-to-end metric, the traced value minus the untraced one.

    python3 perfbench/overhead.py --workload serve --seed 1 --seconds 8
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def result(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True,
                         timeout=600).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "churn"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=8)
    args = p.parse_args()
    plain = result(args, 0)
    traced = result(args, 1)
    for name, m in plain.items():
        t = traced[f"traced.{name}"]["value"]
        diff = t - m["value"]
        share = diff / m["value"] if m["value"] else float("nan")
        print(f"{args.workload:6s} {name:28s} untraced {m['value']:12.3f} "
              f"traced {t:12.3f} diff {diff:+12.3f} {m['unit']} ({share:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
