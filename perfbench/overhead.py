"""Tracing overhead: one untraced and one traced run of the same workload
and seed, and the traced run's end-to-end figures minus the untraced ones.

    python3 perfbench/overhead.py --workload dashboard_mix --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    args = p.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    for name in ("setup_s", "latency_p50_ms"):
        a, b = plain[name]["value"], traced[f"trace.{name}"]["value"]
        print(f"{name}: untraced {a:.4g}, traced {b:.4g}, "
              f"overhead {b - a:+.4g} {plain[name]['unit']} ({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
