"""Summarise run records: per workload and metric, the median and the
quartile spread ((Q3 - Q1) / median) over the untraced runs, plus the host
calibration range and, where traced runs exist, the tracing overhead.

    python3 perfbench/spread.py [RECORD.json ...]   # default: perfbench/out/*.json
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main(paths: list[str]) -> None:
    runs: dict[str, list[dict]] = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        runs.setdefault(r["workload"], []).append(r)
    for workload, rs in sorted(runs.items()):
        plain = [r for r in rs if not r["trace"]]
        traced = [r for r in rs if r["trace"]]
        print(f"{workload}: {len(plain)} untraced runs, {len(traced)} traced")
        for m in ("setup_s", "ops_per_s", "op_p50_s"):
            vals = [r[m] for r in plain]
            if len(vals) >= 2:
                print(f"  {m:10s} median {statistics.median(vals):.4f}  spread {spread(vals):.3f}  "
                      f"min {min(vals):.4f}  max {max(vals):.4f}")
        cal = [c for r in plain for c in r["host_calibration_s"]]
        if cal:
            print(f"  host calibration {min(cal):.3f}-{max(cal):.3f} s (median {statistics.median(cal):.3f})")
        if plain and traced:
            a = statistics.median(r["ops_per_s"] for r in plain)
            b = statistics.median(r["ops_per_s"] for r in traced)
            print(f"  tracing overhead on ops_per_s: {(a - b) / a:+.1%} ({a:.4f} -> {b:.4f})")


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    main(sys.argv[1:] or sorted(glob.glob(os.path.join(here, "out", "*.json"))))
