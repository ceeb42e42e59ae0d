"""Compare two sets of untraced results of one workload.

    python3 perfbench/compare.py --base 'A/*-trace0.json' --new 'B/*-trace0.json'

Prints each end-to-end metric's median and quartile spread per side and
the ratio new/base. Refuses results taken at different core counts or of
different workloads: absolute numbers do not carry across hosts.
"""

from __future__ import annotations

import argparse
import glob
import json
import statistics
import sys


def _load(pattern: str) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as fh:
            runs.append(json.load(fh))
    if not runs:
        raise SystemExit(f"no result files match {pattern!r}")
    return runs


def _summary(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--new", required=True)
    args = ap.parse_args(argv)
    base, new = _load(args.base), _load(args.new)
    cores = {r["facts"]["cores"] for r in base + new}
    workloads = {r["workload"] for r in base + new}
    if len(cores) != 1 or len(workloads) != 1:
        print(f"refusing to compare: cores {sorted(cores)}, workloads "
              f"{sorted(workloads)}", file=sys.stderr)
        return 2
    print(f"workload {workloads.pop()}  cores {cores.pop()}  "
          f"runs {len(base)} vs {len(new)}")
    for name in base[0]["end_to_end"]:
        b = _summary([r["end_to_end"][name] for r in base])
        n = _summary([r["end_to_end"][name] for r in new])
        ratio = n[0] / b[0] if b[0] else float("nan")
        print(f"  {name:<12} base {b[0]:.4g} (spread {b[1]:.3f})  "
              f"new {n[0]:.4g} (spread {n[1]:.3f})  new/base {ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
