"""Compare two sets of benchmark records (files written by ``run.py --out``).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

prints, per workload and end-to-end metric, each side's median and
quartiles, the change's median against the parent's as a share, and a
verdict against the metric's bound in BENCHMARK.json: ``worse`` when the
change's median is worse by more than the bound, ``unresolved`` when the
parent's own spread (interquartile range over median) is wider than the
bound, else ``ok``.  Point it at a set of untraced records and a set of
traced records of the same code to read the tracing overhead.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> dict:
    """workload -> metric -> [values]"""
    out: dict = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        for name, v in rec["metrics"].items():
            out.setdefault(rec["workload"], {}).setdefault(name, []).append(float(v))
    return out


def quartiles(v: list) -> "tuple[float, float, float]":
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    a, b = load(args.parent), load(args.change)
    worse = 0
    for m in bench["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        for wl in sorted(set(a) | set(b)):
            va, vb = a.get(wl, {}).get(name), b.get(wl, {}).get(name)
            if not va or not vb:
                print(f"{wl:15s} {name:12s} missing on one side")
                continue
            qa, qb = quartiles(va), quartiles(vb)
            change = qb[1] / qa[1] - 1.0
            spread = (qa[2] - qa[0]) / qa[1]
            bad = change > bound if lower else change < -bound
            verdict = "worse" if bad else ("unresolved" if spread > bound else "ok")
            worse += bad
            print(f"{wl:15s} {name:12s} parent {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(va)}"
                  f"  change {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(vb)}"
                  f"  {change:+.1%} (bound {bound:.0%}, parent spread {spread:.1%}) {verdict}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
