"""A/B comparison of two sets of benchmark results.

Save the standard output of each ``run.py`` run to its own file, one
directory per side, then::

    python3 perfbench/compare.py --parent results/parent --change results/change

For every (metric, workload) the table gives each side's median and
quartiles over its runs, the share of seed-matched pairs the change won
(ties count for neither side), and a verdict under the bounds in
``BENCHMARK.json``:

- ``improved``: the change won at least 9 of 10 pairs and the medians
  differ, in its favour, by more than the parent's quartile spread;
- ``worse``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unresolved``: the parent's own quartile spread is wider than the
  bound, and not every change run beat every parent run;
- ``no worse``: otherwise.

Per-layer metrics have no bound: they read ``improved``, ``worse`` (the
mirror of the improved rule) or ``no change shown``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")


def load_runs(paths: list[str]) -> dict:
    """``{(workload, metric): {seed: value}}`` from saved run outputs."""
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(p, f) for f in sorted(os.listdir(p))]
        else:
            files.append(p)
    runs: dict = {}
    for path in files:
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
        details = next((json.loads(ln)["perfbench"] for ln in lines
                        if ln.startswith('{"perfbench"')), None)
        if details is None or not lines:
            print(f"compare: skipping {path}: no run output", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            runs.setdefault((details["workload"], name), {})[
                details["seed"]] = m["value"]
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: dict, change: dict, better: str,
            bound: float | None) -> tuple[str, str]:
    sign = 1.0 if better == "higher" else -1.0
    p, c = list(parent.values()), list(change.values())
    p1, pm, p3 = quartiles(p)
    _, cm, _ = quartiles(c)
    seeds = sorted(parent.keys() & change.keys())
    wins = sum(sign * (change[s] - parent[s]) > 0 for s in seeds)
    losses = sum(sign * (change[s] - parent[s]) < 0 for s in seeds)
    share = f"{wins}/{len(seeds)}"
    spread = p3 - p1
    gain = sign * (cm - pm)
    if seeds and wins >= 0.9 * len(seeds) and gain > spread:
        return share, "improved"
    if bound is None:
        if seeds and losses >= 0.9 * len(seeds) and -gain > spread:
            return share, "worse"
        return share, "no change shown"
    if pm and -gain / abs(pm) > bound:
        return share, "worse"
    if pm and spread / abs(pm) > bound and not (
        min(sign * v for v in c) > max(sign * v for v in p)
    ):
        return share, "unresolved"
    return share, "no worse"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    a = ap.parse_args()
    with open(BENCHMARK) as f:
        bench = json.load(f)
    spec = {m["name"]: (m["better"], m.get("bound"))
            for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load_runs(a.parent), load_runs(a.change)
    fmt = "{:<28} {:<12} {:>30} {:>30} {:>7}  {}"
    print(fmt.format("metric", "workload", "parent median [q1, q3]",
                     "change median [q1, q3]", "won", "verdict"))
    for key in sorted(parent.keys() & change.keys(), key=lambda k: (k[1], k[0])):
        workload, name = key
        if name not in spec:
            continue
        cols = []
        for side in (parent[key], change[key]):
            q1, q2, q3 = quartiles(list(side.values()))
            cols.append(f"{q2:.4g} [{q1:.4g}, {q3:.4g}] n={len(side)}")
        share, word = verdict(parent[key], change[key], *spec[name])
        print(fmt.format(name, workload, *cols, share, word))
    return 0


if __name__ == "__main__":
    sys.exit(main())
