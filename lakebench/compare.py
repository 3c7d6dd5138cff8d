"""Compare two sets of benchmark runs: parent commit against a change.

    python3 lakebench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the captured standard output of ``run.py`` runs,
one file per run (any name). For every workload and metric it prints
each side's median and quartiles and a verdict under one rule:

- ``improved``: the change wins at least 9 of 10 seed-paired runs and
  the medians differ by more than the parent's quartile distance;
- ``unresolved``: the parent's own quartile distance, as a share of its
  median, exceeds the metric's bound in BENCHMARK.json;
- ``worse``: the change's median is worse than the parent's by more
  than the bound;
- ``unchanged``: otherwise.

Per-layer metrics (traced runs) have no bound and get no verdict. When
a directory holds both traced and untraced runs of a workload, the
tracing overhead (traced minus untraced end-to-end medians) is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(directory: str) -> dict:
    """{(workload, trace): [(seed, metrics, end_to_end detail)]}"""
    runs: dict = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
        if len(lines) < 2:
            print(f"skipping {path}: no result", file=sys.stderr)
            continue
        detail = json.loads(lines[-2]).get("detail", {})
        result = json.loads(lines[-1])
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        key = (detail["workload"], detail["trace"])
        runs.setdefault(key, []).append(
            (detail["seed"], metrics, detail.get("end_to_end", {})))
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent: list, change: list, better: str, bound: float) -> str:
    """``parent``/``change``: [(seed, value)]."""
    p = [v for _, v in parent]
    c = [v for _, v in change]
    p1, pm, p3 = quartiles(p)
    _c1, cm, _c3 = quartiles(c)
    sign = 1.0 if better == "higher" else -1.0
    pv = dict(parent)
    pairs = [(pv[s], v) for s, v in change if s in pv]
    if not pairs:  # no common seeds: pair in order
        pairs = list(zip(sorted(p), sorted(c)))
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1):
        return "improved"
    if pm and (p3 - p1) / abs(pm) > bound:
        return "unresolved"
    worse_by = sign * (pm - cm) / abs(pm) if pm else 0.0
    return "worse" if worse_by > bound else "unchanged"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE),
                                                    "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.bench) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sides = {"parent": load_runs(args.parent), "change": load_runs(args.change)}

    worse = 0
    for key in sorted(set(sides["parent"]) | set(sides["change"])):
        workload, trace = key
        print(f"\n== {workload} ({'traced' if trace else 'untraced'})")
        print(f"{'metric':34s} {'parent q1/med/q3':>34s} {'change q1/med/q3':>34s}  verdict")
        par, chg = sides["parent"].get(key, []), sides["change"].get(key, [])
        names = sorted({n for _, m, _ in par + chg for n in m})
        for name in names:
            pv = [(s, m[name]) for s, m, _ in par if name in m]
            cv = [(s, m[name]) for s, m, _ in chg if name in m]
            cols = []
            for vals in (pv, cv):
                if vals:
                    q = quartiles([v for _, v in vals])
                    cols.append("/".join(f"{x:.4g}" for x in q) + f" (n={len(vals)})")
                else:
                    cols.append("-")
            m = spec.get(name, {})
            if pv and cv and "bound" in m:
                v = verdict(pv, cv, m["better"], m["bound"])
                worse += v == "worse"
            else:
                v = "no bound" if pv and cv else "missing"
            print(f"{name:34s} {cols[0]:>34s} {cols[1]:>34s}  {v}")
    for side, runs in sides.items():
        for (workload, trace), traced in sorted(runs.items()):
            plain = runs.get((workload, 0))
            if not trace or not plain:
                continue
            print(f"\n-- tracing overhead, {side}, {workload} (traced - untraced medians)")
            for name in sorted(traced[0][2]):
                t = statistics.median(e[name] for _, _, e in traced if name in e)
                u = statistics.median(m[name] for _, m, _ in plain if name in m)
                print(f"{name:34s} {t - u:+.4g} ({(t - u) / u:+.1%})" if u else name)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
