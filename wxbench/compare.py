"""Compare two result sets of the benchmark.

    python3 wxbench/compare.py BASE_DIR NEW_DIR [--benchmark BENCHMARK.json]

Each directory holds full run records as ``run.py`` writes them to
``.wxbench/results/`` (``*.json``, one record per file). For every
(workload, metric) pair found on both sides it prints each side's
median and quartiles, the relative change of the medians, and a
verdict, using the direction and bound that ``BENCHMARK.json`` gives
the metric:

- ``worse``: the new median is worse than the base median by more than
  the bound;
- ``unresolved``: either side's spread (quartile distance over median)
  exceeds the bound, and not every run of one side beats every run of
  the other;
- ``better``: the new median is better by more than the base spread;
- ``unchanged``: otherwise.

Per-layer metrics have no bound: they are ``better``/``worse`` when the
two quartile ranges do not overlap, else ``unchanged``. The exit code is
1 when any end-to-end metric is ``worse``, else 0.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

from wxbench.common import ROOT, quartiles  # noqa: E402


def load(d: str) -> dict[tuple[str, str], list[float]]:
    """{(workload, metric): [value per run]} from the records in ``d``."""
    out: dict[tuple[str, str], list[float]] = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        if not isinstance(rec, dict) or "workload" not in rec:
            continue
        for name, m in rec.get("metrics", {}).items():
            out.setdefault((rec["workload"], name), []).append(m["value"])
    return out


def verdict(base: list[float], new: list[float], better: str,
            bound: float | None) -> tuple[str, float]:
    """(verdict, relative change of the medians; positive = worse)."""
    bq1, bmed, bq3 = quartiles(base)
    nq1, nmed, nq3 = quartiles(new)
    sign = 1.0 if better == "lower" else -1.0
    change = sign * (nmed - bmed) / abs(bmed) if bmed else 0.0
    if bound is None:
        above, below = nq1 > bq3, nq3 < bq1
        if above or below:
            return ("worse" if above == (better == "lower") else "better",
                    change)
        return "unchanged", change
    if change > bound:
        return "worse", change
    spread = lambda q1, m, q3: (q3 - q1) / abs(m) if m else 0.0  # noqa: E731
    b_spread, n_spread = spread(bq1, bmed, bq3), spread(nq1, nmed, nq3)
    if max(b_spread, n_spread) > bound:
        new_wins = all(sign * (n - b) < 0 for n in new for b in base)
        base_wins = all(sign * (n - b) > 0 for n in new for b in base)
        if new_wins:
            return "better", change
        return ("worse" if base_wins else "unresolved"), change
    if -change > b_spread:
        return "better", change
    return "unchanged", change


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        bench = json.load(f)
    specs = {m["name"]: (m["better"], m.get("bound"), "e2e")
             for m in bench["end_to_end"]}
    specs.update({m["name"]: (m["better"], None, "layer")
                  for m in bench["per_layer"]})
    base, new = load(args.base), load(args.new)
    worse = 0
    print(f"{'workload':14} {'metric':36} {'base median [q1, q3]':>30} "
          f"{'new median [q1, q3]':>30} {'change':>8}  verdict")
    for key in sorted(set(base) & set(new)):
        wl, name = key
        if name not in specs:
            continue
        better, bound, kind = specs[name]
        v, change = verdict(base[key], new[key], better, bound)
        worse += v == "worse" and kind == "e2e"
        cols = []
        for xs in (base[key], new[key]):
            q1, med, q3 = quartiles(xs)
            cols.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] n={len(xs)}")
        print(f"{wl:14} {name:36} {cols[0]:>30} {cols[1]:>30} "
              f"{change:+8.1%}  {v}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
