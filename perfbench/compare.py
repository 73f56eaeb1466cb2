"""Diff two sets of benchmark results by workload and by layer.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a result file written by ``run.py`` or a directory
of them (``.perfbench/results/`` of a checkout).  Runs of one workload are
summarized by their median and quartiles; the ratio is NEW / BASE.  Results
measured on different cpu counts are not compared.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

import metrics


def load(path: str) -> dict[tuple[str, int], list[dict]]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for f in files:
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        out[(r["workload"], r["trace"])].append(r)
    return out


def summary(values: list[float]) -> str:
    if len(values) == 1:
        return f"{values[0]:.4g}"
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 2 else (min(values), statistics.median(values), max(values))
    return f"{med:.4g} [{q1:.4g}..{q3:.4g}]"


def rows(base: list[dict], new: list[dict], section: str, names: dict[str, str]) -> None:
    for name, unit in names.items():
        b = [r[section][name] for r in base if r[section].get(name) is not None]
        n = [r[section][name] for r in new if r[section].get(name) is not None]
        if not b or not n:
            continue
        mb, mn = statistics.median(b), statistics.median(n)
        ratio = f"{mn / mb:.3f}" if mb else "-"
        print(f"  {name:30s} {unit:6s} {summary(b):>28s} {summary(n):>28s} {ratio:>7s}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    cpus = {r["regime"]["cpus"] for runs in (*base.values(), *new.values()) for r in runs}
    if len(cpus) != 1:
        print(f"refusing to compare results measured on different cpu counts: {sorted(cpus)}", file=sys.stderr)
        return 2
    for key in sorted(base.keys() & new.keys()):
        workload, trace = key
        b, n = base[key], new[key]
        commits = lambda runs: ",".join(sorted({r["regime"]["commit"][:12] for r in runs}))  # noqa: E731
        print(f"{workload} ({'traced' if trace else 'untraced'}): {len(b)} base runs ({commits(b)}), "
              f"{len(n)} new runs ({commits(n)})")
        print(f"  {'metric':30s} {'unit':6s} {'base median [q1..q3]':>28s} {'new median [q1..q3]':>28s} {'new/base':>7s}")
        if trace:
            for layer in ("session", "queries", "plans", "operators", "shuffle", "streaming", "self_s", "trace"):
                rows(b, n, "per_layer", {k: u for k, u in metrics.PER_LAYER.items() if k.split(".")[0] == layer})
        else:
            names = {**metrics.END_TO_END, **metrics.REPORTED, "error_rate": "ratio"}
            rows(b, n, "end_to_end", names)
    only = sorted(base.keys() ^ new.keys())
    if only:
        print(f"not in both: {only}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
