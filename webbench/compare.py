"""Summarise benchmark runs, or compare two commits' runs.

    python3 webbench/compare.py RUN_OUTPUT...
    python3 webbench/compare.py --base BASE_OUTPUT... --change CHANGE_OUTPUT...

Each file holds the standard output of one or more ``webbench/run.py``
runs; the ``webbench_record`` lines are read. The summary prints, per
workload and metric, the median, quartiles and the quartile spread as a
share of the median, beside the metric's bound.

The comparison pairs base and change runs by (workload, seed) and
refuses pairs whose settings stamps differ. Per workload and end-to-end
metric it prints both sides' medians and quartiles and a verdict:

- ``better``: the change wins at least 9 of 10 pairs (ties count for
  neither side) and the medians differ by more than the base's quartile
  spread;
- ``worse``: the same rule in the other direction, or the change's
  median is worse than the base's by more than the metric's bound;
- ``unresolved``: neither, and either side's quartile spread is wider
  than the bound;
- ``same``: otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# stamp fields that may differ between seeds of one workload on one side
PER_SEED = ("seed", "input_bytes")
# metrics the summary prints
SUMMARY = ("items_per_s_norm", "items_per_s", "setup_s", "setup_raw_s", "probe_s")


def load(paths):
    runs = []
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.startswith('{"webbench_record"'):
                    runs.append(json.loads(line)["webbench_record"])
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def summary(runs) -> None:
    specs = spec()
    by_w = defaultdict(list)
    for r in runs:
        by_w[r["stamp"]["workload"]].append(r)
    print(f"{'workload':12} {'metric':22} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for w, rs in sorted(by_w.items()):
        for name in SUMMARY:
            xs = [r["metrics"][name] for r in rs]
            q1, q2, q3 = quartiles(xs)
            bound = specs.get(name, {}).get("bound")
            print(f"{w:12} {name:22} {len(xs):3d} {q2:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{(q3 - q1) / q2:7.2%} {'' if bound is None else f'{bound:.2f}':>6}")


def settings_problems(base, change):
    problems = []
    for side, runs in (("base", base), ("change", change)):
        shared = defaultdict(set)
        for r in runs:
            shared[r["stamp"]["workload"]].add(json.dumps(
                {k: v for k, v in r["stamp"].items() if k not in PER_SEED}, sort_keys=True))
        for w, stamps in sorted(shared.items()):
            if len(stamps) > 1:
                problems.append(f"{side} runs of {w} differ in their settings")
        bad = [r["stamp"]["seed"] for r in runs if not r["correct"] or r["failed"]]
        if bad:
            problems.append(f"{side} runs failed the correctness gate (seeds {bad})")
    b_keys = {(r["stamp"]["workload"], r["stamp"]["seed"]): r for r in base}
    for r in change:
        key = (r["stamp"]["workload"], r["stamp"]["seed"])
        if key in b_keys and b_keys[key]["stamp"] != r["stamp"]:
            diff = sorted(k for k in r["stamp"] if r["stamp"][k] != b_keys[key]["stamp"].get(k))
            problems.append(f"{key}: settings differ in {diff}")
    return problems


def verdict(b, c, better: str, bound: float) -> str:
    """Rules of the docstring; ``b``/``c`` are per-seed values, paired."""
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (y - x) > 0 for x, y in zip(b, c))
    losses = sum(sign * (y - x) < 0 for x, y in zip(b, c))
    bq1, bmed, bq3 = quartiles(b)
    cq1, cmed, cq3 = quartiles(c)
    gap = sign * (cmed - bmed)
    n = len(b)
    if wins >= 0.9 * n and gap > bq3 - bq1:
        return "better"
    if (losses >= 0.9 * n and -gap > bq3 - bq1) or -gap > bound * bmed:
        return "worse"
    if (bq3 - bq1) / bmed > bound or (cq3 - cq1) / cmed > bound:
        return "unresolved"
    return "same"


def compare(base, change) -> int:
    problems = settings_problems(base, change)
    for p in problems:
        print(f"refused: {p}")
    if problems:
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    b_keys = {(r["stamp"]["workload"], r["stamp"]["seed"]): r for r in base}
    pairs = defaultdict(list)
    for r in change:
        key = (r["stamp"]["workload"], r["stamp"]["seed"])
        if key in b_keys:
            pairs[key[0]].append((b_keys[key], r))
    print(f"{'workload':12} {'metric':18} {'pairs':>5} {'base median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32}  verdict")
    for w, ps in sorted(pairs.items()):
        for m in e2e:
            b = [x["metrics"][m["name"]] for x, _ in ps]
            c = [y["metrics"][m["name"]] for _, y in ps]
            bq, cq = quartiles(b), quartiles(c)
            print(f"{w:12} {m['name']:18} {len(ps):5d} "
                  f"{bq[1]:12.4f} [{bq[0]:.4f}, {bq[2]:.4f}] "
                  f"{cq[1]:12.4f} [{cq[0]:.4f}, {cq[2]:.4f}]  "
                  f"{verdict(b, c, m['better'], m['bound'])}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("runs", nargs="*", help="run outputs to summarise")
    p.add_argument("--base", nargs="+", help="run outputs of the parent commit")
    p.add_argument("--change", nargs="+", help="run outputs of the change")
    args = p.parse_args(argv)
    if args.base or args.change:
        if not (args.base and args.change):
            p.error("--base and --change go together")
        return compare(load(args.base), load(args.change))
    summary(load(args.runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
