#!/usr/bin/env python3
"""Summarise and compare sets of benchmark runs.

Runs are JSON lines as `run.py --record FILE` appends them:
{"workload": ..., "seed": ..., "trace": 0|1, "result": {...}}.

    python3 perfbench/compare.py BASE.jsonl            # one set: spreads
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl  # two sets: verdicts

For each workload and metric it prints the sample count, median and
quartiles (statistics.quantiles(values, n=4)), and the spread: the
quartile distance as a share of the median. With one set, each
end-to-end spread is checked against its bound from BENCHMARK.json.
With two sets,
each end-to-end metric is marked:

  agreeing    NEW's median is no worse than BASE's by more than the bound
  regressed   NEW's median is worse than BASE's by more than the bound
  unresolved  either set spreads wider than the bound, unless every NEW
              run is better than every BASE run

Per-layer metrics have no bound and get no verdict. The exit code is 1
when a metric regressed or a one-set spread exceeds its bound.
"""
import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def load_runs(path):
    """{(workload, metric): [values]} plus units, from a JSONL run file."""
    values, units = {}, {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            run = json.loads(line)
            for name, m in run["result"]["metrics"].items():
                values.setdefault((run["workload"], name), []).append(float(m["value"]))
                units[name] = m["unit"]
    return values, units


def summary(xs):
    """(n, median, q1, q3, spread) of a sample."""
    med = statistics.median(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = xs[0]
    spread = (q3 - q1) / abs(med) if med else float("inf")
    return len(xs), med, q1, q3, spread


def worse_by(base, new, better):
    """How much worse `new` is than `base`, as a share of `base`."""
    if base == 0:
        return 0.0 if new == base else float("inf")
    return (new - base) / abs(base) if better == "lower" else (base - new) / abs(base)


def verdict(base_xs, new_xs, better, bound):
    _, bmed, _, _, bspread = summary(base_xs)
    _, nmed, _, _, nspread = summary(new_xs)
    if worse_by(bmed, nmed, better) > bound:
        return "regressed"
    if max(bspread, nspread) > bound:
        all_better = (max(new_xs) < min(base_xs) if better == "lower"
                      else min(new_xs) > max(base_xs))
        return "agreeing" if all_better else "unresolved"
    return "agreeing"


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(BENCHMARK) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    base, units = load_runs(argv[1])
    new = load_runs(argv[2])[0] if len(argv) == 3 else None
    bad = False
    fmt = "{:<15} {:<44} {:>3} {:>13} {:>13} {:>13} {:>7}"
    print(fmt.format("workload", "metric [unit]", "n", "median", "q1", "q3", "spread"),
          " verdict" if new else " check")
    for key in sorted(base):
        workload, name = key
        m = e2e.get(name) or layer.get(name)
        label = f"{name} [{units.get(name, '?')}]"
        for tag, runs in (("base", base), ("new", new)):
            if runs is None or key not in runs:
                continue
            n, med, q1, q3, spread = summary(runs[key])
            line = fmt.format(workload if tag == "base" else "  (new)", label, n,
                              f"{med:.6g}", f"{q1:.6g}", f"{q3:.6g}", f"{spread:.3f}")
            note = ""
            if name in e2e and new is None and tag == "base":
                if spread > m["bound"]:
                    note, bad = f"SPREAD>{m['bound']}", True
                else:
                    note = f"ok (<= {m['bound']})"
            if name in e2e and new is not None and tag == "new":
                note = verdict(base[key], runs[key], m["better"], m["bound"])
                bad |= note == "regressed"
            print(line, note)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
