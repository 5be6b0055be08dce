#!/usr/bin/env python3
"""Compare two sets of benchmark results, e.g. parent and change runs.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the result records `run.py` writes
(`<build dir>/results/*.json`; copy them aside between the two sides).
Prints one row per workload and end-to-end metric: each side's median and
quartiles, the pair-win fraction and a verdict. Traced records get a
second table: per-layer counts (jobs, stages, compiles, shuffle bytes)
diffed separately from per-layer times.

Verdicts (choosing-metrics §8 with the bounds in BENCHMARK.json):
  improved    the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ, in the better direction, by
              more than the parent's interquartile distance;
  worse       the change's median is worse than the parent's by more than
              the metric's bound (a share of the parent's median);
  unresolved  not worse, but the parent's own spread (interquartile
              distance over median) is wider than the bound, and not every
              change run beats every parent run;
  no worse    otherwise.
A metric that is a fixed placeholder on a workload (metrics.NOT_APPLICABLE,
e.g. graph_derive's state_mb) gets the verdict n/a.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import NOT_APPLICABLE  # noqa: E402


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def load(directory):
    """(workload, trace) → list of records, ordered by seed."""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            try:
                rec = json.load(f)
            except json.JSONDecodeError:
                continue
        if not isinstance(rec, dict) or "stamp" not in rec:
            continue
        key = (rec["stamp"]["workload"], rec["stamp"]["trace"])
        out.setdefault(key, []).append(rec)
    for recs in out.values():
        recs.sort(key=lambda r: r["stamp"]["seed"])
    return out


def pairs(base, change):
    """Pair runs by seed when both sides ran the same seeds, else by order."""
    bs = {r["stamp"]["seed"]: r for r in base}
    cs = {r["stamp"]["seed"]: r for r in change}
    if set(bs) == set(cs):
        return [(bs[s], cs[s]) for s in sorted(bs)]
    return list(zip(base, change))


def verdict(base_vals, change_vals, paired, better, bound):
    """Verdict for one metric; `paired` is a list of (base, change) values."""
    sign = -1.0 if better == "lower" else 1.0
    b1, bm, b3 = quartiles(base_vals)
    _, cm, _ = quartiles(change_vals)
    wins = sum(1 for b, c in paired if sign * (c - b) > 0)
    win_frac = wins / len(paired) if paired else 0.0
    gain = sign * (cm - bm)
    if paired and win_frac >= 0.9 and gain > (b3 - b1):
        return "improved", win_frac
    if -gain > bound * abs(bm):
        return "worse", win_frac
    spread = (b3 - b1) / abs(bm) if bm else 0.0
    all_better = all(sign * (c - b) > 0 for b in base_vals for c in change_vals)
    if spread > bound and not all_better:
        return "unresolved", win_frac
    return "no worse", win_frac


COUNT_STATS = (".jobs", ".codegen_compiles", ".shuffle_mb", "engine.stages", "engine.tasks",
               "engine.tasks_per_stage", ".rows_merged", ".mb_written", ".files_per_batch",
               ".state_files", ".probe_mb_per_batch")


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(argv[1]), load(argv[2])
    fmt = "{:<14} {:<13} {:>30} {:>30} {:>5} {}"
    print(fmt.format("workload", "metric", "base q1/median/q3", "change q1/median/q3",
                     "wins", "verdict"))
    for wl in sorted({k[0] for k in base} | {k[0] for k in change}):
        b, c = base.get((wl, 0), []), change.get((wl, 0), [])
        if not b or not c:
            print(f"{wl}: untraced runs missing on one side")
            continue
        pr = pairs(b, c)
        for m in spec["end_to_end"]:
            name = m["name"]
            bv = [r["metrics"][name] for r in b]
            cv = [r["metrics"][name] for r in c]
            v, wf = verdict(bv, cv, [(x["metrics"][name], y["metrics"][name]) for x, y in pr],
                            m["better"], m["bound"])
            if (wl, name) in NOT_APPLICABLE:
                v = "n/a"
            q = lambda xs: "{:.4g}/{:.4g}/{:.4g}".format(*quartiles(xs))
            print(fmt.format(wl, name, q(bv), q(cv), f"{wf:.2f}", v))
    for wl in sorted({k[0] for k in base if k[1] == 1} & {k[0] for k in change if k[1] == 1}):
        b, c = base[(wl, 1)], change[(wl, 1)]
        names = [m["name"] for m in spec["per_layer"]]
        for title, pick in (("counts", True), ("times", False)):
            rows = []
            for n in names:
                if any(n.endswith(s) or n.startswith(s) for s in COUNT_STATS) != pick:
                    continue
                bm = statistics.median(r["metrics"].get(n, 0.0) for r in b)
                cm = statistics.median(r["metrics"].get(n, 0.0) for r in c)
                if bm or cm:
                    rows.append((n, bm, cm))
            print(f"\n{wl} per-layer {title} (medians of traced runs)")
            for n, bm, cm in rows:
                print(f"  {n:<42} {bm:>12.4g} {cm:>12.4g} {cm - bm:>+12.4g}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
