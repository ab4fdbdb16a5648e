"""Compare two sets of benchmark runs, or check the spread of one.

    python3 perfbench/compare.py PARENT CHANGE   # each a records dir or file glob
    python3 perfbench/compare.py --spread RUNS

A run set is the JSON run records that perfbench/run.py keeps under
.bench_build/records (copy them aside between builds). For every workload
and end-to-end metric the comparison prints both medians and quartiles and
the seed-paired runs the change won, and flags a metric whose change median
is worse than the parent's by more than its bound in BENCHMARK.json. For
traced runs it also diffs the per-span self times. ``--spread`` prints each
metric's interquartile range as a share of its median next to its bound.
Exits 1 when a metric is flagged.
"""
import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(spec):
    files = sorted(glob.glob(os.path.join(spec, "*.json"))) if os.path.isdir(spec) \
        else sorted(glob.glob(spec))
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and r.get("correct"):
            runs.append(r)
    return runs


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}


def worse(better, a, b):
    """Relative amount by which b is worse than a (negative: b is better)."""
    if a == 0:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def grouped(runs, trace):
    out = {}
    for r in runs:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def values(runs, metric):
    return [r["metrics"][metric]["value"] for r in runs if metric in r["metrics"]]


def spread(runs):
    spec = bench_spec()
    for wl, rs in sorted(grouped(runs, 0).items()):
        print("%s (%d runs)" % (wl, len(rs)))
        for name, m in spec.items():
            v = values(rs, name)
            if len(v) < 2:
                continue
            q1, med, q3 = stats.quartiles(v)
            share = (q3 - q1) / med if med else 0.0
            note = "" if name == "setup_s" or share <= m["bound"] / 3 else \
                ("  > bound/3" if share <= m["bound"] else "  > BOUND")
            print("  %-14s median %12.4f  iqr/median %6.3f  bound %.2f%s" % (
                name, med, share, m["bound"], note))
    return 0


def compare(a_runs, b_runs):
    spec = bench_spec()
    flagged = 0
    a_by, b_by = grouped(a_runs, 0), grouped(b_runs, 0)
    for wl in sorted(set(a_by) & set(b_by)):
        print("%s (parent %d runs, change %d runs)" % (wl, len(a_by[wl]), len(b_by[wl])))
        a_seed = {r["seed"]: r for r in a_by[wl]}
        for name, m in spec.items():
            va, vb = values(a_by[wl], name), values(b_by[wl], name)
            if not va or not vb:
                continue
            qa, qb = stats.quartiles(va), stats.quartiles(vb)
            pairs = [(a_seed[r["seed"]]["metrics"][name]["value"], r["metrics"][name]["value"])
                     for r in b_by[wl] if r["seed"] in a_seed and name in r["metrics"]]
            won = sum(1 for x, y in pairs if worse(m["better"], x, y) < 0)
            w = worse(m["better"], qa[1], qb[1])
            flag = w > m["bound"]
            flagged += flag
            note = "  WORSE THAN BOUND %.2f" % m["bound"] if flag else ""
            print("  %-14s parent %10.4f [%10.4f %10.4f]  change %10.4f [%10.4f %10.4f]"
                  "  %+6.1f%%  won %d/%d%s" % (name, qa[1], qa[0], qa[2], qb[1], qb[0], qb[2],
                                              -100 * w, won, len(pairs), note))
    a_tr, b_tr = grouped(a_runs, 1), grouped(b_runs, 1)
    for wl in sorted(set(a_tr) & set(b_tr)):
        print("%s traced: self time per op, s (parent -> change)" % wl)
        sa, sb = self_per_op(a_tr[wl]), self_per_op(b_tr[wl])
        for name in sorted(set(sa) | set(sb), key=lambda n: -max(sa.get(n, 0), sb.get(n, 0))):
            x, y = sa.get(name, 0.0), sb.get(name, 0.0)
            print("  %-40s %9.4f -> %9.4f  %+9.4f" % (name, x, y, y - x))
    return 1 if flagged else 0


def self_per_op(runs):
    """Median over runs of each span's self seconds per traced op."""
    per = {}
    for r in runs:
        n = max(1, sum(1 for o in r["raw"]["ops"] if o["traced"]))
        for name, s in r.get("self_times", {}).items():
            per.setdefault(name, []).append(s["self_s"] / n)
    return {k: stats.median(v) for k, v in per.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("runs", nargs="+")
    ap.add_argument("--spread", action="store_true")
    a = ap.parse_args()
    if a.spread:
        return spread([r for spec in a.runs for r in load(spec)])
    if len(a.runs) != 2:
        ap.error("give a parent and a change run set")
    return compare(load(a.runs[0]), load(a.runs[1]))


if __name__ == "__main__":
    sys.exit(main())
