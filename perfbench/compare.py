#!/usr/bin/env python3
"""Compares two sets of benchmark runs, metric by metric and workload by
workload.

    python3 perfbench/compare.py BASE_DIR [CHANGE_DIR]

Each directory holds run artifacts as run.py writes them: one JSON file per
run, in perfbench/out/artifacts/<source digest>/. Smoke-test artifacts are
skipped. With one directory the script prints each metric's median,
quartiles and spread (the distance between the quartiles as a share of the
median). With two it pairs the runs (same workload, seed and trace setting,
in time order when a seed was run more than once), prints each pair's host
noise, and gives a verdict:

- counts (unit "count") are compared exactly: unchanged only when both
  sets hold the same values;
- unresolved: the two sets ran on a host that was not equally quiet (their
  median canary_s differ by more than a third of the smallest end-to-end
  bound, or their median steal_pct by more than STEAL_POINTS points), so
  no time (unit "s") is given a better or worse verdict;
- better: the change wins at least 9 in 10 pairs and its median moved by
  more than the base's own spread;
- unresolved: either side spreads wider than the bound, unless every run
  of one side beats every run of the other;
- worse: the change's median is worse than the base's by more than the
  bound;
- unchanged: otherwise.

The bound is the metric's `bound` in BENCHMARK.json; per-layer metrics,
which have none, use the base's spread.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# On a 4-core host a tune run at 10% steal took about 35% longer than one
# below 2%, so a one-point shift in median steal can pass for a gain.
STEAL_POINTS = 1.0


def load(d):
    """{workload: {(seed, trace, n): artifact}}: n counts earlier runs of the
    same seed and trace setting, in file-name (time) order."""
    runs = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(d, f)) as fh:
            a = json.load(fh)
        if "metrics" not in a or "workload" not in a or a.get("smoke"):
            continue
        w = runs.setdefault(a["workload"], {})
        n = sum(1 for k in w if k[:2] == (a["seed"], a["trace"]))
        w[(a["seed"], a["trace"], n)] = a
    return runs


def spec():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        return json.load(fh)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else 0.0


def values(runs, metric):
    return {k: a["metrics"][metric]["value"] for k, a in runs.items()
            if metric in a["metrics"] and a["metrics"][metric]["value"] is not None}


def noise(runs):
    """Median steal_pct and canary_s over a workload's runs."""
    return (statistics.median(a["steal_pct"] for a in runs.values()),
            statistics.median(a["canary_s"] for a in runs.values()))


def drifted(base, change, bound):
    (sb, cb), (sc, cc) = noise(base), noise(change)
    return abs(sc - sb) > STEAL_POINTS or abs(cc - cb) / cb > bound / 3


def verdict(base, change, pairs, lower, unit, bound, drift):
    if unit == "count":
        if sorted(base) == sorted(change):
            return "unchanged"
        mb, mc = statistics.median(base), statistics.median(change)
        if mb == mc:
            return "unresolved"
        return "better" if (mc < mb) == lower else "worse"
    if drift and unit == "s":
        return "unresolved"
    sign = -1.0 if lower else 1.0
    mb, mc = statistics.median(base), statistics.median(change)
    gain = sign * (mc - mb) / abs(mb) if mb else 0.0
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    won = wins / len(pairs) if pairs else 0.0
    sb, sc = spread(base), spread(change)
    bound = sb if bound is None else bound
    if won >= 0.9 and gain > sb:
        return "better"
    if sb > bound or sc > bound:
        if all(sign * (c - b) > 0 for b in base for c in change):
            return "better"
        if all(sign * (c - b) < 0 for b in base for c in change):
            return "worse"
        return "unresolved"
    if -gain > bound:
        return "worse"
    return "unchanged"


def fmt(x):
    return f"{x:.6g}"


def summary(base):
    print(f"{'workload':8s} {'metric':40s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}")
    for w in sorted(base):
        steal, canary = noise(base[w])
        print(f"{w:8s} {'(host) steal_pct, canary_s':40s} {len(base[w]):3d} {fmt(steal):>12s} {fmt(canary):>12s}")
        for m in sorted({m for a in base[w].values() for m in a["metrics"]}):
            xs = list(values(base[w], m).values())
            if xs:
                q1, q2, q3 = quartiles(xs)
                print(f"{w:8s} {m:40s} {len(xs):3d} {fmt(q2):>12s} {fmt(q1):>12s} {fmt(q3):>12s} {spread(xs):7.3f}")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    s = spec()
    metrics = {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}
    drift_bound = min(m["bound"] for m in s["end_to_end"])
    base = load(sys.argv[1])
    if len(sys.argv) == 2:
        summary(base)
        return
    change = load(sys.argv[2])
    for w in sorted(set(base) | set(change)):
        b, c = base.get(w, {}), change.get(w, {})
        if not b or not c:
            print(f"{w}: only in {'base' if b else 'change'}")
            continue
        print(f"== {w}: host noise per pair (seed, trace, n): base steal_pct/canary_s, change steal_pct/canary_s")
        for k in sorted(set(b) & set(c)):
            print(f"   {k}  {b[k]['steal_pct']:6.2f} {b[k]['canary_s']:.4f}   "
                  f"{c[k]['steal_pct']:6.2f} {c[k]['canary_s']:.4f}")
        (sb, cb), (sc, cc) = noise(b), noise(c)
        drift = drifted(b, c, drift_bound)
        print(f"   median   {sb:6.2f} {cb:.4f}   {sc:6.2f} {cc:.4f}   "
              + ("host noise differs: times are unresolved" if drift else "host noise agrees"))
        print(f"{'workload':8s} {'metric':40s} {'base median':>12s} {'change median':>13s} "
              f"{'base q1-q3':>23s} {'change q1-q3':>23s} {'won':>5s} verdict")
        names = sorted({m for a in list(b.values()) + list(c.values()) for m in a["metrics"]})
        for name in names:
            bv, cv = values(b, name), values(c, name)
            if not bv or not cv:
                print(f"{w:8s} {name:40s} only in {'base' if bv else 'change'}")
                continue
            m = metrics.get(name, {})
            unit = next(a["metrics"][name]["unit"] for a in list(b.values()) + list(c.values())
                        if name in a["metrics"])
            lower = m.get("better", "lower") == "lower"
            pairs = [(bv[k], cv[k]) for k in sorted(set(bv) & set(cv))]
            if not pairs:
                pairs = list(zip(bv.values(), cv.values()))
            sign = -1.0 if lower else 1.0
            won = sum(1 for x, y in pairs if sign * (y - x) > 0) / len(pairs)
            bq, cq = quartiles(list(bv.values())), quartiles(list(cv.values()))
            v = verdict(list(bv.values()), list(cv.values()), pairs, lower, unit, m.get("bound"), drift)
            print(f"{w:8s} {name:40s} {fmt(bq[1]):>12s} {fmt(cq[1]):>13s} "
                  f"{fmt(bq[0]) + '-' + fmt(bq[2]):>23s} {fmt(cq[0]) + '-' + fmt(cq[2]):>23s} "
                  f"{won:5.2f} {v}")


if __name__ == "__main__":
    main()
