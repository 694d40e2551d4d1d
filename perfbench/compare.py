#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarise one.

    python3 perfbench/compare.py BASE_DIR [NEW_DIR]

Each directory holds the artifacts ``run.py --save DIR`` writes. For each
workload and end-to-end metric (untraced runs) it prints each set's
median and quartiles and the spread (interquartile distance over the
median). Given two sets it adds a verdict:

* ``improved``: the new set wins at least nine tenths of the pairs (runs
  paired by seed, ties counting for neither) and the medians differ by
  more than the base set's interquartile distance;
* ``regressed``: the new median is worse than the base median by more
  than the metric's bound in BENCHMARK.json;
* ``unresolved``: the base spread is wider than the bound, unless every
  new run reads better than every base run;
* ``within bound``: otherwise.

A gain does not count when more ops fail than at the base: each set's
failed and attempted ops are printed per workload, and if the new set has
more failed ops (untraced runs) every verdict of that workload reads
``not improved: more failed ops``.

Below that it lists the per-layer medians of the traced runs and their
change, and the tracing overhead (untraced over traced ops_per_s).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        a = json.load(open(f))
        if "summary" in a:
            runs.append(a)
    return runs


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def series(runs, workload, traced, metric):
    """{seed: value} of one metric over one set's runs."""
    out = {}
    for a in runs:
        r, s = a["run"], a["summary"]
        if r["workload"] == workload and r["traced"] == traced:
            m = s["metrics"].get(metric)
            if m is not None:
                out[r["seed"]] = m["value"]
    return out


def failures(runs, workload):
    """(failed, attempted) summed over one set's untraced runs."""
    f = a = 0
    for r in runs:
        if r["run"]["workload"] == workload and not r["run"]["traced"]:
            f += r["summary"]["failed"]
            a += r["summary"]["attempted"]
    return f, a


def verdict(base, new, better, bound):
    a, b = list(base.values()), list(new.values())
    q1, ma, q3 = quartiles(a)
    mb = statistics.median(b)
    sign = 1 if better == "lower" else -1
    worse = sign * (mb - ma) / ma if ma else 0.0
    is_better = (lambda x, y: x < y) if better == "lower" else (lambda x, y: x > y)
    seeds = sorted(set(base) & set(new))
    pairs = [(base[s], new[s]) for s in seeds] or list(zip(a, b))
    wins = sum(1 for x, y in pairs if is_better(y, x))
    all_better = all(is_better(y, x) for y in b for x in a)
    if pairs and wins >= 0.9 * len(pairs) and abs(mb - ma) > (q3 - q1):
        return "improved", worse
    spread = (q3 - q1) / ma if ma else 0.0
    if spread > bound and not all_better:
        return "unresolved", worse
    if worse > bound:
        return "regressed", worse
    return "within bound", worse


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    base = load(sys.argv[1])
    new = load(sys.argv[2]) if len(sys.argv) == 3 else None
    e2e = spec()
    workloads = sorted({a["run"]["workload"] for a in base})
    for w in workloads:
        print(f"== {w}")
        bf, ba = failures(base, w)
        line = f"  failed ops     base  {bf}/{ba}"
        more_failed = False
        if new is not None:
            nf, na = failures(new, w)
            more_failed = nf > bf
            line += f"  new {nf}/{na}"
        print(line)
        for name, m in e2e.items():
            bs = series(base, w, False, name)
            if not bs:
                continue
            q1, md, q3 = quartiles(list(bs.values()))
            line = (f"  {name:<14} base  median {md:.6g} [{q1:.6g}, {q3:.6g}] "
                    f"{m['unit']}  spread {(q3 - q1) / md if md else 0:.3f}  "
                    f"n={len(bs)}")
            print(line)
            if new is not None:
                ns = series(new, w, False, name)
                if not ns:
                    continue
                n1, nm, n3 = quartiles(list(ns.values()))
                v, worse = verdict(bs, ns, m["better"], m["bound"])
                if more_failed:
                    v = "not improved: more failed ops"
                print(f"  {'':<14} new   median {nm:.6g} [{n1:.6g}, {n3:.6g}]  "
                      f"{'worse' if worse > 0 else 'better'} by "
                      f"{abs(worse):.1%}  -> {v} (bound {m['bound']})")
        layer_names = sorted({k for a in base + (new or [])
                              if a["run"]["workload"] == w and a["run"]["traced"]
                              for k in a["summary"]["metrics"]})
        if layer_names:
            print("  per-layer medians (traced runs):")
        for name in layer_names:
            bs = series(base, w, True, name)
            mb = statistics.median(bs.values()) if bs else None
            txt = f"    {name:<38} base {mb:.6g}" if mb is not None else \
                f"    {name:<38} base -"
            if new is not None:
                ns = series(new, w, True, name)
                if ns:
                    mn = statistics.median(ns.values())
                    rel = f" ({(mn - mb) / mb:+.1%})" if mb else ""
                    txt += f"  new {mn:.6g}{rel}"
            print(txt)
        for label, runs in (("base", base), ("new", new)):
            if not runs:
                continue
            u = series(runs, w, False, "ops_per_s")
            t = series(runs, w, True, "trace.ops_per_s")
            if u and t:
                over = statistics.median(u.values()) / statistics.median(t.values()) - 1
                print(f"  tracing overhead ({label}): untraced ops_per_s is "
                      f"{over:+.1%} over traced")


if __name__ == "__main__":
    main()
