"""Compare two result sets of the layer benchmark (parent vs change).

Usage:
  python3 layerbench/compare.py PARENT_DIR CHANGE_DIR
  python3 layerbench/compare.py --split DIR
  python3 layerbench/compare.py --spread DIR

A result set is a directory of run records as run.py writes them to
.work/results/ (one JSON file per run). For each workload and end-to-end
metric (untraced runs) it prints both sides' medians and quartiles, the
pairs the change won, and a verdict:

  improved    the change wins at least 9/10 of the pairs (pairs matched by
              seed, else by run order; ties count for neither side) and the
              medians differ by more than the parent's quartile distance;
  no worse    the change's median is within the metric's bound of the
              parent's, and the parent's own spread is within the bound;
  worse       the change's median is worse than the parent's by more than
              the bound, and the parent's spread is within the bound;
  unresolved  the parent's spread is wider than the bound, and not every
              change run beats every parent run.

Bounds and directions come from BENCHMARK.json at the repository root.
For traced runs it prints each per-layer metric's medians and delta, so a
change can quote the layer it moved. --split prints, per workload, the
construct / catalyst / exec split and jobs per query of traced runs.
--spread prints, per workload and end-to-end metric, the median and the
quartile distance as a share of it, beside a third of the metric's bound.
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
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            runs.append(r)
    if not runs:
        raise SystemExit(f"no run records in {d}")
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}


def values(runs, metric):
    return [r["metrics"][metric] for r in runs]


def verdict(p, c, pairs_, better, bound):
    lower = better == "lower"
    won = sum(1 for a, b in pairs_ if (b < a if lower else b > a))
    p1, pm, p3 = quartiles(p)
    _, cm, _ = quartiles(c)
    spread = (p3 - p1) / pm if pm else float("inf")
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    if pairs_ and won >= 0.9 * len(pairs_) and abs(cm - pm) > (p3 - p1) and worse_by < 0:
        return won, "improved"
    if spread > bound:
        all_better = all((b < a if lower else b > a) for a in p for b in c)
        return won, "improved" if all_better else "unresolved"
    return won, "no worse" if worse_by <= bound else "worse"


def compare(parent_dir, change_dir):
    parent, change = load(parent_dir), load(change_dir)
    bounds = spec()
    workloads = sorted({r["workload"] for r in parent} | {r["workload"] for r in change})
    for w in workloads:
        for trace in (0, 1):
            p = [r for r in parent if r["workload"] == w and r["trace"] == trace]
            c = [r for r in change if r["workload"] == w and r["trace"] == trace]
            if not p or not c:
                continue
            print(f"\n== {w} ({'traced' if trace else 'untraced'}: "
                  f"{len(p)} parent runs, {len(c)} change runs)")
            if trace == 0:
                print(f"{'metric':18} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
                      f"{'won':>7}  verdict")
                for m in sorted(bounds):
                    pv, cv = values(p, m), values(c, m)
                    pr = list(zip(*_matched(p, c, m)))
                    won, v = verdict(pv, cv, pr, bounds[m]["better"], bounds[m]["bound"])
                    fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))  # noqa: E731
                    print(f"{m:18} {fmt(pv):>30} {fmt(cv):>30} {won:>3}/{len(pr):<3}  {v}")
            else:
                print(f"{'layer metric':28} {'parent med':>14} {'change med':>14} {'delta':>12}")
                for m in sorted(p[0]["metrics"]):
                    pm = statistics.median(values(p, m))
                    cm = statistics.median(values(c, m))
                    rel = f"{(cm - pm) / pm:+.1%}" if pm else "n/a"
                    print(f"{m:28} {pm:14.6g} {cm:14.6g} {rel:>12}")


def _matched(p, c, m):
    ps = {r["seed"]: r["metrics"][m] for r in p}
    cs = {r["seed"]: r["metrics"][m] for r in c}
    common = sorted(set(ps) & set(cs))
    if common:
        return [ps[s] for s in common], [cs[s] for s in common]
    n = min(len(p), len(c))
    return values(p, m)[:n], values(c, m)[:n]


def split(d):
    runs = [r for r in load(d) if r["trace"] == 1]
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w]
        print(f"\n== {w} ({len(rs)} traced runs; medians)")
        print(f"{'query':24} {'construct_s':>12} {'catalyst_s':>11} {'exec_s':>9} "
              f"{'construct_jobs':>15} {'exec_jobs':>10}")
        qs = sorted({q for r in rs for q in r["query_split"]})
        tot = {k: 0.0 for k in ("construct_s", "catalyst_s", "exec_s")}
        for q in qs:
            v = {k: statistics.median([r["query_split"][q][k] for r in rs if q in r["query_split"]])
                 for k in ("construct_s", "catalyst_s", "exec_s", "construct_jobs", "exec_jobs")}
            for k in tot:
                tot[k] += v[k]
            print(f"{q:24} {v['construct_s']:12.3f} {v['catalyst_s']:11.3f} {v['exec_s']:9.3f} "
                  f"{v['construct_jobs']:15.0f} {v['exec_jobs']:10.0f}")
        s = sum(tot.values())
        print("share of wall: " + ", ".join(f"{k[:-2]} {v / s:.1%}" for k, v in tot.items()))


def spread(d):
    runs = [r for r in load(d) if r["trace"] == 0]
    bounds = spec()
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w]
        print(f"\n== {w} ({len(rs)} untraced runs, seeds {sorted(r['seed'] for r in rs)})")
        for m in sorted(bounds):
            q1, med, q3 = quartiles(values(rs, m))
            s = (q3 - q1) / med if med else float("inf")
            lim = bounds[m]["bound"] / 3
            print(f"{m:18} median {med:10.4g}  spread {s:6.3f}  bound/3 {lim:5.3f}"
                  f"{'' if s < lim else '  WIDE'}")


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--split":
        split(sys.argv[2])
    elif len(sys.argv) == 3 and sys.argv[1] == "--spread":
        spread(sys.argv[2])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        raise SystemExit(__doc__)
