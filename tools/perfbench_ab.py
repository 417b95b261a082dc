#!/usr/bin/env python3
"""Compare two sets of perfbench runs, a parent tree's and a change's.

    python3 tools/perfbench_ab.py <parentOutDir> <changeOutDir> [--claim dashboard:run_s ...]

Each directory is a checkout's perfbench/out/, holding the
<workload>-seed<n>-trace0.json artifacts of `perfbench/run.py --trace 0`.
A pair is one seed run on both sides. For every workload and every
end-to-end metric of BENCHMARK.json it prints each side's n, median and
quartiles, and the pairs the change won, then applies the acceptance rule:

- a claimed metric (--claim workload:metric) needs at least 10 pairs, 9 of
  10 of them won, and a median gap larger than the parent's interquartile
  range;
- any other metric must not be worse than the parent's median by more than
  its bound (a fraction of that median); when either side's IQR / median
  exceeds the bound the runs spread too widely to tell, and the metric is
  reported "unresolved", unless every change run reads better than every
  parent run.

It also flags seeds whose output fingerprints differ between the sides and
runs with a nonzero failed_frac. Exit status 1 when a claim fails, a metric
is worse, a fingerprint differs or a run failed; 0 otherwise.

Where both sides also hold <workload>-seed<n>-trace1.json artifacts of the
same seed (`perfbench/run.py --trace 1`), it prints, for every per-layer
metric of BENCHMARK.json that is nonzero on either side, each side's median
and the pairs where the change read better (or the same), then per seed the
jobs, tasks and shuffle MB of every span of the traced chain. This part only
reports: it does not change the exit status.
"""
import argparse
import glob
import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACT = re.compile(r"^(?P<workload>.+)-seed(?P<seed>\d+)-trace[01]\.json$")
WIN_SHARE = 0.9
MIN_PAIRS = 10


def load(out_dir, trace=0):
    """workload -> seed -> artifact, for the artifacts of one trace level in out_dir."""
    runs = {}
    for path in glob.glob(os.path.join(out_dir, f"*-trace{trace}.json")):
        m = ARTIFACT.match(os.path.basename(path))
        if m:
            with open(path) as f:
                runs.setdefault(m["workload"], {})[int(m["seed"])] = json.load(f)
    return runs


def fingerprints(artifact):
    """Every output's [rows, xor] over the run's operations (the first one that made it)."""
    fp = {}
    for op in artifact["operations"]:
        for k, v in op["fingerprints"].items():
            fp.setdefault(k, v)
    return fp


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def spans(artifact):
    """name -> span of the traced chain (the "Layers" round)."""
    return {sp["name"]: sp for op in artifact["operations"] if op["round"] == "Layers"
            for sp in op.get("spans", [])}


def report_trace(parent_dir, change_dir, metrics):
    """Per-layer medians and pairs of the trace-1 runs; every chain span's shape per seed."""
    parent, change = load(parent_dir, 1), load(change_dir, 1)
    for workload in sorted(set(parent) & set(change)):
        p_runs, c_runs = parent[workload], change[workload]
        seeds = sorted(set(p_runs) & set(c_runs))
        if not seeds:
            continue
        print(f"== {workload} trace: {len(seeds)} pairs {seeds}")
        for m in metrics:
            name = m["name"]
            sign = 1 if m["better"] == "lower" else -1
            p = [p_runs[s]["metrics"][name]["value"] for s in seeds]
            c = [c_runs[s]["metrics"][name]["value"] for s in seeds]
            if not any(p) and not any(c):
                continue
            better = sum(1 for x, y in zip(p, c) if sign * (x - y) > 0)
            same = sum(1 for x, y in zip(p, c) if y == x)
            print(f"  {name:30s} [{m['unit']}, {m['better']} is better] parent median {statistics.median(p):.3f}  "
                  f"change median {statistics.median(c):.3f}  "
                  f"change better in {better}/{len(seeds)} pairs, same in {same}")
        for s in seeds:
            p_spans, c_spans = spans(p_runs[s]), spans(c_runs[s])
            for name in sorted(set(p_spans) | set(c_spans)):
                shape = "; ".join(
                    f"{side} {sp['jobs']} jobs / {sp['tasks']} tasks / {sp['shuffle_mb']:.2f} MB shuffle"
                    if sp else f"{side} no span"
                    for side, sp in (("parent", p_spans.get(name)), ("change", c_spans.get(name))))
                print(f"  span {name} seed {s}: {shape}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--claim", action="append", default=[], metavar="WORKLOAD:METRIC",
                    help="a metric the change claims to improve (repeatable)")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        benchmark = json.load(f)
    metrics = benchmark["end_to_end"]
    claims = {tuple(c.split(":", 1)) for c in a.claim}
    parent, change = load(a.parent), load(a.change)
    bad = False

    for workload in sorted(set(parent) | set(change)):
        p_runs, c_runs = parent.get(workload, {}), change.get(workload, {})
        seeds = sorted(set(p_runs) & set(c_runs))
        print(f"== {workload}: {len(p_runs)} parent runs, {len(c_runs)} change runs, {len(seeds)} pairs")
        for side, runs in (("parent", p_runs), ("change", c_runs)):
            for seed, r in sorted(runs.items()):
                if r.get("failed_frac", 0) != 0:
                    print(f"  FAILED   {side} seed {seed}: failed_frac {r['failed_frac']}")
                    bad = True
        differ = [s for s in seeds if fingerprints(p_runs[s]) != fingerprints(c_runs[s])]
        if differ:
            print(f"  FINGERPRINTS DIFFER at seeds {differ}")
            bad = True
        if not seeds:
            continue
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sign = 1 if m["better"] == "lower" else -1
            p = [p_runs[s]["metrics"][name]["value"] for s in seeds]
            c = [c_runs[s]["metrics"][name]["value"] for s in seeds]
            (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(p), quartiles(c)
            won = sum(1 for x, y in zip(p, c) if sign * (x - y) > 0)
            gap = sign * (pmed - cmed)  # > 0: the change is better
            spread = max((pq3 - pq1) / pmed, (cq3 - cq1) / cmed)
            if (workload, name) in claims:
                ok = len(seeds) >= MIN_PAIRS and won >= WIN_SHARE * len(seeds) and gap > pq3 - pq1
                verdict = f"claim {'MET' if ok else 'NOT MET'} (gap {gap:.3f} vs parent IQR {pq3 - pq1:.3f})"
            elif spread > bound and max(sign * y for y in c) < min(sign * x for x in p):
                ok, verdict = True, f"better in every run (IQR/median {spread:.3f} > bound {bound})"
            elif spread > bound:
                ok, verdict = True, f"unresolved (IQR/median {spread:.3f} > bound {bound})"
            else:
                ok = -gap <= bound * pmed
                verdict = f"{'ok' if ok else 'WORSE'} ({-gap / pmed:+.3f} of parent median, bound {bound})"
            bad |= not ok
            print(f"  {name:12s} [{m['unit']}, {m['better']} is better]")
            print(f"    parent n={len(p)} median={pmed:.3f} q1={pq1:.3f} q3={pq3:.3f}")
            print(f"    change n={len(c)} median={cmed:.3f} q1={cq1:.3f} q3={cq3:.3f}")
            print(f"    pairs won {won}/{len(seeds)}; {verdict}")
    report_trace(a.parent, a.change, benchmark["per_layer"])
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
