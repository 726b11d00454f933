#!/usr/bin/env python3
"""Compare benchmark artifacts of two commits.

    python3 perfbench/diff.py --base A1.json [A2.json ...] --new B1.json [B2.json ...]

Artifacts are the JSON files run.py writes under .bench_build/artifacts/,
all of one workload. Counts (jobs, stages, tasks, bytes, rows, output
fingerprints) should match exactly between two runs of the same code, so
they are listed apart from timings, and every difference is a finding.
Timings are compared as medians over each side's artifacts. An end-to-end
metric is flagged when it got worse by more than its bound in
BENCHMARK.json. Other timings (per-layer metrics, per-operation times) have
no bound: they are listed with their change, per-operation times largest
change first, to show where an end-to-end change came from, and are never
flagged.

Exit code: 0 when nothing is flagged, 1 otherwise.
"""
import argparse
import json
import os
import statistics
import sys

COUNT_UNITS = {"count", "bytes", "rows", "files"}


def load(paths):
    arts = []
    for p in paths:
        with open(p) as f:
            arts.append(json.load(f))
    names = {a.get("benchmark_workload", a["workload"]) for a in arts}
    if len(names) != 1:
        sys.exit(f"artifacts mix workloads: {sorted(names)}")
    return arts


def spec_metrics(path):
    if not os.path.exists(path):
        return {}, {}
    with open(path) as f:
        spec = json.load(f)
    return ({m["name"]: m for m in spec["end_to_end"]},
            {m["name"]: m for m in spec["per_layer"]})


def median_of(arts, get):
    vals = [v for v in (get(a) for a in arts) if v is not None]
    return statistics.median(vals) if vals else None


def op_times(art):
    """Median total seconds per operation over the artifact's timed passes."""
    per = {}
    for p in art["passes"]:
        for o in p["ops"]:
            if not o["error"]:
                per.setdefault(o["name"], []).append(o["total_s"])
    return {k: statistics.median(v) for k, v in per.items()}


def counts(art):
    """Exact-repeat values: per-operation rows, fingerprints and counters."""
    out = {}
    for p in art["passes"]:
        for o in p["ops"]:
            out[f"{o['name']}.rows"] = o["rows"]
            out[f"{o['name']}.digest"] = o["digest"]
        for op, cs in (p.get("counts") or {}).items():
            for k, v in cs.items():
                out[f"{op}.{k}"] = v
    return out


def rel(a, b):
    if a is None or b is None:
        return None
    if a == 0:
        return 0.0 if b == 0 else float("inf")
    return (b - a) / abs(a)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()

    base, new = load(args.base), load(args.new)
    e2e_spec, layer_spec = spec_metrics(args.benchmark)
    flagged = 0

    print("== counts (must match exactly)")
    for side, arts in (("base", base), ("new", new)):
        first = counts(arts[0])
        for a in arts[1:]:
            for k, v in sorted(counts(a).items()):
                if first.get(k) != v:
                    print(f"  unstable within {side}: {k}")
                    flagged += 1
    cb, cn = counts(base[0]), counts(new[0])
    for k in sorted(set(cb) | set(cn)):
        if cb.get(k) != cn.get(k):
            print(f"  {k}: {cb.get(k)} -> {cn.get(k)}")
            flagged += 1
    for name, m in sorted(layer_spec.items()):
        if m["unit"] not in COUNT_UNITS:
            continue
        a = median_of(base, lambda x: x["per_layer"].get(name))
        b = median_of(new, lambda x: x["per_layer"].get(name))
        if a != b:
            print(f"  {name}: {a} -> {b} {m['unit']}")
            flagged += 1

    print("== end-to-end timings (median; flagged when worse than the bound)")
    for name, m in e2e_spec.items():
        a = median_of(base, lambda x: x["end_to_end"].get(name))
        b = median_of(new, lambda x: x["end_to_end"].get(name))
        r = rel(a, b)
        if r is None:
            continue
        worse = r if m["better"] == "lower" else -r
        flag = worse > m["bound"]
        flagged += flag
        print(f"  {'FLAG ' if flag else '     '}{name}: {a:.4g} -> {b:.4g} {m['unit']} "
              f"({r:+.1%}, bound {m['bound']:.0%})")

    print("== other per-layer metrics (median; listed, not flagged)")
    for name, m in layer_spec.items():
        if m["unit"] in COUNT_UNITS:
            continue
        a = median_of(base, lambda x: x["per_layer"].get(name))
        b = median_of(new, lambda x: x["per_layer"].get(name))
        if rel(a, b) is not None and (a or b):
            print(f"  {name}: {a:.4g} -> {b:.4g} {m['unit']} ({rel(a, b):+.1%})")
    print("== per-operation seconds (median; largest change first; not flagged)")
    tb = [op_times(a) for a in base]
    tn = [op_times(a) for a in new]
    rows = []
    for op in set().union(*tb, *tn):
        a = median_of(tb, lambda t: t.get(op))
        b = median_of(tn, lambda t: t.get(op))
        if rel(a, b) is not None:
            rows.append((abs(b - a), op, a, b))
    for _, op, a, b in sorted(rows, reverse=True):
        print(f"  {op}: {a:.3f} -> {b:.3f} s ({rel(a, b):+.1%})")

    print(f"== {flagged} flagged")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
