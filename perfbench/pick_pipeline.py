#!/usr/bin/env python3
"""Derive the pipeline workload's pinned queries.

    python3 perfbench/pick_pipeline.py <artifact.json>

The artifact is a pipeline run whose list held every a/d/g/x query of
graft.SparkEntry.queries (its first pass is each query's cold time). A query
reaches an operator module when its definition in src/main/scala/graft/queries,
or a helper of those files it calls, names an object or class of
graft/ops, graft/plans or graft/streaming; `readStream` or `writeStream`
counts as reaching Spark's Structured Streaming. The pick is a weighted greedy
set cover: repeatedly take the query that reaches the most modules not yet
reached per cold second, until every module some a/d/g/x query reaches is
reached once. It prints the list in pipeline_queries.txt's form and, on
standard error, the modules no a/d/g/x query reaches and each family's
share of the suite's cold time.
"""
import glob
import json
import re
import sys

SRC = "src/main/scala/graft"
STREAMING = "Spark Structured Streaming"


def modules():
    """Object or class name -> module files defining it."""
    owner = {}
    for d in ("ops", "plans", "streaming"):
        for f in glob.glob(f"{SRC}/{d}/*.scala"):
            mod = f"{d}/{f.rsplit('/', 1)[1][:-6]}"
            with open(f) as fh:
                for n in re.findall(r"^\s*(?:\w+ )*(?:object|class|trait) (\w+)",
                                    fh.read(), re.M):
                    owner.setdefault(n, set()).add(mod)
    return owner


def blocks():
    """Query bodies, and helper bodies keyed by (suite object, name), of the
    query suites, without comments and string literals."""
    queries, helpers, suite_of = {}, {}, {}
    for f in glob.glob(f"{SRC}/queries/*.scala"):
        with open(f) as fh:
            text = fh.read()
        suites = re.findall(r"^object (\w+)", text, re.M)
        suite = suites[0] if suites else f
        lines = text.split("\n")
        starts = []
        for i, l in enumerate(lines):
            m = re.match(r'^    Q\("(\w+)"', l)
            h = re.match(r"^  (?:\w+ )*(?:def|val|object) (\w+)", l)
            if m:
                starts.append((i, m.group(1), True))
            elif h and h.group(1) != "qs":
                starts.append((i, h.group(1), False))
        for k, (i, name, is_query) in enumerate(starts):
            j = starts[k + 1][0] if k + 1 < len(starts) else len(lines)
            body = "\n".join(l for l in lines[i:j] if not l.strip().startswith("//"))
            body = re.sub(r'"""[\s\S]*?"""|"(?:[^"\\\n]|\\.)*"', '""', body)
            if is_query:
                queries[name] = body
                suite_of[name] = suite
            else:
                helpers.setdefault((suite, name), []).append(body)
    return queries, helpers, suite_of


def reach(body, suite, owner, helpers, seen):
    """Modules a body names, directly or through the helpers it calls:
    `name` in its own suite, `Suite.name` in another."""
    out = set()
    for qual, ident in set(re.findall(r"(?:\b(\w+)\.)?\b([A-Za-z_]\w*)\b", body)):
        out |= owner.get(qual, set()) | owner.get(ident, set())
        key = (qual, ident) if (qual, ident) in helpers else (suite, ident)
        if key in helpers and key not in seen:
            seen.add(key)
            for b in helpers[key]:
                out |= reach(b, key[0], owner, helpers, seen)
    if re.search(r"\b(?:readStream|writeStream)\b", body):
        out.add(STREAMING)
    return out


def main():
    with open(sys.argv[1]) as f:
        cold = {o["name"]: o["total_s"] for o in json.load(f)["passes"][0]["ops"]}
    owner = modules()
    queries, helpers, suite_of = blocks()
    mods = {n: reach(b, suite_of[n], owner, helpers, set())
            for n, b in queries.items() if n[0] in "adgx"}
    missing = sorted(set(mods) - set(cold))
    if missing:
        sys.exit(f"the artifact lacks {missing}")
    left, pick = set().union(*mods.values()), []
    unreached = set().union(*owner.values()) - left
    print(f"reached by no a/d/g/x query: {', '.join(sorted(unreached))}",
          file=sys.stderr)
    while left:
        best = max(mods, key=lambda n: (len(mods[n] & left) / cold[n], -cold[n]))
        pick.append(best)
        left -= mods[best]
    for fam in "adgx":
        names = [n for n in mods if n[0] == fam]
        took = [n for n in pick if n[0] == fam]
        print(f"{fam}: {len(took)} of {len(names)} queries, "
              f"{sum(cold[n] for n in took):.1f} of {sum(cold[n] for n in names):.1f} "
              f"cold s", file=sys.stderr)
    for n in sorted(pick):
        print(f"{n}  # {', '.join(sorted(mods[n]))}")


if __name__ == "__main__":
    main()
