#!/usr/bin/env python3
"""graft benchmark: one command per workload.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It compiles the engine (src/main/scala) and the harness (perfbench/harness)
into .bench_build/ with the Scala compiler that ships in the Spark jars,
runs the workload in one JVM at local[4], checks every output against the
committed fingerprints in perfbench/expected/, writes the full artifact to
.bench_build/artifacts/ and prints one JSON line as the last line of
standard output. The exit code is 0 only when every output check passed.

`--record` rewrites the expected fingerprints from the run's check pass
(for a benchmark change, never for a program change).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
HEAP = "3g"
# a run may take this long beyond --seconds before its JVM counts as hung
RUN_LIMIT_S = 165.0

# benchmark workload name -> harness workload (and expected/<kind>.tsv)
WORKLOADS = {
    "tpcxbb-power-sf0.01": "power",
    "pipeline-ops-sf0.001": "pipeline",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    bin/ directory on the PATH whose ../jars holds the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        compiler = glob.glob(os.path.join(jars, "scala-compiler-2.13.*.jar"))
        if compiler:
            return jars, compiler[0]
    fail("no Spark distribution with a Scala 2.13 compiler jar; set SPARK_HOME")


def sources():
    src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    res = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True)
                 if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    return src, res, harness


def digest_files(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, compiler, classpath, out, files):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    lib = [os.path.join(jars, os.path.basename(compiler).replace("compiler", n))
           for n in ("library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join([compiler] + lib),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-cp", classpath,
           "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])


def build(jars, compiler):
    """Compile the engine and the harness unless the stamp says both are current."""
    src, res, harness = sources()
    if not src:
        fail("no src/main/scala here: run from the root of a graft checkout")
    src_hash = digest_files(src + res, os.path.basename(compiler))
    stamp = os.path.join(BUILD, "stamp.json")
    want = {"engine": src_hash, "harness": digest_files(harness, src_hash)}
    have = {}
    if os.path.exists(stamp):
        with open(stamp) as f:
            have = json.load(f)
    classes = os.path.join(BUILD, "classes")
    hclasses = os.path.join(BUILD, "harness-classes")
    if have.get("engine") != want["engine"]:
        log(f"compiling {len(src)} engine sources")
        t0 = time.time()
        scalac(jars, compiler, os.path.join(jars, "*"), classes, src)
        log(f"engine compiled in {time.time() - t0:.1f} s")
        have = {"engine": want["engine"]}
    if have.get("harness") != want["harness"]:
        scalac(jars, compiler, os.path.join(jars, "*") + ":" + classes, hclasses, harness)
        have["harness"] = want["harness"]
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump(have, f)
    return classes, hclasses, src_hash


def steal_s():
    """CPU seconds the hypervisor gave to other guests so far, summed over
    this host's CPUs (Linux /proc/stat), or None where that is unknown."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return (r.stdout.strip() or None) if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def java(jars, classes, hclasses, main, args, deadline):
    """Run one harness main in its own JVM, confined to the checkout."""
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cp = ":".join([hclasses, classes, "src/main/resources", os.path.join(jars, "*")])
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m"] + opens + [
        "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.abspath(os.path.join(BUILD, 'warehouse'))}",
        f"-Dderby.system.home={tmp}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dgraft.log.file={os.path.abspath(os.path.join(BUILD, 'spark.log'))}",
        "-cp", cp, main] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{main} did not finish in time; killed")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if code != 0:
        fail(f"{main} exited with {code}; see {BUILD}/spark.log")


def power_input(jars, classes, hclasses, src_hash):
    """DataGen's pipe-CSV for the power workload, written once per engine source."""
    base = os.path.join(BUILD, "input", "tpcxbb-sf0.01")
    stamp = os.path.join(base, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st.get("engine") == src_hash:
            return os.path.abspath(os.path.join(base, "csv")), st["datagen_s"]
    if os.path.isdir(base):
        shutil.rmtree(base)
    os.makedirs(base)
    log("generating the power workload's CSV input")
    t0 = time.time()
    java(jars, classes, hclasses, "perfbench.DataGen",
         [os.path.abspath(os.path.join(base, "csv"))], time.time() + 600)
    st = {"engine": src_hash, "datagen_s": time.time() - t0}
    with open(stamp, "w") as f:
        json.dump(st, f)
    return os.path.abspath(os.path.join(base, "csv")), st["datagen_s"]


def load_expected(kind):
    path = os.path.join(BENCH, "expected", f"{kind}.tsv")
    exp = {}
    with open(path) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                name, rows, digest = line.rstrip("\n").split("\t")
                exp[name] = (int(rows), digest)
    return exp


def record_expected(kind, art):
    path = os.path.join(BENCH, "expected", f"{kind}.tsv")
    ops = art["passes"][0]["ops"]
    with open(path, "w") as f:
        f.write("# operation\trows\tdigest (written by run.py --record)\n")
        for o in sorted(ops, key=lambda o: o["name"]):
            if o["error"]:
                fail(f"cannot record: {o['name']} failed: {o['error']}")
            f.write(f"{o['name']}\t{o['rows']}\t{o['digest']}\n")
        for table, rows in sorted(art["load_tables"].items()):
            f.write(f"load:{table}\t{rows}\t-\n")
    log(f"recorded {len(ops)} expected outputs to {path}")


def check(kind, art, pinned):
    """Count attempted and failed operations over the timed and overhead passes.

    A failure is an exception, zero rows, a row-count or digest mismatch,
    or an expected operation that did not run. The rows per table that the
    power set-up's load test wrote are checked too, each as one operation."""
    exp = load_expected(kind)
    problems = []
    attempted = 0
    for name in sorted(k for k in exp if k.startswith("load:")):
        attempted += 1
        rows, want = art["load_tables"].get(name[len("load:"):]), exp.pop(name)[0]
        if rows != want:
            problems.append(f"set-up {name}: rows {rows} != expected {want}")
    passes = art["passes"] + art["overhead_passes"]
    for p in passes:
        seen = set()
        for o in p["ops"]:
            attempted += 1
            name = o["name"]
            seen.add(name)
            why = None
            if o["error"]:
                why = o["error"]
            elif name not in exp:
                why = "no expected output recorded"
            else:
                rows, digest = exp[name]
                if o["rows"] != rows:
                    why = f"rows {o['rows']} != expected {rows}"
                elif o["rows"] == 0:
                    why = "zero rows"
                elif o["digest"] != digest:
                    why = f"digest {o['digest']} != expected {digest}"
            if why:
                problems.append(f"pass {p['index']} {name}: {why}")
        missing = set(exp) - seen
        if kind == "pipeline":
            missing |= set(pinned) - seen
        if p in art["overhead_passes"]:
            missing = set()
        for name in sorted(missing):
            attempted += 1
            problems.append(f"pass {p['index']} {name}: did not run")
    return attempted, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/expected/<workload>.tsv from this run")
    args = ap.parse_args()
    start = time.time()
    # on SIGTERM, unwind through java()'s handler so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    jars, compiler = spark_jars()
    classes, hclasses, src_hash = build(jars, compiler)

    kind = WORKLOADS[args.workload]
    queries = os.path.join(BENCH, "pipeline_queries.txt")
    with open(queries) as f:
        pinned = [n for n in (l.split("#")[0].strip() for l in f) if n]
    csv, datagen_s = "-", None
    if kind == "power":
        csv, datagen_s = power_input(jars, classes, hclasses, src_hash)
    tables = os.path.join(BENCH, "data", "sf0.001")
    artifact = os.path.abspath(os.path.join(
        BUILD, "artifacts", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    if os.path.exists(artifact):
        os.remove(artifact)
    work = os.path.abspath(os.path.join(BUILD, "work", kind))
    # a run that first had to build may take that much longer
    limit = args.seconds + RUN_LIMIT_S
    deadline = max(start + limit, time.time() + limit - 20)
    steal0 = steal_s()
    java(jars, classes, hclasses, "perfbench.Harness",
         [kind, str(args.seed), str(args.seconds), str(args.trace), work, artifact,
          csv, tables, queries], deadline)
    steal1 = steal_s()
    with open(artifact) as f:
        art = json.load(f)
    # CPU time stolen from this VM while the harness ran: the main cause of
    # run-to-run spread on a shared host
    art.update({"benchmark_workload": args.workload, "git_commit": git_commit(),
                "source_sha256": src_hash, "heap": HEAP, "datagen_s": datagen_s,
                "host_steal_s": None if steal0 is None else steal1 - steal0})

    if args.record:
        record_expected(kind, art)
    attempted, problems = check(kind, art, pinned)
    for p in problems[:20]:
        log(f"FAILED {p}")
    failed = len(problems)
    art["failed_operations"] = problems
    art["per_layer"]["failed_frac"] = failed / attempted if attempted else 1.0
    with open(artifact, "w") as f:
        json.dump(art, f)
    log(f"artifact: {artifact}")

    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        v = art[section].get(m["name"])
        if v is None:
            fail(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
