#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crime_daily --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/scala) with the Scala
compiler that ships in the Spark jar directory named by build.sbt, into
.bench_build/; later runs reuse that build while the sources are unchanged.
Each run starts a fresh JVM with a fixed heap (-Xms = -Xmx), works in its
own directory under .bench_work/ and deletes it when done.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are BENCHMARK.json's end_to_end
list; with --trace 1 its per_layer list. The line before it is the run's
metadata (seed, host, heap, load, commit, tail percentile, warm-up, drift).
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
HEAP = "3g"
# C1 only: under tiered C2 op time keeps falling for 10-15 ops, longer than
# a run can afford to warm up; README.md ("JIT") shows C1 and C2 rank a
# kernel change the same way. C1-only mode shrinks the default code cache
# to 48 MB, which one traced run outgrows: the JVM then stops compiling
# and fails method-handle links, so the cache gets the tiered default back
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
WORKLOADS = ("crime_daily", "curation_batch")
# per-layer metrics every workload reports, and the layers each exercises;
# a per-layer metric of a layer a workload never calls reads 0
COMMON_LAYERS = ("spark.", "Par.", "jvm.", "trace.", "op.")
EXERCISES = {
    "crime_daily": ("sources.", "engine.", "view_s.", "stored_bytes",
                    "functions."),
    "curation_batch": ("operators.", "streaming.", "store.", "stored_bytes"),
}
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory the repo builds against: build.sbt's
    unmanagedBase, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BenchError("no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        raise BenchError(f"no Scala sources under {root}")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_if_stale(name, files, classpath):
    """Compile `files` into BUILD/name unless the stamp matches; returns
    the class directory."""
    out = os.path.join(BUILD, name)
    want = stamp(files) + "|" + classpath
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == want:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(BUILD, name + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    log(f"compiling {name} ({len(files)} files)")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", classpath.split(os.pathsep)[-1],
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath,
         "@" + args], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BenchError(f"compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    log(f"compiled {name} in {time.time() - t0:.1f} s")
    return out


def build():
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(BUILD, exist_ok=True)
    engine = compile_if_stale(
        "engine", sources(os.path.join(ROOT, "src", "main", "scala")), jars)
    bench = compile_if_stale(
        "bench", sources(os.path.join(HERE, "scala")),
        os.pathsep.join([engine, jars]))
    return os.pathsep.join([bench, engine, jars])


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


def run_jvm(classpath, args, work, deadline):
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"))
    threads = min(4, os.cpu_count() or 1)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m"] + JIT
           + [x for p in ADD_OPENS for x in ("--add-opens", p)]
           + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--threads", str(threads), "--work", work, "--out", out,
              "--corrupt-expected", "1" if args.corrupt_expected else "0"])
    # Spark's scratch space stays inside the run's directory; no NamedQuery
    # store (the paraphrased views run) and no env-gated engine timers
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    for k in ("GRAFT_NAMEDQUERY_DIR", "GRAFT_CHAIN_DEBUG"):
        env.pop(k, None)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work,
                         env=env)
    try:
        rc = p.wait(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError("the workload ran past its deadline")
    if rc != 0 or not os.path.isfile(out):
        raise BenchError(f"the workload JVM exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected output (the benchmark's own test)")
    ap.add_argument("--keep-work", action="store_true",
                    help="keep the run directory (result.json, spans.json)")
    args = ap.parse_args()
    t_start = time.time()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        classpath = build()
        # the first run's build may take minutes; the run itself gets a
        # fixed budget from here on
        deadline = time.time() + 170
        work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            res = run_jvm(classpath, args, work, deadline)
            # the DuckDB oracle checks the untraced runs' query results; a
            # traced run checks each pass against the first pass's digests
            # and the stores chain against batch
            if args.workload == "curation_batch" and not args.trace:
                import oracle
                t0 = time.time()
                oracle.apply(res, work)
                res["meta"]["oracle_s"] = round(time.time() - t0, 3)
        finally:
            if args.keep_work:
                log(f"kept {work}")
            else:
                shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        log(f"error: {e}")
        return 2

    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {}
    for m in listed:
        name = m["name"]
        if name in values and values[name] is not None:
            metrics[name] = {"value": values[name], "unit": m["unit"]}
        elif args.trace and not name.startswith(EXERCISES[args.workload]) \
                and not name.startswith(COMMON_LAYERS):
            # a layer this workload never calls: no time, no work
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            log(f"error: the {args.workload} run did not report {name}")
            return 2
    meta = dict(res["meta"], git_commit=git_commit(),
                wall_s=round(time.time() - t_start, 3))
    if args.trace:
        meta["per_layer_all"] = res["per_layer"]
    meta["op_s"] = [round(o["s"], 4) for o in meta.pop("ops")]
    print(json.dumps({"meta": meta}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
