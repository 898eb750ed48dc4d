#!/usr/bin/env python3
"""graft's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The command

1. builds graft's main sources together with the harness in
   perfbench/src (sbt, own build file; output under $CARGO_TARGET_DIR or
   .bench_build), skipping the build when no source changed;
2. generates the workload's inputs from the seed (gen.py), three times,
   and counts the median toward set-up time;
3. runs the workload in one JVM on local[nproc] (perfbench.Main);
4. checks every output (DuckDB oracles, or the commit-log model);
5. prints box context on one line, then, as the last line, one JSON
   object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
   the metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Workloads, seeds and metrics are described in METRICS.md. Artifacts (the
raw result of each run) stay under perfbench/out/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# scale factor of the generated events table; None = no generated inputs
WORKLOADS = {
    "eeg_medallion": 0.02,
    "commitlog_rw": None,
}
TIME_LIMIT_S = 170
JVM_HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def spark_jars():
    """The Spark jars graft compiles and runs against: $SPARK_HOME/jars, or
    else the directory the repository's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars found; set SPARK_HOME")


def build(bdir, jars):
    """Compile graft + harness unless the classes match the sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(bdir, "sbt", "scala-2.13", "classes")
    stamp = os.path.join(bdir, "perfbench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SBT_TARGET=os.path.join(bdir, "sbt"),
               PERFBENCH_SPARK_JARS=jars, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def generate(workload, seed, work):
    """Inputs for the run, made three times; returns (dir, median seconds)."""
    sf = WORKLOADS[workload]
    if sf is None:
        return os.path.join(work, "data"), 0.0
    times, out = [], None
    for i in range(3):
        out = os.path.join(work, f"data{i}")
        t = time.perf_counter()
        gen.main(out, sf, seed)
        times.append(time.perf_counter() - t)
        if i < 2:
            shutil.rmtree(out)
    return out, statistics.median(times)


def run_jvm(classes, jars, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("time limit reached", 4)
    if rc != 0:
        with open(log) as fh:
            tail = [l for l in fh.read().splitlines() if " INFO " not in l][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"JVM exited with {rc}", 5)


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="eeg_medallion only: registered queries over the events "
                    "table (comma-separated) to run instead of the workload's list")
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no graft sources next to perfbench/ (run from a graft checkout)")
    jars = spark_jars()
    bdir = build_dir()
    classes = build(bdir, jars)
    deadline = time.time() + TIME_LIMIT_S  # the run's limit, after any build
    out_root = os.path.join(HERE, "out")
    work = os.path.join(out_root, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, gen_s = generate(a.workload, a.seed, work)
        result_file = os.path.join(work, "result.json")
        jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--data", data, "--work", work, "--result", result_file]
        if a.queries:
            jargs += ["--queries", a.queries]
        run_jvm(classes, jars, jargs, work, deadline)
        with open(result_file) as fh:
            result = json.load(fh)
        check_failures = {}
        if "oracle" in result:
            import oracle
            # a query whose check pass threw is already counted as failed
            written = {c["name"] for c in result["checks"] if c["ok"]}
            check_failures = oracle.check(
                data, os.path.join(work, "out"),
                {k: v for k, v in result["oracle"].items() if k in written},
                result.get("relocated", {}))
        attempted, failed = metrics.accounting(result, check_failures)
        values = metrics.per_layer(result) if a.trace else metrics.end_to_end(result, gen_s)
        errors = [f"{o['name']}: {o['err']}" for o in result["ops"] + result["checks"] if not o["ok"]]
        errors += [f"{k}: {v}" for k, v in check_failures.items()]
        box = dict(result["box"], loadavg=loadavg(), gen_s=gen_s,
                   passes=len(result["passes"]), ops=len(result["ops"]),
                   op_tail_ms=metrics.tail(metrics.latencies(result)))
        os.makedirs(os.path.join(out_root, "runs"), exist_ok=True)
        with open(os.path.join(out_root, "runs", os.path.basename(work) + ".json"), "w") as fh:
            json.dump({"box": box, "errors": errors, "result": result}, fh)
        missing = [k for k, (v, _) in values.items() if v is None]
        if missing:
            fail(f"no samples for {missing}", 6)
        for e in errors[:20]:
            print(f"perfbench: failed {e}", file=sys.stderr)
        print(json.dumps({"box": box}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
