#!/usr/bin/env python3
"""Benchmark of the Spark query engine in this repository.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline) under benchmark/.work/; later runs reuse the
build while the sources are unchanged. The input is the repository's sf0.1
test data, committed under benchmark/data/ (scale_sf1 generates its tier
from it). One run:

  1. starts the benchmark JVM and times its set-up: JVM start to a ready,
     warmed local[nproc] session;
  2. runs every query of the workload once and checks its output against the
     recorded row count and digest, then runs warm-up passes for
     WARM_SECONDS (none of this is timed);
  3. runs passes over the workload's queries, in an order drawn from --seed,
     until --seconds have passed; each sample is construct -> action ->
     graft.ops.Materialize.releaseAll, one query at a time.

The last stdout line is the result as JSON: end-to-end metrics with
--trace 0, per-layer metrics (from Spark listeners the benchmark registers)
with --trace 1. A failed check or query makes the run exit non-zero, naming
the query.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HEAP = "1536m"
# Untimed warm-up after the output check. Right after it a pass is up to half
# slower than a warmed one (the JIT is still compiling), which would make a
# run's median depend on how far its JVM had warmed. Passes keep speeding up
# for about 20 s; 10 s leaves at most the first timed pass on that slope, and
# keeps a run short enough for 48 runs to fit the evaluation's budget.
WARM_SECONDS = 10
# Spark on JDK 17 outside spark-submit needs the module openings
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END_UNITS = {"batch_s": "s", "query_p50_s": "s", "setup_s": "s",
                    "peak_rss_mb": "MB"}


class BenchError(Exception):
    pass


def log(msg):
    print("# " + msg, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def sources_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main",
                "benchmark/build.sbt", "benchmark/project", "benchmark/src/main"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(path)
            if not d.endswith("target") and "/target/" not in d + "/"
            for f in fs)
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        raise BenchError("no program sources at %s" % ROOT)
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    t0 = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=logf, text=True,
            stdin=subprocess.DEVNULL)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        raise BenchError("build failed, see %s/sbt.log" % out)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("build: %.1f s" % (time.time() - t0))
    return lines[-1].strip()


def java(cp, args, log_name, env=None):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # a fixed heap, committed at start, so the resident set follows the
        # program's use and not the collector's resizing decisions
        "-Xms" + HEAP, "-Xmx" + HEAP,
        "-Dspark.ui.enabled=false",
        "-Dspark.local.dir=" + tmp,
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
        "-Drepobench.cores=%d" % cores(),
        "-cp", cp] + args
    with open(os.path.join(WORK, log_name), "w") as logf:
        p = subprocess.run(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=logf,
                           text=True, stdin=subprocess.DEVNULL,
                           env=dict(os.environ, **(env or {})))
    return p.returncode, p.stdout


def host_cpu():
    """(steal, total) CPU time of the machine so far, in clock ticks."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def table_files(dir_, table):
    """The parquet files of one table: `<table>.parquet` is a file (the
    committed base tier) or a directory of parts (what Spark writes)."""
    path = os.path.join(dir_, table + ".parquet")
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path)
                      if f.endswith(".parquet"))
    return []


def table_rows(dir_):
    """Row count of every table of a tier, from the parquet footers."""
    import pyarrow.parquet as pq
    return {t: sum(pq.ParquetFile(f).metadata.num_rows for f in table_files(dir_, t))
            for t in benchlib.BASE_ROWS}


def data(cp, tier):
    """Directory of the tier's tables, their row counts checked. The base
    tier is the repository's sf0.1 test data, committed under
    benchmark/data/; sf1 is graft.GenScale of it, generated once and reused
    while its row counts are the expected ones."""
    want = benchlib.tier_rows(tier)
    if tier == "sf0.1":
        dir_ = os.path.join(HERE, "data", tier)
        got = table_rows(dir_)
        if got != want:
            raise BenchError("%s: rows %s, expected %s" % (dir_, got, want))
        return dir_
    dir_ = os.path.join(WORK, "data", tier)
    if table_rows(dir_) == want:
        return dir_
    t0 = time.time()
    rc, _ = java(cp, ["graft.GenScale", data(cp, "sf0.1"), dir_, str(benchlib.SCALE)],
                 "gen-%s.log" % tier, env={"SPARK_GRAFT_CPUS": str(cores())})
    got = table_rows(dir_)
    if rc != 0 or got != want:
        raise BenchError("generating %s failed (exit %d): rows %s, expected %s"
                         % (tier, rc, got, want))
    log("data: generated %s in %.1f s, row counts checked" % (tier, time.time() - t0))
    return dir_


def run_jvm(cp, dir_, wl, orders, warm_seconds, seconds, trace, name):
    """The benchmark JVM; returns its record."""
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    request = os.path.join(runs, "request.txt")
    result = os.path.join(runs, name)
    with open(request, "w") as f:
        f.write("data=%s\nout=%s\nresult=%s\nsink=%s\nwarm_seconds=%s\nseconds=%s\n"
                "trace=%d\n\n" % (dir_, os.path.join(WORK, "out"), result, wl["sink"],
                                   warm_seconds, seconds, trace))
        for order in orders:
            f.write(" ".join(order) + "\n")
    if os.path.exists(result):
        os.remove(result)
    rc, _ = java(cp, ["repobench.Main", "run", request], "run.log")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(WORK, "run.log")) as f:
            cause = [l.strip() for l in f if "Exception" in l][:1]
        raise BenchError("run failed (exit %d): %s; see %s/run.log"
                         % (rc, cause[0] if cause else "no exception logged", WORK))
    with open(result) as f:
        return json.load(f)


def run(workload, seed, seconds, trace):
    wl = benchlib.WORKLOADS[workload]
    cp = build()
    dir_ = data(cp, wl["tier"])
    with open(os.path.join(HERE, "expected", wl["tier"] + ".json")) as f:
        expected = json.load(f)["queries"]

    steal0 = host_cpu()
    # more pass orders than a run can use; it stops after --seconds
    record = run_jvm(cp, dir_, wl, benchlib.pass_orders(wl["queries"], seed, 1000),
                     WARM_SECONDS, seconds, trace, "%s-%d-%d.json" % (workload, seed, trace))
    steal1 = host_cpu()

    fails = benchlib.check_outputs(expected, record["check"])
    fails += ["%s: %s" % (q["name"], q["error"])
              for q in benchlib.samples(record) if "error" in q]
    n = len(benchlib.samples(record))
    attempted = len(record["check"]) + n
    log("%s: %d passes, %d query samples, output check and %d warm passes %.1f s, "
        "cores %s, heap %s" % (workload, len(record["passes"]), n, record["warm_passes"],
                               record["prep_s"], record["cores"], HEAP))
    if trace:
        metrics, tree = benchlib.per_layer(record, int(record["cores"]))
        with open(os.path.join(WORK, "runs", "spans-%s-%d.json" % (workload, seed)), "w") as f:
            json.dump(tree, f)
        units = benchlib.PER_LAYER_UNITS
    else:
        metrics = benchlib.end_to_end(record)
        if "query_p90_s" in metrics:
            log("query_p90_s %.4f s over %d samples" % (metrics.pop("query_p90_s"), n))
        else:
            log("query_p90_s not reported: %d samples leave fewer than 10 above p90" % n)
        units = END_TO_END_UNITS
    log("host: %.1f%% of CPU time stolen by the hypervisor during the run"
        % (100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])))
    log("fail_frac %d/%d" % (len(fails), attempted))
    for msg in fails:
        print("FAILED " + msg, file=sys.stderr)
    print(json.dumps({
        "correct": not fails, "attempted": attempted, "failed": len(fails),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 1 if fails else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(benchlib.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        return run(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        print("benchmark: " + str(e), file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
