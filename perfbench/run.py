#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload n2k_import --seed 1 --seconds 20 --trace 0

Builds the program from source on first use (perfbench/build.sbt compiles
../src/main with the harness in perfbench/src), then runs the workload in a
fresh JVM on Spark local[N], N = the CPUs this process may use. With
--trace 0 the result carries the end-to-end metrics, with --trace 1 the
per-layer metrics of a separate traced run. The full record (environment,
per-op latencies, span table) goes to --record, or under
.bench_build/perfbench-records/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0_MS = time.time() * 1000.0
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
DATA = os.path.join(HERE, "data", "sf0.1")
DIGESTS = os.path.join(HERE, "digests")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
STAMP = os.path.join(BUILD, "perfbench-stamp.txt")
WORKLOADS = ["n2k_import", "curate_ingest", "query_mix"]
CPUS = len(os.sched_getaffinity(0))  # Spark runs on local[CPUS]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

E2E = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"), ("op_tail_s", "s")]

# Every per-layer metric, reported by each traced run; a layer a workload
# never enters reports 0.
# `plans` (GraftExtensions, TopK) is left out: planner rules start no jobs,
# so their cost shows in spark.plan_s, never in executor time.
MODULES = ["api", "operators", "sources", "dedup", "functions", "queries",
           "similarity", "streaming", "multimodal", "core"]
FAMILIES = ["tpch", "q", "e", "t", "s", "m", "st"]  # QueryMix.Families
PER_LAYER = (
    [("spark.plan_s", "s"), ("driver.no_job_s", "s"), ("spark.jobs", "count"),
     ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.job_wall_s", "s"), ("spark.core_busy_ratio", "ratio"),
     ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s")]
    + [("spark.executor_run_s." + m, "s") for m in MODULES]
    + [("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.peak_exec_mem_bytes", "bytes"),
       ("spark.gc_s", "s"), ("spark.task_failures", "count"),
       ("trace.uncovered_s", "s"),
       ("queries.build_s", "s"), ("queries.build_jobs", "count"),
       ("queries.jobs_per_gate", "count"), ("queries.exec_s", "s")]
    + [("queries.%s.s" % f, "s") for f in FAMILIES]
    + [("api.curation.build_s", "s"), ("api.curation.exec_s", "s"),
       ("api.n2k.window_s", "s"), ("operators.prepare_s", "s"),
       ("operators.commit_s", "s"),
       ("sources.jdbc.store_s", "s"), ("sources.jdbc.stage_spark_s", "s"),
       ("sources.jdbc.merge_commit_s", "s"), ("sources.jdbc.rows_written", "rows"),
       ("sources.jdbc.write_amp", "ratio"), ("sources.jdbc.db_rows", "rows"),
       ("n2k.insert_rows", "rows"), ("n2k.update_rows", "rows"),
       ("n2k.keep_rows", "rows"), ("n2k.despawn_rows", "rows"),
       ("dedup.probe_s", "s"), ("dedup.append_s", "s"), ("dedup.candidates", "count"),
       ("dedup.probe_precision", "ratio"), ("dedup.survivor_ratio", "ratio"),
       ("dedup.compact_s", "s"), ("dedup.store_files", "count"),
       ("dedup.store_bytes_per_doc", "bytes"), ("jvm.peak_rss_mb", "MB")])

# The JVM flags of the program's own `run` (build.sbt): module opens for
# Spark on JDK 17, the UI off, UTC, the heap from SPARK_DRIVER_MEM and the
# collector from SPARK_GRAFT_JVM_OPTS (throughput collector by default).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log("error: " + msg)
    sys.exit(2)


def jvm_flags():
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    flags += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g")]
    gc = os.environ.get("SPARK_GRAFT_JVM_OPTS")
    flags += gc.split() if gc else ["-XX:+UseParallelGC"]
    return flags


def source_files():
    files = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compile once per source tree; returns the runtime classpath."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as f2:
                    return f2.read().strip()
    log("building the program and the harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except Exception:
        return None


def cpu_steal_s():
    """Seconds of CPU time the host gave to other guests (all CPUs)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--record", help="write the full run record here")
    ap.add_argument("--record-digests", action="store_true",
                    help="write the output digests of this run to perfbench/digests")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail("the program's sources (src/main) are not next to perfbench/")
    if not all(os.path.exists(os.path.join(DATA, t + ".parquet")) for t in
               ["lineitem", "orders", "part", "supplier", "nation", "region", "documents"]):
        fail("benchmark data missing under perfbench/data/sf0.1")
    if not shutil.which("java") or not shutil.which("sbt"):
        fail("java and sbt must be on PATH")

    digest = source_digest()
    build_s = time.time()
    cp = build(digest)
    build_s = time.time() - build_s
    work = os.path.join(BUILD, "perfbench-work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "record.json")
    cmd = (["java"] + jvm_flags() +
           ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--cpus", str(CPUS),
            "--work", work, "--out", out, "--digests", DIGESTS]
           + (["--record-digests"] if a.record_digests else []))
    steal0 = cpu_steal_s()
    t0_ms = time.time() * 1000.0
    proc = subprocess.Popen(cmd + ["--t0-ms", repr(t0_ms)], cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        # the run's own limit, not counting a first-use build
        rc = proc.wait(timeout=RUN_LIMIT_S - (t0_ms - T0_MS) / 1000 + build_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = None
    steal = cpu_steal_s() - steal0
    rec = None
    if rc == 0 and os.path.exists(out):
        with open(out) as f:
            rec = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if rec is None:
        fail("the run did not finish (exit %s)" % rc)

    rec["env"] = {
        "cpus": CPUS, "sf": "0.1", "seed": a.seed, "git_commit": git_commit(),
        "source_digest": digest, "spark": rec.pop("spark_version"), "jvm": rec.pop("jvm"),
        "jvm_flags": rec.pop("jvm_flags").replace(ROOT + os.sep, ""),
        "derby": "embedded, in memory (jdbc:derby:memory:); commits are not fsynced",
        "cpu_steal_s": steal,
        "run_wall_s": (time.time() * 1000.0 - t0_ms) / 1000.0,
    }
    if a.trace:
        layers = dict(rec["layers"], **{"jvm.peak_rss_mb": rec["e2e"]["peak_rss_mb"]})
        metrics = {k: layers.get(k, {"value": 0.0, "unit": u}) for k, u in PER_LAYER}
    else:
        metrics = {k: rec["e2e"][k] for k, _ in E2E}
    bad = [k for k, m in metrics.items() if m["value"] is None]
    for k in bad:
        log("metric %s has no value" % k)
    correct = bool(rec["correct"]) and rec["failed"] == 0 and not bad
    for p in rec["problems"]:
        log("check: " + p)
    path = a.record or os.path.join(
        BUILD, "perfbench-records",
        "%s-s%d-t%d-%d.json" % (a.workload, a.seed, a.trace, int(T0_MS)))
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    e2e = rec["e2e"]
    log("%s seed %d: %s  (%d ops, tail = p%.1f, fail_ratio %.3f, cpu steal %.1f s)" % (
        a.workload, a.seed,
        "  ".join("%s=%.4g %s" % (k, e2e[k]["value"] or float("nan"), e2e[k]["unit"]) for k in e2e),
        rec["samples"], rec["op_tail_pct"] or 0, rec["fail_ratio"] or 0, steal))
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
