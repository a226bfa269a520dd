"""RAG lifecycle benchmark: one command for every workload.

    python3 lifecycle_bench/run.py --workload serve_batch --seed 1 --seconds 1 --trace 0
    python3 lifecycle_bench/run.py --smoke        # tiny corpus, every workload

Run from the repository root. It builds the library with the benchmark
program (lifecycle_bench/build.sbt, output in .bench_build/), generates the
seeded inputs into .bench_out/, runs the benchmark JVM on local[nproc], checks
its gates, prints a stamp line and a report, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.basename(HERE)
BUILD = ".bench_build"
OUT = ".bench_out"
MAIN = "graft.lifecycle.Lifecycle"
RUN_LIMIT_S = 170

# Generator sizes. The pipeline settings and request counts are constants
# of the program (Lifecycle.scala); --smoke picks its small request counts.
# Each append file is one interactive_fresh append.
GEN = {"docs": 16, "slice": 4, "queries": 600, "append-docs": 6}
SMOKE_GEN = {"docs": 12, "slice": 3, "queries": 30, "append-docs": 3}
APPENDS = {"serve_batch": 0, "interactive_fresh": 1}
WORKLOADS = sorted(APPENDS)

# End-to-end metrics: name, unit, and its key in the JVM's result (None: composed here).
END_TO_END = [
    ("setup_s", "s", None),
    ("ingest_chunks_per_s", "chunks/s", "ingest_chunks_per_s"),
    ("qps", "queries/s", "qps"),
    ("request_p50_ms", "ms", "request_p50_ms"),
    ("request_p90_ms", "ms", "request_p90_ms"),
    ("append_p50_ms", "ms", "append_p50_ms"),
    ("append_to_visible_ms", "ms", "append_to_visible_ms"),
    ("recall_at_5_ivf", "fraction", "recall_at_5_ivf"),
    ("recall_at_5_hnsw", "fraction", "recall_at_5_hnsw"),
    ("retained_heap_mb", "MB", "retained_heap_mb"),
]

# The per-workload names of the request metrics.
ALIASES = {
    "serve_batch": {"qps": "batch_qps", "request_p50_ms": "batch_p50_ms",
                    "request_p90_ms": "batch_p90_ms"},
    "interactive_fresh": {"request_p50_ms": "query_p50_ms",
                          "request_p90_ms": "query_p90_ms"},
}

PER_LAYER_UNITS = {
    "text.chunk_ms": "ms", "text.chunks": "count",
    "vector.embed_ms": "ms", "vector.embed_calls": "count",
    "ingest.run_ms": "ms", "ingest.rerun_embed_ratio": "ratio",
    "vector.ivf_build_ms": "ms", "vector.ivf_append_ms": "ms",
    "vector.ivf_serve_ms": "ms", "vector.hnsw_build_ms": "ms",
    "vector.hnsw_append_ms": "ms", "vector.hnsw_serve_ms": "ms",
    "vector.hnsw_first_serve_ms": "ms", "vector.hnsw_pin_builds": "count",
    "vector.exact_serve_ms": "ms", "ops.rerank_ms": "ms",
    "ops.context_ms": "ms", "ops.threshold_pass_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.shuffle_bytes": "bytes",
    "spark.outside_jobs_ms": "ms", "jvm.gc_ms": "ms",
    "jvm.retained_heap_mb": "MB", "trace.self_time_coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("lifecycle_bench: " + msg, file=sys.stderr)
    sys.exit(code)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_digest():
    h = hashlib.sha256()
    for top in ("src/main/scala", os.path.join(BENCH_DIR, "src")):
        for dirpath, dirnames, filenames in sorted(os.walk(top)):
            dirnames.sort()
            for name in sorted(filenames):
                p = os.path.join(dirpath, name)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    with open(os.path.join(BENCH_DIR, "build.sbt"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, log_path, timeout, cwd=None):
    """Runs cmd in its own process group, output to log_path; on timeout
    the whole group is killed. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compiles library + benchmark program once per source digest."""
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    stamp = os.path.join(BUILD, "stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       log, 850, cwd=BENCH_DIR)
    if code != 0:
        sys.stderr.write(tail(log))
        die("build failed (log: %s)" % log, 1)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def host_stamp(seed, result):
    def git_commit():
        env = dict(os.environ,
                   GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], env=env,
                                 capture_output=True, text=True, timeout=10)
            return out.stdout.strip() if out.returncode == 0 else None
        except (OSError, subprocess.SubprocessError):
            return None
    fp = "|".join([platform.node(), platform.machine(), platform.processor(),
                   str(cpus()), str(os.sysconf("SC_PHYS_PAGES")
                                    * os.sysconf("SC_PAGE_SIZE"))])
    return {"cpus": cpus(),
            "spark_cpus": result.get("cpus"),
            "host": hashlib.sha256(fp.encode()).hexdigest()[:16],
            "java": result.get("java_version"),
            "spark": result.get("spark_version"),
            "python": platform.python_version(),
            "seed": seed,
            "git_commit": git_commit(),
            "source_sha256": source_digest()[:16]}


def run_workload(name, seed, seconds, trace, classes, spark_jars, deadline,
                 smoke=False):
    """Generates inputs, runs the benchmark JVM until `deadline` at the latest;
    returns (result, gen_s)."""
    sizes = dict(SMOKE_GEN if smoke else GEN, appends=APPENDS[name])
    tag = "%s-%d%s%s" % (name, seed, "-t" if trace else "", "-smoke" if smoke else "")
    run_dir = os.path.join(OUT, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(work)
    gen_args = []
    for k, v in sorted(sizes.items()):
        gen_args += ["--" + k, str(v)]
    t0 = time.time()
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--seed",
                    str(seed), "--out", inp] + gen_args, check=True)
    gen_s = time.time() - t0
    out = os.path.join(run_dir, "result.json")
    args = {"workload": name, "input": inp, "work": work, "out": out,
            "seconds": seconds, "trace": int(trace), "smoke": int(smoke),
            "cpus": cpus(),
            "trace-dir": os.path.join(OUT, "trace"),
            "launch-ms": int(time.time() * 1000)}
    # temporary files stay in the run's work directory
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + work, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(spark_jars, "*"), MAIN])
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    log = os.path.join(run_dir, "jvm.log")
    code = run_bounded(cmd, log, deadline - time.time())
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(tail(log))
        die("%s: JVM %s" % (name, "timed out" if code is None
                               else "exited with %s" % code), 1)
    with open(out) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return result, gen_s


def finite(x):
    return isinstance(x, (int, float)) and math.isfinite(x)


def report(name, seed, trace, result, gen_s):
    e2e = result["end_to_end"]
    setup_s = gen_s + e2e["session_s"] + e2e["setup_build_s"]
    metrics = {}
    if trace:
        for k, unit in PER_LAYER_UNITS.items():
            metrics[k] = {"value": result["per_layer"].get(k), "unit": unit}
    else:
        for k, unit, key in END_TO_END:
            metrics[k] = {"value": setup_s if key is None else e2e.get(key),
                          "unit": unit}
    attempted = max(1, int(result["attempted"]))
    failed = int(result["failed"])
    complete = all(finite(m["value"]) for m in metrics.values())
    correct = failed == 0 and complete
    stamp = host_stamp(seed, result)
    stamp.update({"workload": name, "trace": int(trace),
                  "ops": result["ops"], "op_counts": result["op_counts"]})
    print("stamp " + json.dumps(stamp, sort_keys=True))
    if not trace:
        for k, unit, _ in END_TO_END:
            v = metrics[k]["value"]
            print("  %-22s %14.4f %s" % (ALIASES[name].get(k, k),
                                         v if finite(v) else float("nan"), unit))
        print("  %-22s %14.4f %s" % ("error_rate", failed / attempted, "fraction"))
    else:
        for k, m in metrics.items():
            print("  %-28s %16.4f %s" % (k, m["value"] if finite(m["value"])
                                         else float("nan"), m["unit"]))
        print("  tracing overhead vs untraced ops: %+.1f%%; layer self-time "
              "coverage of op wall: %.1f%%; spans: %s"
              % (100 * result["per_layer"]["trace.overhead_ratio"],
                 100 * result["per_layer"]["trace.self_time_coverage"],
                 os.path.join(OUT, "trace", "spans-%s.jsonl" % name)))
    for msg in result.get("failures", [])[:10]:
        print("  FAILED: " + msg)
    if not complete:
        print("  FAILED: a metric has no value")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description="graft RAG lifecycle benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus, every workload, traced and untraced")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        die("run from the repository root: src/main/scala/graft not found")
    spark_home = os.environ.get("SPARK_HOME")
    spark_jars = os.path.join(spark_home or "", "jars")
    if not spark_home or not os.path.isdir(spark_jars):
        die("SPARK_HOME must point at a Spark distribution with jars/")
    if shutil.which("java") is None:
        die("java is not on PATH")
    classes = build()
    if not a.smoke:
        result, gen_s = run_workload(a.workload, a.seed, a.seconds,
                                     bool(a.trace), classes, spark_jars,
                                     time.time() + RUN_LIMIT_S)
        print(json.dumps(report(a.workload, a.seed, bool(a.trace), result, gen_s)))
        return
    ok = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                         "--check", "--out", OUT]).returncode == 0
    for name in WORKLOADS:
        for trace in (False, True):
            result, gen_s = run_workload(name, a.seed, 1, trace, classes,
                                         spark_jars, time.time() + RUN_LIMIT_S,
                                         smoke=True)
            r = report(name, a.seed, trace, result, gen_s)
            print("smoke %s trace=%d: %s" % (name, trace,
                                             "ok" if r["correct"] else "FAILED"))
            ok = ok and r["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
