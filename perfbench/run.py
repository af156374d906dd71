#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the harness from the checkout's sources (once; the jar
and its class-data archive are reused while the sources are unchanged),
generates the workload's inputs from the seed, runs the harness for S
measured seconds (a cold workload: fresh JVMs, one timed pass each; the
warm stream: one JVM, untimed warm-up passes, then timed ones), checks
every output, and prints one JSON object as the last line of standard
output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones from the traced passes of a run (see README.md).
A human-readable report goes to standard error.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
CDS = os.path.join(BUILD_DIR, "classes.jsa")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170
CORES = min(4, os.cpu_count() or 1)
# Workloads timed cold: a run times the first pass of a fresh session,
# as a job submitted on its own pays it. The stream is long-running, so
# its triggers are timed warm, after its first (untimed) pass.
COLD = {"sql_short", "iter_jobs", "curate_chain"}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "pass_wall_s": "s"}
QUERIES = ["q01_scan", "q02_filter", "q03_derive", "q04_join_inner",
           "q05_join_left", "q06_join_anti", "q07_agg", "q08_distinct",
           "q09_rollup", "q10_topk", "q11_window_topk", "q12_window_run",
           "q13_window_lag", "q14_intersect", "q15_string", "q16_date",
           "q17_math", "q18_array", "q19_json", "q20_join5_agg",
           "q21_salted_join"]
PER_LAYER = dict([
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.core_busy", "ratio"), ("spark.sched_wait_s", "s"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.result_mb", "MB"),
    ("spark.tasks_failed", "count"), ("jvm.peak_heap_mb", "MB"),
    ("driver.self_s", "s"),
] + [(f"operators.{q}_s", "s") for q in QUERIES] + [
    ("sources.edges_s", "s"), ("sources.export_s", "s"),
    ("sources.export_rows", "count"), ("sources.export_mb", "MB"),
    ("graph.pagerank_s", "s"), ("graph.pagerank_jobs", "count"),
    ("ml.kmeans_s", "s"),
    ("llm.curate_s", "s"), ("llm.bloom_decontam_s", "s"),
    ("llm.semdedup_s", "s"), ("llm.curate_kept", "count"),
    ("llm.bloom_kept", "count"), ("llm.semdedup_kept", "count"),
    ("streaming.near_dups.add_batch_s", "s"),
    ("streaming.near_dups.query_planning_s", "s"),
    ("streaming.near_dups_rps", "1/s"),
    ("streaming.sessionize.add_batch_s", "s"),
    ("streaming.sessionize.query_planning_s", "s"),
    ("streaming.sessionize_rps", "1/s"),
    ("streaming.sessionize.state_rows", "count"),
    ("streaming.sessionize.state_mb", "MB"),
    ("trace.overhead_pct", "%"),
])


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True) +
                   [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness into one jar unless an up-to-date one
    is there, then record a class-data archive from one ordinary run of
    `sql_short` over seed-0 inputs: later runs map the Spark and graft
    classes that run loaded instead of loading them from ~290 jars. sbt
    runs offline: every dependency must already be cached."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"graft sources not found at {PROGRAM_SRC}")
    digest = sources_digest()
    stamp = os.path.join(BUILD_DIR, "sources.sha256")
    if all(map(os.path.exists, (JAR, CDS, stamp))):
        with open(stamp) as f:
            if f.read() == digest:
                return
    log("[perfbench] building graft and the harness (sbt package)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "package"], cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0 or not os.path.exists(JAR):
        sys.exit("build failed")
    log("[perfbench] recording the class-data archive")
    train = os.path.join(BUILD_DIR, "train")
    shutil.rmtree(train, ignore_errors=True)
    gen.generate("sql_short", 0, os.path.join(train, "input"))
    if os.path.exists(CDS):
        os.remove(CDS)
    os.makedirs(os.path.join(train, "out"))
    run_jvm("sql_short", 0, 1, 0, os.path.join(train, "input"),
            os.path.join(train, "out"), time.time() + 300,
            [f"-XX:ArchiveClassesAtExit={CDS}"])
    shutil.rmtree(train, ignore_errors=True)
    if not os.path.exists(CDS):
        sys.exit("class-data archive run failed")
    with open(stamp, "w") as f:
        f.write(digest)


def spark_home():
    """SPARK_HOME, or the distribution whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("no Spark distribution found: set SPARK_HOME")
    return home


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(workload, seed, seconds, trace, data, out, deadline,
            jvm_flags=None):
    """Run the harness JVM to completion (killed at `deadline`) with
    graft's own JVM settings (its driver heap, SPARK_DRIVER_MEM or 8g, and
    the JVM's default JIT and collector), mapping the class-data archive
    unless other `jvm_flags` are given. Returns the result and spans."""
    logf = os.path.join(out, "jvm.log")
    tmp = os.path.join(out, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS}"]
    cmd = (["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] +
           jvm_flags +
           [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{JAR}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}",
            "graftbench.Main",
            "--workload", workload, "--data", data, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cold", str(int(workload in COLD)), "--cores", str(CORES),
            "--run", f"{workload}-{seed}"])
    with open(logf, "w") as lf:
        try:
            code = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=lf,
                                  stderr=subprocess.STDOUT,
                                  timeout=max(10.0, deadline - time.time())
                                  ).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        with open(logf) as lf:
            log("".join(lf.readlines()[-40:]))
        sys.exit(f"harness JVM failed ({code}); log in {logf}")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    return result, spans


def incorrect_ops(workload, result, out, data, seed, input_digest):
    if workload in ("sql_short", "iter_jobs"):
        return check.oracle_mismatches(out, data)
    if workload == "curate_chain":
        return check.chain_mismatches(
            result["checks"]["chains"],
            os.path.join(WORK, "kept", f"{seed}-{input_digest}"))
    return check.stream_mismatches(result["checks"])


def report(workload, result, bad, attempted, failed, shown):
    ops = {}
    for p in result["passes"]:
        if not p["traced"]:
            for op in p["ops"]:
                ops.setdefault(op["name"], []).append(op["sec"])
    all_s = [s for v in ops.values() for s in v]
    tail = metrics.tail_percentile(all_s)
    log(f"[perfbench] {workload}: {len(result['passes'])} passes, "
        f"{len(all_s)} untraced operations; pass walls (s): " +
        " ".join(f"{p['wall_s']:.3f}" for p in result["passes"]))
    if tail:
        log(f"[perfbench]   op latency p{tail[0]} = {tail[1]:.4f} s "
            f"(n={len(all_s)})")
    for name, secs in sorted(ops.items()):
        log(f"[perfbench]   {name:24s} n={len(secs):4d} "
            f"median={statistics.median(secs):.4f} s")
    for name, why in sorted(bad.items()):
        log(f"[perfbench]   INCORRECT {name}: {why}")
    for k, (v, unit) in shown.items():
        log(f"[perfbench]   {k} = {v:.6g} {unit}")
    log(f"[perfbench]   output check: {'pass' if failed == 0 else 'FAIL'} "
        f"({failed} of {attempted} operations failed, error_rate="
        f"{failed / attempted:.4f})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    deadline = time.time() + DEADLINE_S  # a first run may build for longer
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t = time.perf_counter()
    data = os.path.join(run_dir, "input")
    names = gen.generate(args.workload, args.seed, data)
    gen_s = time.perf_counter() - t
    h = hashlib.sha256()
    for n in names:
        with open(os.path.join(data, f"{n}.parquet"), "rb") as f:
            h.update(f.read())
    input_digest = h.hexdigest()

    # A warm workload is one JVM. A cold one is resubmitted (a fresh JVM,
    # one pass each) until the measured time is up; a traced cold run
    # alternates untraced and traced submissions, so the tracing overhead
    # compares submissions of the same run.
    cold = args.workload in COLD
    results, spans, bad, jvm_s = [], [], {}, 0.0
    t_measure = time.time()
    while (not results or (cold and (time.time() < t_measure + args.seconds
                                     or (args.trace and len(results) < 2)))):
        trace = int(args.trace and (not cold or len(results) % 2 == 1))
        out = os.path.join(run_dir, f"out{len(results)}")
        os.makedirs(out)
        t = time.time()
        result, sp = run_jvm(args.workload, args.seed, args.seconds, trace,
                             data, out, deadline)
        jvm_s += time.time() - t
        for s in sp:  # span ids are per JVM; key them by submission too
            s["id"] = (len(results), s["id"])
            s["parent"] = (len(results), s["parent"]) if s["parent"] else 0
        results.append(result)
        spans += sp
        bad.update(incorrect_ops(args.workload, result, out, data, args.seed,
                                 input_digest))
    result = dict(results[0], passes=[p for r in results for p in r["passes"]])
    extra = sum(len(r["warmup_errors"]) + sum(len(p["probe_errors"])
                                              for p in r["passes"])
                for r in results)
    attempted, failed = metrics.count_failures(result["passes"], bad, extra)

    if args.trace:
        values = metrics.per_layer(result, spans, PER_LAYER)
        shown = {k: (values[k], PER_LAYER[k]) for k in PER_LAYER}
    else:
        values = metrics.end_to_end(result, gen_s)
        shown = {k: (values[k], END_TO_END[k]) for k in END_TO_END}
    report(args.workload, result, bad, attempted, failed, shown)
    log(f"[perfbench]   run took {time.time() - T_START:.1f} s: "
        f"{gen_s:.1f} s generating inputs, {jvm_s:.1f} s in "
        f"{len(results)} harness JVM(s), of which "
        f"{sum(r['session_s'] for r in results):.1f} s session start, "
        f"{sum(r['warmup_s'] for r in results):.1f} s warm-up and "
        f"{sum(r['finish_s'] for r in results):.1f} s untimed check work")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        # a value a failed call could not produce reads 0; the failure
        # itself is already counted in `failed`
        "metrics": {k: {"value": v if v == v and abs(v) != float("inf")
                        else 0.0, "unit": u} for k, (v, u) in shown.items()},
    }))


if __name__ == "__main__":
    main()
