#!/usr/bin/env python3
"""Paired A/B of two checkouts on one perfbench workload or on graft.Bench rows.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload W --seeds 31 32 ...
    python3 tools/ab.py PARENT_DIR CHANGE_DIR --bench-rows R1,R2 --pairs 4 \
        --sf-dir DATA_DIR

For each seed it runs `perfbench/run.py` once in each checkout, back to
back, switching which side runs first from one pair to the next so that a
drift of the host's speed does not favour either side. Each checkout
builds and runs its own benchmark; nothing under `perfbench/` is edited.

It prints, per end-to-end metric, each side's median and quartiles, the
change of the median, how many pairs the change won (lower is better),
and one verdict (see `verdict`) against the metric's bound in the change
checkout's `BENCHMARK.json`. For `curate_chain` it also checks that each
seed's kept-set
digest, which each checkout stores under `perfbench/.work/kept/`, is the
same in both checkouts: the benchmark's own check only compares runs
within one checkout.

Neither side's change touches set-up, so a pair whose two `setup_s`
values differ by more than that metric's bound (see `drifted`) ran on a
host whose speed moved between its runs: it is flagged on its line and
the summary counts the flagged pairs.

With `--bench-rows` each pair runs `graft.Bench` once in each checkout
with `SPARK_GRAFT_ONLY` set to the rows, over `--sf-dir`, from the jar
each checkout's benchmark builds. A row's value is the Bench's drop-max
mean of its samples: its suite pass and two reruns, which a
`SPARK_GRAFT_ONLY` run takes for every row it names (a Bench older than
that reruns only headline rows, so any other row has its one suite
pass). The pair's host-drift
flag compares the two runs' `cpu_spin` canaries, taken before the rows.
Each row gets the same verdict, against the `pass_wall_s` bound. The row
name `streaming` stands for the Bench's three stream rows (`STREAM_ROWS`),
read from its result line and judged as microseconds per row (1e6 /
rows/s), so lower is better there too.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import tempfile

METRICS = ("pass_wall_s", "op_p50_s", "setup_s")
# graft.Bench's throughput rows, all timed when SPARK_GRAFT_ONLY names
# `streaming`
STREAM_ROWS = ("near_dups_rps", "embed_dedup_rps", "sessionize_rps")


def run(checkout, workload, seed, seconds):
    """One benchmark run; returns its result line as a dict."""
    p = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed in {checkout} (seed {seed}, exit "
                 f"{p.returncode})")
    return json.loads(lines[-1])


def bench_jar(checkout):
    """Builds the checkout's benchmark jar (it holds graft.Bench) unless an
    up-to-date one is there; returns the java command that runs a main
    class from it."""
    p = subprocess.run(
        [sys.executable, "-c",
         "import json, sys; sys.path.insert(0, 'perfbench'); import run; "
         "run.build(); print(json.dumps([run.JAR, run.spark_home(), "
         "run.JAVA_OPENS]))"],
        cwd=checkout, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        sys.exit(f"benchmark build failed in {checkout}")
    jar, spark, opens = json.loads(p.stdout.splitlines()[-1])
    return (["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
             "-Dspark.ui.enabled=false"] +
            [a for o in opens for a in ("--add-opens", f"{o}=ALL-UNNAMED")] +
            ["-cp", f"{jar}{os.pathsep}{os.path.join(spark, 'jars', '*')}"])


def drop_max_mean(samples):
    """The mean of `samples` without their largest, or the one sample."""
    kept = sorted(samples)[:-1] or samples
    return sum(kept) / len(kept)


def bench_rows(names):
    """The rows a `--bench-rows` list names, `streaming` standing for
    `STREAM_ROWS`."""
    return [r for n in names for r in (STREAM_ROWS if n == "streaming"
                                       else (n,))]


def parse_bench(stdout, detail, rows):
    """The rows' values and the start canary of one graft.Bench run, from
    its standard output (the last JSON line is the run's record) and its
    detail file: a query row's samples are its suite pass plus any
    reruns; a stream row's value is microseconds per row, from the
    record's rows/s. Fails naming a row that errored or that the run
    lacks."""
    line = next((json.loads(l) for l in reversed(stdout.splitlines())
                 if l.startswith("{") and '"metric":"total"' in l), None)
    if line is None:
        raise ValueError("no graft.Bench result line")
    stream = line.get("streaming", {})
    bad = [r for r in rows
           if r in line["errors"] or
           (r in STREAM_ROWS and stream.get(r, {}).get("rps", 0) <= 0) or
           (r not in STREAM_ROWS and r not in detail["single_pass"])]
    if bad:
        raise ValueError(f"rows failed or missing: {', '.join(bad)}")
    return ({r: 1e6 / stream[r]["rps"] if r in STREAM_ROWS else
             drop_max_mean([detail["single_pass"][r]] +
                           detail["reruns"].get(r, [])) for r in rows},
            line["canary"]["cpu_spin_start"])


def run_bench(java, names, sf_dir):
    """One graft.Bench run of the rows `names` lists; returns (values by
    row, canary)."""
    with tempfile.TemporaryDirectory() as tmp:
        detail_path = os.path.join(tmp, "detail.json")
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names),
                   SPARK_GRAFT_SF_DIR=sf_dir,
                   SPARK_GRAFT_DETAIL_OUT=detail_path,
                   SPARK_GRAFT_MANIFEST_OUT=os.path.join(tmp, "manifest.json"))
        p = subprocess.run(java + [f"-Djava.io.tmpdir={tmp}", "graft.Bench"],
                           cwd=tmp, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        try:
            with open(detail_path) as f:
                return parse_bench(p.stdout, json.load(f), bench_rows(names))
        except (OSError, ValueError) as e:
            sys.exit(f"graft.Bench run failed (exit {p.returncode}): {e}")


def summary(name, p, c, bound):
    """One line: both sides' medians and quartiles, the win count and the
    verdict of a lower-is-better metric over paired runs."""
    wins = sum(b < a for a, b in zip(p, c))
    (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
    return (f"  {name:16s} parent {pm:8.3f} [{p1:.3f}, {p3:.3f}]  "
            f"change {cm:8.3f} [{c1:.3f}, {c3:.3f}]  "
            f"median {100 * (cm / pm - 1):+6.1f}%  "
            f"drop {pm - cm:.3f} vs parent IQR {p3 - p1:.3f}  "
            f"change won {wins}/{len(p)}  {verdict(p, c, bound)}")


def bench_rows_ab(sides, names, pairs, sf_dir, bound):
    """The `--bench-rows` mode: `pairs` alternating graft.Bench pairs."""
    java = {s: bench_jar(d) for s, d in sides.items()}
    rows = bench_rows(names)
    values = {s: {r: [] for r in rows} for s in sides}
    flagged = 0
    for i in range(pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        canary = {}
        for side in order:
            vals, canary[side] = run_bench(java[side], names, sf_dir)
            for r in rows:
                values[side][r].append(vals[r])
        drift = drifted(canary["parent"], canary["change"], bound["setup_s"])
        flagged += drift
        print(f"pair {i + 1} ({order[0]} first): " + "  ".join(
            f"{r} {values['parent'][r][-1]:.3f} -> {values['change'][r][-1]:.3f}"
            for r in rows) + f"  canary {canary['parent']:.3f} -> "
            f"{canary['change']:.3f}" + ("  HOST DRIFT (canary)" if drift else ""),
            flush=True)
    print(f"\ngraft.Bench rows over {sf_dir}, {pairs} pairs, {flagged} flagged "
          f"for host drift (cpu_spin canaries apart by more than "
          f"{bound['setup_s']})")
    for r in rows:
        print(summary(r, values["parent"][r], values["change"][r],
                      bound["pass_wall_s"]))


def kept_digests(checkout, seed):
    """The stored kept-set digests of `seed`, keyed by input digest."""
    out = {}
    pattern = os.path.join(checkout, "perfbench", ".work", "kept", f"{seed}-*")
    for path in glob.glob(pattern):
        with open(path) as f:
            out[os.path.basename(path)] = f.read().strip()
    return out


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, bound):
    """One verdict for a lower-is-better metric over paired runs.

    `parent[i]` and `change[i]` are pair i; `bound` is the share of the
    parent's median by which the metric may worsen.

    - gain: the change won at least 9/10 of the pairs (ties count for
      neither) and its median drop exceeds the parent's quartile spread;
    - worse: the change's median is above the parent's by more than the
      bound;
    - unresolved: the parent's quartile spread, as a share of its median,
      is wider than the bound, and not every change run beats every
      parent run;
    - flat: otherwise.
    """
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    wins = sum(c < p for p, c in zip(parent, change))
    if 10 * wins >= 9 * len(parent) and pm - cm > p3 - p1:
        return "gain"
    if cm > pm * (1 + bound):
        return "worse"
    if p3 - p1 > bound * pm and not max(change) < min(parent):
        return "unresolved"
    return "flat"


def drifted(parent_setup, change_setup, bound):
    """Whether one pair's two `setup_s` values differ by more than
    `bound`, as a share of the parent run's value."""
    return abs(change_setup - parent_setup) > bound * parent_setup


def bounds(checkout):
    """The end-to-end bounds `BENCHMARK.json` declares, by metric name."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=int, nargs="+")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--bench-rows", help="comma-separated graft.Bench rows")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--sf-dir", help="graft.Bench input directory")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    bound = bounds(sides["change"])
    if args.bench_rows:
        if args.pairs < 2 or not args.sf_dir:
            ap.error("--bench-rows needs --sf-dir and at least two --pairs")
        rows = [r.strip() for r in args.bench_rows.split(",") if r.strip()]
        bench_rows_ab(sides, rows, args.pairs, os.path.abspath(args.sf_dir),
                      bound)
        return
    if not args.workload or not args.seeds or len(args.seeds) < 2:
        ap.error("need --workload and at least two --seeds for quartiles")

    values = {s: {m: [] for m in METRICS} for s in sides}
    problems = []
    flagged = 0
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        row = {}
        for side in order:
            r = run(sides[side], args.workload, seed, args.seconds)
            row[side] = r
            if not r["correct"]:
                problems.append(f"seed {seed}: {side} reported correct=false")
            for m in METRICS:
                values[side][m].append(r["metrics"][m]["value"])
        if args.workload == "curate_chain":
            kp, kc = (kept_digests(sides[s], seed) for s in ("parent", "change"))
            if not kp or kp != kc:
                problems.append(f"seed {seed}: kept-set digests differ "
                                f"(parent {kp}, change {kc})")
        drift = drifted(values["parent"]["setup_s"][-1],
                        values["change"]["setup_s"][-1], bound["setup_s"])
        flagged += drift
        print(f"seed {seed} ({order[0]} first): " + "  ".join(
            f"{m} {row['parent']['metrics'][m]['value']:.3f} -> "
            f"{row['change']['metrics'][m]['value']:.3f}" for m in METRICS)
            + ("  HOST DRIFT (setup_s)" if drift else ""), flush=True)

    print(f"\n{args.workload}, {len(args.seeds)} pairs, {flagged} flagged "
          f"for host drift (setup_s apart by more than its bound "
          f"{bound['setup_s']})")
    for m in METRICS:
        print(summary(m, values["parent"][m], values["change"][m], bound[m]))
    if args.workload == "curate_chain" and not problems:
        print("  kept-set digests equal across the two checkouts on every seed")
    for line in problems:
        print("  PROBLEM: " + line)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
