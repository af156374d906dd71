#!/usr/bin/env python3
"""Paired A/B of two checkouts on one perfbench workload.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload W --seeds 31 32 ...

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
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

METRICS = ("pass_wall_s", "op_p50_s", "setup_s")


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
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    if len(args.seeds) < 2:
        ap.error("need at least two seeds for quartiles")
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    bound = bounds(sides["change"])

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
        p, c = values["parent"][m], values["change"][m]
        wins = sum(b < a for a, b in zip(p, c))
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        print(f"  {m:12s} parent {pm:8.3f} [{p1:.3f}, {p3:.3f}]  "
              f"change {cm:8.3f} [{c1:.3f}, {c3:.3f}]  "
              f"median {100 * (cm / pm - 1):+6.1f}%  "
              f"drop {pm - cm:.3f} vs parent IQR {p3 - p1:.3f}  "
              f"change won {wins}/{len(p)}  {verdict(p, c, bound[m])}")
    if args.workload == "curate_chain" and not problems:
        print("  kept-set digests equal across the two checkouts on every seed")
    for line in problems:
        print("  PROBLEM: " + line)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
