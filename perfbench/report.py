#!/usr/bin/env python3
"""Read run artifacts (perfbench/out/*.json) and print the layer split.

    python3 perfbench/report.py perfbench/out/*.json

For each traced artifact: per op and in total, the time and job count
of table resolution, plan construction (build), Catalyst (plan) and
execution, plus span self time. Across traced artifacts: whether each
op's build_jobs and exec_jobs repeated exactly (a claim may rest only on
counts that repeat). Where a workload and seed have both a traced and
an untraced artifact: the tracing overhead, traced pass_s minus
untraced pass_s.
"""
import json
import sys
from collections import defaultdict

import metrics


def load(paths):
    return [(p, json.load(open(p))) for p in paths]


def op_key(op):
    """An op's identity across runs: query plus which use of it within
    its pass (the first use in a warm session is the cold one)."""
    return op["query"], op["pass"], op["use"]


def number_uses(ops):
    seen = defaultdict(int)
    for o in ops:
        o["use"] = seen[(o["query"], o["pass"])]
        seen[(o["query"], o["pass"])] += 1


def split(run, spans):
    ops = run["ops"]
    own = metrics.self_by_name(spans)
    print(f"\n== {run['workload']} seed {run['seed']}: {len(ops)} ops, {run['passes']} passes, "
          f"set-up {run['setup_s']:.2f} s from JVM start (set-ups {[round(s, 2) for s in run['setups_s']]} s, "
          f"warm-up passes {run['warm_up_s']:.2f} s)")
    cols = ("tables_s", "tables_jobs", "build_s", "build_jobs", "plan_s", "exec_s", "exec.jobs")
    if "build_s" in ops[0]:
        print(f"{'op':>4} {'query':28s} {'op_s':>7}" + "".join(f" {c:>11}" for c in cols))
        for o in ops:
            print(f"{o['op']:>4} {o['query'][:28]:28s} {o['op_s']:7.3f}"
                  + "".join(f" {o.get(c, 0):11.3f}" if isinstance(o.get(c, 0), float)
                            else f" {o.get(c, 0):11d}" for c in cols))
    tot = {c: sum(o.get(c, 0) for o in ops) for c in cols + ("op_s",)}
    print("total: " + ", ".join(f"{c} {v:.2f}" if isinstance(v, float) else f"{c} {v}"
                                for c, v in tot.items()))
    print("self time by span: " + ", ".join(f"{k} {v:.2f} s" for k, v in sorted(own.items())))


def repeatability(traced):
    counts = defaultdict(lambda: defaultdict(set))
    for _, a in traced:
        number_uses(a["run"]["ops"])
        for o in a["run"]["ops"]:
            for c in ("build_jobs", "exec.jobs"):
                if c in o:
                    counts[(a["run"]["workload"],) + op_key(o)][c].add(o[c])
    print(f"\n== job-count repeatability over {len(traced)} traced runs")
    for k in sorted(counts):
        flags = {c: ("repeats" if len(v) == 1 else f"UNSTABLE {sorted(v)}") for c, v in counts[k].items()}
        print(f"{k[0]:15s} {k[1]:28s} pass {k[2]} use {k[3]}: " +
              ", ".join(f"{c} {f}" for c, f in flags.items()))


def overhead(arts):
    by = defaultdict(dict)
    for _, a in arts:
        r = a["run"]
        by[(r["workload"], r["seed"])][r["traced"]] = sum(o["op_s"] for o in r["ops"]) / r["passes"]
    for (w, s), v in sorted(by.items()):
        if True in v and False in v:
            print(f"tracing overhead {w} seed {s}: pass_s {v[True]:.3f} traced - {v[False]:.3f} "
                  f"untraced = {v[True] - v[False]:+.3f} s")


def main():
    arts = load(sys.argv[1:])
    traced = [(p, a) for p, a in arts if a["run"]["traced"]]
    for _, a in traced:
        split(a["run"], a["spans"])
    if traced:
        repeatability(traced)
    overhead(arts)


if __name__ == "__main__":
    main()
