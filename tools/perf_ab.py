#!/usr/bin/env python3
"""Alternating A/B pairs of one perfbench workload: parent against change.

    python3 tools/perf_ab.py <parent_checkout> <change_checkout> \\
        --workload W --pairs N --seed0 S

Pair i runs the benchmark command, `python3 perfbench/run.py --workload W
--seed S+i --seconds 20 --trace 0`, in both checkouts, the parent first in
even pairs and the change first in odd ones. It prints each pair's
end-to-end metrics with the host's steal ratio during each run, then for
every metric each side's median and quartiles, the change's wins, and the
verdict of the gain rule: at least ten pairs, the change wins at least
nine tenths of them (ties count for neither side), and the medians differ
by more than the parent's interquartile range. The command, the run
length and the metrics' names and directions come from the parent's
BENCHMARK.json.

Exits 1 as soon as a run is not `correct`. Writes only what perfbench/run.py
writes, under each checkout's .perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3) of xs, inclusive method; one value is its own."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent, change, better="lower"):
    """The gain rule over paired runs: at least ten pairs, wins in nine
    tenths of them, and a median gap wider than the parent's interquartile
    range. `parent[i]` and `change[i]` are pair i."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gap = sign * (pm - cm)
    return {"wins": wins, "pairs": len(parent), "parent_median": pm,
            "change_median": cm, "gap": gap, "parent_iqr": p3 - p1,
            "gain": len(parent) >= 10 and 10 * wins >= 9 * len(parent) and gap > p3 - p1}


def run(bench, checkout, workload, seed):
    """One untraced run; returns (correct, metrics, steal ratio)."""
    res = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        return False, {}, None
    out = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    result = os.path.join(checkout, ".perfbench", "runs", f"{workload}-s{seed}-t0", "result.json")
    with open(result) as f:
        steal = json.load(f)["host"]["steal_ratio"]
    return out["correct"], metrics, steal


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    got = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        cells = []
        for side in order:
            correct, values, steal = run(bench, sides[side], args.workload, seed)
            if not correct:
                print(f"pair {i} seed {seed}: the {side} run is not correct", flush=True)
                return 1
            got[side].append(values)
            cells.append(f"{side} " + " ".join(f"{m}={values[m]:.2f}" for m, _ in metrics)
                         + f" steal={steal:.3f}")
        print(f"pair {i} seed {seed}: " + "; ".join(cells), flush=True)
    for m, better in metrics:
        p = [v[m] for v in got["parent"]]
        c = [v[m] for v in got["change"]]
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        v = verdict(p, c, better)
        print(f"{m} ({better} is better): parent median {pm:.2f} [q1 {p1:.2f}, q3 {p3:.2f}]; "
              f"change median {cm:.2f} [q1 {c1:.2f}, q3 {c3:.2f}]; change wins "
              f"{v['wins']}/{v['pairs']}; gap {v['gap']:.2f} vs parent IQR {v['parent_iqr']:.2f}: "
              + ("gain" if v["gain"] else "no gain"), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
