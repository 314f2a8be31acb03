#!/usr/bin/env python3
"""Runs the benchmark repeatedly and summarises how steady each metric is.

    python3 perfbench/steadiness.py --workloads graph-bsp,stream-maintain \
        --seeds 1,2,3 [--repeats 1] [--trace 0] [--seconds N] --out FILE

For every workload and metric it reports the values, their median and
quartiles (statistics.quantiles, n=4) and the spread (Q3 - Q1) / median,
next to the metric's bound in BENCHMARK.json (none for the end-to-end
figures the run prints but BENCHMARK.json does not gate). With --trace 1 it also
reports, per seed, the distinct values of the job counts, which repeat
exactly when the program's round-trips are deterministic. With --trace 0
and --repeats of 2 or more it also reports each seed's spreads, and splits
each seed's runs into two sets and reports how far the second set's median
is worse than the first's. Run from the root of a checkout; it writes only
FILE.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summary(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else None
    r = lambda v: None if v is None else round(v, 4)
    return {"median": r(med), "q1": r(q1), "q3": r(q3), "spread": r(spread), "bound": bound,
            "within_third_of_bound": None if bound is None or spread is None
            else spread < bound / 3, "values": [r(v) for v in values]}


def per_seed(runs, names, bounds):
    """The summary of every metric over each seed's repeated runs."""
    seeds = sorted({r["seed"] for r in runs})
    return {str(s): {n: summary([r["metrics"][n] for r in runs if r["seed"] == s], bounds.get(n))
                     for n in names} for s in seeds}


def two_sets(runs, names, bounds, better):
    """Per seed, the seed's repeated runs split into a first and a second
    set: each metric's two medians and how far the second is worse than the
    first, as a share of the first, against the metric's bound."""
    out = {}
    for s in sorted({r["seed"] for r in runs}):
        rs = [r for r in runs if r["seed"] == s]
        a, b = rs[:len(rs) // 2], rs[len(rs) // 2:]
        out[str(s)] = {}
        for n in names:
            m1 = statistics.median(r["metrics"][n] for r in a)
            m2 = statistics.median(r["metrics"][n] for r in b)
            worse = ((m2 - m1) if better.get(n, "lower") == "lower" else (m1 - m2)) / m1 if m1 else None
            out[str(s)][n] = {"first": round(m1, 4), "second": round(m2, 4),
                              "worse": None if worse is None else round(worse, 4),
                              "bound": bounds.get(n),
                              "within_bound": None if worse is None or bounds.get(n) is None
                              else worse <= bounds[n]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    seconds = str(a.seconds or bench["run_seconds"])
    report = {"trace": a.trace, "run_seconds": int(seconds), "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for seed in a.seeds.split(","):
            for _ in range(a.repeats):
                t0 = time.monotonic()
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                    "--workload", w, "--seed", seed, "--seconds", seconds,
                                    "--trace", str(a.trace)],
                                   cwd=ROOT, capture_output=True, text=True)
                if p.returncode != 0:
                    sys.exit(f"{w} seed {seed} failed: {p.stderr[-2000:]}")
                detail, final = (json.loads(l) for l in p.stdout.strip().splitlines()[-2:])
                runs.append({"seed": int(seed), "wall_s": round(time.monotonic() - t0, 1),
                             "correct": final["correct"], "attempted": final["attempted"],
                             "failed": final["failed"],
                             # untraced: every end-to-end figure, gated or not
                             "metrics": {k: v["value"] for k, v in
                                         (final["metrics"] if a.trace
                                          else detail["end_to_end"]).items()},
                             "detail": detail})
                print(w, seed, runs[-1]["wall_s"], final["correct"], file=sys.stderr)
        names = list(runs[0]["metrics"])
        entry = {
            "runs": len(runs),
            "all_correct": all(r["correct"] for r in runs),
            "run_wall_s": summary([r["wall_s"] for r in runs], None),
            "metrics": {n: summary([r["metrics"][n] for r in runs], bounds.get(n))
                        for n in names},
        }
        if a.repeats > 1 and not a.trace:
            entry["per_seed"] = per_seed(runs, names, bounds)
            entry["two_sets_per_seed"] = two_sets(runs, names, bounds, better)
        if a.trace:
            entry["job_counts_per_seed"] = {
                n: {s: sorted({r["metrics"][n] for r in runs if r["seed"] == int(s)})
                    for s in a.seeds.split(",")}
                for n in names if n.endswith("spark.sched.jobs")}
            entry["per_key_last_run"] = runs[-1]["detail"]["per_key"]
        else:
            entry["failed_keys"] = {r["seed"]: r["detail"]["failed_keys"]
                                    for r in runs if r["detail"]["failed_keys"]}
            entry["query_tail"] = runs[-1]["detail"]["query_tail"]
        report["workloads"][w] = entry
    with open(a.out, "w") as f:
        f.write(compact(report) + "\n")


def compact(x, indent=""):
    """JSON with one line per innermost object or list."""
    inner = indent + " "
    if isinstance(x, dict) and any(isinstance(v, dict) or isinstance(v, list) and
                                   any(isinstance(i, dict) for i in v) for v in x.values()):
        return "{\n" + ",\n".join(f"{inner}{json.dumps(k)}: {compact(v, inner)}"
                                   for k, v in x.items()) + "\n" + indent + "}"
    if isinstance(x, list) and any(isinstance(v, dict) for v in x):
        return "[\n" + ",\n".join(inner + compact(v, inner) for v in x) + "\n" + indent + "]"
    return json.dumps(x)


if __name__ == "__main__":
    main()
