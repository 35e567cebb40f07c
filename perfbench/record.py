#!/usr/bin/env python3
"""Run every workload, print every metric and commit-ready artifacts.

    python3 perfbench/record.py [--runs N] [--sets K] [--seconds S] [--workloads a,b]

For each workload: K sets of N untraced runs on seeds 1..N, then one
traced run on seed 1. Prints each end-to-end metric's median with its
unit, and the spread (interquartile range over median) next to the bound
that BENCHMARK.json fixes. Writes perfbench/results/<workload>.json with
the first set's medians, the per-layer metrics of the traced run, the
tracing overhead (traced against untraced `op_geomean_ms`), the traced
run's spans (<workload>.spans.jsonl) and, for `ingest`, the wall of one
ingest at 1x and 2x corpus size. With K >= 2 it also writes each set's
values, medians and spreads to perfbench/results/spread.json, with the
checks the bounds stand for: every gated spread but `setup_s`'s within
its bound, and no median of a later set worse than the first's by more
than the bound. `ingest` is not in BENCHMARK.json: its runs are too long for
the gated run budget, so it is recorded here instead.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

import run

RESULTS = os.path.join(run.HERE, "results")


def one(workload, seed, seconds, trace, scale=1.0):
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if scale != 1.0:
        cmd += ["--corpus-scale", str(scale)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace} failed")
    tag = f"{workload}-seed{seed}-trace{trace}" + (f"-x{scale}" if scale != 1.0 else "")
    with open(os.path.join(run.OUT, tag + ".json")) as f:
        rec = json.load(f)
    rec["last_line"] = json.loads(p.stdout.strip().splitlines()[-1])
    rec["tag"] = tag
    return rec


def spread(values):
    if len(values) < 4:
        return None
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def summarize(runs, bounds):
    """Each end-to-end figure of the runs' records, gated (with its bound
    from BENCHMARK.json) or not (bound None)."""
    out = {"runs": len(runs), "attempted": sum(r["attempted"] for r in runs),
           "failed": sum(r["failed"] for r in runs), "metrics": {}}
    for name in runs[0]["end_to_end"]:
        vals = [r["end_to_end"][name]["value"] for r in runs]
        out["metrics"][name] = {"values": vals, "median": statistics.median(vals),
                                "unit": runs[0]["end_to_end"][name]["unit"],
                                "spread": spread(vals), "bound": bounds.get(name)}
    return out


def checks(sets, spec):
    """Per end-to-end figure, the two conditions a pair of sets must meet
    when the figure is gated: its spread within the bound (not asked of
    `setup_s`), and no later median worse than the first by more than the
    bound. Ungated figures are checked against the largest bound a gate
    may have, 0.25, to show whether they could be gated."""
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    first = sets[0]["metrics"]
    res = {}
    for name in first:
        gated = name in better
        bound = first[name]["bound"] if gated else 0.25
        sign = 1 if better.get(name, "lower") == "lower" else -1
        spreads = [s["metrics"][name]["spread"] for s in sets]
        worse = max(sign * (s["metrics"][name]["median"] / first[name]["median"] - 1)
                    for s in sets[1:])
        res[name] = {"gated": gated, "bound_checked": bound, "spreads": spreads,
                     "spread_gated": gated and name != "setup_s",
                     "spreads_within_bound": all(x is not None and x <= bound for x in spreads),
                     "later_median_worse_by": worse, "medians_within_bound": worse <= bound}
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--workloads", default="ingest,serve,analytics")
    args = ap.parse_args()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(RESULTS, exist_ok=True)
    spread_path = os.path.join(RESULTS, "spread.json")
    summary = []
    for w in args.workloads.split(","):
        sets, all_runs = [], []
        for _ in range(args.sets):
            runs = [one(w, s, seconds, 0) for s in range(1, args.runs + 1)]
            sets.append(summarize(runs, bounds))
            all_runs += runs
        runs = all_runs[:args.runs]
        traced = one(w, 1, seconds, 1)
        e2e = sets[0]["metrics"]
        named = {k: {"median": statistics.median(r["named"][k]["value"] for r in runs),
                     "unit": runs[0]["named"][k]["unit"]} for k in runs[0]["named"]}
        base = e2e["op_geomean_ms"]["median"]
        overhead = traced["end_to_end"]["op_geomean_ms"]["value"] / base - 1
        out = {"workload": w, "runs": args.runs, "seconds": seconds,
               "cores": runs[0]["cores"], "heap": runs[0]["heap"],
               "attempted": sets[0]["attempted"], "failed": sets[0]["failed"],
               "end_to_end": e2e, "named": named,
               "tracing_overhead": {"op_geomean_ms_traced": traced["end_to_end"]["op_geomean_ms"]["value"],
                                    "op_geomean_ms_untraced_median": base, "share": overhead},
               "per_layer": traced["reported"], "unmeasured": traced["unmeasured"],
               "traced_detail": traced["detail"], "untraced_detail": [r["detail"] for r in runs]}
        if w == "ingest":
            double = one(w, 1, seconds, 0, scale=2.0)
            w1 = runs[0]["named"]["ingest_wall_s"]["value"]
            w2 = double["named"]["ingest_wall_s"]["value"]
            out["scaling"] = {"wall_1x_s": w1, "wall_2x_s": w2, "ratio": w2 / w1,
                              "floor_s": 2 * w1 - w2,
                              "per_revision_share_at_1x": (w2 - w1) / w1}
        with open(os.path.join(RESULTS, f"{w}.json"), "w") as f:
            json.dump(out, f, indent=1)
        shutil.copy(os.path.join(run.OUT, traced["tag"] + ".spans.jsonl"),
                    os.path.join(RESULTS, f"{w}.spans.jsonl"))
        if args.sets >= 2:
            prev = {}
            if os.path.exists(spread_path):
                with open(spread_path) as f:
                    prev = json.load(f)
            prev[w] = {"command": f"python3 perfbench/record.py --runs {args.runs} "
                                  f"--sets {args.sets} --workloads {w}",
                       "seconds": seconds, "sets": sets, "checks": checks(sets, spec)}
            with open(spread_path, "w") as f:
                json.dump(prev, f, indent=1, sort_keys=True)
        for i, st in enumerate(sets, 1):
            for name, m in st["metrics"].items():
                s = "n/a" if m["spread"] is None else f"{m['spread']:.3f}"
                print(f"{w}.set{i}.{name} {m['median']} {m['unit']} spread={s} bound={m['bound']}")
        for name, m in named.items():
            print(f"{w}.{name} {m['median']} {m['unit']}")
        print(f"{w}.tracing_overhead {overhead} ratio")
        summary.append(f"{w}: {sum(st['failed'] for st in sets)}/"
                       f"{sum(st['attempted'] for st in sets)} failed")
    print("; ".join(summary))


if __name__ == "__main__":
    main()
