#!/usr/bin/env python3
"""Run the perfbench workload in two checkouts in alternating pairs and
compare their end-to-end metrics.

    python3 tools/bench_pairs.py <parent-checkout> <change-checkout> \\
        --workload dataset_build --seeds 1-10 [--out pairs.jsonl] [--seconds 8]

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds 8` once in each checkout: odd seeds parent first, even seeds
change first, so a drift of the machine over the series lands on both
sides. Each result is appended to the JSONL file as it arrives, one line
per run: {"workload", "seed", "side", "checkout", "result", "summary"}
(result is null when the run printed no result line; summary is the
harness's `graftbench: setup ...` line from standard error, which holds
each operation kind's median, or null). `--report` only summarizes an
existing JSONL file.

The summary prints, for every end-to-end metric that BENCHMARK.json (in
the change checkout) declares: each side's median and quartiles, the
change/parent ratio of the medians, in how many seed pairs the change
was better, and whether the median gap exceeds the parent's IQR. Then,
for each operation kind, each side's median and quartiles over runs of
each run's own median for that kind, and in how many seed pairs the
change's was lower; then the `failed` operations and the runs without
a result, per side.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

SIDES = ("parent", "change")
SUMMARY_PREFIX = "graftbench: setup "
# one operation kind in the summary line: `read.export=7498ms(n=3)`
KIND = re.compile(r"(\S+)=([0-9.]+)ms\(n=\d+\)")


def seed_list(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    sys.stderr.write(proc.stderr)
    summary = next((l.strip() for l in proc.stderr.splitlines()
                    if l.startswith(SUMMARY_PREFIX)), None)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        return None, summary
    return json.loads(lines[-1]), summary


def kind_medians(summary):
    return {k: float(v) for k, v in KIND.findall(summary or "")}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def better_pairs(vals, lower):
    """In how many seeds run on both sides the change was better, and
    how many such seeds there are; ties count for neither side."""
    pairs = sorted(set(vals["parent"]) & set(vals["change"]))
    better = sum((vals["change"][s] < vals["parent"][s]) == lower
                 and vals["change"][s] != vals["parent"][s] for s in pairs)
    return better, len(pairs)


def summarize(records, workload, metrics):
    by = {side: {} for side in SIDES}
    kinds = {side: {} for side in SIDES}
    for r in records:
        if r["workload"] == workload:
            by[r["side"]][r["seed"]] = r["result"]
            kinds[r["side"]][r["seed"]] = kind_medians(r.get("summary"))
    print(f"== {workload}: {len(by['parent'])} parent / {len(by['change'])} change runs")
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        vals = {side: {s: res["metrics"][name]["value"] for s, res in by[side].items()
                       if res and name in res["metrics"]} for side in SIDES}
        if not vals["parent"] or not vals["change"]:
            print(f"{name}: no data")
            continue
        (pq1, pm, pq3), (cq1, cm, cq3) = (quartiles(sorted(vals[s].values())) for s in SIDES)
        better, pairs = better_pairs(vals, lower)
        gap = (pm - cm) if lower else (cm - pm)
        print(f"{name}: parent {pm:.4g} ({pq1:.4g}-{pq3:.4g})  change {cm:.4g} ({cq1:.4g}-{cq3:.4g})"
              f"  ratio {cm / pm if pm else float('nan'):.3f}  better {better}/{pairs}"
              f"  gap>parent IQR {gap > pq3 - pq1}")
    for kind in sorted({k for side in SIDES for ks in kinds[side].values() for k in ks}):
        vals = {side: {s: ks[kind] for s, ks in kinds[side].items() if kind in ks}
                for side in SIDES}
        spread = []
        for side in SIDES:
            if vals[side]:
                q1, med, q3 = quartiles(sorted(vals[side].values()))
                spread.append(f"{side} {med:.0f} ({q1:.0f}-{q3:.0f}, n={len(vals[side])})")
            else:
                spread.append(f"{side} no data")
        better, pairs = better_pairs(vals, lower=True)
        print(f"kind {kind} (ms): " + "  ".join(spread) + f"  better {better}/{pairs}")
    for side in SIDES:
        runs = by[side].values()
        failed = sum(res["failed"] for res in runs if res)
        attempted = sum(res["attempted"] for res in runs if res)
        missing = sum(res is None for res in runs)
        print(f"{side}: failed {failed}/{attempted} attempted, {missing} runs without a result")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--out", default="bench_pairs.jsonl")
    ap.add_argument("--report", action="store_true", help="summarize --out without running")
    a = ap.parse_args()
    checkouts = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(checkouts["change"], "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    names = [m["name"] for m in metrics]
    if not a.report:
        for seed in seed_list(a.seeds):
            order = SIDES if seed % 2 else SIDES[::-1]
            for side in order:
                res, summary = run_once(checkouts[side], a.workload, seed, a.seconds)
                rec = {"workload": a.workload, "seed": seed, "side": side,
                       "checkout": checkouts[side], "result": res, "summary": summary}
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                print(f"seed {seed} {side}: "
                      + ("no result" if res is None else
                         " ".join(f"{n}={res['metrics'][n]['value']:.4g}" for n in names
                                  if n in res["metrics"])),
                      flush=True)
    with open(a.out) as fh:
        records = [json.loads(l) for l in fh if l.strip()]
    summarize(records, a.workload, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
