#!/usr/bin/env python3
"""Steadiness of the benchmark: run workloads as two interleaved sets of
runs (A1 B1 A2 B2 ...), each run with its own seed, and print for every
end-to-end metric each set's median, quartiles and spread (interquartile
range over median) and the ratio of the two medians. The bounds in
BENCHMARK.json are set from this output.

    python3 perfbench/steady.py --runs 10 [--workload catalog-mix ...]

Every run's result line is appended to perfbench/.out/steady.jsonl, so a
table can be printed again from it with --table-only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LOG = os.path.join(HERE, ".out", "steady.jsonl")


def bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def one(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def spread(v):
    q1, med, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3, (q3 - q1) / statistics.median(v)


def table(rows, b):
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    print("| workload | metric | set | median | q1 | q3 | spread | bound "
          "| B/A median |")
    print("| --- | --- | --- | --- | --- | --- | --- | --- | --- |")
    for w in [x["name"] for x in b["workloads"]]:
        runs = [r for r in rows if r["workload"] == w]
        if not runs:
            continue
        for m in bounds:
            meds = {}
            for s in "AB":
                v = [r["result"]["metrics"][m]["value"] for r in runs
                     if r["set"] == s]
                if len(v) < 2:
                    continue
                q1, med, q3, sp = spread(v)
                meds[s] = med
                ratio = f"{meds['B'] / meds['A']:.3f}" if s == "B" and "A" in meds else ""
                print(f"| {w} | {m} | {s} ({len(v)}) | {med:.3f} | {q1:.3f} "
                      f"| {q3:.3f} | {sp:.3f} | {bounds[m]} | {ratio} |")
            v = [r["result"]["metrics"][m]["value"] for r in runs]
            if len(v) >= 2:
                q1, med, q3, sp = spread(v)
                print(f"| {w} | {m} | all ({len(v)}) | {med:.3f} | {q1:.3f} "
                      f"| {q3:.3f} | {sp:.3f} | {bounds[m]} | |")
        for s in "AB":
            res = [r["result"] for r in runs if r["set"] == s]
            if res:
                att = sum(x["attempted"] for x in res)
                bad = sum(x["failed"] for x in res)
                ok = all(x["correct"] for x in res)
                print(f"| {w} | failed/attempted | {s} | {bad}/{att} | | | | "
                      f"| correct={ok} |")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload")
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--table-only", action="store_true")
    a = ap.parse_args()
    b = bench()
    workloads = a.workload or [w["name"] for w in b["workloads"]]
    if not a.table_only:
        os.makedirs(os.path.dirname(LOG), exist_ok=True)
        seed = a.first_seed
        for i in range(a.runs):
            for w in workloads:
                for s in "AB":
                    r = one(w, seed, b["run_seconds"])
                    with open(LOG, "a") as f:
                        f.write(json.dumps({"workload": w, "set": s,
                                            "seed": seed, "result": r}) + "\n")
                    m = r["metrics"]
                    print(f"{w} {s}{i + 1} seed {seed}: " + ", ".join(
                        f"{k} {v['value']:.3f}" for k, v in m.items()),
                        file=sys.stderr, flush=True)
                    seed += 1
    with open(LOG) as f:
        rows = [json.loads(x) for x in f]
    table([r for r in rows if r["workload"] in workloads], b)


if __name__ == "__main__":
    main()
