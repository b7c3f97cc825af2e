#!/usr/bin/env python3
"""Steadiness check for the benchmark: runs each workload in two sets of
runs, one seed per run, and prints for every end-to-end metric the median,
the first and third quartiles and the spread (quartile distance over the
median) of each set, then whether each spread is within a third of the
metric's bound (`setup_s`'s spread is printed but not gated, as in the
benchmark's contract) and whether the two sets' medians differ by at most
the bound, either way. It exits 1 if any of these fails.

Run from the root of a checkout:

    python3 perfbench/steady.py [--runs 10] [--workload NAME ...]

Seeds are 1..runs in the first set, runs+1..2*runs in the second. Each run
is `python3 perfbench/run.py --workload W --seed N --seconds S --trace 0`
with S from BENCHMARK.json; raw results go to .bench_build/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        return None, None
    return json.loads(lines[-1]), json.loads(lines[-2])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(".bench_build", "steady.jsonl")
    os.makedirs(".bench_build", exist_ok=True)
    ok = True
    for w in workloads:
        sets = []
        for s in range(2):
            results = []
            for i in range(a.runs):
                seed = s * a.runs + i + 1
                res, report = run_once(w, seed, bench["run_seconds"])
                with open(log, "a") as fh:
                    fh.write(json.dumps({"workload": w, "set": s, "seed": seed,
                                         "result": res, "report": report}) + "\n")
                if res is None or not res["correct"]:
                    print(f"{w} seed {seed}: failed run {res}")
                    ok = False
                else:
                    results.append(res)
                    print(f"{w} set {s} seed {seed}: " + ", ".join(
                        f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                        flush=True)
            sets.append(results)
        for name, bound in bounds.items():
            meds = []
            for s, results in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in results]
                if len(vals) < 2:
                    continue
                med, q1, q3, spread = summary(vals)
                meds.append(med)
                if name == "setup_s":
                    verdict = "not gated"
                else:
                    verdict = "ok" if spread <= bound / 3 else "TOO WIDE"
                    ok &= verdict == "ok"
                print(f"{w:14s} {name:10s} set {s}: median {med:.4g} "
                      f"q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f} "
                      f"(bound {bound}) {verdict}")
            if len(meds) == 2:
                drift = meds[1] / meds[0] - 1
                agree = abs(drift) <= bound
                ok &= agree
                print(f"{w:14s} {name:10s} second median vs first: {drift:+.3f} "
                      f"{'ok' if agree else 'BEYOND BOUND'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
