#!/usr/bin/env python3
"""A/B the benchmark between two checkouts of the engine.

    python3 tools/ab_perfbench.py <parent_dir> <change_dir> \
        --workload <retrain|score_stream> --pairs N

Runs each checkout's own `perfbench/run.py --trace 0` (from that
checkout's root, as it requires) N times per side, in pairs: pair i
(from 0) uses seed i+1 on both sides and BENCHMARK.json's run_seconds,
and which side runs first alternates from pair to pair. Before each run it
waits, at most IDLE_WAIT_S seconds, until the 1-minute load average per core
is at or below the `LOAD_PER_CORE` that checkout's `perfbench/run.py`
declares, so that run's idle check can hold; it prints the load average each
run started at. Each run's metrics line is printed as it lands. At the end, for
every end-to-end metric BENCHMARK.json declares, it prints each side's
median and quartiles, the number of pairs the change won (ties count for
neither side), and two verdicts:

- gain: the change won at least 9/10 of all pairs run AND its median beats
  the parent's by more than the parent's interquartile range;
- bound: EXCEEDED when the change's median is worse than the parent's by
  more than the metric's bound (a fraction of the parent's median);
  otherwise unresolved when either side's interquartile range, as a
  fraction of its median, is wider than the bound, unless every change
  run beats every parent run; otherwise within.

Failed or incorrect runs are counted and reported; their metrics are left
out. For information only, it then prints each side's median of the per-stage
figures in the run's report line (`stage.*_ms` for retrain,
`stream_batch_p50_ms` for score_stream); they enter no verdict. Nothing under
either checkout's `perfbench/` is touched.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

# The longest wait for an idle box before a run starts anyway; the 1-minute
# load average halves in about 42 s once a run's load is gone.
IDLE_WAIT_S = 300


def load_per_core(root):
    """The idle threshold `root`'s own perfbench/run.py checks against."""
    with open(os.path.join(root, "perfbench", "run.py")) as fh:
        m = re.search(r"^LOAD_PER_CORE = ([0-9.]+)", fh.read(), re.M)
    if not m:
        sys.exit(f"no LOAD_PER_CORE in {root}/perfbench/run.py")
    return float(m.group(1))


def wait_idle(limit):
    """Sleep until the 1-minute load average per core is <= `limit`, or
    IDLE_WAIT_S has passed; return the load average at the end."""
    cores = os.cpu_count() or 1
    deadline = time.monotonic() + IDLE_WAIT_S
    while os.getloadavg()[0] > limit * cores and time.monotonic() < deadline:
        time.sleep(5)
    return os.getloadavg()[0]


def stage_figures(report):
    """The per-stage figures of a run's report: its `stage.*_ms` and
    `stream_batch_p50_ms` values."""
    return {k: v["value"] for k, v in report.items()
            if k.startswith("stage.") or k == "stream_batch_p50_ms"}


def run_once(root, workload, seed, seconds):
    """The metrics and per-stage figures of one `--trace 0` run in `root`,
    or an error string."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        why = (r.stderr.strip().splitlines() or [""])[-1]
        return None, None, f"exit {r.returncode}: {why}"
    last = json.loads(lines[-1])
    if not last.get("correct") or last.get("failed", 0):
        return None, None, (f"incorrect: {last.get('failed')} of {last.get('attempted')} "
                            "ops failed")
    report = json.loads(lines[-2]).get("report", {}) if len(lines) > 1 else {}
    return ({k: v["value"] for k, v in last["metrics"].items()}, stage_figures(report),
            None)


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    a = ap.parse_args()
    with open(os.path.join(a.parent_dir, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    sides = {"parent": a.parent_dir, "change": a.change_dir}
    idle = {side: load_per_core(root) for side, root in sides.items()}
    runs = {"parent": [], "change": []}  # (pair, metrics) of correct runs
    stages = {"parent": [], "change": []}  # per-stage figures of correct runs
    failures = {"parent": 0, "change": 0}
    for i in range(a.pairs):
        seed = i + 1
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            load = wait_idle(idle[side])
            print(f"pair {i} seed {seed} {side}: starting at loadavg_1m {load:.2f}",
                  flush=True)
            metrics, figures, err = run_once(sides[side], a.workload, seed, seconds)
            if err:
                failures[side] += 1
                print(f"pair {i} seed {seed} {side}: FAILED ({err})", flush=True)
            else:
                runs[side].append((i, metrics))
                stages[side].append(figures)
                print(f"pair {i} seed {seed} {side}: " + json.dumps(metrics)
                      + " stages " + json.dumps(figures), flush=True)

    print(f"\n{a.workload}: {a.pairs} pairs, failed runs parent {failures['parent']} "
          f"change {failures['change']}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = {i: x[name] for i, x in runs["parent"] if name in x}
        c = {i: x[name] for i, x in runs["change"] if name in x}
        if not p or not c:
            print(f"  {name}: no data")
            continue
        both = sorted(set(p) & set(c))
        wins = sum(1 for i in both if (c[i] < p[i] if lower else c[i] > p[i]))
        pm, cm = statistics.median(p.values()), statistics.median(c.values())
        (p1, p3), (c1, c3) = quartiles(sorted(p.values())), quartiles(sorted(c.values()))
        gain = (pm - cm) if lower else (cm - pm)
        claimed = wins >= 0.9 * a.pairs and gain > p3 - p1
        worse = -gain / pm if pm else 0.0
        wide = any(m3 - m1 > m["bound"] * abs(med)
                   for m1, m3, med in ((p1, p3, pm), (c1, c3, cm)))
        dominates = (max(c.values()) < min(p.values()) if lower
                     else min(c.values()) > max(p.values()))
        bound = ("EXCEEDED" if worse > m["bound"]
                 else "unresolved" if wide and not dominates else "within")
        print(f"  {name} [{m['unit']}]: parent median {pm:.3f} (q1 {p1:.3f}, q3 {p3:.3f}, "
              f"n {len(p)}) | change median {cm:.3f} (q1 {c1:.3f}, q3 {c3:.3f}, n {len(c)})")
        print(f"    delta {cm - pm:+.3f} ({(cm - pm) / pm * 100 if pm else 0.0:+.1f}%), "
              f"change won {wins}/{a.pairs} pairs, parent IQR {p3 - p1:.3f}")
        print(f"    gain: {'MET' if claimed else 'not met'}; bound {m['bound']}: {bound} "
              f"(IQR/median parent {(p3 - p1) / pm if pm else 0.0:.3f}, "
              f"change {(c3 - c1) / cm if cm else 0.0:.3f})")

    names = sorted({k for side in stages.values() for f in side for k in f})
    if names:
        print("  per-stage medians (information only, no verdict):")
    for name in names:
        meds = {side: [f[name] for f in figs if name in f] for side, figs in stages.items()}
        print(f"    {name}: " + " | ".join(
            f"{side} {statistics.median(xs):.1f} (n {len(xs)})" if xs else f"{side} no data"
            for side, xs in meds.items()))


if __name__ == "__main__":
    main()
