#!/usr/bin/env python3
"""Benchmark of the recommender's own flow, driven from outside through the
engine's public functions.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <retrain|score_stream> \
        --seed <n> --seconds <s> --trace <0|1>

Each run builds the engine and the harness from source when they changed
(sbt, into `.bench_build/` and the engine's own `target/`), generates the
workload's inputs from the seed (gen.py), launches one JVM running
`perfbench.Main` on `local[nproc]`, checks the outputs, and prints one
JSON object as the last line of stdout:

- `--trace 0`: the end-to-end metrics (names in BENCHMARK.json);
- `--trace 1`: the per-layer metrics, from spans and Spark-listener
  counters on traced passes that alternate with untraced ones; the
  relative difference of their pass times is `trace.overhead_pct`.

The line before it is a report: the workload's own end-to-end figures
with units and sample counts, failed checks, and the run's hygiene
(other JVMs alive, load average, cores and heap at start and end). With
`--trace 1` the report also tags every per-layer metric with the
end-to-end metric and workload it should move (layers.json); the
per-layer names and units are BENCHMARK.json's.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

# gen.py and tools/check_oracle.py are imported; leave no bytecode behind
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
HEAP = "3g"
GEN_REPS = 3
WORKLOADS = ("retrain", "score_stream")
# An idle box: at most this 1-minute load average per core before timing.
LOAD_PER_CORE = 0.5
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    paths = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for top in (os.path.join("src", "main"), os.path.join("perfbench", "src")):
        for d, _, files in sorted(os.walk(os.path.join(root, top))):
            paths += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files)]
    for p in paths:
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness; return the java launch command prefix."""
    out = os.path.join(root, BUILD, "harness")
    launch = os.path.join(out, "launch.txt")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp(root)
    fresh = os.path.exists(launch) and os.path.exists(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        log("building engine and harness (sbt)")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                           cwd=os.path.join(root, "perfbench"), stdout=sys.stderr,
                           stderr=sys.stderr, stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0 or not os.path.exists(launch):
            fail("build failed", 3)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def other_jvms():
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


def hygiene(cores):
    jvms, load = other_jvms(), os.getloadavg()[0]
    return {"other_jvms": jvms, "loadavg_1m": round(load, 2), "nproc": cores,
            "flagged": jvms > 0 or load > LOAD_PER_CORE * cores}


def generate(workload, seed, data):
    sys.path.insert(0, HERE)
    import gen
    times = []
    for _ in range(GEN_REPS):
        t = time.perf_counter()
        gen.generate(data, workload, seed)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def run_harness(launch, workload, seed, seconds, trace, data, work, cores, deadline):
    cp, opts = launch
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", *opts, "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--data", data,
           "--work", work, "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores), "--out", result]
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("harness exceeded its time limit", 4)
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if code != 0 or not os.path.exists(result):
        fail(f"harness exited with {code}", 5)
    with open(result) as fh:
        return json.load(fh)


def oracle_failures(root, data, check_dir, passes):
    """(pass, query, why) for every output that differs from its DuckDB
    oracle, and how many oracles there are."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import duckdb
    from check_oracle import TABLES, compare, fetch_named
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(os.path.join(data, f"{t}.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            ref = fetch_named(con.execute(sql))
        except Exception as e:
            ref, why = None, f"oracle failed: {type(e).__name__}: {e}"
        for p in passes:
            if ref is not None:
                try:
                    ours = fetch_named(con.execute(
                        f"SELECT * FROM '{check_dir}/{p}/{name}/*.parquet'"))
                    why = compare(*ours, *ref)
                except Exception as e:  # an unreadable output is a failure
                    why = f"{type(e).__name__}: {e}"
            if why:
                bad.append((p, name, why))
    return bad, len(oracle)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile q (0-100) of xs."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def tail_percentile(n):
    """The highest of p90/p75/p50 with at least 10 samples beyond it."""
    for q in (90, 75, 50):
        if n * (100 - q) / 100 >= 10:
            return q
    return 50


def e2e(res, gen_s, untraced):
    return {
        "setup_s": {"value": gen_s + res["setup_s"], "unit": "s"},
        "pass_s": {"value": med([p["wall_s"] for p in untraced]), "unit": "s"},
    }


def m(v, unit, n):
    return {"value": v, "unit": unit, "n": n}


def workload_report(workload, res, untraced):
    """The workload's own end-to-end figures (retrain_s and stage times;
    stream_*; dashboard refresh times when traced), with unit and sample
    count."""
    walls = [p["wall_s"] for p in untraced]
    n = len(untraced)
    if workload == "retrain":
        r = {"retrain_s": m(med(walls), "s", n)}
        for k in ("m05_auc", "m05_logloss"):
            xs = [p["extra"][k] for p in untraced if k in p["extra"]]
            r[k] = m(med(xs), "1", len(xs))
        for stage in ("etl.freshness", "etl.ingest", "etl.kb", "ml.als", "ml.gbt",
                      "etl.registry"):
            xs = [o["ms"] for p in untraced for o in p["ops"] if o["name"] == stage]
            r[f"stage.{stage}_ms"] = m(med(xs), "ms", len(xs))
        return r
    batches = [o["ms"] for p in untraced for o in p["ops"]]
    q = tail_percentile(len(batches))
    ev = [p["extra"]["events"] / p["wall_s"] for p in untraced if p["wall_s"] > 0]
    r = {"stream_events_per_s": m(med(ev), "1/s", n),
         "stream_batch_p50_ms": m(med(batches), "ms", len(batches)),
         "stream_state_mb": m(med([p["extra"]["state_mb"] for p in untraced]), "MB", n)}
    if q > 50:
        r[f"stream_batch_p{q}_ms"] = m(percentile(batches, q), "ms", len(batches))
    dash = res["side"].get("dashboard")
    if dash:
        for k in ("dashboard_refresh_s", "graph_refresh_s"):
            r[k] = m(dash["extra"][k], "s", 1)
    return r


def per_layer(res, traced, untraced):
    """Per-layer metrics from the traced passes' spans and figures; a layer
    the run's workload does not exercise reports 0."""
    ids = {p["index"] for p in traced}
    side = res["side"]

    def spans_of(indices):
        return [s for s in res["spans"] if s["pass"] in indices]

    measured = spans_of(ids)
    dashboard = spans_of({side["dashboard"]["index"]} if "dashboard" in side else set())

    def span_med(name, key="wall_ms", spans=measured):
        return med([s[key] for s in spans if s["name"] == name])

    def extra_med(key):
        return med([p["extra"].get(key, 0.0) for p in traced])

    x = res["extra"]
    out = {}
    for name, unit in layer_units().items():
        layer, _, rest = name.partition(".")
        if name == "trace.overhead_pct":
            # each traced pass is followed by an untraced one
            u = statistics.mean([p["wall_s"] for p in untraced])
            t = statistics.mean([p["wall_s"] for p in traced])
            v = (t / u - 1) * 100 if u > 0 else 0.0
        elif name in ("ml.als_jobs", "ml.gbt_jobs"):
            v = span_med(name[:-5], "jobs")
        elif name == "ml.gbt_driver_gap_ms":
            v = span_med("ml.gbt", "driver_gap_ms")
        elif layer in ("etl", "ml"):
            v = span_med(name[:-3])
        elif name == "io.artifact_bytes":
            v = extra_med("artifact_bytes")
        elif name == "io.ingest_rows_written":
            v = span_med("etl.ingest", "records_written")
        elif name == "streaming.tws_batch_p50_ms":
            v = med([o["ms"] for o in side["tws"]["ops"]]) if "tws" in side else 0.0
        elif name == "streaming.tws_state_mb":
            v = side["tws"]["extra"]["state_mb"] if "tws" in side else 0.0
        elif layer == "streaming":
            v = extra_med(rest)
        elif name == "recommender.batch_ms_p50":
            v = span_med("recommender.batch")
        elif name == "recommender.jobs_per_batch":
            v = span_med("recommender.batch", "jobs")
        elif layer == "recommender":
            v = x.get(rest, 0.0)
        elif name == "registry.poll_ms_p50":
            v = span_med("registry.poll")
        elif layer == "queries":
            q, _, key = rest.rpartition(".")
            v = span_med(q, {"ms": "wall_ms"}.get(key, key), dashboard)
        elif layer == "spark":
            v = span_med("pass", rest)
        else:
            raise KeyError(name)
        out[name] = {"value": v, "unit": unit}
    return out


def layer_units():
    """Name -> unit of every per-layer metric, from BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def layer_tags(names):
    """The end-to-end figure and workload each per-layer metric should
    move: the layers.json entry of the longest key that is the metric's
    name or a dot-separated prefix of it."""
    with open(os.path.join(HERE, "layers.json")) as fh:
        moves = json.load(fh)["moves"]
    tags = {}
    for name in names:
        keys = [k for k in moves if name == k or name.startswith(k + ".")]
        if not keys:
            raise KeyError(f"{name} has no entry in layers.json")
        tags[name] = moves[max(keys, key=len)]
    return tags


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_harness's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_oracle.py"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a checkout of the engine: {need} is missing "
                 "(run from the repository root)")
    cores = os.cpu_count() or 1
    launch = build(root)  # before the run's clock: a checkout's first run builds
    deadline = time.monotonic() + RUN_LIMIT_S

    before = hygiene(cores)
    if before["flagged"]:
        log(f"box not idle before timing: {before}")
    run_dir = os.path.join(root, BUILD, "runs", a.workload)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    gen_s = generate(a.workload, a.seed, data)
    res = run_harness(launch, a.workload, a.seed, a.seconds, a.trace, data, work, cores,
                      deadline)
    after = hygiene(cores)
    log(f"generate {gen_s:.2f} s, session {res['session_s']:.2f} s, "
        f"harness set-up {res['setup_s']:.2f} s, passes "
        f"{[round(p['wall_s'], 2) for p in res['passes']]}")

    passes = res["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    every = passes + list(res["side"].values())
    attempted = sum(len(p["ops"]) for p in every)
    failed_ops = [(p["index"], o["name"], o["detail"]) for p in every
                  for o in p["ops"] if not o["ok"]]
    dash = res["side"].get("dashboard")
    if dash:
        ok = {o["name"] for o in dash["ops"] if o["ok"]}
        bad, n_checked = oracle_failures(root, data, res["extra"]["check_dir"],
                                         [dash["index"]])
        failed_ops += [(p, name, why) for p, name, why in bad if name in ok]
        if n_checked != len(dash["ops"]):
            failed_ops.append((dash["index"], "oracle", f"{n_checked} oracles checked"))
    failed = len(failed_ops)

    report = workload_report(a.workload, res, untraced)
    report["setup_s"] = m(gen_s + res["setup_s"], "s", 1)
    report["ops_failed_ratio"] = m(failed / max(1, attempted), "ratio", attempted)
    info = {"workload": a.workload, "seed": a.seed, "run_id": res["run_id"],
            "report": report, "failed_ops": failed_ops[:20],
            "hygiene": {"start": before, "end": after, "heap_max_mb": res["heap_max_mb"],
                        "cores": res["cores"]},
            "passes": {"untraced": len(untraced), "traced": len(traced),
                       "side": sorted(res["side"])}}
    if a.trace:
        metrics = per_layer(res, traced, untraced)
        info["layer_map"] = {k: dict(t, **metrics[k]) for k, t in layer_tags(metrics).items()}
        trace_file = os.path.join(root, BUILD, "trace", f"{res['run_id']}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as fh:
            json.dump({"run_id": res["run_id"], "spans": res["spans"]}, fh)
        info["trace_file"] = os.path.relpath(trace_file, root)
    else:
        metrics = e2e(res, gen_s, untraced)
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    log(f"done in {time.monotonic() - started:.1f} s")


if __name__ == "__main__":
    main()
