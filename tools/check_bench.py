#!/usr/bin/env python3
"""Compare a graft.Bench JSON line against BASELINE.md's committed
per-query loaded envelope (the 2x-gate anchor).

Usage:
    python3 tools/check_bench.py BENCH_rN.json [BASELINE.md] [--strict]
    ... | grep '"metric"' | python3 tools/check_bench.py -    # from stdin

Exit 0 if every benched headline is within WARN_RATIO of its envelope,
1 otherwise. With --strict (or CHECK_BENCH_STRICT=1), anchor drift —
a fresh run exceeding a committed anchor by more than WARN_RATIO —
also exits 1, so stale envelopes are caught by the builder before the
judge sees them (BASELINE.md "Envelope refresh policy"). Queries
without a committed envelope (non-headline / BENCH_ALL extras) are
listed informationally.
"""
import json
import os
import re
import sys

WARN_RATIO = 1.5   # BASELINE.md: ">1.5x over the envelope is a real regression"
GATE_RATIO = 2.0   # the driver's hard gate
MIN_ENVELOPE_QUERIES = 15  # a parse yielding fewer lost part of the row
# An envelope may sit at most this far above its committed idle min.
# Without this cap the ratchet only loosens (VERDICT r11 #1): envelopes
# were elementwise-MAXed with prior committed values every round, so
# load variance ratcheted them up until a real 1.5x plan regression
# would read "1.0x of envelope, ok". Entries at the 0.50s sub-second
# floor are exempt — the floor exists because 2x of a 0.2s query is
# scheduler jitter, not signal.
RATCHET_RATIO = 2.0
SUBSECOND_FLOOR = 0.50


def _parse_row(baseline_md, marker):
    """Structural parse: find the single physical markdown table row
    whose metric cell names `marker`, split on '|', and read the
    'qNN <sec>' pairs from the VALUE cell only — commentary in other
    cells can never leak in. Fails loudly (not silently-empty) when the
    row is missing, wrapped, duplicated, or suspiciously short.
    """
    rows = [l for l in open(baseline_md).read().splitlines()
            if marker in l]
    if not rows:
        raise SystemExit(f"no {marker} row found in {baseline_md}")
    if len(rows) > 1:
        raise SystemExit(f"{len(rows)} {marker} rows in {baseline_md}; "
                         "keep exactly one (delete or rename the stale row)")
    row = rows[0].strip()
    if not row.startswith("|"):
        raise SystemExit(f"{marker} line is not a markdown table row "
                         "(wrapped or reformatted?): " + row[:80])
    cells = [c.strip() for c in row.strip("|").split("|")]
    if len(cells) < 2:
        raise SystemExit(f"{marker} row has no value cell: " + row[:80])
    out = {}
    # [qm]: ML catalog entries (m05 GBT) sit in the committed envelope
    # alongside the qNN queries since round 8
    for qm in re.finditer(r"([qm]\d+)\s+([0-9.]+)", cells[1]):
        name, secs = qm.group(1), float(qm.group(2))
        if name in out:
            raise SystemExit(f"duplicate {marker} entry for {name} — "
                             "the value cell was edited inconsistently")
        out[name] = secs
    if len(out) < MIN_ENVELOPE_QUERIES:
        raise SystemExit(
            f"only {len(out)} {marker} entries parsed (expected >= "
            f"{MIN_ENVELOPE_QUERIES}) — the row was likely wrapped "
            "or split; keep all 'qNN <sec>' pairs in the single value cell")
    return out


def parse_envelope(baseline_md):
    return _parse_row(baseline_md, "LOADED ENVELOPE")


def parse_idle_min(baseline_md):
    return _parse_row(baseline_md, "per-query idle MIN")


def ratchet_failures(envelope, idle):
    """Committed-anchor hygiene (VERDICT r11 #1): every envelope entry
    must stay within RATCHET_RATIO of its committed idle min (floored
    entries exempt), and the two rows must cover the same query set —
    a query in one but not the other means a refresh touched only half
    the anchor.
    """
    out = []
    for name in sorted(set(envelope) | set(idle)):
        if name not in idle:
            out.append(f"{name}: in LOADED ENVELOPE but not idle MIN row")
            continue
        if name not in envelope:
            out.append(f"{name}: in idle MIN row but not LOADED ENVELOPE")
            continue
        env, idl = envelope[name], idle[name]
        if env < idl:
            # a value-level half-refresh (idle row updated, envelope row
            # forgotten or vice versa): an envelope BELOW the machine's
            # own idle min is impossible for coherent same-protocol
            # anchors, and every later run spuriously drifts against it
            out.append(
                f"{name}: envelope {env:.2f}s < idle min {idl:.2f}s — "
                "half-refreshed anchor rows; re-publish BOTH rows from "
                "the same three-run protocol")
            continue
        if env <= SUBSECOND_FLOOR:
            continue
        if env > RATCHET_RATIO * max(idl, 0.01):
            out.append(
                f"{name}: envelope {env:.2f}s > {RATCHET_RATIO:.1f}x idle "
                f"min {idl:.2f}s ({env / max(idl, 0.01):.2f}x) — re-run the "
                "three-run protocol and publish fresh maxima (BASELINE.md "
                "policy: envelopes are fresh each refresh, never MAXed "
                "with prior values)")
    return out


def main():
    args = [a for a in sys.argv[1:] if a != "--strict"]
    strict = ("--strict" in sys.argv[1:]
              or os.environ.get("CHECK_BENCH_STRICT") == "1")
    src = args[0] if len(args) > 0 else "-"
    baseline = args[1] if len(args) > 1 else "BASELINE.md"
    raw = sys.stdin.read() if src == "-" else open(src).read()
    try:
        whole = json.loads(raw)
    except json.JSONDecodeError:
        whole = None
    if isinstance(whole, dict) and "parsed" in whole:
        bench = whole["parsed"]  # driver-written BENCH_rN.json wrapper
    elif isinstance(whole, dict) and "queries" in whole:
        bench = whole
    else:
        line = next(l for l in raw.splitlines() if '"metric"' in l)
        bench = json.loads(line)
    envelope = parse_envelope(baseline)
    idle_min = parse_idle_min(baseline)

    # Load context (VERDICT r13 #3): Bench's diagnostics line carries
    # loadavg_start/_end; a loaded box explains nominal over-1.0x
    # readings (envelopes absorb load by design — this is context, not a
    # gate). Search the raw text: the fields survive both the bare
    # two-line Bench output and the driver wrapper's ~2000-char tail.
    loads = {}
    for field in ("loadavg_start", "loadavg_end"):
        # quotes may be backslash-escaped: inside a driver BENCH_rN.json
        # wrapper the diagnostics line lives embedded in the "tail" string
        m = re.search(r'\\?"%s\\?":\[([0-9.,\s]+)\]' % field, raw)
        if m:
            loads[field] = [float(x) for x in m.group(1).split(",")]
    if loads:
        start = loads.get("loadavg_start", [0.0])[0]
        end = loads.get("loadavg_end", [0.0])[0]
        desc = (f"loadavg start {start:.2f} -> end {end:.2f}")
        if start > 1.0:
            print(f"LOAD CONTEXT: box was LOADED at bench start ({desc}) "
                  "— read nominal over-1.0x ratios below with that in "
                  "mind (round-13 lesson: an orphaned JVM, not a plan "
                  "regression)")
        else:
            print(f"load context: idle box ({desc})")

    # Per-rep Spark job counts from Bench's diagnostics line — printed
    # beside each query for information only; they never gate. Same
    # raw-text search as the load context (a wrapper's tail may have cut
    # the field, then nothing is shown).
    jobs = {}
    m = re.search(r'\\?"jobs\\?":(\{[^{}]*\})', raw)
    if m:
        try:
            jobs = json.loads(m.group(1).replace('\\"', '"'))
        except json.JSONDecodeError:
            jobs = {}

    def with_jobs(name, msg):
        return f"{msg} jobs={jobs[name]}" if name in jobs else msg

    worst = 0.0
    failures, warnings, extras = [], [], []
    hygiene = [f"anchor hygiene: {msg}"
               for msg in ratchet_failures(envelope, idle_min)]
    for name, secs in sorted(bench["queries"].items()):
        short = name.split("_")[0]
        if secs is None:
            failures.append(f"{name}: FAILED in bench (null)")
            continue
        if short not in envelope:
            extras.append(with_jobs(name, f"{name}: {secs:.3f}s (no committed envelope)"))
            continue
        ratio = secs / envelope[short]
        worst = max(worst, ratio)
        tag = ("FAIL(gate)" if ratio > GATE_RATIO
               else "ANCHOR-DRIFT" if ratio > WARN_RATIO else "ok")
        msg = f"{name}: {secs:.3f}s vs envelope {envelope[short]:.2f}s = {ratio:.2f}x {tag}"
        if ratio > GATE_RATIO:
            failures.append(msg)
        elif ratio > WARN_RATIO:
            warnings.append(msg)
        print(" ", with_jobs(name, msg))
    for e in extras:
        print("  [extra]", e)
    # a full-headline run must cover the whole envelope — a missing query
    # means the suite shrank (or the envelope grew) without the anchor
    # being refreshed; BENCH_ONLY subsets legitimately cover less
    benched_short = {n.split("_")[0] for n in bench["queries"]}
    uncovered = sorted(set(envelope) - benched_short)
    if uncovered and len(bench["queries"]) >= len(envelope):
        warnings.append(f"envelope queries not benched: {', '.join(uncovered)}")
    if bench.get("errors"):
        failures.append(f"bench errors: {bench['errors']}")

    # hygiene failures are anchor-coherence problems, not gate overruns
    # — counting them as "over 2.0x" misreports what failed
    print(f"\nworst ratio {worst:.2f}x; "
          f"{len(failures)} over {GATE_RATIO}x, {len(warnings)} over "
          f"{WARN_RATIO}x, {len(hygiene)} anchor-hygiene failures")
    if failures or hygiene:
        for f in hygiene + failures:
            print("FAIL", f)
        sys.exit(1)
    if warnings:
        for w in warnings:
            print("WARN (anchor drift — refresh the envelope per "
                  "BASELINE.md policy):", w)
        if strict:
            sys.exit(1)
    print("all benched headlines within the committed envelope band")


if __name__ == "__main__":
    main()
