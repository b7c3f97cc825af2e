"""Seeded input generator for the perfbench workloads.

Writes fixture-shaped parquet tables (the TPC-H-ish star schema plus the
`events` stream table the engine's `graft.Tables` loaders read) and the
workload-specific derived inputs. Every column is drawn uniformly the way
the project's reference fixtures are, so the catalog queries and the
retrain DAG see the same shapes at a smaller, configurable scale.

The base tables come from a fixed internal seed; `--seed` drives only the
workload-specific inputs:

- retrain: the existing/incoming split of `orders` for the ingest upsert
  (a seeded 70/30 split, plus 10% of the existing keys re-sent with
  changed values so the first-writer-wins rule has work to do);
- score_stream: a seeded bijective relabel of user and course ids, applied
  to `events`, to the consumer's knowledge base built from them, and to the
  replayed stream files (one JSON event per line, one file per
  micro-batch).

The dashboard refresh runs in score_stream's traced run, so the queries
over `events` see the seed's relabelled ids; each result is checked
against a DuckDB oracle computed from the same generated files.

run.py imports `generate`.
"""
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
COURSES = 100
# Fixture scale factor; events per replayed stream file; events replayed.
SF = 0.01
BATCH = 1000
STREAM_EVENTS = 5000


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


ROWS = {
    "customer": int(150_000 * SF), "supplier": max(10, int(10_000 * SF)),
    "part": int(200_000 * SF), "orders": int(1_500_000 * SF),
    "lineitem": int(6_000_000 * SF), "events": int(1_000_000 * SF),
    "users": max(10, int(15_000 * SF)),
}


def base_tables():
    """The fixture tables, deterministic (fixed seed and scale)."""
    rng = np.random.default_rng(BASE_SEED)
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, c)]})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(ADJ[rng.integers(0, 8, p)], " "),
                              NOUN[rng.integers(0, 8, p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": P_TYPES[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": EVENT_TYPES[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2) + 0.01,
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, COURSES, e).astype(str)), "}")})
    return t


def write_tables(tables, out):
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"))


def ingest_split(orders, seed):
    """Seeded existing/incoming split of `orders` for the upsert stage."""
    rng = np.random.default_rng([seed, 1])
    n = orders.num_rows
    existing = rng.random(n) < 0.7
    resent = existing & (rng.random(n) < 0.1)
    ex = orders.filter(pa.array(existing))
    inc_new = orders.filter(pa.array(~existing))
    # re-sent keys carry a changed price: first-writer-wins must keep the
    # existing row, so the upsert's output equals `orders` exactly
    re = orders.filter(pa.array(resent))
    re = re.set_column(re.schema.get_field_index("o_totalprice"), "o_totalprice",
                       pa.array(np.round(re["o_totalprice"].to_numpy() + 1.0, 2)))
    inc = pa.concat_tables([inc_new, re])
    return ex, inc.take(pa.array(rng.permutation(inc.num_rows)))


def relabel_events(events, seed, users):
    """Seeded bijective relabel of user and course ids."""
    rng = np.random.default_rng([seed, 2])
    upm = rng.permutation(users)
    cpm = rng.permutation(COURSES)
    uid = upm[events["user_id"].to_numpy()]
    k = np.array([int(p[6:-1]) for p in events["props"].to_pylist()])
    props = np.char.add(np.char.add('{"k": ', cpm[k].astype(str)), "}")
    ev = events.set_column(events.schema.get_field_index("user_id"), "user_id",
                           pa.array(uid, pa.int64()))
    return ev.set_column(ev.schema.get_field_index("props"), "props", pa.array(props))


def write_stream(events, out, batch, n_events):
    """The replayed stream: one JSON event per line, one file per batch,
    in event-time order (file names sort in replay order)."""
    os.makedirs(out)
    ev = events.slice(0, n_events)
    users = ev["user_id"].to_numpy()
    types = ev["event_type"].to_numpy(zero_copy_only=False)
    courses = [p[6:-1] for p in ev["props"].to_pylist()]
    ts = ev["ts"].to_numpy()
    base = dt.datetime(1970, 1, 1)
    for f, lo in enumerate(range(0, len(users), batch)):
        lines = []
        for i in range(lo, min(lo + batch, len(users))):
            t = base + dt.timedelta(microseconds=int(ts[i].astype("int64")))
            lines.append(json.dumps({"user": int(users[i]), "item": courses[i],
                                     "action": str(types[i]),
                                     "ts": t.strftime("%Y-%m-%d %H:%M:%S.%f")}))
        path = os.path.join(out, f"batch-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        # strictly increasing mtimes: the file source orders by mtime
        os.utime(path, ns=(0, (1_600_000_000 + f) * 1_000_000_000))


ACTIONS = [("click", "nClick"), ("view", "nView"), ("purchase", "nPurchase"),
           ("signup", "nSignup"), ("error", "nError")]


def knowledge_base(events):
    """The consumer's knowledge base (`graft.streaming.Recommender.Kb`) from
    the events, course = `props.k`: per-(user, course) action counters with
    truth 0 (purchased), 1 (error, no purchase) or null; the 50 most
    frequent co-enrolled course pairs; the 50 most popular courses; and the
    average counters of the passed history."""
    import pandas as pd
    ev = pd.DataFrame({"user": events["user_id"].to_numpy(),
                       "item": [p[6:-1] for p in events["props"].to_pylist()],
                       "action": events["event_type"].to_numpy(zero_copy_only=False)})
    h = pd.crosstab([ev["user"], ev["item"]], ev["action"])
    h = h.reindex(columns=[a for a, _ in ACTIONS], fill_value=0)
    h.columns = [n for _, n in ACTIONS]
    h = h.astype("int64").reset_index()
    h["total"] = h[[n for _, n in ACTIONS]].sum(axis=1)
    h["truth"] = pd.array(np.where(h["nPurchase"] > 0, 0,
                                   np.where(h["nError"] > 0, 1, -1)), dtype="Int32")
    h.loc[h["truth"] == -1, "truth"] = pd.NA
    keys = h[["user", "item"]]
    pairs = keys.merge(keys, on="user")
    pairs = pairs[pairs["item_x"] < pairs["item_y"]]
    pairs = (pairs.groupby(["item_x", "item_y"]).size().rename("cnt").reset_index()
             .rename(columns={"item_x": "i1", "item_y": "i2"})
             .sort_values(["cnt", "i1", "i2"], ascending=[False, True, True]).head(50))
    pop = (ev.groupby("item").size().rename("n").reset_index()
           .sort_values(["n", "item"], ascending=[False, True]).head(50))
    pop["popRank"] = np.arange(1, len(pop) + 1, dtype=np.int32)
    prof = h[h["truth"] == 0][[n for _, n in ACTIONS] + ["total"]].astype("float64")
    return {
        "kb_history": pa.Table.from_pandas(h, preserve_index=False),
        "kb_pairs": pa.Table.from_pandas(pairs.astype({"cnt": "int64"}), preserve_index=False),
        "kb_popular": pa.Table.from_pandas(pop[["item", "popRank"]], preserve_index=False),
        "kb_profile": pa.Table.from_pandas(prof.mean().to_frame().T, preserve_index=False),
    }


def generate(out, workload, seed):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    t = base_tables()
    if workload == "retrain":
        ex, inc = ingest_split(t["orders"], seed)
        t["orders_existing"], t["orders_incoming"] = ex, inc
    elif workload == "score_stream":
        t["events"] = relabel_events(t["events"], seed, ROWS["users"])
        write_stream(t["events"], os.path.join(out, "stream"), BATCH, STREAM_EVENTS)
        t.update(knowledge_base(t["events"]))
    write_tables(t, out)
