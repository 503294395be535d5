"""Seeded inputs for the benchmark: fixture-shaped tables and operation plans.

Everything here is a pure function of (workload, seed): the same seed
writes byte-identical tables and the same operation plan. The engine
receives only these generated files; the plans also carry the expected
answers the checker compares against (model state, not engine output).
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row counts per workload. Commit latency is driver metadata work and job
# count, not data, so the snapshot table stays small; rpc_ingest keeps
# enough lineitem rows that create (full scan + write) and reuse (one
# partition) differ; batch_curation sizes the corpus so one pass of all
# eleven queries takes 15-25 s.
SIZES = {
    "rpc_ingest": dict(orders=15000, docs=200, vecs=200),
    "batch_curation": dict(orders=3000, docs=400, vecs=400),
}

# The window holds round(seconds / UNIT_S) whole units, at least one: an
# ingest cycle with its requests on rpc_ingest, a pass on batch_curation.
UNIT_S = {"rpc_ingest": 35.0, "batch_curation": 20.0}
RPC_PER_STEP = 20     # requests after each ingest commit and its reads

VOCAB = ("a the data table row column key value part line order customer "
         "query scan join filter sort group agg hash merge batch stream "
         "window spark fast slow big small vector").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86400 * 1000000


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(days):
    return pa.array(EPOCH_1995 + (days.astype(np.int64) * DAY_US)
                    .astype("timedelta64[us]"), pa.timestamp("us"))


def _write(tbl, path):
    # one row group per file, like the fixture tables
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))


def make_tables(out_dir, workload, seed):
    """Write the ten fixture tables for `workload` into `out_dir`."""
    rng = np.random.default_rng([seed, 7])
    sz = SIZES[workload]
    n_ord = sz["orders"]
    n_li = 4 * n_ord
    n_cust = max(100, n_ord // 10)
    n_supp = 100
    n_part = 2000
    os.makedirs(out_dir, exist_ok=True)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999, 9999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999, 9999, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i % 97}" for i in range(n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "SMALL", "LARGE", "STANDARD"][i]
                   for i in rng.integers(0, 4, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) / 10.0, 2)})
    t["orders"] = orders_table(rng, np.arange(n_ord), n_cust)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(1, 2500, n_li))})
    n_ev = 1000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.sort(rng.integers(0, 86400 * 10**6, n_ev))
                       .astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 50, n_ev), pa.int64()),
        "event_type": [["view", "click", "error", "buy"][i]
                       for i in rng.integers(0, 4, n_ev)],
        "value": _cents(rng, 0, 20, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents_table(rng, sz["docs"])
    t["embeddings"] = embeddings_table(rng, sz["vecs"])
    for name in TABLES:
        _write(t[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}


def orders_table(rng, keys, n_cust):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng, 1000, 500000, n),
        "o_orderdate": _ts(rng.integers(0, 2400, n)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]})


def _shuffled(rng, values, n):
    """`values` repeated to length n in seeded order: the seed moves
    values between rows but not their counts."""
    return rng.permutation(np.resize(np.asarray(values), n))


def documents_table(rng, n):
    """Closed-vocabulary documents with a fixed share of exact and near
    duplicates, so every dedup stage has work and survivors. The seed
    decides words, order and which documents are copied; counts, the
    length profile and cluster sizes are the same for every seed, so the
    dedup and text passes do the same amount of work. Duplicates copy
    original documents only, each original at most once, so duplicate
    clusters are pairs and the cluster passes take the same number of
    rounds for every seed."""
    n_exact, n_near = n * 8 // 100, n * 17 // 100
    n_orig = n - n_exact - n_near
    lengths = _shuffled(rng, 8 + np.arange(n_orig) * 82 // n_orig, n_orig)
    originals = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k))
                 for k in lengths]
    src = rng.permutation(n_orig)[:n_exact + n_near]
    texts = list(originals)
    for i, o in enumerate(src):
        words = originals[o].split()
        if i >= n_exact:
            for _ in range(1 + i % 3):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    texts = [texts[i] for i in rng.permutation(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in _shuffled(rng, LANGS, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def embeddings_table(rng, n):
    """Ten clusters of equal size around seeded centres."""
    labels = _shuffled(rng, np.arange(10), n)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    v = centers[labels] + rng.normal(0, 0.6, (n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array([row.astype(np.float32).tolist() for row in v],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---- operation plans ------------------------------------------------------

CALC_KNOWN = ["A", "N", "R"]
CALC_UNKNOWN = ["X"]  # not in the data: the answer is pinned to 0
CALC_BLOCK = 20       # ops per stratum: 18 calcAvg, 2 BlockLocations; every
                      # other stratum turns one calcAvg into a DbToHdfs
CALC_RANK_COUNTS = [8, 4, 2, 2]  # plain calcAvg per stratum by key rank: a
                                 # Zipf(1.2) draw over four keys, rounded

# x20_corpus_funnel runs after x09g_dedup_clusters, whose cluster memo it
# shares: run first in a pass, it alone took 8-18 s building that memo.
CURATION = ["x09b_minhash_lsh", "x09e_ngram_jaccard", "x09g_dedup_clusters",
            "x20_corpus_funnel", "x09f_embedding_dedup", "x10e2_ivf_learned",
            "x11e_tfidf"]
ANALYTIC = ["x15d_sql_q1", "x15_sql_api", "x15f_sql_q5", "x15e_sql_q18"]
FAMILY = {"x09b_minhash_lsh": "dedup", "x09e_ngram_jaccard": "dedup",
          "x09g_dedup_clusters": "dedup", "x09f_embedding_dedup": "similarity",
          "x10e2_ivf_learned": "similarity", "x20_corpus_funnel": "text",
          "x11e_tfidf": "text", "x15d_sql_q1": "sql", "x15_sql_api": "sql",
          "x15f_sql_q5": "sql", "x15e_sql_q18": "sql"}

SETUP_REPS = 3


def calcavg_plan(rng, n_blocks=50):
    """Strata of CALC_BLOCK ops in seeded order. Each stratum asks every
    key, by rank, the counts of CALC_RANK_COUNTS, and invalidates one
    cached partition of a known key, alternately by deletion (forces
    `create`) and by corruption (forces `recreate`). `expect_source` is
    the benchmark's own cache-state model."""
    # the unknown key always ranks second, so every seed's requests cover
    # the same number of rows; the seed orders the known keys
    known = [str(k) for k in rng.permutation(CALC_KNOWN)]
    keys = known[:1] + CALC_UNKNOWN + known[1:]
    cached = set()
    ops = []
    for b in range(n_blocks):
        plain = [keys[r] for r, c in enumerate(CALC_RANK_COUNTS) for _ in range(c)]
        slots = list(rng.permutation(plain + [keys[0]] * (1 - b % 2)
                                     + ["blocks"] * 2 + ["dbtohdfs"] * (b % 2)))
        # the first stratum invalidates last, once a known key is cached
        pos = len(slots) if b == 0 else int(rng.integers(0, len(slots) + 1))
        slots.insert(pos, ["delete", "corrupt"][b % 2])
        for k in slots:
            if k in ("blocks", "dbtohdfs"):
                ops.append({"kind": k})
                continue
            prep = "none"
            key = str(k)
            if k in ("delete", "corrupt"):
                key, prep = str(rng.choice(sorted(cached & set(CALC_KNOWN)))), str(k)
                if k == "delete":
                    cached.discard(key)
            src = {"delete": "create", "corrupt": "recreate"}.get(
                prep, "reuse" if key in cached else "create")
            cached.add(key)
            ops.append({"kind": "calcavg", "key": key, "prep": prep,
                        "expect_source": src})
    return {"ops": ops}


def _h64(key, cust, status, cents):
    d = hashlib.blake2b(f"{key}\t{cust}\t{status}\t{cents}".encode(),
                        digest_size=8).digest()
    return int.from_bytes(d, "little")


def row_hash(rows):
    """Order-independent content hash of (key, cust, status, cents) rows."""
    return sum(_h64(*r) for r in rows) % (1 << 64)


def fmt_cents(c):
    return "0" if c is None else f"{c // 100}.{c % 100:02d}"


def lakehouse_plan(rng, data_dir, n_cycles=4, append_rows=400,
                   updates=100, inserts=50):
    """Seeded cycles over the orders table: append, merge and MOR delete,
    then purgeDv, compactSmall and vacuum. Every cycle has the same shape,
    so runs of any seed hold the same operation mix. Every step carries
    the read the client issues after it and the answers the benchmark's
    model of the table expects."""
    o = pq.read_table(os.path.join(data_dir, "orders.parquet"),
                      columns=["o_orderkey", "o_custkey", "o_orderstatus",
                               "o_totalprice"]).to_pydict()
    live = {k: (c, s, int(round(p * 100))) for k, c, s, p in
            zip(o["o_orderkey"], o["o_custkey"], o["o_orderstatus"], o["o_totalprice"])}
    n_cust = max(o["o_custkey"]) + 1
    h = row_hash((k,) + v for k, v in live.items())
    initial_hash = f"{h:016x}"
    next_key = max(live) + 1
    bdir = os.path.join(data_dir, "batches")
    os.makedirs(bdir, exist_ok=True)
    batch_bytes = {}

    def write_batch(name, keys, custs, status, cents):
        tbl = pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(custs, pa.int64()),
            "o_orderstatus": pa.array(status, pa.string()),
            "o_totalprice": pa.array([c / 100.0 for c in cents], pa.float64())})
        path = os.path.join(bdir, f"{name}.parquet")
        pq.write_table(tbl, path)
        batch_bytes[name] = os.path.getsize(path)

    def upsert(k, row):
        nonlocal h
        if k in live:
            h -= _h64(k, *live[k])
        live[k] = row
        h += _h64(k, *row)

    def read_for():
        span = max(1, next_key // 20)
        lo = int(rng.integers(0, next_key))
        cust = int(rng.integers(0, n_cust))
        inband = [v[2] for k, v in live.items() if lo <= k <= lo + span]
        point = [v[2] for v in live.values() if v[0] == cust]
        return {"lo": lo, "hi": lo + span, "cust": cust,
                "pruned_n": len(inband), "pruned_sum": fmt_cents(sum(inband) if inband else None),
                "point_n": len(point), "point_sum": fmt_cents(sum(point) if point else None),
                "rows": len(live), "hash": f"{h % (1 << 64):016x}"}

    cycles = []
    steps = []

    def step(c, **kw):
        # the read the client issues after this commit, with the answers
        # the model expects at that point
        steps.append(dict(kw, cycle=c, step=len(steps), read=read_for()))
        return steps[-1]

    for c in range(n_cycles):
        first = len(steps)
        # append: fresh keys beyond the table
        keys = list(range(next_key, next_key + append_rows))
        next_key += append_rows
        custs = rng.integers(0, n_cust, append_rows).tolist()
        st = [["F", "O", "P"][i] for i in rng.integers(0, 3, append_rows)]
        cents = rng.integers(100000, 50000000, append_rows).tolist()
        name = f"c{c}_append"
        write_batch(name, keys, custs, st, cents)
        for r in zip(keys, custs, st, cents):
            upsert(r[0], r[1:])
        step(c, kind="append", batch=name, changed=append_rows)
        # merge: reprice existing keys, insert fresh ones
        upd = sorted(int(k) for k in rng.choice(sorted(live), updates, replace=False))
        ins = list(range(next_key, next_key + inserts))
        next_key += inserts
        keys = upd + ins
        custs = [live[k][0] for k in upd] + rng.integers(0, n_cust, inserts).tolist()
        st = [["F", "O", "P"][i] for i in rng.integers(0, 3, len(keys))]
        cents = rng.integers(100000, 50000000, len(keys)).tolist()
        name = f"c{c}_merge"
        write_batch(name, keys, custs, st, cents)
        for r in zip(keys, custs, st, cents):
            upsert(r[0], r[1:])
        step(c, kind="merge", batch=name, changed=len(keys))
        # merge-on-read delete: a residue class inside a key band
        lo = int(rng.integers(0, next_key // 2))
        d = {"lo": lo, "hi": lo + next_key // 5, "mod": 7, "rem": int(rng.integers(0, 7))}
        gone = [k for k in live if d["lo"] <= k <= d["hi"] and k % d["mod"] == d["rem"]]
        for k in gone:
            h -= _h64(k, *live.pop(k))
        step(c, kind="delete_mor", changed=len(gone))["del"] = d
        step(c, kind="purge_dv", changed=0)
        step(c, kind="compact", changed=0)
        step(c, kind="vacuum", changed=0)
        cycles.append({"steps": steps[first:]})
    return {"cycles": cycles, "batch_bytes": batch_bytes, "commit_files": 8,
            "initial_hash": initial_hash}


def batch_plan(n_passes=6):
    """Each pass runs every curation and analytic query once, in a fresh
    session. The order is fixed: which query pays for a memo that several
    share depends on the order, and a seeded order would move cost between
    queries from run to run. The seed decides the corpus."""
    qs = CURATION + ANALYTIC
    return {"passes": [qs] * n_passes, "queries": qs}


def make_inputs(out_dir, workload, seed):
    """Tables plus the operation plan for one run."""
    counts = make_tables(out_dir, workload, seed)
    rng = np.random.default_rng([seed, 11])
    if workload == "rpc_ingest":
        plan = dict(calcavg_plan(rng), **lakehouse_plan(rng, out_dir),
                    rpc_per_step=RPC_PER_STEP)
    else:
        plan = batch_plan()
    plan["workload"] = workload
    plan["unit_s"] = UNIT_S[workload]
    plan["seed"] = seed
    plan["setup_reps"] = SETUP_REPS
    plan["table_rows"] = counts
    return plan
