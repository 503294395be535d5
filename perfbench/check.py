"""Output checks: every operation's answer against the benchmark's own
model or a DuckDB oracle. A wrong answer or an exception marks the op
failed (`op["ok"] = False`); its time still counts in every metric. On
batch_curation an operation is a pass: it fails when any query in it
does."""
import hashlib
import json
import math
import os

import duckdb
import pyarrow.dataset as ds

import gen
import layers

LOCAL_BLOCK = 32 * 1024 * 1024  # Hadoop local file system block size
RPC_KINDS = {"calcavg", "blocks", "dbtohdfs"}


def duck(data_dir, tmp):
    con = duckdb.connect()
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def canon_rows(tbl):
    """Columns sorted by name, rows in result order, values canonical —
    the comparison tools/check_oracle.py makes."""
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, [tuple(canon(x) for x in row) for row in zip(*data)]


def check(workload, plan, ops, run, data_dir, out_dir, bdir):
    res = {"failures": [], "notes": []}
    con = duck(data_dir, os.path.join(out_dir, "duck_tmp"))
    try:
        checks = [_calcavg, _lakehouse] if workload == "rpc_ingest" else [_batch]
        for c in checks:
            c(plan, ops, run, data_dir, out_dir, bdir, con, res)
    finally:
        con.close()
    for o in ops:
        if "error" in o:
            o["ok"] = False
        o.setdefault("ok", True)
        if not o["ok"]:
            res["failures"].append(f"op {o['id']} {o['kind']}: "
                                   + o.get("error", o.get("why", "wrong answer")))
    units = layers.operations(workload, ops)
    res["attempted"] = len(units)
    res["failed"] = sum(not ok for _, ok in units) + res.pop("run_failed", 0)
    res["correct"] = res["failed"] == 0
    return res


def _calcavg(plan, ops, run, data_dir, out_dir, bdir, con, res):
    o07 = run["oracle_sql"]["o07_pruned_avg"]
    if "'R'" not in o07:
        raise ValueError("o07 oracle no longer filters on 'R'")
    keys = gen.CALC_KNOWN + gen.CALC_UNKNOWN
    want = {}
    for k in keys:
        v = con.sql(o07.replace("'R'", f"'{k}'")).fetchone()[0]
        want[k] = 0 if v is None else int(v)  # empty key: answer pinned to 0
    run["key_rows"] = dict(con.sql(
        "SELECT l_returnflag, COUNT(*) FROM lineitem GROUP BY 1").fetchall())
    run["extract_rows"] = con.sql(
        f"SELECT COUNT(*) FROM ({run['oracle_sql']['o02_etl_extract']})").fetchone()[0]
    sizes = [os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in gen.TABLES]
    blocks = sum(max(1, math.ceil(s / LOCAL_BLOCK)) for s in sizes)
    for o, p in zip([o for o in ops if o["kind"] in RPC_KINDS], plan["ops"]):
        if "error" in o:
            continue
        if o["kind"] != p["kind"]:
            o["ok"], o["why"] = False, f"op order: {o['kind']} vs plan {p['kind']}"
        elif o["kind"] == "calcavg":
            if o["avg"] != want[p["key"]] or o["source"] != p["expect_source"]:
                o["ok"] = False
                o["why"] = (f"key {p['key']}: ({o['avg']}, {o['source']}) != "
                            f"({want[p['key']]}, {p['expect_source']})")
        elif o["kind"] == "blocks":
            if (o["hosts"], o["n_blocks"], o["n_bytes"]) != (1, blocks, sum(sizes)):
                o["ok"] = False
                o["why"] = f"blocks {o['n_blocks']}/{o['n_bytes']} != {blocks}/{sum(sizes)}"
        elif o["kind"] == "dbtohdfs":
            if o["sink_rows"] != run["extract_rows"]:
                o["ok"] = False
                o["why"] = f"sink footer rows {o['sink_rows']} != {run['extract_rows']}"


def _lakehouse(plan, ops, run, data_dir, out_dir, bdir, con, res):
    steps = [s for c in plan["cycles"] for s in c["steps"]]
    step = None
    for o in ops:
        if o["kind"] in RPC_KINDS:
            continue
        if "step" in o:
            step = steps[o["step"]]
            if o["kind"] != step["kind"]:
                o["ok"], o["why"] = False, f"step order: {o['kind']} vs {step['kind']}"
            continue
        if "error" in o or step is None:
            continue
        r = step["read"]
        got = {"read_pruned": (o.get("n"), o.get("sum")),
               "read_point": (o.get("n"), o.get("sum")),
               "row_count": (o.get("n"),)}[o["kind"]]
        exp = {"read_pruned": (r["pruned_n"], r["pruned_sum"]),
               "read_point": (r["point_n"], r["point_sum"]),
               "row_count": (r["rows"],)}[o["kind"]]
        if got != exp:
            o["ok"], o["why"] = False, f"step {step['step']}: {got} != model {exp}"
    # order-independent content hash of the final table vs the model
    rows = []
    with open(os.path.join(out_dir, "final_rows.tsv")) as f:
        for line in f:
            if line.strip():
                k, c, s, p = line.rstrip("\n").split("\t")
                whole, frac = p.split(".")
                rows.append((int(k), int(c), s, int(whole) * 100 + int(frac)))
    got = f"{gen.row_hash(rows):016x}"
    want = step["read"]["hash"] if step else plan["initial_hash"]
    if got != want:
        res["run_failed"] = 1
        res["failures"].append(f"final content hash {got} != model {want}")
    else:
        res["notes"].append(f"final content hash matches the model ({len(rows)} rows)")


# DuckDB runs out of memory on the funnel's oracle SQL at this corpus size
# (and out of temp disk at sf0.1) after several seconds.
NO_ORACLE = {"x20_corpus_funnel"}


def _batch(plan, ops, run, data_dir, out_dir, bdir, con, res):
    want = {}
    for q, sql in run["oracle_sql"].items():
        if q in NO_ORACLE or not sql:
            want[q] = None
            res["notes"].append(f"{q}: no DuckDB oracle; checking that its result "
                                "is identical across passes and runs")
            continue
        try:
            want[q] = canon_rows(con.sql(sql).arrow())
        except Exception as e:  # oracle-side failure: fall back below
            want[q] = None
            res["notes"].append(f"{q}: DuckDB oracle failed ({str(e)[:80]}); "
                                "checking pass-to-pass and run-to-run identity")
    # reference hashes are kept per corpus, so a changed generator or
    # seed starts a new reference
    corpus = hashlib.sha256()
    for t in ("documents", "embeddings"):
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            corpus.update(f.read())
    store = os.path.join(bdir, "results", "batch_hashes.json")
    try:
        with open(store) as f:
            known = json.load(f)
    except (OSError, ValueError):
        known = {}
    seen = {}
    for o in ops:
        if "error" in o:
            continue
        path = os.path.join(out_dir, "results", f"p{o['pass']}", o["query"])
        got = canon_rows(ds.dataset(path).to_table())
        digest = hashlib.sha256(json.dumps(got).encode()).hexdigest()
        if want.get(o["query"]) is not None:
            if got != want[o["query"]]:
                o["ok"], o["why"] = False, "result differs from the DuckDB oracle"
            continue
        ref_key = f"{corpus.hexdigest()[:16]}:{o['query']}"
        first = seen.setdefault(o["query"], digest)
        if digest != first or known.get(ref_key, digest) != digest:
            o["ok"], o["why"] = False, "result hash differs across passes or runs"
        known[ref_key] = digest
    os.makedirs(os.path.dirname(store), exist_ok=True)
    with open(store, "w") as f:
        json.dump(known, f)
