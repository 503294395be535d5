"""Metric computation: end-to-end metrics from op timings and run totals,
per-layer metrics from the traced run's spans, op records and walks."""
import os
import statistics

import gen

MB = 1024.0 * 1024.0
COMMITS = ["append", "merge", "delete_mor", "purge_dv", "compact", "vacuum"]
READS = ["read_pruned", "read_point", "row_count"]


def _m(value, unit, detail=None):
    d = {"value": float(value), "unit": unit}
    if detail:
        d["detail"] = detail
    return d


def _median(xs):
    return statistics.median(xs) if xs else 0.0


TAIL_LADDER = [99.9, 99.0, 95.0, 90.0, 75.0, 50.0]


def tail(ms):
    """The highest percentile of TAIL_LADDER with at least ten samples
    beyond it, so runs whose op counts differ a little report the same
    percentile. Below 20 samples no step qualifies and the median stands
    in. Returns (value, percentile, n)."""
    xs = sorted(ms)
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return statistics.quantiles(xs, n=1000, method="inclusive")[int(p * 10) - 1], p, n
    return statistics.median(xs), 50.0, n


def _size(data_dir, table):
    return os.path.getsize(os.path.join(data_dir, f"{table}.parquet"))


def operations(workload, ops):
    """The operations a user of the workload waits for, as (ms, ok): each
    call on rpc_ingest; each pass, a batch job over the corpus, on
    batch_curation (its queries' latencies are the per-layer family sums)."""
    if workload != "batch_curation":
        return [(o["ms"], o.get("ok", True)) for o in ops]
    passes = {}
    for o in ops:
        ms, ok = passes.get(o["pass"], (0.0, True))
        passes[o["pass"]] = (ms + o["ms"], ok and o.get("ok", True))
    return [passes[p] for p in sorted(passes)]


def end_to_end(workload, plan, ops, run, data_dir):
    ms = [m for m, _ in operations(workload, ops)]
    n = len(ms)
    window = run["window_s"]
    t, pct, _ = tail(ms)
    if workload == "rpc_ingest":
        vols = [_calcavg_volume(plan, ops, run, data_dir), _lakehouse_volume(plan, ops, run)]
    else:
        vols = [_batch_volume(plan, ops, run, data_dir)]
    rows, created, user, stored, stored_ref = (sum(v) for v in zip(*vols))
    setup = (run["session_start_s"] + statistics.median(run["gen_s"])
             + statistics.median(run["setup_rep_s"]))
    return {
        "setup_s": _m(setup, "s", f"session {run['session_start_s']:.2f}s + median of "
                      f"{len(run['gen_s'])} input generations and set-ups"),
        "op_p50_ms": _m(statistics.median(ms), "ms", f"{n} ops"),
        "op_tail_ms": _m(t, "ms", f"p{pct:g} of {n} ops" if n >= 20
                         else f"{n} ops: no percentile has 10 samples beyond it; median"),
        "ops_per_s": _m(n / window, "1/s"),
        "rows_per_s": _m(rows / window, "rows/s"),
        "cpu_s_per_op": _m(run["cpu_s"] / n, "s"),
        "write_amp": _m(created / user, "ratio"),
        "space_amp": _m(stored / stored_ref, "ratio"),
        "mem_retained_mb": _m(run["mem_retained_mb"], "MB"),
    }


def _calcavg_volume(plan, ops, run, data_dir):
    """Rows covered: the key's rows per CalcAvgLoan answer plus the rows
    DbToHdfs extracted. Written: bytes the cache and the sink created,
    against the source-equivalent bytes (lineitem bytes per row) of the
    rows they hold; keys with no rows are left out. Stored: cache bytes at
    the end, against the source-equivalent bytes of the cached keys.
    Returns (rows, created, user bytes, stored, stored reference)."""
    bpr = _size(data_dir, "lineitem") / plan["table_rows"]["lineitem"]
    key_rows = run["key_rows"]
    rows = wrote = equiv = 0
    cached = set()
    for o in ops:
        if o["kind"] == "calcavg":
            r = key_rows.get(o["key"], 0)
            rows += r
            cached.add(o["key"])
            if o.get("source") in ("create", "recreate") and r:
                wrote += o["bytes_created"]
                equiv += r * bpr
        elif o["kind"] == "dbtohdfs" and "sink_rows" in o:
            rows += o["sink_rows"]
            wrote += o["sink_bytes"]
            equiv += o["sink_rows"] * bpr
    cached_equiv = sum(key_rows.get(k, 0) for k in cached) * bpr
    return rows, wrote, equiv, run["cache_bytes"], cached_equiv


def _lakehouse_volume(plan, ops, run):
    """Change rows committed; bytes of files the commits created against
    the bytes of the user batches (each batch as one parquet file); live
    table bytes against a fresh single commit of the same content."""
    steps = [s for c in plan["cycles"] for s in c["steps"]]
    rows = created = user = 0
    for o in ops:
        if "step" in o:
            s = steps[o["step"]]
            rows += s["changed"]
            created += o.get("bytes_created", 0)
            user += plan["batch_bytes"].get(s.get("batch", ""), 0)
    return rows, created, user, run["table_bytes"], run["fresh_bytes"]


def _batch_volume(plan, ops, run, data_dir):
    """Documents processed (documents plus embeddings, once per pass);
    bytes the passes' staged indexes and scratch created against the
    corpus bytes per pass; corpus plus retained pass storage against the
    corpus."""
    passes = run["passes"]
    corpus = _size(data_dir, "documents") + _size(data_dir, "embeddings")
    docs = plan["table_rows"]["documents"] + plan["table_rows"]["embeddings"]
    created = sum(o.get("bytes_created", 0) for o in ops)
    stored = _median([run[f"pass{p}_stored_bytes"] for p in range(passes)])
    return docs * passes, created, corpus * max(passes, 1), corpus + stored, corpus


def per_layer(workload, plan, ops, run, spans):
    """Per-layer metrics of one traced run. Time and volume layers are
    means per operation; op-kind latencies are medians of that kind."""
    op_spans = {s["op"]: s for s in spans if s["parent"] is None}
    n = len(ops)

    def mean_span(field, scale=1.0):
        return sum(op_spans.get(o["id"], {}).get(field, 0) for o in ops) / n / scale

    def kind_ms(kind, **match):
        return _median([o["ms"] for o in ops if o["kind"] == kind
                        and all(o.get(k) == v for k, v in match.items())])

    m = {
        "catalyst.plan_ms": _m(mean_span("plan_ms"), "ms"),
        "catalyst.queries": _m(mean_span("queries"), "count"),
        "driver.offjob_ms": _m(mean_span("offjob_ms"), "ms"),
        "spark.jobs": _m(mean_span("jobs"), "count"),
        "spark.task_cpu_ms": _m(mean_span("task_cpu_ms"), "ms"),
        "spark.tasks": _m(mean_span("tasks"), "count"),
        "spark.shuffle_write_mb": _m(mean_span("shuffle_write_bytes", MB), "MB"),
        "spark.shuffle_read_mb": _m(mean_span("shuffle_read_bytes", MB), "MB"),
        "spark.shuffle_fetch_wait_ms": _m(mean_span("shuffle_fetch_wait_ms"), "ms"),
        "spark.spill_mb": _m(mean_span("spill_bytes", MB), "MB"),
        "spark.task_wait_ms": _m(mean_span("task_wait_ms"), "ms"),
        "jvm.gc_ms": _m(sum(o.get("gc_ms", 0) for o in ops) / n, "ms"),
        "spark.input_mb": _m(mean_span("input_bytes", MB), "MB"),
        "spark.output_mb": _m(mean_span("output_bytes", MB), "MB"),
        "spark.failed_tasks": _m(sum(s.get("failed_tasks", 0) for s in op_spans.values()),
                                 "count"),
    }
    calc = [o for o in ops if o["kind"] == "calcavg"]
    m["partition_cache.create_ms"] = _m(kind_ms("calcavg", source="create"), "ms")
    m["partition_cache.reuse_ms"] = _m(kind_ms("calcavg", source="reuse"), "ms")
    m["partition_cache.recreate_ms"] = _m(kind_ms("calcavg", source="recreate"), "ms")
    m["partition_cache.reuse_ratio"] = _m(
        sum(o.get("source") == "reuse" for o in calc) / len(calc) if calc else 0, "ratio")
    m["sources.block_locations_ms"] = _m(kind_ms("blocks"), "ms")
    m["etl.db_to_hdfs_ms"] = _m(kind_ms("dbtohdfs"), "ms")
    commits = [o for o in ops if o["kind"] in COMMITS]
    m["snapshot.files_per_commit"] = _m(
        _mean([o.get("files_created", 0) for o in commits]), "count")
    m["snapshot.bytes_per_commit"] = _m(
        _mean([o.get("bytes_created", 0) for o in commits]), "bytes")
    m["snapshot.live_files"] = _m(run.get("live_files", 0), "count")
    m["snapshot.dir_bytes"] = _m(run.get("table_bytes", 0), "bytes")
    for kind in COMMITS + READS:
        m[f"snapshot.{kind}_ms"] = _m(kind_ms(kind), "ms")
    pr = [o["files_read"] / o["live_files"] for o in ops
          if o["kind"] == "read_pruned" and o.get("live_files")]
    m["snapshot.prune_read_ratio"] = _m(_mean(pr), "ratio")
    m["snapshot.claim_retries"] = _m(_claim_retries(commits), "count")
    m["memo.build_ms"] = _m(sum(o["memo_build_ms"] for o in ops) / n, "ms")
    m["memo.builds"] = _m(sum(o["memo_builds"] for o in ops) / n, "count")
    passes = max(1, run.get("passes", 0))
    for fam in ("dedup", "similarity", "text", "sql"):
        m[f"{fam}.ms"] = _m(sum(o["ms"] for o in ops if o["kind"] == "query"
                                and gen.FAMILY[o["query"]] == fam) / passes
                            if workload == "batch_curation" else 0, "ms")
    return m


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _claim_retries(commits):
    """Version claims a commit created beyond the versions it advanced
    (a lost claim race is retried under a new claim)."""
    retries, prev = 0, 1  # the initial commit is version 1
    for o in commits:
        if "version" not in o:  # vacuum makes no version
            continue
        retries += max(0, o.get("claims_created", 0) - (o["version"] - prev))
        prev = o["version"]
    return retries


def per_pass(workload, ops):
    """One line per batch_curation pass: its wall, memo builds and family
    sums (memo.build_ms must be nonzero on every pass: the pass is cold)."""
    if workload != "batch_curation":
        return []
    lines = []
    for p in sorted({o["pass"] for o in ops}):
        po = [o for o in ops if o["pass"] == p]
        fam = {f: sum(o["ms"] for o in po if gen.FAMILY[o["query"]] == f)
               for f in ("dedup", "similarity", "text", "sql")}
        lines.append(f"pass {p}: wall {sum(o['ms'] for o in po):.0f} ms, "
                     f"memo.build_ms {sum(o['memo_build_ms'] for o in po):.0f}, "
                     f"memo.builds {sum(o['memo_builds'] for o in po)}, "
                     + ", ".join(f"{f}.ms {v:.0f}" for f, v in fam.items()))
    return lines
