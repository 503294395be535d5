"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The last test runs the harness JVM twice (about three minutes, plus the
first build).
"""
import filecmp
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import check   # noqa: E402
import gen     # noqa: E402
import layers  # noqa: E402

# The o07 oracle's shape (SparkEntry.oracleSql supplies the real text at
# run time): truncating decimal-exact average for one return flag.
O07 = ("SELECT CAST(FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)"
       " / COUNT(l_extendedprice)) AS BIGINT) AS avg_price"
       " FROM lineitem WHERE l_returnflag = 'R'")
O02 = ("SELECT l_orderkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
       " WHERE l_extendedprice > 30000 AND l_extendedprice < 80000")


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in ["rpc_ingest", "batch_curation"]:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                pa, pb = gen.make_inputs(a, w, 5), gen.make_inputs(b, w, 5)
                self.assertEqual(pa, pb, w)
                cmp = filecmp.dircmp(a, b)
                self.assertEqual(cmp.left_only + cmp.right_only, [], w)
                self.assertEqual(filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)[1:],
                                 ([], []), w)

    def test_different_seed_different_sequence(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            pa = gen.make_inputs(a, "rpc_ingest", 5)
            pb = gen.make_inputs(b, "rpc_ingest", 6)
            self.assertNotEqual(pa["ops"], pb["ops"])
            self.assertNotEqual(pa["cycles"], pb["cycles"])
            self.assertFalse(filecmp.cmp(os.path.join(a, "batches", "c0_merge.parquet"),
                                         os.path.join(b, "batches", "c0_merge.parquet"),
                                         shallow=False))

    def test_plan_model_tracks_cache_state(self):
        with tempfile.TemporaryDirectory() as a:
            plan = gen.make_inputs(a, "rpc_ingest", 5)
        seen = set()
        for o in plan["ops"]:
            if o["kind"] != "calcavg":
                continue
            if o["prep"] == "none":
                self.assertEqual(o["expect_source"],
                                 "reuse" if o["key"] in seen else "create")
            seen.add(o["key"])
        preps = {o.get("prep") for o in plan["ops"]}
        self.assertTrue({"delete", "corrupt"} <= preps)


class Checker(unittest.TestCase):
    def calcavg_ops(self, data_dir, plan):
        con = check.duck(data_dir, os.path.join(data_dir, "tmp"))
        want = {}
        for k in gen.CALC_KNOWN + gen.CALC_UNKNOWN:
            v = con.sql(O07.replace("'R'", f"'{k}'")).fetchone()[0]
            want[k] = 0 if v is None else v
        extract = con.sql(f"SELECT COUNT(*) FROM ({O02})").fetchone()[0]
        con.close()
        sizes = [os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
                 for t in gen.TABLES]
        ops = []
        for i, p in enumerate(plan["ops"][:40]):
            o = {"id": i, "kind": p["kind"], "ms": 100.0 + i}
            if p["kind"] == "calcavg":
                o.update(key=p["key"], avg=want[p["key"]], source=p["expect_source"],
                         bytes_created=1000)
            elif p["kind"] == "blocks":
                o.update(hosts=1, n_blocks=len(sizes), n_bytes=sum(sizes))
            else:
                o.update(sink_rows=extract, sink_bytes=5000)
            ops.append(o)
        # no ingest commit recorded: the table must still hold the orders
        o = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pydict()
        with open(os.path.join(data_dir, "final_rows.tsv"), "w") as f:
            for k, c, st, p in zip(o["o_orderkey"], o["o_custkey"], o["o_orderstatus"],
                                   o["o_totalprice"]):
                f.write(f"{k}\t{c}\t{st}\t{gen.fmt_cents(int(round(p * 100)))}\n")
        run = {"oracle_sql": {"o07_pruned_avg": O07, "o02_etl_extract": O02}}
        return ops, run

    def test_wrong_answer_counts_as_failed(self):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.make_inputs(d, "rpc_ingest", 5)
            ops, run = self.calcavg_ops(d, plan)
            v = check.check("rpc_ingest", plan, ops, dict(run), d, d, d)
            self.assertEqual((v["correct"], v["failed"]), (True, 0), v["failures"])
            ops, run = self.calcavg_ops(d, plan)
            wrong = next(o for o in ops if o["kind"] == "calcavg")
            wrong["avg"] += 1
            blocks = next(o for o in ops if o["kind"] == "blocks")
            blocks["error"] = "java.io.IOException: simulated"
            run.update(session_start_s=1.0, gen_s=[0.1], setup_rep_s=[0.2], window_s=10.0,
                       cpu_s=5.0, mem_retained_mb=100.0, cache_bytes=1,
                       table_bytes=1, fresh_bytes=1)
            v = check.check("rpc_ingest", plan, ops, run, d, d, d)
            self.assertEqual((v["correct"], v["failed"]), (False, 2))
            # the failed ops' time still counts
            e2e = layers.end_to_end("rpc_ingest", plan, ops, run, d)
            self.assertEqual(e2e["ops_per_s"]["value"], len(ops) / 10.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        for n, want in [(11, 50.0), (24, 50.0), (40, 75.0), (99, 75.0), (100, 90.0)]:
            v, pct, _ = layers.tail([float(i) for i in range(1, n + 1)])
            self.assertEqual(pct, want, n)
            self.assertGreaterEqual(sum(x > v for x in range(1, n + 1)), 10 if n >= 20 else 0)


class SameSeedCounts(unittest.TestCase):
    """Two traced runs of one seed execute the same operations with the
    same exact counts."""

    def test_same_seed_same_counts(self):
        import run as bench
        root = os.path.dirname(os.path.dirname(HERE))
        bdir = os.path.join(root, ".bench_build", "perfbench")
        try:
            runtime = bench.build(root, bdir)
        except bench.BenchError as e:
            self.skipTest(str(e))
        out = []
        for _ in range(2):
            t = bench.time.monotonic()
            out.append(bench.one_run(root, runtime, bdir, "rpc_ingest", 3, 1,
                                     True, t))
        a, b = out
        self.assertTrue(a["correct"] and b["correct"])
        self.assertEqual(a["attempted"], b["attempted"])
        for m in ["spark.jobs", "snapshot.files_per_commit"]:
            self.assertEqual(a["per_layer"][m]["value"], b["per_layer"][m]["value"], m)
        # Byte counts repeat only to compression noise: stats manifests and
        # DV sidecars hold data file names, which carry random UUIDs, so
        # their compressed size moves by a few bytes from run to run.
        for x, y in [(a["per_layer"]["snapshot.bytes_per_commit"]["value"],
                      b["per_layer"]["snapshot.bytes_per_commit"]["value"]),
                     (a["e2e"]["write_amp"]["value"], b["e2e"]["write_amp"]["value"])]:
            self.assertLess(abs(x - y), 1e-3 * x)


if __name__ == "__main__":
    unittest.main()
