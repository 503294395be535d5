package graft

import graft.operators.{Etl, Relational, Similarity}

/** Physical-plan audits: the properties that matter at 100 TB must be
  * visible in the plan, not assumed — broadcast joins stay broadcast,
  * filters reach the parquet scan, top-k never global-sorts, aggregates
  * split partial/final (SURVEY §4).
  */
class PlanSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dimension join is a broadcast hash join") {
    assert(plan(Relational.broadcastJoin(spark, sf))
      .contains("BroadcastHashJoin"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort+limit") {
    assert(plan(Relational.topK(spark, sf)).contains("TakeOrderedAndProject"))
  }

  test("range filter is pushed into the parquet scan") {
    val p = plan(Etl.extract(spark, sf))
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThan(l_extendedprice,30000"),
      s"expected pushed range filter in:\n$p")
  }

  test("pruned avg reads only the aggregated column plus the filter key") {
    val p = plan(Etl.prunedAvg(spark, sf))
    assert(p.contains("EqualTo(l_returnflag,R)"), "equality pushdown missing")
    // ReadSchema must not include unrelated wide columns
    assert(!p.contains("l_shipdate"), s"column pruning failed:\n$p")
  }

  test("grouped aggregate splits into partial and final hash aggregates") {
    val p = plan(Relational.groupedAgg(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("brute-force similarity never shuffles the corpus side") {
    val p = plan(Similarity.cosineTopK(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the score join")
  }

  test("IVF assignment and PQ argmin are pure map jobs") {
    // r13 (BENCH_NOTES decomposition): the crossJoin → max_by(struct)
    // assignment plane planned SortAggregate over the N×k fan-out
    // (23.8 GB spill at sf100 for a 2M-row result). The CellArgmax
    // rewrite must keep the plan JOIN-free, AGGREGATE-free, and
    // EXCHANGE-free — the codebook is plan-embedded, so assignment is
    // scan → project.
    val cells = Similarity.kmeansSums(spark, sf)
    val assign = Similarity.assignToCellsScored(
      spark.read.parquet(s"$sf/embeddings.parquet")
        .select("vec_id", "embedding"), cells)
    val pa = plan(assign)
    assert(pa.contains("graft_cell_argmax"), s"argmax not inlined:\n$pa")
    for (bad <- Seq("Join", "Aggregate", "Exchange"))
      assert(!pa.contains(bad),
        s"assignment must be a map-only plan, found $bad:\n$pa")
    // ...and pqAssign is map-only too: the codeword argmin is the
    // plan-embedded graft_pq_argmin projection (the min_by(struct)
    // form fell to SortAggregate over the broadcast-join fan-out)
    val pq = plan(Similarity.pqAssign(
      Similarity.pqSubVectors(spark, sf),
      Similarity.pqCodebooksBuild(spark, sf)))
    assert(pq.contains("graft_pq_argmin"), s"argmin not inlined:\n$pq")
    for (bad <- Seq("Join", "Aggregate", "Exchange"))
      assert(!pq.contains(bad),
        s"PQ assignment must be a map-only plan, found $bad:\n$pq")
  }

  test("partitionBy layout gives partition-pruned reads") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    spark.read.parquet(s"$sf/lineitem.parquet")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    val df = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("l_returnflag") === "R")
      .groupBy().count()
    val p = plan(df)
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"expected partition pruning in:\n$p")
  }

  test("text-hash pipelines have no single-partition stage") {
    // Round 1 assigned vocabulary/shingle ids with row_number() over a
    // GLOBAL window — a SinglePartition exchange funnelling every
    // distinct token/shingle through one task. The content-hash ids must
    // keep these plans free of any single-partition shuffle (the final
    // presentation orderBy is a range exchange, not SinglePartition).
    import graft.operators.{Dedup, TextAnalysis}
    for (df <- Seq(Dedup.simhash(spark, sf),
                   graft.operators.TextAnalysis.fingerprint(spark, sf),
                   Dedup.minhashLsh(spark, sf),
                   // the un-memoized builds (both strategies): the
                   // memoized query's checkpoint scan has no plan to audit
                   Dedup.ngramJaccardBuild(spark, sf, materialize = false),
                   Dedup.ngramJaccardBuild(spark, sf,
                     strategy = Dedup.PrefixFilter, materialize = false))) {
      val p = plan(df)
      assert(!p.contains("SinglePartition"),
        s"single-partition stage in plan:\n$p")
    }
  }

  test("new pipeline ops keep their scale-shape plans") {
    import graft.operators.{Dedup, TextAnalysis}
    // chunking: pure columnar — the only exchange is the presentation
    // sort (no shuffle does any real work)
    val chunkPlan = plan(TextAnalysis.chunkDocs(spark, sf))
    assert(!chunkPlan.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle:\n$chunkPlan")
    // nearest-centroid: the centroid relation broadcasts; vectors are
    // never on the build side
    val ncPlan = plan(graft.operators.Similarity.nearestCentroid(spark, sf))
    assert(ncPlan.contains("BroadcastExchange"),
      s"centroids should broadcast:\n$ncPlan")
    // stop-gram cut: the hot-gram list joins as a broadcast anti-join
    // (asserted on the un-memoized build — the memoized query plans as
    // a checkpoint scan)
    val njPlan = plan(Dedup.ngramJaccardBuild(spark, sf, materialize = false))
    assert(njPlan.contains("LeftAnti") && njPlan.contains("Broadcast"),
      s"df-ceiling anti-join should broadcast:\n$njPlan")
  }

  test("round-5 ops keep their scale-shape plans") {
    import graft.operators.{Dedup, TextAnalysis}
    // decontamination: the benchmark gram set is the BUILD side of a
    // broadcast join — the corpus-side gram stream must never sort-merge
    val dcPlan = plan(Dedup.benchmarkDecontam(spark, sf))
    assert(dcPlan.contains("BroadcastHashJoin") && !dcPlan.contains("SortMergeJoin"),
      s"benchmark grams should broadcast:\n$dcPlan")
    // past the size gate the probe must drop the broadcast hint and run
    // as a keyed shuffle join (the OOM-proof fallback), never a loop join
    val dcBig = plan(Dedup.benchmarkDecontam(spark, sf, maxBroadcastGrams = 0L))
    assert(!dcBig.contains("BroadcastHashJoin"),
      s"gated decontam must not broadcast the gram set:\n$dcBig")
    assert(dcBig.contains("SortMergeJoin") || dcBig.contains("ShuffledHashJoin"),
      s"gated decontam should fall back to a keyed shuffle join:\n$dcBig")
    // mixture sampling: thresholds broadcast; membership is a per-row
    // filter — the docs relation must not hash-shuffle (the only
    // exchanges are the tiny tier-count aggregate and the output sort)
    val mxPlan = plan(TextAnalysis.mixtureSample(spark, sf))
    assert(mxPlan.contains("BroadcastHashJoin") && !mxPlan.contains("SortMergeJoin"),
      s"mixture thresholds should broadcast:\n$mxPlan")
    // vocab coverage: the global window runs over the vocab relation
    // AFTER the count aggregate collapsed the corpus — assert the
    // single-partition stage consumes an aggregate, not raw tokens
    val vcPlan = plan(TextAnalysis.vocabCoverage(spark, sf))
    assert(vcPlan.contains("Exchange SinglePartition"),
      s"vocab ranking is a deliberate vocab-sized sort:\n$vcPlan")
    assert(vcPlan.contains("HashAggregate"),
      s"corpus must collapse to counts before the window:\n$vcPlan")
  }

  test("repeated spans and LM scoring keep their scale-shape plans") {
    import graft.operators.{Dedup, TextAnalysis}
    // repeated spans: gram extraction is a projection (no self-join of
    // the token stream), every window partitions by the identical-text
    // class key (per-entity, bounded per document) — no global
    // single-partition stage anywhere (un-materialized build: the
    // checkpointed query plans as a checkpoint scan)
    val rsPlan = plan(Dedup.repeatedSpans(spark, sf, materialize = false))
    assert(!rsPlan.contains("SinglePartition"),
      s"single-partition stage in repeated-spans plan:\n$rsPlan")
    assert(rsPlan.contains("hashpartitioning(cid"),
      s"island windows must shard by text class:\n$rsPlan")
    // LM scoring: the vocab size is a one-row broadcast; the count
    // relations join by integer key; no window at all in the plan
    val lmPlan = plan(TextAnalysis.lmScore(spark, sf))
    assert(!lmPlan.contains("Window"),
      s"LM scoring must be join+aggregate only:\n$lmPlan")
    assert(lmPlan.contains("BroadcastNestedLoopJoin") ||
      lmPlan.contains("BroadcastExchange"),
      s"the |V| scalar should broadcast:\n$lmPlan")
    // outlier flagging: group stats broadcast back, membership is a
    // per-row predicate — the events relation must not sort-merge
    val oePlan = plan(graft.operators.Relational.outlierEvents(spark, sf))
    assert(oePlan.contains("BroadcastHashJoin") &&
      !oePlan.contains("SortMergeJoin"),
      s"outlier stats should broadcast:\n$oePlan")
  }

  test("heavy hitters and the corpus funnel keep their scale-shape plans") {
    import graft.operators.TextAnalysis
    // heavy hitters: the MG sketch must aggregate in partial/final
    // object-hash stages (the shuffle carries ≤capacity-entry buffers,
    // never token rows), and the candidate re-count join must broadcast
    // — a sort-merge join would mean the corpus shuffled by token
    val hhPlan = plan(TextAnalysis.heavyHitters(spark, sf))
    assert("ObjectHashAggregate".r.findAllIn(hhPlan).length >= 2,
      s"MG buffer must combine map-side:\n$hhPlan")
    assert(hhPlan.contains("BroadcastHashJoin") &&
      !hhPlan.contains("SortMergeJoin"),
      s"candidate re-count should broadcast:\n$hhPlan")
    // funnel: the cluster relation joins as a broadcast; the only hash
    // exchanges partition by text (exact dedup) and cluster_id (the
    // survivor window) — never a corpus sort-merge join
    val cfPlan = plan(TextAnalysis.corpusFunnel(spark, sf))
    assert(cfPlan.contains("BroadcastHashJoin") &&
      !cfPlan.contains("SortMergeJoin"),
      s"cluster relation should broadcast:\n$cfPlan")
    assert(cfPlan.contains("hashpartitioning(text"),
      s"exact dedup must shard by content:\n$cfPlan")
  }

  test("BPE encode joins the corpus to the vocab state by key") {
    import graft.operators.TextAnalysis
    // the encode state is vocab-sized and joins the token stream by an
    // equi key (broadcast here; a sharded equi-join at scale) — never a
    // nested-loop/cartesian; per-doc reassembly shards by doc_id
    val p = plan(TextAnalysis.bpeEncode(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"encode must join corpus↔vocab by key:\n$p")
    assert(p.contains("hashpartitioning(doc_id") ||
      p.contains("hashpartitioning(doc_id#"),
      s"per-doc reassembly must shard by doc:\n$p")
  }

  test("interval join plans as an equi-join on (user, bucket), not a cross product") {
    val p = plan(Relational.intervalJoin(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must bucket into an equi-join:\n$p")
  }

  test("runtime bloom-filter pruning injects into a selective fact-dim join") {
    // The runtime row-level filter Spark builds from the dim side's join
    // keys — the 100 TB mechanism that stops a selective join from
    // scanning fact rows that can never match. Assert the optimizer
    // injects it when thresholds allow.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // the rule only fires for (probable) shuffle joins — at fixture
      // scale the dim would broadcast, so force the shuffle-join shape
      // the 100 TB plan would actually have
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val fact = spark.read.parquet(s"$sf/lineitem.parquet")
      val dim = spark.read.parquet(s"$sf/part.parquet")
        .filter(col("p_size") === 1) // selective build side
      val joined = fact.join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").count()
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"expected injected runtime bloom filter in:\n$opt")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("top-k-per-group pushes the rank limit below the window sort") {
    // Spark's WindowGroupLimit: a `row_number() <= k` filter above a
    // window must prune to k rows per group BEFORE the full window sort
    // materializes — the difference between sorting k rows per key and
    // sorting the corpus at 100 TB. All three rank-filter queries
    // (windows, tf-idf, similarity top-k) must keep this shape.
    import graft.operators.TextAnalysis
    for (df <- Seq(Relational.windowRank(spark, sf),
                   TextAnalysis.tfidfTop(spark, sf),
                   Similarity.cosineTopK(spark, sf),
                   TextAnalysis.sourceQuota(spark, sf))) {
      val p = plan(df)
      assert(p.contains("WindowGroupLimit"),
        s"rank-limit pushdown missing from plan:\n$p")
    }
  }

  test("whole-stage codegen covers the flagship aggregate") {
    // Under AQE the final (codegen'd) plan exists only after the
    // DataFrame's own queryExecution runs (collect, not count — count
    // builds a separate plan). Codegen stages print as `*(n)` markers.
    val df = Relational.groupedAgg(spark, sf)
    df.collect()
    assert("""\*\(\d+\)""".r.findFirstIn(plan(df)).nonEmpty,
      "no whole-stage-codegen stages in final plan")
  }

  test("TPC-H Q5 joins snowflake dims by broadcast, never a cartesian") {
    val p = plan(graft.operators.SqlApi.tpchQ5(spark, sf))
    assert(!p.contains("Cartesian"),
      s"the c_nationkey=s_nationkey correlation degraded to a cross:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"nation/region dims should broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "order-date range not pushed to the orders scan")
  }

  test("TPC-H Q21 decorrelates EXISTS/NOT EXISTS to semi and anti joins") {
    val p = plan(graft.operators.SqlApi.tpchQ21(spark, sf))
    assert(p.contains("LeftSemi"),
      s"EXISTS should decorrelate to a left-semi join:\n$p")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS should decorrelate to a left-anti join:\n$p")
    assert(!p.contains("Cartesian"), s"existential self-join went cross:\n$p")
  }

  test("TPC-H Q19 extracts the equi-key from under the OR-of-ANDs") {
    val p = plan(graft.operators.SqlApi.tpchQ19(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"disjunctive predicate degraded the join to a cross/NL:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"p_partkey = l_partkey must remain the hash join key:\n$p")
  }

  test("TPC-H Q13 keeps the join-condition filter on the outer join") {
    val p = plan(graft.operators.SqlApi.tpchQ13(spark, sf))
    assert(p.contains("LeftOuter"),
      s"the ON-clause predicate must not convert the outer join to inner:\n$p")
  }

  test("resample + sessionize stay keyed on user_id with bounded exchanges") {
    val pr = plan(Relational.resampleFfill(spark, sf))
    val prExchanges = "Exchange hashpartitioning".r.findAllIn(pr).length
    assert(prExchanges <= 3,
      s"resample should reuse the user_id partitioning, got $prExchanges hash exchanges:\n$pr")
    assert(!pr.contains("Cartesian"), s"grid join went cross:\n$pr")
    val ps = plan(Relational.batchSessions(spark, sf))
    val psExchanges = "Exchange hashpartitioning".r.findAllIn(ps).length
    assert(psExchanges <= 1,
      s"sessionize is one keyed pass, got $psExchanges hash exchanges:\n$ps")
  }

  test("incremental resample serves untouched users from the materialization") {
    val p = plan(Relational.resampleIncremental(spark, sf))
    assert(p.contains("LeftAnti"),
      s"untouched-user rows must anti-join the touched set:\n$p")
    assert(p.contains("LeftSemi"),
      s"the refresh side must semi-join to the touched users:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the historical grid must be served from the checkpoint, not recomputed:\n$p")
    // events is scanned for the CDC batch and the touched users' refresh
    // — the untouched majority NEVER rescans the event log
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 3, s"expected ≤3 event scans (batch + refresh), got $scans:\n$p")
    // same refresh skeleton for the session table
    val ps = plan(Relational.sessionsIncremental(spark, sf))
    assert(ps.contains("LeftAnti") && ps.contains("LeftSemi") &&
      ps.contains("ExistingRDD"),
      s"incremental sessions must serve untouched users from the checkpoint:\n$ps")
  }

  test("salted join shuffles on (key, salt) — the hot key never lands on one reducer") {
    val p = plan(graft.operators.Layout.skewedEventsJoin(spark, sf))
    // The join condition must include the salt column: with it in the
    // equi-join keys, the shuffle hash-partitions on (key, __salt), so
    // the 80%-mass key 0 spreads across nSalts reducers instead of one.
    assert(p.contains("__salt"),
      s"salt column missing from the physical join keys:\n$p")
  }

  test("x25: bloom probe filters the fact side below a sort-merge join") {
    val p = plan(graft.operators.Layout.bloomPrunedJoin(spark, sf))
    // the codegen'd probe predicate guards the fact scan...
    assert(p.contains("might_contain"),
      s"bloom probe missing from the physical plan:\n$p")
    // ...the sketch arrives as a one-shot scalar subquery (the
    // InjectRuntimeFilter shape), not a per-row join input...
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"bloom sketch is not a scalar subquery:\n$p")
    // ...and the MERGE hint keeps the join on the sort-merge path the
    // reduction exists for
    assert(p.contains("SortMergeJoin"),
      s"expected a sort-merge join:\n$p")
  }

  test("incremental IVF: the delta pass scans only the CDC batch, pushed to parquet") {
    val t = Similarity.newVecThreshold(spark, sf)
    val cb = Similarity.kmeansSums(spark, sf, idBound = t)
    val delta = graft.sources.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") >= t)
    val p = plan(Similarity.assignToCells(delta, cb))
    assert(p.contains(s"GreaterThanOrEqual(vec_id,$t"),
      s"delta range predicate not pushed to the embeddings scan:\n$p")
    // and the codebook TRAINING scan is bounded to the historical side
    val ptrain = plan(graft.sources.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") < t))
    assert(ptrain.contains(s"LessThan(vec_id,$t"),
      s"historical bound not pushed to the training scan:\n$ptrain")
  }

  test("pageRank: edges persist across rounds, top-20 never global-sorts") {
    val p = plan(graft.operators.Graph.pageRank(spark, sf))
    assert(p.contains("InMemoryTableScan"),
      s"the per-round edge relation should read from cache:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-20 should be a distributed partial top-k:\n$p")
  }

  test("token budget: no corpus-wide window — histogram and chunked ranks only") {
    val p = plan(graft.operators.Curation.tokenBudgetSelect(spark, sf))
    // the per-doc rank window partitions by 1024-doc chunk, and the
    // full-bucket keep arrives as a broadcast semi-join — the naive
    // corpus-order window (windowspec over score desc with no
    // partition on a corpus relation) must not appear over doc rows
    assert(p.contains("windowspecdefinition(chunk#") ||
      p.contains("windowspecdefinition(chunk"),
      s"boundary-bucket rank should partition by chunk:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"full-bucket keep should broadcast the tiny score set:\n$p")
  }

  test("pageRank at scale: iteration joins reuse the cached edge partitioning") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, ProjectExec, SortExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

    // broadcast off in a child session (isolated conf, shared context):
    // at 100 TB the edge relation can never broadcast, so this is the
    // representative shape — each iteration must be a shuffle join that
    // consumes the cached HashPartitioning(src) WITHOUT re-exchanging
    // the corpus-sized side. The invariant pinned here is the FINAL
    // adaptive plan's shape; Graph.linkedEdges makes it deterministic
    // by pinning the repartition count (a bare repartition(col) leaves
    // reuse to runtime re-validation against an AQE-chosen count).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val df = graft.operators.Graph.pageRank(s2, sf)
    df.collect() // materialize so AQE finalizes every stage

    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case o                        => o.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    def isCacheScan(p: SparkPlan): Boolean =
      p.nodeName.startsWith("InMemoryTableScan")
    // true iff a cache scan is reachable through pass-through nodes only
    // (no join/aggregate doing real work in between)
    def cacheBelow(p: SparkPlan): Boolean = p match {
      case p if isCacheScan(p)      => true
      case q: QueryStageExec        => cacheBelow(q.plan)
      case _: ProjectExec | _: FilterExec | _: SortExec |
           _: WholeStageCodegenExec | _: InputAdapter |
           _: ColumnarToRowExec     => p.children.exists(cacheBelow)
      case _                        => false
    }
    val root = df.queryExecution.executedPlan
    val offenders = nodes(root).collect {
      case e: ShuffleExchangeLike if cacheBelow(e.child) => e
    }
    assert(offenders.isEmpty,
      s"cached edge relation re-shuffled by:\n${offenders.mkString("\n")}")
    val reused = nodes(root).exists {
      case j: SortMergeJoinExec    => cacheBelow(j.left) || cacheBelow(j.right)
      case j: ShuffledHashJoinExec => cacheBelow(j.left) || cacheBelow(j.right)
      case _                       => false
    }
    assert(reused,
      "no iteration join consumes the cached edges co-partitioned:\n" +
        root.toString)
  }

  test("corpus shuffle: rank windows partition by (shard, bucket)") {
    val p = plan(graft.operators.Curation.corpusShuffle(spark, sf))
    assert(p.contains("windowspecdefinition(shard"),
      s"positions must be assigned per (shard, bucket) window:\n$p")
  }

  test("int8 export is a pure map job: no hash shuffle before the sort") {
    val p = plan(Similarity.int8Export(spark, sf))
    assert(!p.contains("hashpartitioning"),
      s"per-vector quantization must not shuffle:\n$p")
  }

  test("x09f: the bucket self-join is a sort-merge join on (band, bandkey, sub) carrying the embeddings") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val root = SparkEntry.queries("x09f_embedding_dedup")(spark, sf)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other                    => other
      }
    val p = root.toString
    assert(!p.contains("ShuffledHashJoin"), s"no shuffled hash join:\n$p")
    val bucketJoins = root.collect {
      case j: SortMergeJoinExec
          if j.leftKeys.map(_.references.head.name) == Seq("band", "bandkey", "sub") => j
    }
    assert(bucketJoins.size == 1, s"one bucket self-join expected:\n$p")
    val j = bucketJoins.head
    assert(j.rightKeys.map(_.references.head.name) == Seq("band", "bandkey", "sub"), p)
    assert(Seq(j.left, j.right).forall(_.output.exists(_.name == "embedding")),
      s"both join inputs must already carry the embedding:\n$p")
  }
}
