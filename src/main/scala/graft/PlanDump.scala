package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Plan dev tool, three modes over one factory session
  * (`SPARK_GRAFT_CPUS` wide, default 8):
  *
  *  - `md [sfDir] [outFile]` generates `PLANS.md`: the physical plans
  *    of the headline queries in `explain("formatted")` form, each
  *    annotated with the scale property the plan must (and does)
  *    exhibit. PlanSpec asserts these properties mechanically; this
  *    artifact makes them REVIEWABLE — a reader can check the
  *    PushedFilters, the exchange count, and the codegen spans without
  *    building the repo.
  *  - `audit [sfDir] [name,name,...]` prints the shuffle/broadcast shape
  *    of every query's physical plan — the at-a-glance check for "did
  *    this operator keep its scale shape" (exchanges that appear
  *    unexpectedly, single-partition stages, joins that fell off
  *    broadcast). Counts only. Plans print BEFORE execution, so under
  *    AQE the codegen stars (`*(n)`) are not yet annotated — codegen=0
  *    means "not finalized", not "interpreted".
  *  - `snap <sfDir> <outDir> <suffix> <q1> <q2> ...` writes each plan
  *    to `<outDir>/<q>_<suffix>.txt` — the committed before/after
  *    record of an optimization round (`plans/rN/`).
  *
  * Usage: `runMain graft.PlanDump md|audit|snap ...`.
  */
object PlanDump {

  // (query name, what to look for in the plan at 100 TB)
  private val picks: Seq[(String, String)] = Seq(
    "o02_etl_extract" ->
      ("The reference's core ETL (scan + range filter + inner equi-join). " +
        "Look for: `PushedFilters` carrying the `l_extendedprice` range " +
        "into the parquet scan, and the small side broadcast — the fact " +
        "table never shuffles."),
    "x02a_broadcast_join" ->
      ("Dimension join. Look for: `BroadcastHashJoin` (a sort-merge here " +
        "would shuffle the fact table for a dim of a few hundred rows)."),
    "x03_topk" ->
      ("Top-k. Look for: `TakeOrderedAndProject` — per-partition heaps + " +
        "a k-row driver merge, never a global sort."),
    "x09b_minhash_lsh" ->
      ("MinHash-LSH near-dup. The build (session-memoized) band-joins " +
        "DISTINCT shingle-set classes — candidates come from a hash " +
        "join on (band, bucket) over one row per distinct set, never an " +
        "all-pairs comparison and never multiplicity² in dup-dense " +
        "buckets; the signatures build in one map-side-combined " +
        "aggregate over the shared tokenize pass. The visible plan is " +
        "the doc-pair recovery: explode-only expansion over the two " +
        "class-level checkpoints (cross pairs with member lists; " +
        "dup-group members at jaccard 1.0) — no join, no shuffle until " +
        "the presentation sort."),
    "x09m_benchmark_decontam" ->
      ("Benchmark decontamination, broadcast side of the size gate. Look " +
        "for: the eval-gram set behind a `BroadcastExchange` probing the " +
        "corpus gram stream in place — the only shuffle is the per-doc " +
        "count aggregate (map-side combined). Past `maxBroadcastGrams` " +
        "the same query pins a keyed shuffle-merge join instead (OOM-" +
        "safe fallback, row-identical by spec)."),
    "x10a_cosine_topk" ->
      ("Brute-force cosine top-k baseline. Look for: the query set " +
        "broadcasts (`BroadcastNestedLoopJoin`); the corpus side streams " +
        "through the fused quantized-dot expression with NO exchange — " +
        "at 100 TB the corpus never moves."),
    "x15f_sql_q5" ->
      ("TPC-H Q5: 6-table snowflake. Look for: nation/region dims " +
        "broadcast, the c_nationkey = s_nationkey correlation riding the " +
        "fact join as a residual (no cartesian), and the o_orderdate " +
        "range pushed to the orders scan."),
    "x15t_sql_q21" ->
      ("TPC-H Q21 shape: double existential self-join. Look for: EXISTS " +
        "→ `LeftSemi` and NOT EXISTS → `LeftAnti` on the fact table — " +
        "Catalyst decorrelates both; nothing re-executes per row."),
    "x21_salted_join" ->
      ("Hot-key (Zipf 80/20) salted join. Look for: `__salt` inside the " +
        "shuffle keys — the 80%-mass key spreads across `nSalts` " +
        "reducers; the dim side explodes by the salt range (bounded ×8) " +
        "instead of one reducer absorbing 80% of the fact table."),
    "x11p_heavy_hitters" ->
      ("Exact heavy hitters. Look for: two passes over the token stream " +
        "— the Misra-Gries sketch aggregate (partial + final) and the " +
        "exact re-count semi-joined to the ≤capacity candidate set via " +
        "broadcast; no full-vocabulary shuffle."),
    "x23_batch_sessions" ->
      ("Batch sessionization. Look for: ONE hash exchange on user_id — " +
        "the lag window, the running session-id sum, and the per-session " +
        "aggregate all reuse it; gap arithmetic stays in whole-stage " +
        "codegen as BIGINT microseconds."),
    "x22b_incr_resample" ->
      ("Incremental grid refresh. Look for: the untouched-user branch " +
        "anti-joins `Scan ExistingRDD` (the checkpointed materialization " +
        "— NO event rescan) while the refresh branch semi-joins the " +
        "touched users; refresh cost scales with the CDC batch's user " +
        "footprint, not the corpus."),
    "x25_bloom_join" ->
      ("Explicit bloom semi-join reduction. Look for: the codegen'd " +
        "`might_contain` predicate filtering the lineitem scan BELOW " +
        "the `SortMergeJoin`, with the sketch arriving as a one-shot " +
        "`Subquery` (scalar subquery over the dim's bloom aggregate) — " +
        "the join shuffle only carries fact rows whose key is probably " +
        "in dim; false positives are re-verified by the join itself."),
    "x10l_knn_join" ->
      ("k-NN graph join. Look for: candidates born from the banded " +
        "bucket SELF-equi-join (hash join on (band, bandkey, sub) — " +
        "never corpus×corpus; the bucket relation is the session-" +
        "memoized checkpoint of fused quantized-dot sign projections " +
        "with HOT buckets iteratively split by reserve sign bits, so " +
        "both join branches scan it instead of replaying projection + " +
        "refinement), the two embedding joins shuffling only the " +
        "candidate relation, and the per-source rank cut running as " +
        "`WindowGroupLimit` (partial + final) so each shuffle side " +
        "keeps at most k rows per source before the full sort."),
    "x09p_containment" ->
      ("Asymmetric containment dedup. The build (session-memoized) " +
        "runs the rare-gram candidate self-join on `gid` over " +
        "identical-gram-set CLASSES with the hot-gram ceiling applied " +
        "below it (broadcast anti-join, class-size-weighted df), the " +
        "pair count aggregating a packed BIGINT key (one shuffle " +
        "column, map-side combined) and the integer τ filter at class " +
        "level. The visible plan is the bounded doc-pair recovery " +
        "(explode over the class-pair checkpoints, ≤8 partners per doc " +
        "per side) under the final top-8 `WindowGroupLimit`."),
    "x09q_incremental_dedup" ->
      ("Incremental dedup against a persisted signature index. Look " +
        "for: documents.parquet appearing ONLY doc_id-pruned (the " +
        "delta verdict-row join — ReadSchema carries no text), the " +
        "delta signatures riding in from the localCheckpoint RDD scan, " +
        "the corpus entering EXCLUSIVELY through the graft_mhidx_* " +
        "parquet scan (128 bytes/doc, not the text), and candidates " +
        "born from the (band, bandkey) equi-join — the daily batch " +
        "never re-shingles the corpus."),
    "x26_domain_curation" ->
      ("Domain-level curation. Look for: ONE partial/final " +
        "HashAggregate pair on the source key (output is O(domains)), " +
        "the integer cross-multiplied gate as plain projections above " +
        "it, and no second scan — keep/drop folds into the same " +
        "aggregate."),
    "x10m_jl_distortion" ->
      ("JL projection-distortion audit. Look for: the 32 sign " +
        "projections as ONE codegen'd projection stage over the scan " +
        "(no join, no shuffle — the signs are plan-time constants), " +
        "the query side behind a BroadcastExchange (corpus never " +
        "shuffles for scoring, the x10a shape), and the only exchange " +
        "feeding the per-query rank window."),
    "of18_rename_column" ->
      ("Reads after a metadata-only column rename. Look for: the " +
        "parquet scans still reading the FROZEN physical column " +
        "(o_totalprice) with the logical alias (o_price) applied as a " +
        "projection above the scan — no data motion anywhere in the " +
        "rename, and the pruned read's file list still a strict subset " +
        "via the physical stats key."),
    "of8_delete_where" ->
      ("Read path after a file-granular DELETE. Look for: the scan's " +
        "file list mixing v=1 (manifest-referenced untouched files) " +
        "and v=2 (rewritten) paths — the delete rewrote only the " +
        "stats-overlapping files; the aggregate above is an ordinary " +
        "grouped read, proof the manifest layer is invisible to the " +
        "planner."),
    "of10_point_lookup" ->
      ("Bloom-index point lookup. Look for: the scan's file index " +
        "holding ONLY the might-contain files (a strict subset of the " +
        "table — the manifest-level bloom skipped the rest before " +
        "planning), with the residual equality in PushedFilters so " +
        "parquet row-group stats prune inside the surviving files too. " +
        "This venue's key (the smallest part key) recurs across most " +
        "files, so skipping is modest here; SnapshotSpec's " +
        "scattered-unique-key venue pins the sharp case — bloom picks " +
        "~1 file of 8 where min/max bounds touch all 8."),
    "x27_pagerank" ->
      ("Iterative PageRank (3 synchronous rounds). Look for: the " +
        "persisted edge relation (InMemoryTableScan) reused by every " +
        "round; each round is ONE hash join (edges ⋈ ranks on src) + " +
        "ONE partial/final aggregate on dst — the relational Pregel " +
        "round. The rank relation is never broadcast (O(nodes) at web " +
        "scale) and nothing collects to the driver; the final top-20 " +
        "is TakeOrderedAndProject, not a global sort. NOTE the " +
        "planning-time Exchange above each InMemoryTableScan below is " +
        "elided at runtime: the cache is built with a pinned " +
        "REPARTITION_BY_NUM on src, so once the cache stage " +
        "materializes, AQE re-validates and the iteration joins " +
        "consume it co-partitioned — PlanSpec pins the final adaptive " +
        "plan mechanically (zero shuffles over the cache scan, " +
        "broadcast disabled)."),
    "x15w_sql_recursive" ->
      ("WITH RECURSIVE BFS reachability (Spark 4.x iterative SQL). " +
        "Look for: the UnionLoop node holding the anchor (seed " +
        "predicate o_custkey % 97 = 0 pushed into the orders scan) " +
        "and the recursive term (UnionLoopRef ⋈ edges, per-step " +
        "DISTINCT as an Aggregate on (node, hop)) — the working table " +
        "is the frontier, bounded by |nodes| per step, never the d^k " +
        "path enumeration. Honest cost note: the edges CTE subtree " +
        "sits INSIDE the loop body, so the bounded depth (4 steps) " +
        "re-derives it per step — the SQL-surface form; the " +
        "materialized-once iterative form of the same graph is x27 " +
        "(Graph.linkedEdges' pinned-partition cache)."),
    "x28_token_budget" ->
      ("Budgeted data selection via histogram threshold. Look for: " +
        "the corpus scanned a bounded number of times with NO " +
        "corpus-wide window anywhere — the only unpartitioned windows " +
        "run over the ≤1001-row score histogram and the O(chunks) " +
        "boundary relation; the full-bucket keep is a BroadcastExchange " +
        "semi-join; the boundary bucket's per-doc rank windows " +
        "partition by 1024-doc chunks. The naive form this replaces is " +
        "one window over the whole corpus order — a single-task sort " +
        "at 100 TB."),
    "x13f_sessionize_append" ->
      ("Append-mode streaming sessionization (r13) — the plan shown is " +
        "the sink RE-READ (the streaming drain already ran); what to " +
        "look for is the SHAPE claim stated by the operator: sessions " +
        "emit once, when the watermark passes their end, so each " +
        "micro-batch's sink write is O(sessions closed by that batch) " +
        "— never the O(corpus) running-result overwrite complete mode " +
        "re-emits (x13b). The finalization cut is exact: sink ≡ batch " +
        "sessions with end_us ≤ (max_us div 1000 − delay_ms) · 1000 " +
        "(Spark's ms-truncated watermark), oracle-checked per run."))

  // Plan-only forms, used in place of the query of the same name: a
  // query whose returned frame is an eager checkpoint (plan = RDD scan)
  // hides its real physical plan, and the staged BUILD relations the
  // queries scan as checkpoints show their shuffle/join shape only
  // un-memoized.
  private val planOnly: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "x15w_sql_recursive" -> ((s, d) =>
        graft.operators.SqlApi.recursiveReachPlanOnly(s, d)),
      "build_ngram_prefix" -> ((s, d) =>
        graft.operators.Dedup.ngramJaccardBuild(s, d,
          strategy = graft.operators.Dedup.PrefixFilter,
          materialize = false)),
      "build_ngram_countjoin" -> ((s, d) =>
        graft.operators.Dedup.ngramJaccardBuild(s, d,
          materialize = false)))

  private def frame(spark: SparkSession, sfDir: String,
                    name: String): DataFrame =
    planOnly.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    require(Set("md", "audit", "snap")(mode),
      "usage: PlanDump md [sfDir] [outFile] | audit [sfDir] [names] | " +
        "snap <sfDir> <outDir> <suffix> <query>...")
    val args = argv.drop(1)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.util.LocalSession(graft.util.LocalSession.envCpus(8))
    mode match {
      case "md"    => markdown(spark, sfDir, args.lift(1).getOrElse("PLANS.md"))
      case "audit" => audit(spark, sfDir, args.lift(1).map(_.split(",").toSet))
      case "snap"  => snap(spark, sfDir, args(1), args(2), args.drop(3).toSeq)
    }
    spark.stop()
  }

  private def markdown(spark: SparkSession, sfDir: String,
                       outFile: String): Unit = {
    val sb = new StringBuilder
    sb ++= s"""# PLANS — physical plans of the headline queries
               |
               |Generated by `runMain graft.PlanDump md $sfDir` (re-run after
               |any operator change; PlanSpec asserts the load-bearing
               |properties mechanically, this file is the human-readable
               |record). Read each plan bottom-up: scans → exchanges →
               |joins/aggregates. The things that matter at 100 TB:
               |
               |- `PushedFilters` / `ReadSchema` on every parquet scan —
               |  filters and pruning reach storage.
               |- Exchange count — every `Exchange` is a cluster-wide
               |  shuffle; the plans below carry only the shuffles their
               |  semantics require.
               |- `BroadcastExchange` on dimension/query/eval-set sides —
               |  the corpus-sized relation never moves for these joins.
               |- `WholeStageCodegen` spans — the hot path stays inside
               |  generated code (custom expressions here implement
               |  `doGenCode`).
               |""".stripMargin
    picks.foreach { case (name, note) =>
      val plan = formatted(frame(spark, sfDir, name))
      sb ++= s"\n## $name\n\n$note\n\n```\n$plan```\n"
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes("UTF-8"))
    println(s"wrote $outFile (${picks.size} plans)")
  }

  private def audit(spark: SparkSession, sfDir: String,
                    only: Option[Set[String]]): Unit = {
    def count(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
      .foreach { name =>
        try {
          val p = frame(spark, sfDir, name).queryExecution.executedPlan.toString
          println(f"$name%-26s shuffle=${count(p, "Exchange hashpartitioning")}%2d " +
            f"single=${count(p, "Exchange SinglePartition")}%2d " +
            f"bcast=${count(p, "BroadcastExchange")}%2d " +
            f"smj=${count(p, "SortMergeJoin")}%2d " +
            f"bhj=${count(p, "BroadcastHashJoin")}%2d " +
            f"codegen=${count(p, "*(")}%2d")
        } catch {
          case e: Throwable =>
            println(f"$name%-26s PLAN FAILED: ${e.getMessage}")
        }
      }
  }

  private def snap(spark: SparkSession, sfDir: String, outDir: String,
                   suffix: String, names: Seq[String]): Unit = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    names.foreach { name =>
      val t0 = System.nanoTime()
      val plan = formatted(frame(spark, sfDir, name))
      val dt = (System.nanoTime() - t0) / 1e9
      Files.write(out.resolve(s"${name}_$suffix.txt"), plan.getBytes("UTF-8"))
      println(f"[plansnap] $name ($dt%.1f s) -> ${name}_$suffix.txt")
    }
  }
}
