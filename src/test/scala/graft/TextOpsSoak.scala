package graft

/** Dev-only soak driver (test scope, not product surface): time a set
  * of documents-table queries on an arbitrary fixture dir — used for
  * the 10× vocabulary-rotation scale soaks recorded in BENCH_NOTES.
  *
  *   sbt "Test/runMain graft.TextOpsSoak <documentsDir> [reps]"
  */
object TextOpsSoak {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = graft.util.LocalSession(32)
    val ops: Seq[(String, () => Long)] = Seq(
      "x09a_exact_dedup" ->
        (() => graft.operators.Dedup.exactDedup(spark, dir).count()),
      "x11o_bpe_merges" ->
        (() => graft.operators.TextAnalysis.bpeMerges(spark, dir).count()),
      "x11p_heavy_hitters" ->
        (() => graft.operators.TextAnalysis.heavyHitters(spark, dir).count()),
      "x20_corpus_funnel" ->
        (() => graft.operators.TextAnalysis.corpusFunnel(spark, dir).count()),
      "x09o_span_scrub" ->
        (() => graft.operators.Dedup.spanScrub(spark, dir).count()),
      "x11q_bpe_encode" ->
        (() => graft.operators.TextAnalysis.bpeEncode(spark, dir).count()))
    for (i <- 1 to reps; (name, run) <- ops) {
      val t0 = System.nanoTime()
      val n = run()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[soak] dir=$dir rep=$i $name rows=$n time=$sec%.2f s")
    }
    spark.stop()
  }
}
