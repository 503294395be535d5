package graft

/** Dev-only soak driver (test scope, not product surface): time
  * [[graft.operators.Similarity.semanticDedup]] on an embeddings dir at
  * a given codebook size — the 10× scale soak varies BOTH corpus size
  * and k to demonstrate the "k grows with the corpus, bounding cell
  * size" scaling contract recorded in BENCH_NOTES.
  *
  *   sbt "Test/runMain graft.SemDedupSoak <embeddingsDir> <k> [reps]"
  */
object SemDedupSoak {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = args(1).toInt
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.util.LocalSession(32)
    // rep 1 is cold (trains the codebook); later reps read the session
    // memo, so the delta isolates training from scan+pair cost
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val out = graft.operators.Similarity
        .semanticDedup(spark, dir, k = k).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val kept = out.count(_.getInt(2) == 1)
      println(f"[soak] dir=$dir k=$k rep=$i n=${out.length} kept=$kept time=$sec%.2f s")
    }
    spark.stop()
  }
}
