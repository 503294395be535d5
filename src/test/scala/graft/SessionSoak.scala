package graft

/** Dev-only soak (test scope): decompose x23b's incremental
  * sessionization into its one-time BASE BUILD and its steady-state
  * REFRESH — the README design table's missing number. The first call
  * is solo-cold (builds + checkpoints the materialized session base,
  * then refreshes); the second call serves the base from the session
  * memo, so its wall IS the steady-state refresh cost. The memo build
  * ledger cross-checks the split.
  *
  *   tools/runmain.sh graft.SessionSoak [sfDir]
  */
object SessionSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/sf10")
    val spark = graft.util.LocalSession(graft.util.LocalSession.envCpus(32))
    spark.range(1000).selectExpr("sum(id)").collect()
    def probe(): Double = {
      val t0 = System.nanoTime()
      Bench.probeFrame(spark).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def sec[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val q = SparkEntry.queries("x23b_incr_sessions")
    val p0 = probe()
    val cold = sec(q(spark, sfDir).count())
    val builds = graft.util.SessionMemo.drainBuildLog()
      .filter(_._2 >= 0.05)
      .map { case (k, s) => f"${k.split('|').head}=$s%.1f" }.mkString(" ")
    val p1 = probe()
    val steady = sec(q(spark, sfDir).count())
    val p2 = probe()
    println(f"[sessoak] sfDir=$sfDir cold=$cold%.2f s steady=$steady%.2f s " +
      f"memo_builds: $builds probes=$p0%.2f/$p1%.2f/$p2%.2f")
    spark.stop()
  }
}
