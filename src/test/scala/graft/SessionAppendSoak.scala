package graft

import org.apache.spark.sql.functions._

/** Dev-only soak (test scope): the x13f append-mode sessionizer's
  * CONTINUOUS-RUN economics — the number complete-mode x13b cannot
  * have. Stage the corpus as a growing source dir: run 1 drains the
  * historical 99% (by event time) and emits every session the
  * watermark closes; then the newest 1% lands as new files and run 2
  * RESUMES from the checkpoint (offset log + session state), emitting
  * ONLY the sessions the arrivals + advanced watermark close. Run 2's
  * wall is the per-refresh cost a production tail pays — it must track
  * the BATCH and the closed-session delta, not the corpus (complete
  * mode re-emits all ~9.5M/95M sessions per refresh by contract).
  *
  * Exactly-once across the restart is asserted, not assumed: the sink
  * after run 2 must hold the SAME session set (count + Σn_events +
  * user-hash) as a single-shot x13f over the full corpus.
  *
  *   tools/runmain.sh graft.SessionAppendSoak [sfDir]
  */
object SessionAppendSoak {
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
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_sessapp_").toString
    val srcDir = s"$scratch/src"
    val out = s"$scratch/sink"
    val ckpt = s"$scratch/ckpt"
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "ts", "value")
    // arrivals = the newest 1% of event TIME (the x23c clustered-tail
    // shape, but cut on ts — watermark semantics are time-based)
    val Seq(minUs, maxUs) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head.toSeq.map(_.asInstanceOf[Long])
    val cutUs = minUs + ((maxUs - minUs) * 99L) / 100L
    ev.filter(unix_micros(col("ts")) < cutUs)
      .write.parquet(s"$srcDir/events.parquet")
    val p0 = probe()
    val t1 = sec {
      val n = graft.streaming.Streaming
        .sessionizeAppendRun(spark, srcDir, out, ckpt).count()
      println(s"[sessapp] run1 (historical 99%) closed sessions: $n")
    }
    val p1 = probe()
    // the 1% tail lands as NEW FILES (the restart contract's shape)
    ev.filter(unix_micros(col("ts")) >= cutUs)
      .write.mode("append").parquet(s"$srcDir/events.parquet")
    val before = spark.read.parquet(out).count()
    val t2 = sec {
      val n = graft.streaming.Streaming
        .sessionizeAppendRun(spark, srcDir, out, ckpt).count()
      println(s"[sessapp] run2 (resumed +1% tail) total closed: $n " +
        s"(emitted ${n - before} new)")
    }
    val p2 = probe()
    // exactly-once across the restart: the two-run sink must equal a
    // single-shot x13f over the full corpus (count + Σn_events +
    // user-sum — order-free exact digests)
    // DECIMAL(38,0) digest: sf100 replica user_ids sit near 1e12 and
    // their weighted sum over ~95M sessions passes 2^63 (the
    // documented ScaleFixtures ANSI-overflow gotcha)
    def digest(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)), sum("n_events"),
        sum(col("user_id").cast("decimal(38,0)") * col("n_events")))
      .head.toSeq
    val resumed = digest(spark.read.parquet(out))
    val oneShot = digest(
      graft.streaming.Streaming.sessionizeAppend(spark, srcDir))
    require(resumed == oneShot,
      s"resumed sink diverges from single-shot x13f: $resumed vs $oneShot")
    println(f"[sessapp] sfDir=$sfDir run1=$t1%.2f s run2_refresh=$t2%.2f s " +
      f"probes=$p0%.2f/$p1%.2f/$p2%.2f exactly-once digest OK")
    spark.stop()
  }
}
