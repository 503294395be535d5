package graft

import org.apache.spark.sql.functions._

import graft.streaming.Streaming

/** Scale soak for the stateful restart contract: run the file-sink
  * dedup at millions of keys, stop it at a batch boundary (a process
  * death), land an overlapping batch, restart against the same
  * checkpoint, and ASSERT exactly-once output across incarnations
  * while measuring what a restart actually costs at state scale —
  * run 2 pays the RocksDB state reload (every store re-opens from the
  * checkpointed SST files) plus only the NEW files' processing, never
  * a reprocess of run 1's input. That asymmetry (run2 ≪ run1 despite
  * carrying all of run 1's state) is the property that makes
  * checkpointed streaming deploys viable at 100 TB.
  *
  * Usage: Test/runMain graft.RestartSoak <keysPerRunMillions>
  */
object RestartSoak {
  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toDouble else 1.0
    val keys = (m * 1e6).toLong
    val spark = graft.util.LocalSession(32)

    val srcRoot = java.nio.file.Files.createTempDirectory("graft_rsk_").toString
    val out = java.nio.file.Files.createTempDirectory("graft_rsk_o_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rsk_c_").toString
    val evDir = s"$srcRoot/events.parquet"

    def mk(lo: Long, hi: Long) = spark.range(lo, hi, 1, 32)
      .select(col("id").as("event_id"), col("id").as("user_id"),
        lit("click").as("event_type"),
        to_timestamp(lit("2025-01-01 00:01:00")).as("ts"),
        col("id").cast("double").as("value"))

    def t(label: String)(f: => Any): Unit = {
      val s = System.nanoTime
      val r = f
      println(f"[soak] $label%-34s ${(System.nanoTime - s) / 1e9}%8.2f s ($r)")
    }

    // run 1: keys [0, keys), each row twice (in-run duplicate pressure)
    mk(0, keys).union(mk(0, keys)).write.mode("append").parquet(evDir)
    t(s"run1 (${keys / 1000}k keys, 2x rows)") {
      Streaming.dedupRunToFileSink(spark, srcRoot, out, ckpt).count()
    }
    // the process dies; a half-overlapping batch lands: [keys/2, 3keys/2)
    mk(keys / 2, keys + keys / 2).write.mode("append").parquet(evDir)
    var n2 = 0L
    t(s"run2 restart (state reload + ${keys / 1000}k rows, half dup)") {
      n2 = Streaming.dedupRunToFileSink(spark, srcRoot, out, ckpt).count()
    }
    val expect = keys + keys / 2
    assert(n2 == expect,
      s"exactly-once across the restart: expected $expect total, got $n2")
    println(s"[soak] OK: $n2 keys emitted exactly once across 2 incarnations")
    spark.stop()
  }
}
