package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only query runner (test scope): run one SparkEntry query `reps`
  * times on the factory session (the Bench shape) and print, per rep,
  * rows, wall time, that rep's task metrics and the memo builds it ran,
  * then the FINAL adaptive plan of the last rep's count. The soak's
  * super-linear diagnosis tool; later reps show the memo-warm cost.
  *
  *   tools/runmain.sh graft.ExplainRun <query> [sfDir] [reps] [key=value…]
  *
  * Trailing `key=value` args become session confs, e.g.
  * `spark.sql.shuffle.partitions=64`, which also replaces the query's
  * derived shuffle width.
  */
object ExplainRun {
  def main(argv: Array[String]): Unit = {
    val (confs, args) = argv.partition(_.contains('='))
    val qname = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = graft.util.LocalSession(graft.util.LocalSession.envCpus(32))
    confs.foreach { a =>
      val Array(k, v) = a.split("=", 2)
      println(s"[explain] conf $k=$v")
      spark.conf.set(k, v)
    }
    // Task totals as of each action's end. Both listeners sit on the
    // listener bus's shared queue, where an action's end event follows
    // its task-end events, so the delta between two action ends counts
    // exactly the tasks in between — none of the probes' tasks.
    val totals = new Bench.TaskTotals
    spark.sparkContext.addSparkListener(totals)
    val ends = new LinkedBlockingQueue[(QueryExecution, Bench.TaskSums)]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        ends.put(qe -> totals.snapshot())
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
    def collect(df: DataFrame): (Array[Row], Double, Bench.TaskSums) = {
      val t0 = System.nanoTime()
      val rows = df.collect()
      val dt = (System.nanoTime() - t0) / 1e9
      var end = ends.poll(60, TimeUnit.SECONDS)
      while (end != null && !(end._1 eq df.queryExecution))
        end = ends.poll(60, TimeUnit.SECONDS)
      require(end != null, "no end event for the action")
      (rows, dt, end._2)
    }

    spark.range(1000).selectExpr("sum(id)").collect()
    // Bench's calibration probe, before and after: a measurement with
    // elevated probes is a contention wave, not the query's cost.
    val (_, pBefore, base) = collect(Bench.probeFrame(spark))
    if (!confs.exists(_.startsWith("spark.sql.shuffle.partitions=")))
      SparkEntry.shuffleWidthHint(qname, spark, sfDir).foreach { w =>
        println(s"[explain] derived shuffle width: $w")
        spark.conf.set("spark.sql.shuffle.partitions", w)
      }
    graft.util.SessionMemo.drainBuildLog()
    var prev = base
    val legs = (1 to reps).map { r =>
      // Time CONSTRUCTION + action together: memoized builders (the x09
      // family) materialize their staged relations eagerly inside the
      // queries() call, so timing only the count under-reports them.
      val t0 = System.nanoTime()
      val counted = SparkEntry.queries(qname)(spark, sfDir).groupBy().count()
      val (rows, _, end) = collect(counted)
      val dt = (System.nanoTime() - t0) / 1e9
      val d = end - prev
      prev = end
      // one-time infra builds that ran INSIDE this leg (same ledger the
      // bench drains per query)
      val builds = graft.util.SessionMemo.drainBuildLog()
        .filter(_._2 >= 0.05)
        .map { case (k, s) => f"${k.split('|').head}=$s%.1f" }.mkString(" ")
      val line = f"[explain] $qname rep$r rows=${rows.head.getLong(0)} " +
        f"time=$dt%.2f s shufr=${d.shufRead / 1e6}%.0fMB " +
        f"shufw=${d.shufWrite / 1e6}%.0fMB spill=${d.spill / 1e6}%.0fMB " +
        f"cpu=${d.cpuNs / 1e9}%.0fs run=${d.runNs / 1e9}%.0fs" +
        (if (builds.nonEmpty) s" memo_builds: $builds" else "")
      (line, counted)
    }
    val (_, pAfter, _) = collect(Bench.probeFrame(spark))
    legs.foreach { case (line, _) =>
      println(line + f" probes=$pBefore%.2f/$pAfter%.2f")
    }
    // the plan the count action ran, finalized by that run
    println(legs.last._2.queryExecution.executedPlan.toString.take(12000))
    spark.stop()
  }
}
