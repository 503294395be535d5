package graft

import graft.operators.{Etl, PartitionCache}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

class EtlSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  test("extract respects the exclusive price band and joins every row") {
    val df = Etl.extract(spark, sf).cache()
    val n = df.count()
    assert(n > 0)
    val Array(row) = df
      .agg(min("l_extendedprice"), max("l_extendedprice")).collect()
    assert(row.getDouble(0) > 30000.0 && row.getDouble(1) < 80000.0)
    assert(Etl.rowCount(spark, sf).head().getLong(0) == n)
    df.unpersist()
  }

  test("sink roundtrip preserves per-flag counts") {
    val fromSink = Etl.sinkRoundtrip(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Etl.extract(spark, sf).groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromSink == direct)
  }

  test("pruned avg matches an independently computed truncating mean") {
    val got = Etl.prunedAvg(spark, sf, "R").head().getLong(0)
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_returnflag") === "R")
      .select("l_extendedprice").collect().map(_.getDouble(0))
    val expected = math.floor(
      rows.map(BigDecimal(_).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / rows.length).toLong
    assert(got == expected)
  }

  test("observe() reports in-flight metrics without a second scan") {
    val df = Etl.extractObserved(spark, sf)
    df.collect()
    val m = df.queryExecution.observedMetrics("etl_metrics")
    assert(m.getAs[Long]("rows_out") == Etl.extract(spark, sf).count())
    assert(m.getAs[Double]("sum_price") > 0)
  }

  test("avg over an empty group returns null, not a crash (pinned semantics)") {
    // The reference crashes on an empty county (int(NaN), server.py:128);
    // our engine defines the behavior: SQL-standard NULL.
    val row = Etl.prunedAvg(spark, sf, "Z").head()
    assert(row.isNullAt(0))
  }

  test("partition cache falls back to recreate when the partition is corrupt") {
    val cacheDir =
      java.nio.file.Files.createTempDirectory("graft_corrupt_").toString
    val (v1, s1) = PartitionCache.calcAvg(spark, sf, cacheDir, "A")
    assert(s1 == "create")
    // Corrupt the materialized partition: replace its parquet files with
    // garbage (the reference's DataNode-loss scenario, server.py:118-121).
    val dir = new java.io.File(s"$cacheDir/l_returnflag=A")
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, "not a parquet file".getBytes)
    }
    val (v2, s2) = PartitionCache.calcAvg(spark, sf, cacheDir, "A")
    assert(s2 == "recreate", s"expected recreate, got $s2")
    assert(v1 == v2, "recreate must recompute the same value")
    val (_, s3) = PartitionCache.calcAvg(spark, sf, cacheDir, "A")
    assert(s3 == "reuse", "cache must be healthy again after recreate")
  }

  test("upsert merge replaces changed keys and keeps the rest intact") {
    import org.apache.spark.sql.functions._
    val merged = Etl.upsertMerge(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val clean = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.dsum(col("o_totalprice")).as("s"),
        sum((col("o_orderkey") % 10 === 0).cast("long")).as("n_changed"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(merged.keySet == clean.keySet)
    merged.foreach { case (status, (n, sumPrice)) =>
      val (cn, cs, changed) = clean(status)
      assert(n == cn, "merge must not change row counts")
      assert(math.abs(sumPrice - (cs + 1000.0 * changed)) < 1e-6,
        s"$status: each changed key must be repriced exactly once")
    }
  }

  test("partition cache runs create on pass 1 and reuse on pass 2, same values") {
    val rows = PartitionCache.protocolTrace(spark, sf).collect()
    assert(rows.length == 6)
    val byKey = rows.groupBy(_.getString(0))
    byKey.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getString(3)).toSeq == Seq("create", "reuse"))
      assert(sorted.map(_.getLong(2)).distinct.length == 1,
        "create and reuse paths must agree on the value")
    }
  }

  // ---- zero-job partition-cache read ---------------------------------

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The aggregate a reuse of `key` runs, as `calcAvg` builds it. */
  private def reuseFrame(cacheDir: String, key: String): DataFrame = {
    val p = new Path(s"$cacheDir/l_returnflag=$key")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionCache.avgFrame(spark, p, fs.listStatus(p).toSeq)
  }

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect() // let AQE finalize every stage
    df.queryExecution.executedPlan
  }

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .sortBy(_.getName)

  test("BlockLocations (o13): one block per table file, on the one local host, with no job") {
    import graft.sources.{StorageMeta, Tables}
    val files = Tables.all.map(t => new Path(s"$sf/$t.parquet"))
    val fs = files.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lengths = files.map(fs.getFileStatus(_).getLen)
    assert(files.size == 10 &&
      files.zip(lengths).forall { case (f, n) => n < fs.getDefaultBlockSize(f) })
    val (rows, jobs) = jobsOf(StorageMeta.blocksPerHost(spark, sf).collect().toSeq)
    assert(jobs == 0, s"BlockLocations ran $jobs jobs")
    assert(rows.size == 1, rows)
    assert(rows.head.getLong(1) == 10L && rows.head.getLong(2) == lengths.sum)
    // Spark's own plan, the driver evaluation excluded, answers the same
    val distributed = withConf("spark.sql.optimizer.excludedRules",
      graft.plans.DriverEval.ruleName)(StorageMeta.blocksPerHost(spark, sf).collect().toSeq)
    assert(distributed == rows)
  }

  test("partition cache: a reuse of a small partition runs no job, a create or recreate one") {
    val cacheDir = tmpDir("graft_jobs_")
    val ((v1, s1), createJobs) =
      jobsOf(PartitionCache.calcAvg(spark, sf, cacheDir, "A"))
    assert(s1 == "create")
    // one write job over the source (its schema comes from the footer,
    // no inference job); the written partition is read on the driver
    assert(createJobs == 1, s"create ran $createJobs jobs")
    val ((v2, s2), reuseJobs) =
      jobsOf(PartitionCache.calcAvg(spark, sf, cacheDir, "A"))
    assert(s2 == "reuse" && v2 == v1)
    assert(reuseJobs == 0, s"reuse ran $reuseJobs jobs")
    dataFiles(s"$cacheDir/l_returnflag=A").foreach { f =>
      java.nio.file.Files.write(f.toPath, "not a parquet file".getBytes)
    }
    val ((v3, s3), recreateJobs) =
      jobsOf(PartitionCache.calcAvg(spark, sf, cacheDir, "A"))
    assert(s3 == "recreate" && v3 == v1)
    assert(recreateJobs == 1, s"recreate ran $recreateJobs jobs")
  }

  test("partition cache: a partition larger than one split keeps the partial/final aggregate") {
    val cacheDir = tmpDir("graft_split_")
    val (v1, _) = PartitionCache.calcAvg(spark, sf, cacheDir, "A")
    val single = reuseFrame(cacheDir, "A").head().getLong(0)
    assert(single == v1)
    val bytes = dataFiles(s"$cacheDir/l_returnflag=A").map(_.length).sum
    withConf("spark.sql.files.maxPartitionBytes", (bytes - 1).toString) {
      val (v2, s2) = PartitionCache.calcAvg(spark, sf, cacheDir, "A")
      assert(s2 == "reuse" && v2 == single)
      val plan = finalPlan(reuseFrame(cacheDir, "A"))
      val modes = collect(plan) { case a: BaseAggregateExec => a }
        .flatMap(_.aggregateExpressions.map(_.mode)).toSet
      assert(modes == Set(Partial, Final), s"aggregate modes $modes:\n$plan")
      assert(collect(plan) { case e: Exchange => e }.nonEmpty,
        s"multi-split reuse must aggregate across tasks:\n$plan")
    }
  }

  test("partition cache: garbage in a non-first data file still forces recreate") {
    val expected = PartitionCache.calcAvg(spark, sf, tmpDir("graft_ref_"), "A")._1
    val cacheDir = tmpDir("graft_multi_")
    val partDir = s"$cacheDir/l_returnflag=A"
    spark.read.parquet(s"$sf/lineitem.parquet").filter(col("l_returnflag") === "A")
      .repartition(3).write.parquet(partDir)
    val files = dataFiles(partDir)
    assert(files.length >= 2, s"want a multi-file partition, got $files")
    // the footer of the first file stays good: only the scan can see this
    java.nio.file.Files.write(files.last.toPath, "not a parquet file".getBytes)
    val (v, s) = PartitionCache.calcAvg(spark, sf, cacheDir, "A")
    assert(s == "recreate", s"expected recreate, got $s")
    assert(v == expected)
    assert(PartitionCache.calcAvg(spark, sf, cacheDir, "A") == (expected, "reuse"))
  }

  test("partition cache: a DECIMAL cache column is reused, its type read from the footer") {
    val expected = PartitionCache.calcAvg(spark, sf, tmpDir("graft_ref_"), "A")._1
    val cacheDir = tmpDir("graft_decimal_")
    spark.read.parquet(s"$sf/lineitem.parquet").filter(col("l_returnflag") === "A")
      .withColumn("l_extendedprice", col("l_extendedprice").cast(DecimalType(12, 2)))
      .write.parquet(s"$cacheDir/l_returnflag=A")
    assert(PartitionCache.calcAvg(spark, sf, cacheDir, "A") == (expected, "reuse"))
  }
}
