package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Executes one benchmark run against the engine's public functions.
  *
  * Usage: PerfHarness <workload> <data dir> <plan.json> <out dir>
  *                    <seconds> <trace 0|1>
  *
  * One client thread issues the plan's operations in a closed loop. The
  * window holds whole units of the plan (cycles or passes), as many as
  * fit `seconds` at the plan's nominal seconds per unit (at least one),
  * so every run of one `seconds` executes the same operations. Each
  * operation's wall time and output go to `ops.jsonl`; the checker
  * compares outputs with the plan's model and oracles afterwards. With tracing on, a SparkListener, a
  * QueryExecutionListener, GC counters and table-directory walks are
  * attached, and every operation, job and Catalyst phase is kept as a
  * span in memory and written to `spans.jsonl` at the end.
  */
object PerfHarness {
  private val mapper = new ObjectMapper()

  // ---- per-run state ----------------------------------------------------
  private var spark: SparkSession = _
  private var trace = false
  private var outDir: Path = _
  private val opLines = mutable.ArrayBuffer.empty[String]
  private val opSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val rec = new Recorder

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, planPath, out, secondsArg, traceArg) = args
    outDir = Paths.get(out)
    Files.createDirectories(outDir)
    trace = traceArg == "1"
    val plan = mapper.readTree(new java.io.File(planPath))
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", outDir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    extra("session_start_s") = secs(t0)
    watchGc()
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      rec.watch(spark)
    }
    val seconds = secondsArg.toDouble
    val w: Workload = workload match {
      case "rpc_ingest" => new RpcIngest(dataDir, plan)
      case "batch_curation" => new BatchCuration(dataDir, plan)
    }
    extra("setup_rep_s") = (0 until plan.get("setup_reps").asInt).map { i =>
      val t = System.nanoTime(); w.setUp(i); secs(t)
    }
    graft.util.SessionMemo.drainBuildLog()
    extra("probe_before") = probes()
    val cpu0 = processCpuNs()
    val start = System.nanoTime()
    w.run(math.max(1, math.round(seconds / plan.get("unit_s").asDouble).toInt))
    val window = secs(start)
    extra("window_s") = window
    extra("cpu_s") = (processCpuNs() - cpu0) / 1e9
    extra("mem_retained_mb") = retainedMb()
    extra("probe_after") = probes()
    w.finish()
    extra("rss_peak_mb") = rssPeakMb()
    extra("mem_after_gc_peak_mb") = afterGcPeak / 1048576.0
    write("ops.jsonl", opLines.mkString("", "\n", "\n"))
    if (trace) write("spans.jsonl", rec.spans(opSpans.toSeq).mkString("", "\n", "\n"))
    write("run.json", json(extra.toMap))
    spark.stop()
  }

  // ---- operation recording ----------------------------------------------
  private var nextOp = 0

  /** Time one public call. The body returns the output fields the
    * checker needs; an exception is recorded as the op's error, with its
    * time still counted. `post` runs after the timer stops (walks,
    * footers) and may add fields. */
  def op(kind: String, fields: Map[String, Any])(body: => Map[String, Any])
        (post: Map[String, Any] => Map[String, Any] = _ => Map.empty): Unit = {
    val id = nextOp; nextOp += 1
    val gc0 = if (trace) gcMs() else 0L
    if (trace) spark.sparkContext.setJobGroup(s"op$id", kind)
    val t0 = System.nanoTime()
    val (outp, err) =
      try (body, None)
      catch { case e: Throwable => (Map.empty[String, Any], Some(e.toString.take(300))) }
    val t1 = System.nanoTime()
    if (trace) spark.sparkContext.clearJobGroup()
    val more = try post(outp) catch { case e: Throwable =>
      Map("post_error" -> e.toString.take(300)) }
    val memo = graft.util.SessionMemo.drainBuildLog()
    opSpans += ((id, kind, t0, t1))
    val base = Map[String, Any]("id" -> id, "kind" -> kind,
      "ms" -> (t1 - t0) / 1e6, "t0_ns" -> t0, "t1_ns" -> t1,
      "memo_builds" -> memo.size, "memo_build_ms" -> memo.map(_._2).sum * 1000) ++
      (if (trace) Map("gc_ms" -> (gcMs() - gc0)) else Map.empty) ++
      err.map(e => Map("error" -> e)).getOrElse(Map.empty)
    opLines += json(base ++ fields ++ outp ++ more)
  }

  // ---- workloads --------------------------------------------------------
  trait Workload {
    def setUp(rep: Int): Unit
    /** Run `units` whole units of the plan. */
    def run(units: Int): Unit
    def finish(): Unit = ()
  }

  /** The reference's RPCs interleaved with ingest into a snapshot table:
    * after each commit and its reads, the next `rpc_per_step` requests of
    * the RPC sequence. A unit is one ingest cycle. */
  final class RpcIngest(dataDir: String, plan: JsonNode) extends Workload {
    private val rpc = new CalcAvgRpc(dataDir, plan)
    private val lake = new LakehouseIngest(dataDir, plan)

    def setUp(rep: Int): Unit = lake.setUp(rep)

    def run(units: Int): Unit = {
      val requests = plan.get("ops").elements().asScala
      val per = plan.get("rpc_per_step").asInt
      plan.get("cycles").elements().asScala.take(units).foreach { c =>
        c.get("steps").elements().asScala.foreach { st =>
          lake.step(st)
          for (_ <- 0 until per if requests.hasNext) rpc.exec(requests.next())
        }
      }
    }

    override def finish(): Unit = { rpc.finish(); lake.finish() }
  }

  /** The reference's three RPCs: CalcAvgLoan over the per-key partition
    * cache, BlockLocations, and a rare DbToHdfs extract. */
  final class CalcAvgRpc(dataDir: String, plan: JsonNode) {
    private val cacheDir = outDir.resolve("cache").toString
    private val sinkDir = outDir.resolve("sink").toString

    def exec(o: JsonNode): Unit = {
      o.get("kind").asText match {
        case "calcavg" =>
          val key = o.get("key").asText
          val partDir = Paths.get(cacheDir, s"l_returnflag=$key")
          o.get("prep").asText match {
            case "delete" => deleteTree(partDir) // step B1: lost partition
            case "corrupt" => corrupt(partDir)   // unreadable partition file
            case _ =>
          }
          op("calcavg", Map("key" -> key, "prep" -> o.get("prep").asText)) {
            val (avg, src) =
              graft.operators.PartitionCache.calcAvg(spark, dataDir, cacheDir, key)
            Map("avg" -> avg, "source" -> src)
          }(out => if (out.get("source").contains("reuse")) Map.empty
                   else Map("bytes_created" -> treeBytes(partDir)))
        case "blocks" =>
          op("blocks", Map.empty) {
            val rows = graft.sources.StorageMeta.blocksPerHost(spark, dataDir).collect()
            Map("hosts" -> rows.length,
              "n_blocks" -> rows.map(_.getLong(1)).sum,
              "n_bytes" -> rows.map(_.getLong(2)).sum)
          }()
        case "dbtohdfs" =>
          op("dbtohdfs", Map.empty) {
            graft.operators.Etl.extractUnsorted(spark, dataDir)
              .write.mode("overwrite").parquet(sinkDir)
            Map.empty
          } { _ =>
            Map("sink_rows" -> footerRows(Paths.get(sinkDir)),
              "sink_bytes" -> treeBytes(Paths.get(sinkDir)))
          }
      }
    }

    def finish(): Unit = {
      extra("cache_bytes") = treeBytes(Paths.get(cacheDir))
      extra("oracle_sql") = Seq("o07_pruned_avg", "o02_etl_extract")
        .map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    }
  }

  /** One snapshot table keyed by o_orderkey: seeded cycles of append,
    * merge and merge-on-read delete, then maintenance; the client reads
    * its own write after every commit. */
  final class LakehouseIngest(dataDir: String, plan: JsonNode) {
    import graft.operators.Snapshot
    private var root: String = _

    private def initialCommit(r: String): Unit = {
      val orders = spark.read.parquet(s"$dataDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      Snapshot.commitWithStats(
        orders.repartitionByRange(plan.get("commit_files").asInt, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        r, Seq("o_orderkey"), bloomCols = Seq("o_custkey"))
    }

    def setUp(rep: Int): Unit = {
      // the initial commit is set-up; each repetition commits a fresh
      // table and the last one is the table the window writes to
      if (root != null) deleteTree(Paths.get(root))
      root = outDir.resolve(s"table$rep").toString
      initialCommit(root)
    }

    private def batch(name: String): DataFrame =
      spark.read.parquet(s"$dataDir/batches/$name.parquet")

    private def commitOp(kind: String, o: JsonNode)(body: => Map[String, Any]): Unit = {
      val before = walk(Paths.get(root))
      op(kind, Map("cycle" -> o.get("cycle").asInt, "step" -> o.get("step").asInt))(body) { _ =>
        val after = walk(Paths.get(root))
        val created = after.filter { case (p, _) => !before.contains(p) }
        val claims = created.keys.count(_.contains("/_claims/"))
        Map("files_created" -> created.size, "bytes_created" -> created.values.sum,
          "dir_bytes" -> after.values.sum, "claims_created" -> claims)
      }
    }

    private def reads(o: JsonNode): Unit = {
      val r = o.get("read")
      val lo = r.get("lo").asLong; val hi = r.get("hi").asLong
      var pruned: DataFrame = null
      op("read_pruned", Map("lo" -> lo, "hi" -> hi)) {
        pruned = Snapshot.readCurrentPruned(spark, root, "o_orderkey", lit(lo), lit(hi))
        val row = pruned.agg(count(lit(1)),
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("string")).head()
        Map("n" -> row.getLong(0), "sum" -> Option(row.getString(1)).getOrElse("0"))
      } { _ =>
        if (trace && pruned != null)
          Map("files_read" -> pruned.inputFiles.length,
            "live_files" -> Snapshot.readCurrent(spark, root).inputFiles.length)
        else Map.empty
      }
      val c = r.get("cust").asLong
      op("read_point", Map("cust" -> c)) {
        val row = Snapshot.readCurrentPoint(spark, root, "o_custkey", c)
          .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(14,2)")).cast("string"))
          .head()
        Map("n" -> row.getLong(0), "sum" -> Option(row.getString(1)).getOrElse("0"))
      }()
      op("row_count", Map.empty) {
        Map("n" -> Snapshot.currentRowCount(spark, root))
      }()
    }

    /** One commit, then the client's reads of its own write. */
    def step(o: JsonNode): Unit = {
      def version(v: => Long) = Map[String, Any]("version" -> v)
      val kind = o.get("kind").asText
      commitOp(kind, o) {
        kind match {
          case "append" => version(Snapshot.appendCommit(batch(o.get("batch").asText), root))
          case "merge" => version(Snapshot.mergeCommit(spark, root,
            batch(o.get("batch").asText), "o_orderkey"))
          case "delete_mor" =>
            val d = o.get("del")
            val k = col("o_orderkey")
            version(Snapshot.deleteWhereMor(spark, root,
              k.between(d.get("lo").asLong, d.get("hi").asLong) &&
                pmod(k, lit(d.get("mod").asLong)) === d.get("rem").asLong))
          case "purge_dv" => version(Snapshot.purgeDv(spark, root))
          case "compact" => version(Snapshot.compactSmall(spark, root))
          case "vacuum" => Map("deleted" -> Snapshot.vacuum(spark, root).size)
        }
      }
      reads(o)
    }

    def finish(): Unit = {
      val cur = Snapshot.readCurrent(spark, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(14,2)").cast("string").as("p"))
      val rows = cur.collect()
      write("final_rows.tsv", rows.map(r =>
        s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getString(2)}\t${r.getString(3)}")
        .mkString("", "\n", "\n"))
      extra("live_files") = Snapshot.readCurrent(spark, root).inputFiles.length
      extra("table_bytes") = walk(Paths.get(root)).values.sum
      // a fresh single commit of the same content, laid out like the
      // initial commit: the denominator of space amplification
      val fresh = outDir.resolve("fresh").toString
      Snapshot.commitWithStats(
        Snapshot.readCurrent(spark, root)
          .repartitionByRange(plan.get("commit_files").asInt, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        fresh, Seq("o_orderkey"), bloomCols = Seq("o_custkey"))
      extra("fresh_bytes") = walk(Paths.get(fresh)).values.sum
    }
  }

  /** Cold passes of corpus-curation and analytic queries: every pass
    * runs in a fresh session with its own staged-index directory, so
    * session memos and index builds happen again, as for a new corpus. */
  final class BatchCuration(dataDir: String, plan: JsonNode) extends Workload {
    private var pass = 0
    private val passResults = mutable.ArrayBuffer.empty[
      (String, Seq[(String, (Array[Row], org.apache.spark.sql.types.StructType))])]
    private val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))

    private def session(tag: String): SparkSession = {
      val s = spark.newSession()
      s.conf.set("graft.ann.indexDir", outDir.resolve(s"index_$tag").toString)
      if (trace) rec.watch(s)
      s
    }

    private def runQuery(s: SparkSession, name: String)
        : (Array[Row], org.apache.spark.sql.types.StructType) = {
      val fn = graft.SparkEntry.queries(name)
      val saved = s.conf.get("spark.sql.shuffle.partitions")
      graft.SparkEntry.shuffleWidthHint(name, s, dataDir)
        .foreach(w => s.conf.set("spark.sql.shuffle.partitions", w.toString))
      try { val df = fn(s, dataDir); (df.collect(), df.schema) }
      finally s.conf.set("spark.sql.shuffle.partitions", saved)
    }

    def setUp(rep: Int): Unit = {
      // a fresh session that resolves the corpus tables
      val s = session(s"setup$rep")
      Seq("documents", "embeddings").foreach(t => s.read.parquet(s"$dataDir/$t.parquet").schema)
      deleteTree(outDir.resolve(s"index_setup$rep"))
    }

    def run(units: Int): Unit = {
      plan.get("passes").elements().asScala.take(units).foreach { queries =>
        val order = queries.elements().asScala.map(_.asText).toSeq
        val tag = s"p$pass"
        val s = session(tag)
        val results = mutable.ArrayBuffer.empty[(String, (Array[Row], org.apache.spark.sql.types.StructType))]
        val idx = outDir.resolve(s"index_$tag")
        val before = walk(idx) ++ walk(tmpDir)
        var seen = before
        order.foreach { name =>
          op("query", Map("query" -> name, "pass" -> pass)) {
            val r = runQuery(s, name)
            results += name -> r
            Map("rows" -> r._1.length)
          } { _ =>
            val now = walk(idx) ++ walk(tmpDir)
            val created = now.filter { case (p, _) => !seen.contains(p) }
            seen = now
            Map("bytes_created" -> created.values.sum)
          }
        }
        extra(s"pass${pass}_stored_bytes") = (walk(idx) ++ walk(tmpDir))
          .filter { case (p, _) => !before.contains(p) }.values.sum
        passResults += tag -> results.toSeq
        pass += 1
      }
    }

    override def finish(): Unit = {
      // results are written after the window, outside every timer, for
      // the oracle compare
      for ((tag, results) <- passResults; (name, (rows, schema)) <- results)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(outDir.resolve(s"results/$tag/$name").toString)
      extra("passes") = pass
      extra("oracle_sql") = plan.get("queries").elements().asScala.map(_.asText)
        .map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")).toMap
    }
  }

  // ---- probes (diagnostics, not metrics) ---------------------------------
  private def probes(): Map[String, Any] = {
    def cpuProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, 8).selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(sum("v")).selectExpr("count(*)", "sum(k)").collect()
      secs(t0)
    }
    // the first probe in a JVM also times its code generation
    val cpu = math.min(cpuProbe(), cpuProbe())
    val f = outDir.resolve(s"ioprobe_${System.nanoTime()}.bin")
    val chunk = new Array[Byte](4 << 20)
    new java.util.Random(42).nextBytes(chunk)
    val t1 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try { (0 until 4).foreach(_ => ch.write(java.nio.ByteBuffer.wrap(chunk))); ch.force(true) }
    finally ch.close()
    Files.readAllBytes(f)
    val io = secs(t1)
    Files.delete(f)
    Map("cpu_s" -> cpu, "io_s" -> io)
  }

  // ---- helpers ----------------------------------------------------------
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  @volatile private var afterGcPeak = 0L

  /** Track the peak of memory in use right after a garbage collection
    * (every pool, heap and non-heap): the memory the run needed, without
    * the garbage a lazily collecting heap lets RSS carry. */
  private def watchGc(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            if (used > afterGcPeak) afterGcPeak = used
          }
        }, null, null)
      case _ =>
    }

  /** Heap in use after a full collection: what the run's operations left
    * behind in the engine, its caches and memos. (Non-heap use is left
    * out: the code cache grows with whatever the JIT compiled so far.)
    * The second collection follows Spark's ContextCleaner, which drops
    * blocks of shuffles and broadcasts only after the first one. */
  private def retainedMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  private def write(name: String, s: String): Unit =
    Files.writeString(outDir.resolve(name), s)

  /** Every regular file under `p` with its size (empty when absent). */
  def walk(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  private def treeBytes(p: Path): Long = walk(p).values.sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  /** Overwrite the first data file of a cache partition with garbage. */
  private def corrupt(partDir: Path): Unit =
    if (Files.exists(partDir)) {
      Files.list(partDir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted.headOption
        .foreach(f => Files.write(f, "not a parquet file".getBytes))
    }

  private def footerRows(dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    walk(dir).keys.filter(_.endsWith(".parquet")).toSeq.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case Some(x) => json(x)
    case x => json(x.toString)
  }

  // ---- tracing ----------------------------------------------------------
  /** Collects Spark job, stage and task events and Catalyst phase times
    * while tracing is on; the events are attributed to operations after
    * the run, by job group (jobs, tasks) or by time (Catalyst phases). */
  final class Recorder extends SparkListener {
    case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
    private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    // per job id: cpu ms, tasks, shuffle write/read bytes, fetch wait ms,
    // spill bytes, input bytes, output bytes, task wait ms, failed tasks
    private val taskSums = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
    private val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
    private val plans = new ConcurrentLinkedQueue[(Long, Long)]()

    def watch(s: SparkSession): Unit =
      s.listenerManager.register(new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      })

    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      ph.foreach { case (name, p) => phases.add((name, p.startTimeMs, p.endTimeMs)) }
      if (ph.nonEmpty)
        plans.add((ph.values.map(_.startTimeMs).min, ph.values.map(_.endTimeMs).max))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, g, e.time, e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.getOrDefault(e.stageId, -1)
      val a = taskSums.computeIfAbsent(job, _ => new Array[Double](10))
      val m = e.taskMetrics
      a.synchronized {
        if (m != null) {
          a(0) += m.executorCpuTime / 1e6
          a(2) += m.shuffleWriteMetrics.bytesWritten
          a(3) += m.shuffleReadMetrics.totalBytesRead
          a(4) += m.shuffleReadMetrics.fetchWaitTime
          a(5) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(6) += m.inputMetrics.bytesRead
          a(7) += m.outputMetrics.bytesWritten
        }
        a(1) += 1
        val sub = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
        a(8) += math.max(0L, e.taskInfo.launchTime - sub)
        if (e.taskInfo.failed || e.taskInfo.killed) a(9) += 1
      }
    }

    private val sumNames = Seq("task_cpu_ms", "tasks", "shuffle_write_bytes",
      "shuffle_read_bytes", "shuffle_fetch_wait_ms", "spill_bytes", "input_bytes",
      "output_bytes", "task_wait_ms", "failed_tasks")

    /** Per-op layer sums plus the span list. Waits briefly for the
      * listener bus to deliver the last events. */
    def spans(ops: Seq[(Int, String, Long, Long)]): Seq[String] = {
      Thread.sleep(1000)
      // ns-since-JVM-start op bounds → epoch ms, for phase attribution
      val off = System.currentTimeMillis() - System.nanoTime() / 1000000
      val out = mutable.ArrayBuffer.empty[String]
      val allJobs = jobs.values().asScala.toSeq.sortBy(_.start)
      val allPhases = phases.asScala.toSeq
      val allPlans = plans.asScala.toSeq
      ops.foreach { case (id, kind, t0, t1) =>
        val s = t0 / 1000000 + off; val e = t1 / 1000000 + off
        val myJobs = allJobs.filter(_.group == s"op$id")
        val myPhases = allPhases.filter { case (_, ps, _) => ps >= s - 1 && ps <= e + 1 }
        val sums = new Array[Double](10)
        myJobs.foreach(j => Option(taskSums.get(j.id)).foreach(a =>
          a.synchronized(a.indices.foreach(i => sums(i) += a(i)))))
        val jobCover = cover(myJobs.map(j => (j.start, j.end)), s, e)
        val childCover = cover(myJobs.map(j => (j.start, j.end)) ++
          allPlans.filter { case (ps, _) => ps >= s - 1 && ps <= e + 1 }, s, e)
        out += json(Map("span" -> s"op$id", "name" -> kind, "parent" -> null,
          "op" -> id, "start_ms" -> s, "end_ms" -> e,
          "self_ms" -> math.max(0L, (e - s) - childCover),
          "offjob_ms" -> math.max(0L, (e - s) - jobCover), "jobs" -> myJobs.size,
          "plan_ms" -> myPhases.map { case (_, a, b) => b - a }.sum,
          "queries" -> allPlans.count { case (ps, _) => ps >= s - 1 && ps <= e + 1 }) ++
          sumNames.zip(sums).toMap)
        myJobs.foreach { j =>
          val a = Option(taskSums.get(j.id)).map(_.clone()).getOrElse(new Array[Double](10))
          out += json(Map("span" -> s"job${j.id}", "name" -> "spark.job", "parent" -> s"op$id",
            "op" -> id, "start_ms" -> j.start, "end_ms" -> j.end) ++ sumNames.zip(a).toMap)
        }
        myPhases.foreach { case (name, a, b) =>
          out += json(Map("span" -> s"op$id.$name.$a", "name" -> s"catalyst.$name",
            "parent" -> s"op$id", "op" -> id, "start_ms" -> a, "end_ms" -> b))
        }
      }
      out.toSeq
    }

    /** Milliseconds of [s, e] covered by the union of `iv`. */
    private def cover(iv: Seq[(Long, Long)], s: Long, e: Long): Long = {
      var total = 0L; var curS = -1L; var curE = -1L
      iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(x => x._2 > x._1)
        .sortBy(_._1).foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
      if (curE > curS) total += curE - curS
      total
    }
  }
}
