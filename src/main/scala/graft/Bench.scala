package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

/** Driver-contract benchmark: one JSON line with per-query seconds over
  * `SPARK_GRAFT_SF_DIR`. Also replicates the reference's
  * create-vs-reuse A/B (`performance_analyzer.py` B1-B4: clear cache,
  * time cold `CalcAvgLoan`, time warm repeat) as `cache_create_sec` /
  * `cache_reuse_sec` for direct comparison with BASELINE.md.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.LocalSession(graft.util.LocalSession.envCpus(4))
    // Streaming state width is a DEPLOYMENT property (state volume),
    // not code — the soak runs override it per scale (the sf10 x13a
    // diagnosis: 10M dedup keys through the fixture-sized 8 partitions)
    sys.env.get("SPARK_GRAFT_STATE_PARTITIONS")
      .foreach(spark.conf.set("graft.streaming.statePartitions", _))
    // Per-WINDOW ANN index isolation (VERDICT r14 #2): the staged ANN
    // index persists under a shared tmpdir root keyed by fixture
    // fingerprint, so the driver's back-to-back bench legs (32-core
    // then 8-core) let the second leg OPEN the first leg's index —
    // its memo_build_sec then measures an open, not a build, and the
    // scaling comparison is contaminated. Each bench run stages into
    // its own exit-GC'd scratch root instead; an explicit
    // GRAFT_ANN_INDEX_DIR (deployment override) wins.
    if (!sys.env.contains("GRAFT_ANN_INDEX_DIR"))
      spark.conf.set("graft.ann.indexDir",
        graft.util.Scratch.dir("graft_bench_annindex_"))

    // JVM/codegen warm-up outside the timed region (the reference's
    // numbers also exclude interpreter start-up; SURVEY §6 caveats).
    spark.range(1000).selectExpr("sum(id)").collect()

    def sec[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Per-query shuffle/spill accounting ([[TaskTotals]]): turns the
    // static plan audits (PLANS.md) into MEASURED shuffle volume — the
    // next super-linear diagnosis is one field-read instead of a re-run.
    // Task-end events are delivered async on the listener bus; queries
    // execute synchronously (count() returns after all tasks finish), so
    // at a snapshot only the last few straggler events can misattribute
    // to the NEXT query — noise of a few tasks, irrelevant at MB
    // granularity.
    val totals = new TaskTotals
    spark.sparkContext.addSparkListener(totals)

    // Calibration probe ([[probeFrame]]), independent of
    // SPARK_GRAFT_SF_DIR, timed at bench start AND end (median of 3
    // each). The bench box is shared, and totals historically swing >2×
    // under contention with no code change (BENCH_NOTES round-2/4/6
    // caveats); the probe pins what the box was actually delivering
    // during THIS run, so cross-run query deltas divide out box speed:
    // compare q/probe ratios, not raw seconds. A large start-vs-end
    // spread additionally flags contention that arrived mid-run.
    // Driver-JVM GC/JIT accounting (MXBeans — no JVM flags needed): the
    // r9 probe-timeline work attributed the ~1.0-1.3 s mid-run probe
    // elevation to "the run's own writeback/GC self-load" as a band;
    // recording GC-ms inside every probe and every query turns that
    // from a band into an attribution — a probe whose elevation is
    // matched by its gc_ms is the JVM digesting the preceding query's
    // garbage, not box contention.
    val gcBeans = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.toSeq
    }
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    def probeOnce(): (Double, Long) = {
      val g0 = gcMs()
      val t = sec(probeFrame(spark).collect())
      (t, gcMs() - g0)
    }
    var probeSamples = Vector.empty[Double] // every single-shot sample
    def probeSec(): Double = {
      val ts = (1 to 3).map(_ => probeOnce()._1).sorted
      probeSamples ++= ts
      ts(1) // median
    }

    // I/O probe (VERDICT r11 #3): the CPU probe is blind to disk
    // degradation — the r11 93%-full-disk incident left every
    // CPU-probe-normalized column reading "healthy" while every
    // I/O-bound query drowned. A fixed-shape 32 MB write+fsync+read
    // (incompressible bytes, same tmp filesystem the bench venues live
    // on) timed at start/end (median of 3) and through the timeline
    // lets the artifact itself adjudicate I/O-family inflation: a slow
    // write-path query against a flat probe_io timeline is the code, a
    // spiking one is the box/disk.
    val ioProbeDir = graft.util.Scratch.dir("graft_bench_ioprobe_")
    val ioProbeChunk = {
      val b = new Array[Byte](4 << 20)
      new java.util.Random(42).nextBytes(b)
      b
    }
    // The read leg opens with O_DIRECT where the filesystem allows it:
    // a buffered read of the file just written is served from the page
    // cache and measures a memcpy, leaving read-path disk degradation
    // (half of the r11 incident class this probe adjudicates)
    // invisible. On DIRECT-refusing filesystems (tmpfs) the probe falls
    // back to the buffered read and flags it (`probe_io_direct:false`)
    // so the artifact says which signal it carries.
    @volatile var ioProbeDirect = true
    def probeIoOnce(): Double = {
      import java.nio.file.{Files, Paths, StandardOpenOption => O}
      val f = Paths.get(ioProbeDir, s"probe_${System.nanoTime()}.bin")
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        O.CREATE, O.WRITE, O.TRUNCATE_EXISTING)
      try {
        var i = 0
        while (i < 8) { // 8 × 4 MB = 32 MB
          ch.write(java.nio.ByteBuffer.wrap(ioProbeChunk)); i += 1
        }
        ch.force(true)
      } finally ch.close()
      def readWith(direct: Boolean): Unit = {
        val in =
          if (direct) java.nio.channels.FileChannel.open(f, O.READ,
            com.sun.nio.file.ExtendedOpenOption.DIRECT)
          else java.nio.channels.FileChannel.open(f, O.READ)
        try {
          // DIRECT needs block-aligned buffer address/size; 4 KiB
          // covers ext4/xfs
          val buf =
            if (direct) java.nio.ByteBuffer
              .allocateDirect((4 << 20) + 4096).alignedSlice(4096)
            else java.nio.ByteBuffer.allocate(4 << 20)
          var n = in.read(buf)
          while (n >= 0) { buf.clear(); n = in.read(buf) }
        } finally in.close()
      }
      if (ioProbeDirect)
        try readWith(direct = true)
        catch { case _: Exception =>
          ioProbeDirect = false; readWith(direct = false) }
      else readWith(direct = false)
      val t = (System.nanoTime() - t0) / 1e9
      Files.deleteIfExists(f)
      t
    }
    var probeIoSamples = Vector.empty[Double]
    def probeIoSec(): Double = {
      val ts = (1 to 3).map(_ => probeIoOnce()).sorted
      probeIoSamples ++= ts
      ts(1)
    }
    val probeStart = probeSec()
    val probeIoStart = probeIoSec()

    // Mid-run probe TIMELINE: endpoint probes proved insufficient — the
    // round-7 sf1 triplicate (287/397/588 s, identical code+fixture) had
    // QUIET endpoint probes every time, so contention arriving mid-run
    // was unobservable. A single-shot probe every `probeEvery` queries
    // (~1-3% overhead) timestamps box speed THROUGH the run; a spike in
    // the timeline next to a slow query attributes the slowdown to the
    // box, a flat timeline pins it on the code.
    val probeEvery = 15
    var probeTimeline = Vector.empty[(String, Double, Long, Double)]

    // Per-query timing with explicit failure capture: a query that throws
    // is reported in `errors` (and its time covers only the failed run) —
    // never silently counted as a fast success.
    var errors = Map.empty[String, String]
    // Optional comma-separated query filter for interactive iteration
    // (SPARK_GRAFT_ONLY=x09e_ngram_jaccard,x09g_dedup_clusters).
    // blank tokens dropped: SPARK_GRAFT_ONLY="" means "no filter", not
    // "run the query named empty-string"
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // A typo'd filter name would otherwise yield a silent empty run that
    // still prints a valid-looking total — surface it as an error entry.
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"WARNING: SPARK_GRAFT_ONLY names match no query: ${unknown.mkString(",")}")
      errors ++= unknown.map(_ -> "no such query (SPARK_GRAFT_ONLY)")
    }
    val selected =
      if (only.isEmpty) SparkEntry.queries else SparkEntry.queries.filter(kv => only(kv._1))
    var queryIo = Vector.empty[(String, (Long, Long, Long, Long))]
    // Shared-infra accounting (VERDICT r11 #4): one-time session-memo /
    // staged-index builds land inside whichever query touches the key
    // first — three rounds of venue lines (x20b, x13a) needed manual
    // solo adjudication because of it. The SessionMemo build ledger is
    // drained per query: builds ≥ 50 ms become explicit `memo_builds`
    // artifact entries charged to their own line, and the query column
    // reports OPERATOR cost (wall minus its drained builds). Raw wall =
    // queries[q] + queries_memo_sec[q]; total stays the raw sum, so
    // total ≈ Σqueries + Σmemo_builds.
    val memoMin = 0.05
    var memoBuilds = Vector.empty[(String, Double, String)] // key, sec, during
    graft.util.SessionMemo.drainBuildLog() // discard warm-up prelude
    val results = selected.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, fn), i) =>
        if (i > 0 && i % probeEvery == 0) {
          val (ps, pg) = probeOnce()
          probeSamples :+= ps
          // the io leg is ~2 s under the run's own write self-load, so
          // it samples every OTHER probe point (still 6+ mid-run points
          // at 183 queries) — endpoints carry the box-health baseline
          val pio =
            if ((i / probeEvery) % 2 == 0) {
              val v = probeIoOnce(); probeIoSamples :+= v; v
            } else -1.0 // absent marker (dropped from the JSON)
          probeTimeline :+= ((name, ps, pg, pio))
        }
        val before = totals.snapshot()
        val gcBefore = gcMs()
        val t = sec(
          try {
            // derived shuffle width for the wide-shuffle SQL family,
            // scoped around the action (binds at exchange planning)
            val saved = spark.conf.get("spark.sql.shuffle.partitions")
            SparkEntry.shuffleWidthHint(name, spark, sfDir)
              .foreach(w => spark.conf.set("spark.sql.shuffle.partitions", w))
            try fn(spark, sfDir).count()
            finally spark.conf.set("spark.sql.shuffle.partitions", saved)
          }
          catch { case e: Throwable =>
            // printable ASCII only — a control char would break the JSON line
            errors += name -> e.toString.takeWhile(_ != '\n').take(200)
              .map(c => if (c >= ' ' && c <= '~') c else ' ')
          })
        val io = totals.snapshot() - before
        queryIo :+= ((name, (io.shufRead, io.shufWrite, io.spill,
          gcMs() - gcBefore)))
        val built = graft.util.SessionMemo.drainBuildLog()
          .filter(_._2 >= memoMin)
        memoBuilds ++= built.map { case (k, s) => (k, s, name) }
        val memoSec = built.map(_._2).sum
        (name, t, memoSec)
    }

    // Reference A/B: cold create vs warm reuse of the partition cache
    // (performance_analyzer.py B1-B4). The write path is warmed ONCE on a
    // throwaway dir first — the reference's numbers come from a long-lived
    // server process, so a cold-JVM first write would overstate create by
    // the one-off committer/codec init cost, not the query cost.
    val warmDir =
      graft.util.Scratch.dir("graft_bench_warm_")
    operators.PartitionCache.calcAvg(spark, sfDir, warmDir, "R")
    val cacheDir =
      graft.util.Scratch.dir("graft_bench_cache_")
    val tCreate = sec(
      operators.PartitionCache.calcAvg(spark, sfDir, cacheDir, "R"))
    val tReuse = sec(
      operators.PartitionCache.calcAvg(spark, sfDir, cacheDir, "R"))

    // o12 venue-vs-query split: the o12_partition_cache bench line
    // replays create+reuse over all three keys, so most of its seconds
    // are the create pass's VENUE WRITES (filtered subset
    // materialization at full fixture bytes), not query cost. Timing
    // the two passes separately on a fresh dir stops the core-ETL
    // family table from absorbing venue I/O as an apparent regression.
    val o12Dir =
      graft.util.Scratch.dir("graft_bench_o12_")
    val keys = Seq("A", "N", "R")
    val tO12Create = sec(keys.foreach(k =>
      operators.PartitionCache.calcAvg(spark, sfDir, o12Dir, k)))
    val tO12Reuse = sec(keys.foreach(k =>
      operators.PartitionCache.calcAvg(spark, sfDir, o12Dir, k)))

    val probeEnd = probeSec()
    val probeIoEnd = probeIoSec()
    // Per-query probe-normalized column: seconds divided by the MEDIAN
    // of every probe sample taken through the run (3 start + timeline
    // singles + 3 end) — "how many probe-units did this query cost",
    // the box-speed-free number to diff across rounds. Folding the
    // timeline into the denominator (r9 used the endpoint mean alone)
    // makes the column robust to the documented mid-run self-load
    // band: a run whose middle probes sit at 1.1 s against 0.6 s
    // endpoints no longer inflates every ratio by the endpoint
    // optimism.
    val sortedSamples = probeSamples.sorted
    val probeMedian =
      if (sortedSamples.isEmpty) 0.0
      else sortedSamples(sortedSamples.size / 2)
    val sortedIo = probeIoSamples.sorted
    val probeIoMedian =
      if (sortedIo.isEmpty) 0.0 else sortedIo(sortedIo.size / 2)
    // operator-only per-query seconds (wall minus the query's drained
    // memo builds, floored at 0 against clock noise)
    val opSec = results.map { case (k, t, m) => k -> math.max(0.0, t - m) }
    val qs = opSec.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsNorm = opSec.map { case (k, v) =>
      "\"" + k + "\":" + (if (probeMedian > 0) v / probeMedian else v) }
      .mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val memoJson = memoBuilds.map { case (key, s, during) =>
      jstr(key) + ":{\"sec\":" + s + ",\"during\":" + jstr(during) + "}" }
      .mkString("{", ",", "}")
    val qMemoJson = results.filter(_._3 > 0)
      .map { case (k, _, m) => "\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum // raw walls: Σqueries + Σmemo_builds
    val timelineJson = probeTimeline
      .map { case (before, s, g, pio) =>
        "{\"before\":\"" + before + "\",\"sec\":" + s + ",\"gc_ms\":" + g +
          (if (pio >= 0) ",\"io_sec\":" + pio else "") + "}" }
      .mkString("[", ",", "]")
    def mb(b: Long): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(b / 1e6))
    val ioJson = queryIo.map { case (k, (r, w, s, g)) =>
      "\"" + k + "\":{\"shuffle_read_mb\":" + mb(r) +
        ",\"shuffle_write_mb\":" + mb(w) + ",\"spill_mb\":" + mb(s) +
        ",\"gc_ms\":" + g + "}"
    }.mkString("{", ",", "}")
    // A wave-triggered rerun child ships its artifacts under the
    // `_rerun` suffix so the canonical run's record is never clobbered.
    val rerunSuffix = if (sys.env.contains("GRAFT_BENCH_RERUN")) "_rerun" else ""
    // Wave decision COMPUTED BEFORE the artifact line so the record
    // itself says whether this window triggered a rerun (ADVICE r13) —
    // the _rerun artifact's presence alone was the only prior signal.
    val waveProbe = sys.env.get("GRAFT_BENCH_WAVE_PROBE")
      .map(_.toDouble).getOrElse(1.15)
    val waveIo = sys.env.get("GRAFT_BENCH_WAVE_IO")
      .map(_.toDouble).getOrElse(1.2)
    // RELATIVE trigger (VERDICT r14 #1): the absolute 1.15 threshold
    // missed the r14 driver window (probe 1.06, 16% over the previous
    // round's 0.91 — a +32% raw outlier became the canonical number).
    // The committed baseline records the last quiet window's probe
    // median; a run whose probe exceeds it by >10% is loud RELATIVE TO
    // THE COMPARISON BASIS even when absolutely under 1.15, so it
    // reruns. Env GRAFT_BENCH_PROBE_BASELINE overrides (a number, or
    // "off" to disable the relative leg).
    val probeBaseline: Option[Double] =
      sys.env.get("GRAFT_BENCH_PROBE_BASELINE") match {
        case Some("off") => None
        case Some(v) => scala.util.Try(v.toDouble).toOption
        case None =>
          try {
            val p = java.nio.file.Paths.get("tools/bench_probe_baseline.json")
            if (java.nio.file.Files.exists(p)) {
              val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
              "\"probe_median_sec\"\\s*:\\s*([0-9.]+)".r
                .findFirstMatchIn(txt).map(_.group(1).toDouble)
            } else None
          } catch { case _: Exception => None }
      }
    val relWavy = probeBaseline.exists(b => probeMedian > b * 1.10)
    val wavy = probeMedian > waveProbe || probeIoMedian > waveIo || relWavy
    val waveRerun = wavy && rerunSuffix.isEmpty && only.isEmpty
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_probe_norm":$qsNorm,"queries_memo_sec":$qMemoJson,"memo_builds":$memoJson,"queries_io":$ioJson,"probe_start_sec":$probeStart,"probe_end_sec":$probeEnd,"probe_median_sec":$probeMedian,"probe_io_start_sec":$probeIoStart,"probe_io_end_sec":$probeIoEnd,"probe_io_median_sec":$probeIoMedian,"probe_io_direct":$ioProbeDirect,"wave_rerun":$waveRerun,"wave_relative":$relWavy,"probe_baseline_sec":${probeBaseline.getOrElse(-1.0)},"probe_timeline":$timelineJson,"errors":$errJson,"cache_create_sec":$tCreate,"cache_reuse_sec":$tReuse,"o12_venue_create_sec":$tO12Create,"o12_reuse_read_sec":$tO12Reuse,"sf":"$sfDir"}"""
    println(fullLine)
    // The full line above exceeds the harness's 2 KiB output-tail capture
    // (74 queries x ~26 chars), so it can never be parsed whole from the
    // tail. Persist it as an artifact, then print a compact summary line
    // LAST (top slowest queries, 2-decimal seconds) that fits the tail.
    if (only.isEmpty) { // don't clobber the artifacts from filtered runs
      // BENCH_FULL.json is "the latest full run" (driver contract); the
      // per-scale BENCH_<sf>.json keeps each scale's record so a small-
      // scale smoke run can never clobber the full-scale history
      // (ADVICE r6) — cross-scale ratios diff the per-scale files.
      val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
      for (p <- Seq(s"BENCH_FULL$rerunSuffix.json",
          s"BENCH_$sfName$rerunSuffix.json"))
        try java.nio.file.Files.write(
          java.nio.file.Paths.get(p),
          (fullLine + "\n").getBytes("UTF-8"))
        catch { case _: Throwable => () } // artifact write is best-effort
    }
    // Wavy-window self-adjudication (VERDICT r12 #3): when THIS run's
    // probes say the box was loud, the round's headline would
    // otherwise rest on a wave — re-exec a FRESH-JVM bench (same
    // classpath/JVM args/env, GRAFT_BENCH_RERUN=1) whose artifacts
    // land as BENCH_FULL_rerun.json / BENCH_<sf>_rerun.json, so both
    // windows are in the committed record and bench_diff can pick the
    // quiet one. In-process would be wrong: session memos and cached
    // staged relations would make the second window warm where the
    // first was cold. The child never re-triggers (suffix guard).
    //
    // Threshold calibration (r13, measured): the timeline-inclusive
    // CPU-probe MEDIAN folds the run's OWN self-load — full sf0.1 runs
    // read ~0.85-0.89 on a quiet box (idle probe 0.4-0.55) — so the
    // CPU trigger sits ABOVE the documented 0.9-1.1 self-load band
    // (the r12 wave's mid-run probes read 1.0-1.4). The O_DIRECT I/O
    // probe is the cleaner discriminator (quiet runs 0.15-0.26 s; the
    // r12 wave read 1.58). Env-tunable: GRAFT_BENCH_WAVE_PROBE /
    // GRAFT_BENCH_WAVE_IO (set PROBE to a huge value to disable).
    if (waveRerun) {
      System.err.println(f"graft: wavy bench window (probe median " +
        f"$probeMedian%.2f s vs $waveProbe%.2f, io $probeIoMedian%.2f s " +
        f"vs $waveIo%.2f) — re-running once in a fresh JVM; second " +
        "window lands in BENCH_FULL_rerun.json")
      try {
        import scala.jdk.CollectionConverters._
        val java17 = java.nio.file.Paths
          .get(System.getProperty("java.home"), "bin", "java").toString
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("-agentlib")) // no debugger re-attach
        val cmd = (Seq(java17) ++ jvmArgs ++
          Seq("-cp", System.getProperty("java.class.path"), "graft.Bench"))
          .asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("GRAFT_BENCH_RERUN", "1")
        // the child's stdout JSON must not precede this run's compact
        // tail line — its record is its artifact files
        pb.redirectOutput(new java.io.File("/tmp/graft_bench_rerun.log"))
        pb.redirectErrorStream(true)
        // Bounded wait: a hung child JVM must not hang the whole bench
        // (ADVICE r13). 30 min is ~4x a full sf0.1 run on a loud box.
        val proc = pb.start()
        if (!proc.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)) {
          proc.destroyForcibly()
          System.err.println("graft: wave rerun exceeded 30 min — " +
            "killed (see /tmp/graft_bench_rerun.log)")
        } else if (proc.exitValue() != 0) System.err.println(
          s"graft: wave rerun exited ${proc.exitValue()} " +
            "(see /tmp/graft_bench_rerun.log)")
      } catch { case e: Exception =>
        System.err.println(s"graft: wave rerun failed to launch: $e")
      }
    }
    // Locale.ROOT: f"" uses the JVM default locale — a comma-decimal
    // locale would emit invalid JSON
    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val memoTotal = memoBuilds.map(_._2).sum
    // Canonical-window selection (VERDICT r14 #1): the compact line —
    // the ONE number the driver parses from the output tail — comes
    // from the quieter of the two windows when a wave rerun ran (lower
    // probe median = less box contention during the window), instead
    // of unconditionally from the loud parent. Both FULL artifacts
    // stay on disk (BENCH_FULL.json + BENCH_FULL_rerun.json), so the
    // loud window is never erased, and the line says which window it
    // carries (`"window"`). Methodology per query is unchanged — this
    // selects between two complete, identically-measured windows.
    case class Window(total: Double, queries: Seq[(String, Double)],
                      nQ: Int, nErr: Int, memoTotal: Double,
                      cc: Double, cr: Double, oc: Double, orr: Double,
                      pStart: Double, pEnd: Double, pMed: Double,
                      pIoMed: Double, tag: String)
    val parentWin = Window(total, opSec, results.size, errors.size,
      memoTotal, tCreate, tReuse, tO12Create, tO12Reuse,
      probeStart, probeEnd, probeMedian, probeIoMedian, "main")
    val rerunWin: Option[Window] =
      if (!waveRerun) None
      else try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val p = java.nio.file.Paths.get("BENCH_FULL_rerun.json")
        if (!java.nio.file.Files.exists(p)) None
        else {
          implicit val fm: Formats = DefaultFormats
          val j = JsonMethods.parse(new String(
            java.nio.file.Files.readAllBytes(p), "UTF-8"))
          def d(k: String): Double = (j \ k).extract[Double]
          val qs = (j \ "queries").extract[Map[String, Double]].toSeq
          val memo = (j \ "memo_builds") match {
            case JObject(fields) =>
              fields.map { case (_, v) => (v \ "sec").extract[Double] }.sum
            case _ => 0.0
          }
          val nErr = (j \ "errors") match {
            case JObject(f) => f.size
            case _ => 0
          }
          Some(Window(d("value"), qs, qs.size, nErr, memo,
            d("cache_create_sec"), d("cache_reuse_sec"),
            d("o12_venue_create_sec"), d("o12_reuse_read_sec"),
            d("probe_start_sec"), d("probe_end_sec"),
            d("probe_median_sec"), d("probe_io_median_sec"), "rerun"))
        }
      } catch { case e: Exception =>
        System.err.println(s"graft: rerun artifact unparseable " +
          s"($e) — compact line keeps the main window")
        None
      }
    // the rerun is canonical only when it is actually quieter AND no
    // query newly failed in it
    val win = rerunWin
      .filter(w => w.pMed > 0 && w.pMed < probeMedian &&
        w.nErr <= errors.size && w.nQ == results.size)
      .getOrElse(parentWin)
    val slowestQ = win.queries.sortBy(-_._2).take(12)
    val slowest = slowestQ
      .map { case (k, v) => "\"" + k + "\":" + r2(v) }.mkString("{", ",", "}")
    // per-query probe-normalized column IN the compact line (VERDICT
    // r14 #1): seconds ÷ the window's own probe median — the driver
    // can normalize round-over-round without the full artifact
    val slowestNorm = slowestQ
      .map { case (k, v) => "\"" + k + "\":" +
        r3(if (win.pMed > 0) v / win.pMed else v) }
      .mkString("{", ",", "}")
    // total_probe_norm: the box-speed-free headline (seconds ÷ median
    // probe) — the number to diff round-over-round without archaeology
    // (VERDICT r10 #7); tools/bench_diff.py compares two artifacts on
    // the normalized columns directly.
    val totalNorm = if (win.pMed > 0) win.total / win.pMed else win.total
    println(s"""{"metric":"total","value":${r2(win.total)},"unit":"sec","queries":$slowest,"queries_probe_norm":$slowestNorm,"n_queries":${win.nQ},"n_errors":${win.nErr},"memo_build_sec":${r2(win.memoTotal)},"cache_create_sec":${r2(win.cc)},"cache_reuse_sec":${r2(win.cr)},"o12_venue_create_sec":${r2(win.oc)},"o12_reuse_read_sec":${r2(win.orr)},"probe_start_sec":${r2(win.pStart)},"probe_end_sec":${r2(win.pEnd)},"probe_median_sec":${r2(win.pMed)},"probe_io_median_sec":${r2(win.pIoMed)},"total_probe_norm":${r2(totalNorm)},"wave_rerun":$waveRerun,"window":"${win.tag}","sf":"$sfDir","detail":"BENCH_FULL.json"}""")
    spark.stop()
  }

  /** Calibration probe: a FIXED-shape job (20M-row range scan → modular
    * key → hash aggregate over ~100k keys → tiny shuffle) whose time is
    * what the box is delivering right now. Runners time its `collect()`
    * and compare query/probe ratios, not raw seconds. */
  def probeFrame(spark: SparkSession): DataFrame =
    spark.range(0L, 20000000L, 1L, 32)
      .selectExpr("id % 99991 AS k", "id AS v")
      .groupBy("k").agg(sum("v"))
      .selectExpr("count(*)", "sum(k)")

  /** Running totals of the finished tasks' metrics, in bytes and ns. */
  final case class TaskSums(shufRead: Long, shufWrite: Long, spill: Long,
                            cpuNs: Long, runNs: Long) {
    def -(o: TaskSums): TaskSums = TaskSums(shufRead - o.shufRead,
      shufWrite - o.shufWrite, spill - o.spill, cpuNs - o.cpuNs,
      runNs - o.runNs)
  }

  /** Listener summing every finished task's shuffle, spill and CPU. */
  final class TaskTotals extends SparkListener {
    private val shufRead, shufWrite, spill, cpuNs, runNs = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        cpuNs.addAndGet(m.executorCpuTime)
        runNs.addAndGet(m.executorRunTime * 1000000L)
      }
    }
    def snapshot(): TaskSums = TaskSums(shufRead.get, shufWrite.get,
      spill.get, cpuNs.get, runNs.get)
  }
}
