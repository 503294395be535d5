package graft

import graft.sources.Tables
import graft.streaming.Streaming
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {

  private lazy val nEvents = Tables.events(spark, sf).count()

  test("state width derives from observed source volume (deployment rule is code)") {
    // the pure schedule: small states stay at the measured 8-partition
    // optimum, one partition per 1M rows beyond that, capped at the
    // batch shuffle width — the exact rule the sf10 soak validated
    // (10M-key dedup: 8 partitions → 34.9× decade ratio, 32 → 9.8×)
    assert(Streaming.stateWidthFor(0L, 32) == 8)
    assert(Streaming.stateWidthFor(600000L, 32) == 8)
    assert(Streaming.stateWidthFor(8000000L, 32) == 8)
    assert(Streaming.stateWidthFor(10000000L, 32) == 10)
    assert(Streaming.stateWidthFor(60000000L, 32) == 32)
    assert(Streaming.stateWidthFor(60000000L, 64) == 60)
    // CPU-bound per-group operators ((flat)mapGroupsWithState /
    // transformWithState) take a 100k-row step: their wall is
    // partition-parallelism-bound, not store-overhead-bound (sf10
    // measured: x13d 65.9 s at the volume width vs 26.6 s at 32)
    assert(Streaming.stateWidthFor(600000L, 32, cpuBound = true) == 8)
    assert(Streaming.stateWidthFor(1000000L, 32, cpuBound = true) == 10)
    assert(Streaming.stateWidthFor(10000000L, 32, cpuBound = true) == 32)
    assert(Streaming.stateWidthFor(10000000L, 64, cpuBound = true) == 64)
    // the files transport derives its width from the observed volume —
    // and the width is THREADED per venue, so constructing a
    // volume-blind transport afterwards cannot clobber a files query's
    // derivation (the old session-conf channel was a shared mutable
    // slot with exactly that race)
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val w1 = Streaming.sourceWidth(spark, sf)
    assert(w1.contains(Streaming.stateWidthFor(nEvents, cap)))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, Long)](spark)
    Streaming.eventSource(spark, sf, format = "memory",
      injected = mem.toDF.toDF("ts", "user_id"))
    assert(Streaming.sourceWidth(spark, sf) == w1,
      "a memory transport must not disturb the files venue's width")
    // a session dispatched to an unbounded transport has no derivation
    spark.conf.set("graft.streaming.source", "rate")
    try assert(Streaming.sourceWidth(spark, sf).isEmpty)
    finally spark.conf.unset("graft.streaming.source")
    // the width memo keys on the events FILE FINGERPRINT, so a fixture
    // that grows mid-session (the restart contract: more source files
    // land between runs) re-probes instead of reusing a stale width
    val dir = java.nio.file.Files.createTempDirectory("graft_fp_")
    try {
      val ev = s"$dir/events.parquet"
      spark.range(10).write.parquet(ev)
      val f1 = graft.util.Fingerprint.of(spark, ev)
      assert(f1 != "absent")
      spark.range(10, 20).write.mode("append").parquet(ev)
      assert(graft.util.Fingerprint.of(spark, ev) != f1,
        "appended files must change the fingerprint (fresh memo key)")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("tumbling windows partition the stream (each event in exactly one window)") {
    val agg = Streaming.tumbling(spark, sf).collect()
    assert(agg.map(_.getLong(2)).sum == nEvents)
  }

  test("sliding windows double-count with slide = width/2") {
    val agg = Streaming.sliding(spark, sf).collect()
    assert(agg.map(_.getLong(1)).sum == 2 * nEvents)
  }

  test("streaming dedup equals batch DISTINCT") {
    val streamed = Streaming.streamDedup(spark, sf).count()
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("m")).distinct().count()
    assert(streamed == batch)
  }

  test("the RocksDB native logger is pinned to ERROR before the first store opens") {
    // Spark derives the NATIVE InfoLogLevel from this class logger's
    // enabled level (RocksDB.createLogger: warn-enabled → WARN_LEVEL),
    // and each native log at/above it crosses rocksdbjni's
    // LoggerJniCallback — the callback that SIGSEGV'd on a RocksDB
    // background thread under sf100 compaction logging. withStateWidth
    // pins the level to ERROR once, before any store opens; this pin
    // is what keeps the callback ~silent on every stateful venue.
    Streaming.streamDedup(spark, sf).count() // any stateful query fires the one-time pin
    val slf = org.slf4j.LoggerFactory.getLogger(
      "org.apache.spark.sql.execution.streaming.state.RocksDB")
    assert(!slf.isWarnEnabled, "RocksDB class logger must not be warn-enabled " +
      "(Spark would register the native logger at WARN_LEVEL)")
    assert(slf.isErrorEnabled, "errors must still surface")
  }

  test("sessions cover all events and never overlap per user") {
    val s = Streaming.sessionize(spark, sf).collect()
    assert(s.map(_.getLong(3)).sum == nEvents)
    s.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.map(r => (r.getString(1), r.getString(2))).sortBy(_._1)
      sorted.sliding(2).foreach {
        case Array((_, prevEnd), (nextStart, _)) =>
          assert(nextStart >= prevEnd, "sessions must not overlap")
        case _ =>
      }
    }
  }

  test("batch sessionization (x23) equals the streaming session_window (x13b)") {
    // Cross-paradigm pin: a backfill computed relationally must place
    // every event in the SAME session the streaming engine's native
    // session_window produces — same session starts, same sizes. Both
    // use the exclusive-end convention (gap >= 30 min opens a session).
    val batch = graft.operators.Relational.batchSessions(spark, sf)
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"))
      .collect().map(_.toString).sorted.toSeq
    val streamed = Streaming.sessionize(spark, sf)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(_.toString).sorted.toSeq
    assert(batch == streamed,
      s"batch and streaming sessions diverge: ${batch.size} vs ${streamed.size} sessions")
  }

  test("append sessionize boundary: ms-truncated watermark, end <= wm emits") {
    // The x13f oracle's cut is `end_us <= (max_us div 1000 - delay_ms)
    // * 1000` — both halves of that expression pinned here with events
    // crafted ±1 µs / ±1 ms around the boundary. Driver event at
    // W = 10^13 + 999 µs: Spark's EventTimeWatermarkExec accumulates
    // event-time max in MILLISECONDS (floor), so the watermark is
    // (10^10 ms - 1 h) regardless of the +999 µs residue.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val W = 10000000000999L // µs; ms-floor = 10^10 ms
    val wmUs = (W / 1000 - 3600000L) * 1000 // 10^13 - 3.6e9
    val gap = 1800000000L // 30 min in µs
    def ts(us: Long) = new java.sql.Timestamp(us / 1000) {
      setNanos(((us % 1000000L) * 1000).toInt)
    }
    val mem = MemoryStream[(java.sql.Timestamp, Long)](spark)
    // user 1: session end == watermark exactly        -> emits (<=)
    // user 2: end = watermark + 1 µs                  -> held (also
    //         disproves an untruncated watermark, which would sit
    //         999 µs higher and emit it)
    // user 3: end = watermark - 1 ms                  -> emits
    // user 99: the watermark driver, end way past wm  -> held
    mem.addData(
      (ts(wmUs - gap), 1L), (ts(wmUs - gap + 1), 2L),
      (ts(wmUs - gap - 1000), 3L), (ts(W), 99L))
    val out = Streaming.sessionizeAppendFrom(
      mem.toDF.toDF("ts", "user_id")).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L),
      s"expected exactly users 1 and 3 to close; got " +
        out.map(r => (r.getLong(0), r.getString(2))).mkString(", "))
    assert(out.forall(_.getLong(3) == 1L))
  }

  test("append sessionize resumes across a restart (exactly-once, state carried)") {
    // The production contract SessionAppendSoak measures at sf10/sf100,
    // pinned here at CI scale: run 1 drains the historical 99% (by
    // event time), the newest 1% lands as NEW FILES, run 2 resumes from
    // the checkpoint — and the two-run sink must equal the single-shot
    // x13f over the full corpus, row for row. A session STRADDLING the
    // cut (open at the end of run 1, closed by run 2's data/watermark)
    // is exactly what the carried state must get right.
    val dir = java.nio.file.Files.createTempDirectory("graft_x13f_rs_")
    val src = s"$dir/src"
    val out = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts", "value")
    val Seq(minUs, maxUs) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head.toSeq.map(_.asInstanceOf[Long])
    val cutUs = minUs + ((maxUs - minUs) * 99L) / 100L
    ev.filter(unix_micros(col("ts")) < cutUs)
      .write.parquet(s"$src/events.parquet")
    val run1 = Streaming.sessionizeAppendRun(spark, src, out, ckpt).count()
    ev.filter(unix_micros(col("ts")) >= cutUs)
      .write.mode("append").parquet(s"$src/events.parquet")
    val resumed = Streaming.sessionizeAppendRun(spark, src, out, ckpt)
      .collect().map(_.toString).sorted.toSeq
    assert(resumed.size > run1, "the tail must close additional sessions")
    val oneShot = Streaming.sessionizeAppend(spark, src)
      .collect().map(_.toString).sorted.toSeq
    assert(resumed == oneShot,
      s"resumed sink diverges from single-shot: ${resumed.size} vs " +
        s"${oneShot.size} sessions")
  }

  test("append sessionize resume with only-late events returns promptly") {
    // ADVICE r14: a resumed refresh whose new files hold ONLY late
    // events (<= the checkpointed watermark) never advances the
    // watermark, so no eviction-flush no-data batch will ever run —
    // the drain must recognize that (zero state rows touched) and
    // return, not spin 30 s into an IllegalStateException with the
    // query leaked. Sink content must be byte-unchanged.
    val dir = java.nio.file.Files.createTempDirectory("graft_x13f_late_")
    val src = s"$dir/src"
    val out = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts", "value")
    ev.write.parquet(s"$src/events.parquet")
    val run1 = Streaming.sessionizeAppendRun(spark, src, out, ckpt)
      .collect().map(_.toString).sorted.toSeq
    // new file: the corpus's OLDEST 1% re-stamped as fresh events —
    // all far below the checkpointed watermark (fixture span >> 1 h
    // delay), so every row is dropped as late on resume
    val minUs = ev.agg(min(unix_micros(col("ts")))).head.getLong(0)
    val lateOnly = ev.filter(unix_micros(col("ts"))
      < minUs + 1000000L) // oldest second — unambiguously late
    assert(lateOnly.count() > 0, "fixture must supply late rows")
    lateOnly.write.mode("append").parquet(s"$src/events.parquet")
    val t0 = System.nanoTime()
    val resumed = Streaming.sessionizeAppendRun(spark, src, out, ckpt)
      .collect().map(_.toString).sorted.toSeq
    val sec = (System.nanoTime() - t0) / 1e9
    assert(resumed == run1,
      s"late-only resume must not change the sink: ${resumed.size} vs " +
        s"${run1.size} sessions")
    assert(sec < 25.0,
      f"late-only resume took $sec%.1f s — the flushless fast path " +
        "did not engage")
  }

  test("append sessionize (x13f) = batch sessions restricted to watermark-closed") {
    // The finalization-lag contract stated as an equality: the append
    // sink holds EXACTLY the x23 batch sessions whose end_us clears the
    // ms-truncated final watermark.
    val events = graft.sources.Tables.events(spark, sf)
    val maxUs = events.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val wmUs = (maxUs / 1000 - 3600000L) * 1000
    val closed = graft.operators.Relational.batchSessions(spark, sf)
      .filter(col("end_us") + 1800000000L <= wmUs)
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"))
      .collect().map(_.toString).sorted.toSeq
    val streamed = Streaming.sessionizeAppend(spark, sf)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(_.toString).sorted.toSeq
    assert(closed.nonEmpty, "fixture must close at least one session")
    assert(closed == streamed,
      s"watermark-closed batch sessions diverge from the append sink: " +
        s"${closed.size} vs ${streamed.size} sessions")
  }

  test("streaming HLL sketches equal the batch rollup EXACTLY (order-free registers)") {
    val batch = graft.operators.Relational.sketchRollup(spark, sf)
      .filter(col("day") =!= "(all)")
      .collect().map(_.toString).sorted.toSeq
    val streamed = Streaming.sketchRollupStream(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(batch == streamed,
      s"HLL is order-insensitive, so these must be identical: " +
        s"${batch.size} vs ${streamed.size} days")
  }

  test("watermark drops events later than the horizon across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, String)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val agg = src.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("graft_late_test").start()
    // batch 1: events up to 12:00 → watermark advances to 11:50
    src.addData((t("2024-01-01 11:00:00"), "a"), (t("2024-01-01 12:00:00"), "a"))
    q.processAllAvailable()
    // batch 2: an 11:05 event is behind the 11:50 watermark → dropped;
    // its (closed) 11:00 window must still show only the batch-1 event
    src.addData((t("2024-01-01 11:05:00"), "a"), (t("2024-01-01 12:01:00"), "a"))
    q.processAllAvailable()
    src.addData((t("2024-01-01 13:00:00"), "a")) // push watermark, close windows
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("graft_late_test").collect()
      .map(r => r.getStruct(0).getTimestamp(0).toString -> r.getLong(2)).toMap
    assert(rows("2024-01-01 11:00:00.0") == 1L,
      s"late 11:05 event should have been dropped: $rows")
  }

  test("the tumbling aggregate is source-swappable (memory-stream Kafka stand-in)") {
    // Same transform as x12a, fed from a driver-pushed MemoryStream (the
    // test stand-in for a Kafka source: rows arrive in multiple
    // micro-batches, not from files) — proving the aggregate never
    // depends on the file source it normally reads from. Two batches
    // exercise cross-micro-batch state merging, which the one-batch file
    // fixture can't.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, String, Double)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // through the source FACTORY's memory branch — the same entry the
    // file and rate transports dispatch from
    val agg = Streaming.tumblingAggOf(Streaming.eventSource(spark, "",
      format = "memory",
      injected = src.toDF().toDF("ts", "event_type", "value")))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("graft_swap_src").start()
    src.addData((t("2024-03-01 10:05:00"), "click", 1.5),
      (t("2024-03-01 10:55:00"), "click", 2.0),
      (t("2024-03-01 11:10:00"), "view", 4.0))
    q.processAllAvailable()
    // micro-batch 2 lands in an ALREADY-SEEN window → state must merge
    src.addData((t("2024-03-01 10:30:00"), "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_swap_src").collect()
      .map(r => (r.getStruct(0).getTimestamp(0).toString, r.getString(1))
        -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == Map(
      ("2024-03-01 10:00:00.0", "click") -> (3L, 6.5),
      ("2024-03-01 11:00:00.0", "view") -> (1L, 4.0)))
  }

  test("mapGroupsWithState per-user stats equal a batch aggregate") {
    val st = Streaming.statefulUserStats(spark, sf).collect()
    val batch = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st.map(r => r.getLong(0) -> r.getLong(1)).toMap == batch)
  }

  test("file sink lands finalized windows (production path)") {
    // Append-mode file sink holds exactly the windows the watermark has
    // finalized; each must agree with the complete-mode (memory-sink)
    // result, and everything except the trailing watermark horizon must
    // be present.
    val fileRows = Streaming.tumblingToFileSink(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
    assert(fileRows.nonEmpty, "no finalized windows reached the file sink")
    assert(fileRows.map(_._1).distinct.length == fileRows.length)
    val complete = Streaming.tumbling(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    fileRows.foreach { case (key, v) =>
      assert(complete(key) == v, s"file-sink window $key disagrees: $v vs ${complete(key)}")
    }
    // all but the last watermark-horizon hour must be finalized
    val lastFinalized = fileRows.map(_._1._1).max
    val lastComplete = complete.keys.map(_._1).max
    assert(fileRows.length >= complete.size - 2,
      s"too few finalized windows (${fileRows.length} of ${complete.size}; " +
        s"file-sink max $lastFinalized, complete max $lastComplete)")
  }
  test("stateful file sink: deduplicated stream on disk equals the memory-sink dedup") {
    // The production landing path for a STATEFUL op: append-mode
    // dropDuplicatesWithinWatermark into a parquet sink with a
    // checkpoint. Dedup emission is data-driven (no watermark
    // finalization lag), so the file must hold the complete
    // deduplicated stream — byte-equal to the memory-sink x13a result.
    val file = Streaming.dedupToFileSink(spark, sf).collect().map(_.toSeq)
    val mem = Streaming.streamDedup(spark, sf).collect().map(_.toSeq)
    assert(file.nonEmpty)
    assert(file.toSeq == mem.toSeq)
  }

  test("stateful restart: RocksDB dedup state survives a kill (exactly-once across runs)") {
    // The crash/deploy contract of the production path: stop the query
    // between micro-batches (a process death at a batch boundary),
    // land MORE source files — half of them carrying keys the first
    // incarnation already emitted — and restart against the same
    // checkpoint. The file-source offset log must skip ingested files
    // and the reloaded RocksDB key state must keep suppressing the
    // pre-kill keys: every key emits exactly once ACROSS runs. If the
    // state did not survive, keys 50-99 would be "first seen" again in
    // run 2 and the sink would hold 200 rows, not 150.
    val srcRoot = java.nio.file.Files.createTempDirectory("graft_rs_").toString
    val out  = java.nio.file.Files.createTempDirectory("graft_rs_o_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rs_c_").toString
    val evDir = s"$srcRoot/events.parquet"
    def mk(users: Range) = spark.range(users.start, users.end)
      .select(col("id").as("event_id"), col("id").as("user_id"),
        lit("click").as("event_type"),
        to_timestamp(lit("2025-01-01 00:01:00")).as("ts"),
        col("id").cast("double").as("value"))
    // run 1: keys 0-99, each written twice (in-run duplicates)
    mk(0 until 100).union(mk(0 until 100))
      .write.mode("append").parquet(evDir)
    val r1 = Streaming.dedupRunToFileSink(spark, srcRoot, out, ckpt)
    assert(r1.count() == 100L, "in-run duplicates must collapse")
    // the process dies; keys 50-149 land (50-99 are pre-kill repeats)
    mk(50 until 150).write.mode("append").parquet(evDir)
    val r2 = Streaming.dedupRunToFileSink(spark, srcRoot, out, ckpt)
    val users = r2.collect().map(_.getLong(0))
    assert(users.toSet == (0L until 150L).toSet,
      "run 2 must ingest the new files and emit the genuinely new keys")
    assert(users.length == 150,
      s"every key exactly once across the restart, got ${users.length}")
  }

  test("the tumbling aggregate runs from a rate source (third source shape)") {
    // x12a's transform over format("rate-micro-batch") — a generator
    // source with none of the file source's schema/layout — proving the
    // aggregate is source-agnostic beyond files and MemoryStream. The
    // rate source never exhausts, so the query is stopped after a few
    // micro-batches and the assertions are conservation laws over
    // whatever N batches landed: complete-mode counts must sum to the
    // rows generated (50/batch), and the exact-decimal value sum must
    // equal the sum of the global row indices 0..total-1.
    // through the source FACTORY's rate branch (generator transport)
    val agg = Streaming.tumblingAggOf(
      Streaming.eventSource(spark, "", format = "rate"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("graft_rate_src").start()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.table("graft_rate_src").agg(sum("n")).collect()
             .headOption.flatMap(r => Option(r.get(0))).map(_.toString.toLong)
             .getOrElse(0L) < 100L && System.nanoTime() < deadline) {
      Thread.sleep(200)
    }
    q.stop()
    val rows = spark.table("graft_rate_src").collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total >= 100L && total % 50L == 0L,
      s"expected whole 50-row batches, got $total rows")
    val sumValue = rows.map(_.getDouble(3)).sum
    assert(sumValue == (total.toDouble * (total - 1) / 2),
      s"value conservation failed: $sumValue for $total rows")
    assert(rows.map(_.getString(1)).toSet.subsetOf(Set("t0", "t1", "t2")))
  }

  test("the source factory dispatches every transport; kafka is one conf away") {
    // files / memory / rate are certified live by the tests above —
    // this pins the DISPATCH contract: the kafka branch is reachable
    // and demands its broker conf (no silent fallback), and an unknown
    // transport fails fast instead of defaulting to files.
    val kafkaErr = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.eventSource(spark, "", format = "kafka")
    }
    assert(kafkaErr.getMessage.contains("graft.streaming.kafka.bootstrap"))
    val unknownErr = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.eventSource(spark, "", format = "pulsar")
    }
    assert(unknownErr.getMessage.contains("unknown event source format"))
    // memory without its injected stream must also refuse
    intercept[IllegalArgumentException] {
      graft.streaming.Streaming.eventSource(spark, "", format = "memory")
    }
  }

  test("live Kafka smoke (env-gated: set KAFKA_BOOTSTRAP [/ KAFKA_TOPIC])") {
    // First contact with a real broker is a CI FLAG, not new code —
    // the MySQL-smoke discipline applied to the kafka leg. Point
    // KAFKA_BOOTSTRAP at any broker with spark-sql-kafka-0-10 (+ its
    // kafka-clients / token-provider / commons-pool2 deps) on the
    // classpath and this round-trips fixture events through a topic:
    // produce via Spark's own kafka BATCH SINK (string-format — the
    // same connector jar as the source, zero compile-time deps here),
    // consume via the engine's eventSource kafka branch
    // (startingOffsets=earliest), assert the JSON-value projection
    // reproduces the rows. Without the env (this sandbox has no broker
    // and no connector jar: /opt/spark/jars ships none and the
    // resolver is offline) the test is CANCELED, never silently green.
    import org.apache.spark.sql.streaming.Trigger
    val bootOpt = sys.env.get("KAFKA_BOOTSTRAP")
    assume(bootOpt.isDefined,
      "no KAFKA_BOOTSTRAP in the environment — live-Kafka smoke skipped")
    val boot = bootOpt.get
    // KAFKA_TOPIC is a PREFIX, not a literal topic: the smoke reads
    // startingOffsets=earliest, so a pre-existing topic with residual
    // messages would fail the round-trip for an environmental reason.
    // A unique suffix guarantees a fresh topic every run (brokers
    // auto-create by default; pre-create the exact name if yours
    // doesn't).
    val topic = sys.env.getOrElse("KAFKA_TOPIC", "graft_smoke") +
      s"_${System.currentTimeMillis()}_${java.util.UUID.randomUUID().toString.take(8)}"
    // The 500-row selection is evaluated twice (produce job + `want`
    // collect), so it must be deterministic: dedupe on event_id first
    // — after dropDuplicates the orderBy key is unique by construction
    // and limit(500) picks the same rows in both jobs.
    val events = graft.sources.Tables.events(spark, sf)
      .dropDuplicates("event_id")
      .orderBy("event_id").limit(500)
      .select("event_id", "user_id", "event_type", "ts", "value")
    events
      .select(to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), col("ts"), col("value"))).as("value"))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", boot)
      .option("topic", topic).save()
    spark.conf.set("graft.streaming.kafka.bootstrap", boot)
    spark.conf.set("graft.streaming.kafka.topic", topic)
    spark.conf.set("graft.streaming.kafka.startingOffsets", "earliest")
    try {
      val src = graft.streaming.Streaming
        .eventSource(spark, sf, format = "kafka")
      val q = src.writeStream.outputMode("append")
        .format("memory").queryName("graft_kafka_smoke")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "kafka smoke drain timed out")
      val got = spark.table("graft_kafka_smoke")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .collect().map(_.toSeq).toSet
      val want = events.collect().map(_.toSeq).toSet
      assert(got == want,
        s"kafka round-trip mismatch: got ${got.size} rows, want ${want.size}")
    } finally {
      spark.conf.unset("graft.streaming.kafka.bootstrap")
      spark.conf.unset("graft.streaming.kafka.topic")
      spark.conf.unset("graft.streaming.kafka.startingOffsets")
    }
  }

  test("batch bucketed interval join equals the stream-stream interval join") {
    // Same logical query, two physical engines: the time-bucketed batch
    // equi-join (x16b) and the watermarked stream-stream join (x12d)
    // must produce the identical pair set on a one-batch fixture.
    val batch = graft.operators.Relational.intervalJoin(spark, sf)
      .collect().map(_.toSeq)
    val streamed = Streaming.streamStreamJoin(spark, sf)
      .collect().map(_.toSeq)
    assert(batch.nonEmpty)
    assert(batch.toSeq == streamed.toSeq)
  }

  test("stream-stream left outer: matched pairs + watermark-evicted unmatched, deterministically") {
    val out = Streaming.streamStreamOuterJoin(spark, sf).collect()
    val matched = out.filter(!_.isNullAt(1)).map(_.toSeq)
    val inner = Streaming.streamStreamJoin(spark, sf).collect().map(_.toSeq)
    assert(matched.toSeq == inner.toSeq,
      "outer join's matched rows must equal the inner join")
    // null-extended rows are exactly the unmatched purchases whose state
    // the global watermark (min stream max − 2h) evicted before stop
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("user_id"))
    val maxC = ev.filter(col("event_type") === "click")
      .agg(max("ts")).head().getTimestamp(0).getTime
    val maxP = p.agg(max("ts")).head().getTimestamp(0).getTime
    val wmMillis = math.min(maxC, maxP) - 2L * 3600 * 1000
    val matchedIds = inner.map(_.head.asInstanceOf[Long]).toSet
    val expectNull = p.collect()
      .filter(r => !matchedIds(r.getLong(0)) &&
        r.getTimestamp(1).getTime < wmMillis)
      .map(_.getLong(0)).sorted.toSeq
    val gotNull = out.filter(_.isNullAt(1)).map(_.getLong(0)).sorted.toSeq
    assert(gotNull == expectNull)
    assert(gotNull.nonEmpty, "fixture must exercise the eviction path")
    // rerun: the no-data-batch flush must be deterministic, not racy
    val again = Streaming.streamStreamOuterJoin(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("chained stateful (join -> window agg) closes windows at the propagated watermark") {
    val got = Streaming.attributedRate(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // batch replay: joined pairs per hour, cut at wm − 1h (the join's
    // output watermark trails the global one by its interval span)
    val ev = Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    val maxC = c.agg(max("click_ts")).head().getTimestamp(0).getTime
    val maxP = p.agg(max("purchase_ts")).head().getTimestamp(0).getTime
    val cutMillis = math.min(maxC, maxP) - 3L * 3600 * 1000 // 2h wm + 1h span
    val want = p.join(c, col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .groupBy(window(col("purchase_ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .filter(unix_millis(col("window.end")) <= lit(cutMillis))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"), col("n"))
      .orderBy("window.start").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty)
    val again = Streaming.attributedRate(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == again.toSeq)
  }

  test("transformWithState value-state stats equal the batch aggregate") {
    val got = Streaming.valueStateStats(spark, sf).collect()
    val want = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Exact.dsum(col("value")).as("sum_value"))
      .orderBy("user_id").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1))
      assert(math.abs(g.getDouble(2) - w.getDouble(2)) < 1e-9,
        s"user ${g.getLong(0)}: ${g.getDouble(2)} vs ${w.getDouble(2)}")
    }
  }

  test("the snapshot append tail picks up mid-stream appendCommits incrementally") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tailinc_").toString
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    graft.operators.Snapshot.commit(mk(0L, 100L), root)
    val name = "graft_tail_inc"
    val q = Streaming.snapshotAppends(spark, root,
        graft.operators.Snapshot.readCurrent(spark, root).schema)
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    def total(): Long = {
      q.processAllAvailable()
      spark.table(name).agg(sum(col("n"))).head().getLong(0)
    }
    try {
      assert(total() == 100L, "initial commit not read")
      // appends land WHILE the query runs: the file source must list
      // the new version dirs' files on the next micro-batch
      graft.operators.Snapshot.appendCommit(mk(100L, 250L), root)
      assert(total() == 250L, "first mid-stream append not picked up")
      graft.operators.Snapshot.appendCommit(mk(250L, 400L), root)
      assert(total() == 400L, "second mid-stream append not picked up")
    } finally q.stop()
  }

  test("vacuum x append tail: unchecked resume is silently lossy; the audited resume fails fast") {
    import graft.operators.Snapshot
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_tailvac_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tailvac_c_").toString
    val out  = java.nio.file.Files.createTempDirectory("graft_tailvac_o_").toString
    val mk = (lo: Long) => spark.range(lo, lo + 10L)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    Snapshot.commit(mk(0L), root)        // v1
    Snapshot.appendCommit(mk(10L), root) // v2
    val schema = Snapshot.readCurrent(spark, root).schema
    def drain(): Unit = {
      val q = Streaming.snapshotAppends(spark, root, schema)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "tail drain timed out")
    }
    drain() // checkpoint now covers v1, v2
    assert(spark.read.parquet(out).count() == 20L)
    // CONTRACT HALF 1 — pure append chain: vacuum cannot reclaim
    // carried live data (the current manifest references every older
    // dir), so a lagging tail is always recoverable, at any lag
    Snapshot.appendCommit(mk(20L), root) // v3
    Snapshot.appendCommit(mk(30L), root) // v4
    Snapshot.vacuum(spark, root, retain = 1)
    val a1 = Streaming.tailVacuumAudit(spark, root, ckpt).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a1 == Map(1L -> "seen", 2L -> "seen",
      3L -> "available", 4L -> "available"), s"audit: $a1")
    // the audited resume hands the stream back; catch-up is exact
    Streaming.resumeTailChecked(spark, root, ckpt, schema)
    drain()
    assert(spark.read.parquet(out).count() == 40L,
      "lagging tail must catch up exactly after an append-only vacuum")
    // CONTRACT HALF 2 — a REWRITE (compact) makes ancestors
    // unreferenced; vacuum then reclaims them. A tail that had NOT yet
    // listed the pre-compact appends can no longer resume exactly-once
    val ckpt2 = java.nio.file.Files
      .createTempDirectory("graft_tailvac_c2_").toString
    val out2 = java.nio.file.Files
      .createTempDirectory("graft_tailvac_o2_").toString
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_tailvac_r2_").toString
    Snapshot.commit(mk(0L), root2)        // v1
    Snapshot.appendCommit(mk(10L), root2) // v2
    def drain2(): Unit = {
      val q = Streaming.snapshotAppends(spark, root2, schema)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out2).option("checkpointLocation", ckpt2)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "tail drain timed out")
    }
    drain2() // saw v1, v2
    Snapshot.appendCommit(mk(20L), root2) // v3 — never listed by tail
    Snapshot.compact(spark, root2)        // v4 rewrites ALL rows
    Snapshot.vacuum(spark, root2, retain = 1) // v1..v3 reclaimed
    val a2 = Streaming.tailVacuumAudit(spark, root2, ckpt2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a2 == Map(1L -> "vacuumed_seen", 2L -> "vacuumed_seen",
      3L -> "vacuumed_unseen", 4L -> "available"), s"audit: $a2")
    // the guard refuses with the lost version and the full inventory
    val e = intercept[IllegalStateException] {
      Streaming.resumeTailChecked(spark, root2, ckpt2, schema)
    }
    assert(e.getMessage.contains("[3]") &&
      e.getMessage.contains("v=4:available"), e.getMessage)
    // and THIS is why it must refuse: the unchecked restart re-lists
    // the rewritten v4 and silently re-emits the 20 already-seen rows
    // alongside v3's 10 — duplicates, with no error anywhere
    drain2()
    val ks = spark.read.parquet(out2).select("k").collect()
      .map(_.getLong(0)).toSeq
    assert(ks.size == 50 && ks.distinct.size == 30,
      s"expected 20 silent duplicates after rewrite+vacuum resume; " +
        s"got ${ks.size} rows, ${ks.distinct.size} distinct")
    // CONTRACT HALF 3 — versions that add no data file (a MOR delete, a
    // metadata-only commit) gave a tail nothing to list, so vacuuming
    // them never blocks a resume
    val ckpt3 = java.nio.file.Files
      .createTempDirectory("graft_tailvac_c3_").toString
    val out3 = java.nio.file.Files
      .createTempDirectory("graft_tailvac_o3_").toString
    val root3 = java.nio.file.Files
      .createTempDirectory("graft_tailvac_r3_").toString
    def drain3(): Unit = {
      val q = Streaming.snapshotAppends(spark, root3, schema)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out3).option("checkpointLocation", ckpt3)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "tail drain timed out")
    }
    Snapshot.commit(mk(0L), root3)        // v1
    Snapshot.appendCommit(mk(10L), root3) // v2
    drain3() // saw v1, v2
    Snapshot.deleteWhereMor(spark, root3, col("k") === 3L)        // v3
    Snapshot.addCheckConstraint(spark, root3, "k_nonneg", "k >= 0") // v4
    Snapshot.appendCommit(mk(20L), root3) // v5
    Snapshot.vacuum(spark, root3, retain = 1)
    val a3 = Streaming.tailVacuumAudit(spark, root3, ckpt3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!a3.values.exists(_ == "vacuumed_unseen"), s"audit: $a3")
    assert(a3 == Map(1L -> "seen", 2L -> "seen", 3L -> "no_files",
      4L -> "no_files", 5L -> "available"), s"audit: $a3")
    Streaming.resumeTailChecked(spark, root3, ckpt3, schema)
    drain3()
    assert(spark.read.parquet(out3).count() == 30L,
      "resume must emit exactly v5's rows")
  }

  test("tail audit reads COMPACTED file-source logs (tails past the compact interval)") {
    // Spark's file source compacts its seen-file log every
    // compactInterval batches and deletes the folded-in plain files;
    // a tail with more batches than the interval keeps its early
    // history ONLY in <id>.compact files. The audit must read those,
    // or long-lived tails get their earliest versions misclassified
    // as never-seen (spurious exactly-once refusals after a vacuum).
    import graft.operators.Snapshot
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_tailcmp_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tailcmp_c_").toString
    val out  = java.nio.file.Files.createTempDirectory("graft_tailcmp_o_").toString
    val mk = (lo: Long) => spark.range(lo, lo + 5L)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    val ciKey = "spark.sql.streaming.fileSource.log.compactInterval"
    val retKey = "spark.sql.streaming.minBatchesToRetain"
    val delayKey = "spark.sql.streaming.fileSource.log.cleanupDelay"
    val prevCi = spark.conf.getOption(ciKey)
    val prevRet = spark.conf.getOption(retKey)
    val prevDelay = spark.conf.getOption(delayKey)
    spark.conf.set(ciKey, "3")
    spark.conf.set(retKey, "2")
    // expired plain log files are normally retained 10 min after
    // compaction (concurrent-reader grace); zero it so the venue
    // actually DELETES them and the audit must rely on the compacts
    spark.conf.set(delayKey, "0")
    try {
      Snapshot.commit(mk(0L), root) // v1
      val schema = Snapshot.readCurrent(spark, root).schema
      def drain(): Unit = {
        val q = Streaming.snapshotAppends(spark, root, schema)
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "tail drain timed out")
      }
      drain() // batch 0 sees v1
      for (i <- 1 to 11) { // 11 more single-version batches
        Snapshot.appendCommit(mk(i * 5L), root)
        drain()
      }
      // the venue is real: compaction ran AND the earliest plain log
      // file was cleaned up, so early entries live only in a .compact
      val names = new java.io.File(s"$ckpt/sources/0")
        .listFiles().map(_.getName).toSet
      assert(names.exists(_.endsWith(".compact")),
        s"expected compacted log files, got $names")
      assert(!names.contains("0"),
        s"expected batch-0 plain log to be compacted away, got $names")
      val audit = Streaming.tailVacuumAudit(spark, root, ckpt).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(audit == (1L to 12L).map(_ -> "seen").toMap, s"audit: $audit")
      // the audited resume hands the stream back (no spurious refusal)
      Streaming.resumeTailChecked(spark, root, ckpt, schema)
      assert(spark.read.parquet(out).count() == 60L)
    } finally {
      prevCi.fold(spark.conf.unset(ciKey))(spark.conf.set(ciKey, _))
      prevRet.fold(spark.conf.unset(retKey))(spark.conf.set(retKey, _))
      prevDelay.fold(spark.conf.unset(delayKey))(
        spark.conf.set(delayKey, _))
    }
  }

  test("streaming CDC upserts land atomically in the snapshot table across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_cdcsnap_").toString
    def cur(): Set[(Long, String)] =
      graft.operators.Snapshot.readCurrent(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val src = MemoryStream[(Long, String, Long)]
    val q = Streaming.cdcUpsertToSnapshot(
      src.toDF().toDF("k", "v", "seq"), root, "k", "seq")
    try {
      // batch 1 against a NEVER-committed table: bootstrap seeds v1;
      // two changes to k=2 in one batch — seq picks the later
      src.addData((1L, "a", 0L), (2L, "B1", 1L), (2L, "B2", 2L))
      q.processAllAvailable()
      assert(cur() == Set((1L, "a"), (2L, "B2")))
      // batch 2: cross-batch upsert of a seeded key + an insert
      src.addData((1L, "A", 4L), (3L, "c", 5L))
      q.processAllAvailable()
      assert(cur() == Set((1L, "A"), (2L, "B2"), (3L, "c")))
      // exactly one snapshot version per non-empty micro-batch
      assert(graft.operators.Snapshot.currentVersion(spark, root)
        .contains(2L))
      // the change-feed read recovers batch 2's NET effect from the
      // committed versions alone: k=1 update (post-image A), k=3
      // insert — k=2 untouched by the batch must be absent
      val feed = graft.operators.Snapshot
        .changeFeed(spark, root, "k", fromV = 1L, toV = 2L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      assert(feed == Set((1L, "update", "A"), (3L, "insert", "c")),
        s"feed must equal the micro-batch's net change: $feed")
    } finally q.stop()
  }

}
