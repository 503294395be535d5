package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One racing writer PROCESS for [[SnapshotRace]] — a real separate
  * JVM with its own SparkSession, filesystem client, and puts, because
  * the in-suite race pins (SnapshotSpec "racing merge commits") share
  * one JVM and therefore one Hadoop FileSystem cache and one process
  * scheduler: cross-PROCESS atomicity of the put (link/rename on the
  * shared filesystem) is exactly what they cannot witness.
  *
  * Args: root writerId nCommits rowsPerCommit [mode]. Modes:
  *  - `append`        — [[graft.operators.Snapshot.appendCommit]] per op (r9 soak);
  *  - `merge`         — mergeCommit upserts of a writer-owned key
  *                      range (seq stamps the round);
  *  - `delete`        — deleteWhere of one seeded key per op;
  *  - `appendcompact` — append, with a compactSmall REWRITE every 3rd
  *                      op (makes ancestors unreferenced, so a racing
  *                      vacuum has real work);
  *  - `restore`       — restore to (head − 2) per op, from the other
  *                      writer's first commit on;
  *  - `vacuum`        — vacuum(retain = 2) per op.
  * Every op that may publish a version prints ONE machine-parseable
  * `[raceop] v=<v> op=<op> writer=<id> seq=<i> [target=<tv>]` line —
  * the verifier reconstructs the serialized history from these and
  * replays it against an in-memory model. The last line,
  * `[racebytes] writer=<id> discarded=<bytes>`, is what the writer's
  * lost puts wrote and then deleted. */
object SnapshotRaceWriter {
  def main(args: Array[String]): Unit = {
    val Array(root, writerId, nCommitsS, rowsS) = args.take(4)
    val mode = args.lift(4).getOrElse("append")
    val n = nCommitsS.toInt
    val rows = rowsS.toLong
    val spark = graft.util.LocalSession(4)
    import graft.operators.Snapshot
    def batch(i: Int, lo: Long, width: Long): DataFrame =
      spark.range(lo, lo + width).select(
        lit(writerId).as("writer"), lit(i).as("seq"), col("id").as("k"))
    for (i <- 0 until n) {
      mode match {
        case "append" =>
          val v = Snapshot.appendCommit(batch(i, i * rows, rows), root)
          println(s"[raceop] v=$v op=append writer=$writerId seq=$i")
        case "merge" =>
          // writer-owned key range [0, rows): every round upserts the
          // same keys with a fresh seq — last round must win
          val v = Snapshot.mergeCommit(spark, root,
            batch(i, 0L, rows), "k")
          println(s"[raceop] v=$v op=merge writer=$writerId seq=$i")
        case "delete" =>
          // one seeded key per op (seed range starts at 1000000)
          val k = 1000000L + i
          val v = Snapshot.deleteWhere(spark, root, "k", lit(k), lit(k))
          println(s"[raceop] v=$v op=delete writer=$writerId seq=$i")
        case "mordelete" =>
          // same seeded victims, MERGE-ON-READ: the deletion-vector
          // commit races for the put exactly like a rewrite, and its
          // bitmaps must ride every concurrent merge's carry
          val k = 1000000L + i
          val v = Snapshot.deleteWhereMor(spark, root, col("k") === lit(k))
          println(s"[raceop] v=$v op=mordelete writer=$writerId seq=$i")
        case "morpurge" =>
          // mordelete with an explicit purgeDv every 3rd op: the purge's
          // touched-file rewrite races concurrent appends AND this
          // writer's own later deletes; a hit on a file no action names
          // THROWS (the scan-form lookup), so a green soak is a proof,
          // not a hope. A purge with no bitmap left (a victim's delete
          // may rewrite its file itself) is a no-op that logs the head
          val k = 1000000L + i
          val v = Snapshot.deleteWhereMor(spark, root, col("k") === lit(k))
          println(s"[raceop] v=$v op=mordelete writer=$writerId seq=$i")
          if (i % 3 == 2) {
            val pv = Snapshot.purgeDv(spark, root)
            println(s"[raceop] v=$pv op=purge writer=$writerId seq=$i")
          }
        case "appendcompact" =>
          val v = Snapshot.appendCommit(batch(i, i * rows, rows), root)
          println(s"[raceop] v=$v op=append writer=$writerId seq=$i")
          if (i % 3 == 2) {
            val cv = Snapshot.compactSmall(spark, root,
              smallBytes = Long.MaxValue / 4, targetBytes = Long.MaxValue / 4)
            println(s"[raceop] v=$cv op=compact writer=$writerId seq=$i")
          }
        case "restore" =>
          // start once the other writer's first commit lands, so the
          // restores interleave with its commits
          if (i == 0) {
            val seeded = Snapshot.currentVersion(spark, root)
            val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
            while (Snapshot.currentVersion(spark, root) == seeded &&
                System.nanoTime() < deadline) Thread.sleep(20)
          }
          val head = Snapshot.currentVersion(spark, root).getOrElse(1L)
          val tv = math.max(1L, head - 2)
          try {
            val v = Snapshot.restore(spark, root, tv)
            println(s"[raceop] v=$v op=restore writer=$writerId seq=$i target=$tv")
          } catch {
            // a racing compact+vacuum can reclaim tv between the head
            // read and the restore — a legal refusal, not a defect
            case e: Exception =>
              println(s"[raceop] v=-1 op=restore_refused writer=$writerId seq=$i target=$tv")
          }
          Thread.sleep(300)
        case "vacuum" =>
          Snapshot.vacuum(spark, root, retain = 2)
          println(s"[raceop] v=-1 op=vacuum writer=$writerId seq=$i")
          Thread.sleep(100)
        case other =>
          throw new IllegalArgumentException(s"unknown mode $other")
      }
    }
    println(s"[racebytes] writer=$writerId discarded=${Snapshot.discardedBytes.get()}")
    spark.stop()
  }
}

/** Two-PROCESS snapshot contention soak (r8 #5, extended r10 per
  * VERDICT r9 #3 beyond the append bootstrap): spawn two independent
  * JVM writers against ONE table root and assert the put protocol's
  * cross-process guarantees on every commit path: a dense version
  * history, exact content, and after a final vacuum no attempt
  * directory that no entry names and that is older than the
  * retention. Each scenario also reports the bytes losers wrote and
  * then discarded. Scenarios:
  *  - `append`        — A+B appendCommit from an EMPTY table (the
  *                      first puts race; r9's lost-commit find);
  *  - `mergedelete`   — A mergeCommit upserts its key range while B
  *                      deleteWhere's seeded keys: disjoint semantics,
  *                      so the final content is exactly determined
  *                      regardless of interleaving — any deviation is
  *                      a protocol defect;
  *  - `restoreappend` — A appends while B restores to (head − 2) of a
  *                      table seeded with three versions: the
  *                      final content DEPENDS on the serialization
  *                      order, so the verifier replays the writers'
  *                      logged (version, op) lines through an
  *                      in-memory model and demands the table equal
  *                      the replay;
  *  - `vacuumappend`  — A appends (with periodic compact REWRITES
  *                      that strand ancestors) while B vacuums with
  *                      retain=2: vacuum must never reclaim an
  *                      in-flight attempt or any carried live file —
  *                      the final table must hold every batch.
  * Run:
  *   sbt "Test/runMain graft.SnapshotRace [scenario|all] [nCommits] [rows]"
  * Results land in BENCH_NOTES by hand, like the other soaks. */
object SnapshotRace {
  private var javaBin = ""
  private var cp = ""
  private var addOpens: Seq[String] = Nil

  private def launch(root: String, id: String, n: Int, rows: Int,
                     mode: String): (Process, java.io.File) = {
    val out = new java.io.File(root, s"writer_$id.log")
    val cmd: Seq[String] =
      Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
        "graft.SnapshotRaceWriter", root, id, n.toString,
        rows.toString, mode)
    val p = new ProcessBuilder(cmd: _*)
      .redirectOutput(out)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    (p, out)
  }

  private def raceOps(logs: Seq[java.io.File]): Seq[Map[String, String]] = {
    val re = """\[raceop\]\s+(.*)""".r
    logs.flatMap { f =>
      scala.io.Source.fromFile(f).getLines().collect {
        case re(kv) => kv.trim.split("\\s+").map { t =>
          val Array(k, v) = t.split("=", 2); k -> v
        }.toMap
      }
    }
  }

  private def contentOf(spark: SparkSession,
                        root: String): Map[(String, Int), Long] =
    graft.operators.Snapshot.readCurrent(spark, root)
      .groupBy("writer", "seq").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap

  private def assertSerialized(spark: SparkSession, root: String): Seq[Long] = {
    import graft.operators.Snapshot
    val cur = Snapshot.currentVersion(spark, root).get
    val hist = Snapshot.commitHistory(spark, root).map(_._1)
    require(hist == (1L to cur),
      s"version history not dense 1..$cur: $hist")
    val times = Snapshot.commitHistory(spark, root).map(_._2)
    require(times == times.sorted && times.distinct.size == times.size,
      s"commit times not strictly increasing: $times")
    hist
  }

  /** After a final vacuum: every attempt directory left is named by a
    * retained entry or younger than the retention. */
  private def assertNoStaleAttempts(spark: SparkSession, root: String): Int = {
    import graft.operators.Snapshot
    Snapshot.vacuum(spark, root, retain = 2)
    val named = Snapshot.logOf(spark, root).map(_._1)
      .flatMap(v => scala.util.Try(Snapshot.metaOf(spark, root, v)).toOption)
      .flatMap(m => m.files.map(_.path))
    val dataDir = new java.io.File(root, "_data")
    val left = Option(dataDir.listFiles()).toSeq.flatten
    val stale = left.filterNot(d => named.exists(_.contains(s"/_data/${d.getName}/")))
      .filter(d => System.currentTimeMillis() - d.lastModified() >
        Snapshot.AttemptRetentionMs)
    require(stale.isEmpty, s"unnamed attempts older than the retention: $stale")
    left.size
  }

  private def discardedBytes(logs: Seq[java.io.File]): Long = {
    val re = """\[racebytes\]\s+writer=\S+\s+discarded=(\d+)""".r
    logs.flatMap(f => scala.io.Source.fromFile(f).getLines().collect {
      case re(n) => n.toLong }).sum
  }

  def main(args: Array[String]): Unit = {
    val scenario = args.lift(0).getOrElse("all")
    val nCommits = args.lift(1).map(_.toInt).getOrElse(12)
    val rows = args.lift(2).map(_.toInt).getOrElse(1000)
    javaBin = s"${System.getProperty("java.home")}/bin/java"
    cp = System.getProperty("java.class.path")
    addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val run = Seq("append", "mergedelete", "mormerge", "morpurgeappend",
        "restoreappend", "vacuumappend")
      .filter(s => scenario == "all" || scenario == s)
    require(run.nonEmpty, s"unknown scenario $scenario")
    run.foreach(s => runScenario(s, nCommits, rows))
  }

  private def runScenario(scenario: String, nCommits: Int,
                          rows: Int): Unit = {
    import graft.operators.Snapshot
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_race_${scenario}_").toString
    val spark = graft.util.LocalSession(8)
    def seedBatch(lo: Long, width: Long, seq: Int = -1): DataFrame =
      spark.range(lo, lo + width).select(
        lit("seed").as("writer"), lit(seq).as("seq"), col("id").as("k"))

    val (modeA, modeB) = scenario match {
      case "append" => ("append", "append")
      case "mergedelete" =>
        // seed the delete victims WITH per-file stats on k (the
        // file-granular delete's requirement); merges/deletes carry them
        Snapshot.commitWithStats(
          seedBatch(1000000L, nCommits.toLong), root, Seq("k"))
        ("merge", "delete")
      case "mormerge" =>
        // the merge-on-read analogue of mergedelete: B's deletion-vector
        // commits race A's file-granular merges — the carried bitmaps
        // must survive every interleaving (a merge that wins the put
        // between B's read and its put must not resurrect or
        // double-drop a victim). The victims share one file, so their
        // bitmap grows across deletes until half of them are gone
        Snapshot.commitWithStats(
          seedBatch(1000000L, nCommits.toLong).coalesce(1), root, Seq("k"))
        ("merge", "mordelete")
      case "morpurgeappend" =>
        // VERDICT r12 #6: deleteWhereMor × appendCommit × purgeDv
        // across JVMs. A appends fresh batches (each CARRIES the live
        // bitmaps verbatim) while B deletes every seeded victim and
        // periodically purges — the purge's touched-file rewrite must
        // never resurrect a victim (a lost bitmap) or drop an appended
        // batch, whatever the interleaving. One seed file, as in
        // mormerge: a victim alone in a file would be rewritten by its
        // own delete, leaving the purges nothing to do.
        Snapshot.commitWithStats(
          seedBatch(1000000L, nCommits.toLong).coalesce(1), root, Seq("k"))
        ("append", "morpurge")
      case "restoreappend" =>
        // three seed versions, each adding its own batch: B's first
        // restore (to head − 2) already publishes, and a restore
        // changes content
        Snapshot.commit(seedBatch(0L, 100L), root)
        Snapshot.appendCommit(seedBatch(100L, 100L, -2), root)
        Snapshot.appendCommit(seedBatch(200L, 100L, -3), root)
        ("append", "restore")
      case "vacuumappend" =>
        Snapshot.commit(seedBatch(0L, 100L), root)
        ("appendcompact", "vacuum")
    }
    val t0 = System.nanoTime()
    val (pa, la) = launch(root, "A", nCommits, rows, modeA)
    val (pb, lb) = launch(root, "B", nCommits, rows, modeB)
    val (ea, eb) = (pa.waitFor(), pb.waitFor())
    val wall = (System.nanoTime() - t0) / 1e9
    require(ea == 0 && eb == 0,
      s"[$scenario] writer process failed: A exit=$ea B exit=$eb")
    val hist = assertSerialized(spark, root)
    val ops = raceOps(Seq(la, lb))
    val got = contentOf(spark, root)

    scenario match {
      case "append" =>
        val total = 2 * nCommits
        require(hist.size == total,
          s"expected $total published versions, got ${hist.size}: $hist")
        val want = (for (w <- Seq("A", "B"); i <- 0 until nCommits)
          yield (w, i) -> rows.toLong).toMap
        require(got == want, s"lost/duplicated batches: " +
          s"missing=${want.keySet -- got.keySet} " +
          s"extra=${got.keySet -- want.keySet}")
      case "mergedelete" | "mormerge" =>
        // disjoint semantics → exact final content independent of
        // interleaving: A's key range at its LAST round's seq, the
        // seeded victims all gone, every op published exactly one version
        require(hist.size == 1 + 2 * nCommits,
          s"expected ${1 + 2 * nCommits} versions, got ${hist.size}")
        val want = Map(("A", nCommits - 1) -> rows.toLong)
        require(got == want,
          s"$scenario content mismatch: got=$got want=$want")
      case "morpurgeappend" =>
        // exact regardless of interleaving: every appended batch
        // present, every seeded victim gone (a resurrected victim = a
        // bitmap lost by a purge/append carry; a missing batch = a
        // purge rewrite eating a concurrent commit), every append and
        // every delete published a version of its own, and every other
        // version is a purge's
        val own = ops.filter(o => o("op") != "purge").map(_("v").toLong)
        require(own.distinct.size == 2 * nCommits,
          s"appends and deletes published ${own.distinct.size} distinct " +
            s"versions, expected ${2 * nCommits}: $own")
        require(ops.map(_("v").toLong).toSet == hist.toSet - 1L,
          s"logged versions != published ${hist.toSet - 1L}: $ops")
        val want = (0 until nCommits)
          .map(i => ("A", i) -> rows.toLong).toMap
        require(got == want, s"morpurgeappend content mismatch: " +
          s"missing=${want.keySet -- got.keySet} " +
          s"extra=${got.keySet -- want.keySet}")
        // a final explicit purge must be a no-op or leave content fixed
        val afterPurge = Snapshot.purgeDv(spark, root)
        require(contentOf(spark, root) == want,
          s"post-soak purge (v=$afterPurge) changed visible content")
      case "restoreappend" =>
        // order-DEPENDENT content: replay the logged ops in version
        // order through a model (append adds its batch; restore resets
        // to the state at its target) and demand the table equal it
        // a restore whose head already equals its target publishes
        // NOTHING and returns the head (v == target): drop those
        // no-ops, they are not versions
        val byV = ops.filter(_("v") != "-1")
          .filterNot(o => o("op") == "restore"
            && o("v") == o.getOrElse("target", ""))
          .map(o => o("v").toLong -> o).toMap
        val seeded = Set(1L, 2L, 3L)
        require(byV.keySet == hist.toSet -- seeded,
          s"logged versions ${byV.keySet} != published ${hist.toSet -- seeded}")
        // the race must have happened: a restore that rolled back over
        // at least one version, published on a moving head
        require(byV.values.exists(o => o("op") == "restore" &&
            o("target").toLong < o("v").toLong - 1),
          s"no restore published a rollback: $byV")
        val restored = byV.values.filter(_("op") == "restore").map(_("v").toLong)
        require(byV.values.exists(o => o("op") == "append" &&
            o("v").toLong > restored.min && o("v").toLong < restored.max),
          s"no append landed between two restores, the writers did not race: $byV")
        val states = scala.collection.mutable.Map(
          1L -> Map(("seed", -1) -> 100L),
          2L -> Map(("seed", -1) -> 100L, ("seed", -2) -> 100L),
          3L -> Map(("seed", -1) -> 100L, ("seed", -2) -> 100L, ("seed", -3) -> 100L))
        var state = states(3L)
        hist.filterNot(seeded).foreach { v =>
          val op = byV(v)
          op("op") match {
            case "append" =>
              state = state + (("A", op("seq").toInt) -> rows.toLong)
            case "restore" =>
              state = states(op("target").toLong)
          }
          states(v) = state
        }
        require(got == state,
          s"restoreappend replay mismatch: got=$got want=$state " +
            s"(history=$hist ops=$byV)")
      case "vacuumappend" =>
        // vacuum must never eat a live or in-flight version: every
        // append survives the compact rewrites and the concurrent
        // sweeps; the head reads cleanly
        val want = Map(("seed", -1) -> 100L) ++
          (0 until nCommits).map(i => ("A", i) -> rows.toLong).toMap
        require(got == want, s"vacuumappend lost data: " +
          s"missing=${want.keySet -- got.keySet} " +
          s"extra=${got.keySet -- want.keySet}")
    }
    val nAttempts = assertNoStaleAttempts(spark, root)
    println(f"[race:$scenario] 2 JVMs x $nCommits ops x $rows rows: " +
      f"${hist.size} versions serialized (dense), content verified, " +
      f"$nAttempts attempt dirs after vacuum, " +
      f"${discardedBytes(Seq(la, lb))} bytes written by losers and discarded, " +
      f"$wall%.1f s wall")
    spark.stop()
  }
}
