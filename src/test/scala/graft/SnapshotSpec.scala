package graft

import graft.operators.Snapshot
import org.apache.spark.sql.functions._

/** Crash anatomy of the snapshot-commit protocol: readers must never
  * observe a half-merge, whichever step a writer dies at. */
class SnapshotSpec extends SparkSuite {

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap_").toString

  /** Run `op` as a writer killed just before its put: a directory
    * squatting on the next version's entry path makes the put throw,
    * leaving the attempt directory exactly as the writer wrote it. */
  private def killedBeforePut(root: String)(op: => Any): Unit = {
    val next = Snapshot.currentVersion(spark, root).get + 1
    val squat = new java.io.File(root, s"_log/v=$next.json")
    assert(squat.mkdirs())
    try intercept[java.io.IOException](op)
    finally squat.delete()
  }

  private def exists(root: String, rel: String): Boolean =
    new java.io.File(root, rel).exists()

  /** Version `v`'s attempt directory, as its entry (or header) names it. */
  private def dirOf(root: String, v: Long): String =
    Snapshot.logOf(spark, root).collectFirst { case (`v`, _, Some(d)) => d }
      .getOrElse(fail(s"v=$v of $root added no data files"))

  /** Attempt directory `dir` relative to its table root: the name
    * vacuum reports. */
  private def rel(dir: String): String =
    "_data/" + dir.substring(dir.lastIndexOf('/') + 1)

  /** The attempt directories of `root`, relative to it. */
  private def attempts(root: String): Set[String] =
    Option(new java.io.File(root, "_data").list()).toSet.flatten.map("_data/" + _)

  /** Run `loser` on a one-row batch `(k = 100, v = "late")` whose write
    * blocks until `winner` has committed, so the loser's put loses
    * exactly once. Returns the winner's version, the loser's outcome and
    * the bytes the loser discarded. */
  private def lostPut(loser: org.apache.spark.sql.DataFrame => Long)(
      winner: => Long): (Long, scala.util.Try[Long], Long) = {
    SnapshotSpec.gate = new java.util.concurrent.CountDownLatch(1)
    val blocked = spark.range(0, 1, 1, 1).select(
      udf { (id: Long) => SnapshotSpec.gate.await(); id + 100L }
        .asNondeterministic()(col("id")).as("k"), lit("late").as("v"))
    val discarded0 = Snapshot.discardedBytes.get()
    @volatile var lost: scala.util.Try[Long] = null
    val t = new Thread(() => lost = scala.util.Try(loser(blocked)))
    t.start()
    Thread.sleep(2000) // the loser has read its head and is writing
    val won = winner
    SnapshotSpec.gate.countDown()
    t.join(120000)
    (won, lost, Snapshot.discardedBytes.get() - discarded0)
  }

  /** Age `rel` under `root` past vacuum's attempt retention. */
  private def backdate(root: String, rel: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, rel)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).setTimes(p,
      System.currentTimeMillis() - Snapshot.AttemptRetentionMs - 60000L, -1L)
  }

  private def rows(root: String): Set[(Long, String)] =
    Snapshot.readCurrent(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("commit then merge: readers follow the pointer through versions") {
    import spark.implicits._
    val root = freshTable()
    val v1 = Snapshot.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    assert(v1 == 1L && Snapshot.currentVersion(spark, root).contains(1L))
    assert(rows(root) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val v2 = Snapshot.mergeCommit(spark, root,
      Seq((2L, "B"), (9L, "i")).toDF("k", "v"), "k")
    assert(v2 == 2L)
    assert(rows(root) == Set((1L, "a"), (2L, "B"), (3L, "c"), (9L, "i")))
  }

  test("change feed recovers exactly the merge's insert/update/delete classification") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), root)
    // merge: update k=2, insert k=9, and delete k=4 by committing the
    // post-merge state minus that key (full commit = upsert+delete mix)
    val merged = Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "i"))
      .toDF("k", "v")
    Snapshot.commit(merged, root)
    val feed = Snapshot.changeFeed(spark, root, "k", fromV = 1L, toV = 2L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(feed == Set(
      (2L, "update", "B"),   // post-image
      (9L, "insert", "i"),
      (4L, "delete", "d")),  // pre-image
      s"unexpected feed: $feed")
    // unchanged keys (1, 3) must NOT appear — the feed is the diff,
    // not the snapshot
  }

  test("a crash before the pointer swap leaves readers on the old snapshot") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // the crashed merge: its attempt fully written, no entry put
    val dead = Snapshot.writeAttempt(
      Seq((1L, "HALF"), (2L, "MERGE")).toDF("k", "v"), root)
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(rows(root) == Set((1L, "a"), (2L, "b")),
      "reader saw an attempt no entry names")
    // the next merge takes v2 on top of v1 at once; the dead attempt
    // is nobody's data
    val v2 = Snapshot.mergeCommit(spark, root,
      Seq((2L, "B")).toDF("k", "v"), "k")
    assert(v2 == 2L)
    assert(rows(root) == Set((1L, "a"), (2L, "B")))
    assert(dirOf(root, 2L) != dead)
    // vacuum spares the dead attempt while it could still be in flight,
    // and collects it once older than the retention
    assert(!Snapshot.vacuum(spark, root).contains(rel(dead)))
    backdate(root, rel(dead))
    assert(Snapshot.vacuum(spark, root).contains(rel(dead)))
    assert(rows(root) == Set((1L, "a"), (2L, "B")))
  }

  test("the pointer swap is replace-not-append (no stale trailing bytes)") {
    import spark.implicits._
    val root = freshTable()
    // a 2-digit version followed by a 1-digit one would corrupt a
    // hint updated in place; the rename-over swap replaces wholesale
    (1 to 11).foreach { i =>
      Snapshot.commit(Seq((i.toLong, s"r$i")).toDF("k", "v"), root)
    }
    assert(Snapshot.currentVersion(spark, root).contains(11L))
    Snapshot.setPointer(spark, root, 9L)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_CURRENT")), "UTF-8") == "9\n")
    // a stale hint is slower, never wrong: the probe finds v10 and v11
    assert(Snapshot.currentVersion(spark, root).contains(11L))
    assert(rows(root) == Set((11L, "r11")))
    assert(Snapshot.commit(Seq((12L, "r12")).toDF("k", "v"), root) == 12L)
    assert(Snapshot.currentVersion(spark, root).contains(12L))
  }

  test("racing merge commits serialize: one claim winner, loser retries, no lost update") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    // two concurrent read-modify-write committers with DISJOINT changes:
    // exactly one put of v2 lands, the other loses it, replans on the
    // new head, and commits v3 ON TOP of the winner's merge.
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(Seq((2L, "X")), Seq((9L, "Y"))).map { change =>
      new Thread(() =>
        try results.add(
          Snapshot.mergeCommit(spark, root, change.toDF("k", "v"), "k"))
        catch { case t: Throwable => errs.add(t) })
    }
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"merge commit failed: ${errs.peek()}")
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet == Set(2L, 3L),
      s"expected serialized versions 2 and 3, got ${results.asScala.toSeq}")
    assert(Snapshot.currentVersion(spark, root).contains(3L))
    // BOTH changes present — the retry recomputed on the winner's head
    assert(rows(root) == Set((1L, "a"), (2L, "X"), (3L, "c"), (9L, "Y")))
    // and the intermediate v2 holds exactly one of the two changes
    val v2 = Snapshot.readVersion(spark, root, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v2 == Set((1L, "a"), (2L, "X"), (3L, "c"))
      || v2 == Set((1L, "a"), (2L, "b"), (3L, "c"), (9L, "Y")))
  }

  test("a crashed writer blocks nothing: the next commit takes head+1 at once") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a")).toDF("k", "v"), root)
    // two writers that died before their put: an attempt with data, and
    // a merge killed at the put itself
    Snapshot.writeAttempt(Seq((9L, "dead")).toDF("k", "v"), root)
    killedBeforePut(root)(Snapshot.mergeCommit(spark, root,
      Seq((8L, "dead")).toDF("k", "v"), "k"))
    assert(attempts(root).size == 3)
    // nothing waits on them: a merge takes v2, a blind commit v3
    val t0 = System.nanoTime()
    assert(Snapshot.mergeCommit(spark, root,
      Seq((5L, "e")).toDF("k", "v"), "k") == 2L)
    assert(Snapshot.commit(Seq((1L, "b")).toDF("k", "v"), root) == 3L)
    assert((System.nanoTime() - t0) / 1e9 < 60, "a commit waited on a dead writer")
    assert(rows(root) == Set((1L, "b")))
    assert(Snapshot.commitHistory(spark, root).map(_._1) == Seq(1L, 2L, 3L))
  }

  test("vacuum deletes unreferenced snapshots and decided claims, never the live one") {
    import spark.implicits._
    val root = freshTable()
    (1 to 3).foreach { i =>
      Snapshot.commit(Seq((i.toLong, s"r$i")).toDF("k", "v"), root)
    }
    val Seq(d1, d2, d3) = (1L to 3L).map(dirOf(root, _))
    // a crashed writer's attempt, aged past the retention, is garbage too
    val orphan = Snapshot.writeAttempt(Seq((99L, "orphan")).toDF("k", "v"), root)
    backdate(root, rel(orphan))
    val before = rows(root)
    val deleted = Snapshot.vacuum(spark, root)
    assert(deleted.toSet == Set(d1, d2, orphan).map(rel),
      s"expected old + orphan dirs deleted, got $deleted")
    assert(attempts(root) == Set(rel(d3)), "vacuum must leave the head's directory")
    assert(Snapshot.currentVersion(spark, root).contains(3L))
    assert(rows(root) == before, "live snapshot must survive vacuum intact")
    // the collected versions keep their headers: the log stays dense
    assert(Snapshot.commitHistory(spark, root).map(_._1) == Seq(1L, 2L, 3L))
    assert(Snapshot.commit(Seq((7L, "g")).toDF("k", "v"), root) == 4L)
  }

  test("a put on an existing version fails; the loser commits on top of the winner") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a")).toDF("k", "v"), root)
    Snapshot.commit(Seq((2L, "b")).toDF("k", "v"), root)
    // a delayed writer putting a committed version is refused, whatever
    // it carries, and the committed entry is untouched
    val entry = java.nio.file.Paths.get(root, "_log", "v=2.json")
    val committed = java.nio.file.Files.readAllBytes(entry).toSeq
    assert(!graft.util.Lease.createExclusive(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(root, "_log/v=2.json"), "{}"))
    assert(java.nio.file.Files.readAllBytes(entry).toSeq == committed)
    assert(rows(root) == Set((2L, "b")))
    def racing(loser: org.apache.spark.sql.DataFrame => Long): (Long, Long, Long) = {
      val (won, lost, disc) = lostPut(loser)(
        Snapshot.appendCommit(Seq((50L, "won")).toDF("k", "v"), root))
      (won, lost.get, disc)
    }
    // blind: the append keeps its attempt and re-puts on the winner
    val (w1, l1, disc1) = racing(df => Snapshot.appendCommit(df, root))
    assert((w1, l1) == (3L, 4L), s"winner $w1, loser $l1")
    assert(disc1 == 0L, s"an append discarded $disc1 bytes")
    assert(rows(root) == Set((2L, "b"), (50L, "won"), (100L, "late")))
    // read-modify-write: the merge drops its attempt and replans on v5
    val (w2, l2, disc2) = racing(df => Snapshot.mergeCommit(spark, root, df, "k"))
    assert((w2, l2) == (5L, 6L), s"winner $w2, loser $l2")
    assert(disc2 > 0L, "the losing merge kept its attempt")
    assert(rows(root) == Set((2L, "b"), (50L, "won"), (100L, "late")))
    assert(Snapshot.commitHistory(spark, root).map(_._1) == (1L to 6L))
  }

  test("a blind commit that loses to a new constraint is revalidated against it") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a")).toDF("k", "v"), root)
    val before = attempts(root)
    // the append was checked against no constraint; the winner adds one
    // its batch (k = 100) violates: re-putting the attempt would commit
    // a violating row, so the loser replans and is refused
    val (won, lost, discarded) = lostPut(df => Snapshot.appendCommit(df, root))(
      Snapshot.addCheckConstraint(spark, root, "k_small", "k < 100"))
    assert(won == 2L)
    assert(lost.failed.toOption.exists(_.isInstanceOf[Snapshot.ConstraintViolation]),
      s"loser: $lost")
    assert(discarded > 0L && attempts(root) == before, "the refused attempt was left")
    assert(Snapshot.commitHistory(spark, root).map(_._1) == Seq(1L, 2L))
    assert(rows(root) == Set((1L, "a")))
  }

  test("vacuum spares an in-flight writer's fully-written data directory") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a")).toDF("k", "v"), root)
    // a live writer mid-commit: attempt written, entry not yet put — no
    // entry names it, and only its age tells it from a crashed one
    val young = Snapshot.writeAttempt(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val old = Snapshot.writeAttempt(Seq((3L, "c")).toDF("k", "v"), root)
    backdate(root, rel(old))
    // a crashed put's temp file, aged too
    val tmp = new java.io.File(root, "_log/.v=2.json.dead.tmp")
    java.nio.file.Files.write(tmp.toPath, "{}".getBytes("UTF-8"))
    backdate(root, "_log/.v=2.json.dead.tmp")
    val deleted = Snapshot.vacuum(spark, root)
    assert(!deleted.contains(rel(young)) && exists(root, rel(young)),
      s"vacuum deleted an in-flight writer's attempt: $deleted")
    assert(deleted.toSet == Set(rel(old), "_log/.v=2.json.dead.tmp"), s"got $deleted")
    assert(rows(root) == Set((1L, "a")))
  }

  test("an entry put but never hinted is visible to a fresh reader") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a")).toDF("k", "v"), root)
    Snapshot.commit(Seq((2L, "b")).toDF("k", "v"), root)
    // a writer that died between its put of v2 and its hint
    Snapshot.setPointer(spark, root, 1L)
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(rows(root) == Set((2L, "b")))
    // no hint at all: the probe walks the log from v1
    assert(new java.io.File(root, "_CURRENT").delete())
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(rows(root) == Set((2L, "b")))
    assert(Snapshot.commit(Seq((3L, "c")).toDF("k", "v"), root) == 3L)
    assert(rows(root) == Set((3L, "c")))
  }

  test("compaction rewrites files without changing content, under the claim protocol") {
    import spark.implicits._
    val root = freshTable()
    // an incrementally-ingested table: several small merge batches,
    // each leaving its own files
    Snapshot.commit(Seq((1L, "a")).toDF("k", "v").repartition(4), root)
    (2 to 4).foreach { i =>
      Snapshot.mergeCommit(spark, root,
        Seq((i.toLong, s"r$i")).toDF("k", "v").repartition(3), "k")
    }
    val before = rows(root)
    def fileCount(v: Long): Int =
      Snapshot.fileInventory(spark, root, v).count(_._1.startsWith(dirOf(root, v) + "/"))
    assert(fileCount(4L) > 1, "precondition: fragmented current version")
    val v = Snapshot.compact(spark, root, numFiles = 1)
    assert(v == 5L && Snapshot.currentVersion(spark, root).contains(5L))
    assert(fileCount(5L) == 1, "compaction must coalesce the files")
    assert(rows(root) == before, "compaction must not change content")
    // the default (DerivedWidth) rewrite width is the target-file-size
    // policy as code: bytes/128MB ceiling, clamped to
    // [1, shuffle.partitions] — a fixture-scale table derives 1 file,
    // a 10-GB referenced set derives 80 writers (or the cap if lower)
    assert(Snapshot.compactWidthFor(0L, 32) == 1)
    assert(Snapshot.compactWidthFor(128L * 1024 * 1024, 32) == 1)
    assert(Snapshot.compactWidthFor(128L * 1024 * 1024 + 1, 32) == 2)
    assert(Snapshot.compactWidthFor(10L << 30, 200) == 80)
    assert(Snapshot.compactWidthFor(10L << 30, 32) == 32,
      "width must clamp to the session's shuffle parallelism")
    val dv = Snapshot.compact(spark, root)
    assert(fileCount(dv) == 1,
      "fixture-scale derived width must stay single-file")
    assert(rows(root) == before)
  }

  test("time travel: retained versions stay readable, vacuumed ones fail fast") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a")).toDF("k", "v"), root)
    Snapshot.mergeCommit(spark, root, Seq((2L, "b")).toDF("k", "v"), "k")
    Snapshot.mergeCommit(spark, root, Seq((1L, "A")).toDF("k", "v"), "k")
    def at(v: Long): Set[(Long, String)] =
      Snapshot.readVersion(spark, root, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(at(1L) == Set((1L, "a")))
    assert(at(2L) == Set((1L, "a"), (2L, "b")))
    assert(at(3L) == Set((1L, "A"), (2L, "b")))
    // keep a 2-version time-travel window: v1 goes, v2 and v3 stay
    val deleted = Snapshot.vacuum(spark, root, retain = 2)
    assert(deleted.contains(rel(dirOf(root, 1L))) &&
      !deleted.contains(rel(dirOf(root, 2L))),
      s"retain=2 must keep the two newest versions, deleted $deleted")
    assert(at(2L) == Set((1L, "a"), (2L, "b")), "retained version readable")
    val e = intercept[java.util.NoSuchElementException](at(1L))
    assert(e.getMessage.contains("retained: v=2, v=3"), e.getMessage)
  }

  test("stats manifest prunes files by range, never changes results, and vacuums with its version") {
    import spark.implicits._
    val root = freshTable()
    // 0..799 range-laid-out over 8 files: each file covers a ~100-key band
    val df = spark.range(0, 800).select(col("id").as("k"),
        (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k"))
    // one file action with stats per data file
    val nFiles = spark.read.parquet(dirOf(root, 1L))
      .select(input_file_name()).distinct().count()
    val manifest = Snapshot.statsFrame(spark, Snapshot.metaOf(spark, root, 1L))
      .collect()
    assert(manifest.length == nFiles)
    assert(manifest.map(r => r.getAs[Long]("n_rows")).sum == 800L)
    // a narrow range touches a strict subset of files...
    val sel = Snapshot.prunedFiles(spark, root, 1L, "k", lit(100L), lit(150L))
    assert(sel.nonEmpty && sel.length < nFiles,
      s"expected pruning: ${sel.length} of $nFiles files")
    // ...and the pruned read equals the logical filter exactly
    val pruned = Snapshot.readCurrentPruned(spark, root, "k",
      lit(100L), lit(150L)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Snapshot.readCurrent(spark, root)
      .filter(col("k") >= 100L && col("k") <= 150L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == full && pruned.size == 51)
    // a range beyond every file bound: empty result, correct schema
    val none = Snapshot.readCurrentPruned(spark, root, "k",
      lit(5000L), lit(6000L))
    assert(none.count() == 0L && none.columns.toSeq == Seq("k", "v"))
    // a stats-less table falls back to the plain filtered scan
    val plain = freshTable()
    Snapshot.commit(df, plain)
    assert(Snapshot.readCurrentPruned(spark, plain, "k",
      lit(100L), lit(150L)).count() == 51L)
    // superseding commit + vacuum sweeps the old version's entry too
    Snapshot.commitWithStats(df.filter(col("k") < 100), root, Seq("k"))
    val deleted = Snapshot.vacuum(spark, root)
    assert(deleted == Seq(rel(dirOf(root, 1L))), s"deleted $deleted")
    // v1's entry is now its header: no stats left, only when it was
    intercept[java.util.NoSuchElementException](Snapshot.metaOf(spark, root, 1L))
    assert(Snapshot.commitHistory(spark, root).map(_._1) == Seq(1L, 2L))
    assert(!exists(root, "_stats") && !exists(root, "_manifest"))
    // the surviving version still prunes
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(0L), lit(10L)).count() == 11L)
    // maintenance must not kill the data-skipping index: compaction and
    // merge both re-derive the manifest for the version they write
    def statsKept(v: Long): Boolean = {
      val m = Snapshot.metaOf(spark, root, v)
      m.stats == Seq("k") && m.files.nonEmpty &&
        m.files.forall(f => f.rows == 0L || f.bounds.head._1 != null)
    }
    val cv = Snapshot.compact(spark, root, numFiles = 4)
    assert(statsKept(cv), "compact dropped the stats")
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(0L), lit(10L)).count() == 11L)
    Snapshot.mergeCommit(spark, root, Seq((5L, 99L)).toDF("k", "v"), "k")
    val mv = Snapshot.currentVersion(spark, root).get
    assert(statsKept(mv), "mergeCommit dropped the stats")
    val after = Snapshot.readCurrentPruned(spark, root, "k",
      lit(5L), lit(5L)).collect()
    assert(after.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 99L)))
  }

  test("deleteWhere rewrites only overlapping files; the rest ride by reference") {
    import spark.implicits._
    val root = freshTable()
    // 0..799 range-laid-out over 8 files: each file covers a ~100-key band
    val df = spark.range(0, 800).select(col("id").as("k"),
        (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k"))
    val d1 = dirOf(root, 1L)
    val v1Files = spark.read.parquet(d1)
      .select(input_file_name()).distinct().count()
    // delete one ~1.5-file band
    val dv = Snapshot.deleteWhere(spark, root, "k", lit(100L), lit(150L))
    assert(dv == 2L)
    // values: exactly the logical filter
    val kept = Snapshot.readCurrent(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (0L until 800L).filterNot(k => k >= 100L && k <= 150L)
      .map(k => (k, k % 7)).toSet
    assert(kept == expect)
    // file granularity: most v1 files are REFERENCED, not rewritten
    val mf = Snapshot.fileInventory(spark, root, 2L).map(_._1)
    val d2 = dirOf(root, 2L)
    val referenced = mf.count(_.startsWith(d1 + "/"))
    val rewritten = mf.count(_.startsWith(d2 + "/"))
    assert(referenced > 0 && referenced >= v1Files - 2,
      s"expected ~all-but-overlapping files referenced: " +
        s"$referenced of $v1Files referenced, $rewritten rewritten")
    assert(rewritten <= 2, s"delete rewrote $rewritten files")
    // time travel: the pre-delete version is intact
    assert(Snapshot.readVersion(spark, root, 1L).count() == 800L)
    // data skipping survives: carried + fresh stats still prune
    val pruned = Snapshot.readCurrentPruned(spark, root, "k",
      lit(200L), lit(210L)).collect().map(_.getLong(0)).toSet
    assert(pruned == (200L to 210L).toSet)
    // and a pruned read over the DELETED band is empty
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(110L), lit(140L)).count() == 0L)
    // the change feed sees the delete as row deletes
    val feed = Snapshot.changeFeed(spark, root, "k", 1L, 2L).collect()
    assert(feed.length == 51 &&
      feed.forall(_.getAs[String]("_change") == "delete"))
    // vacuum(retain=1) must SPARE v1's directory: the live entry names it
    val swept = Snapshot.vacuum(spark, root)
    assert(!swept.contains(rel(d1)),
      s"vacuum deleted a referenced version dir: $swept")
    assert(kept == Snapshot.readCurrent(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // compaction collapses the reference chain; then vacuum reclaims v1
    val cv = Snapshot.compact(spark, root, numFiles = 4)
    val swept2 = Snapshot.vacuum(spark, root)
    assert(swept2.contains(rel(d1)) && swept2.contains(rel(d2)),
      s"expected v1/v2 reclaimed after compaction: $swept2")
    assert(Snapshot.readCurrent(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == kept)
    assert(Snapshot.currentVersion(spark, root).contains(cv))
    // delete-everything edge: schema survives an empty table
    val all = Snapshot.deleteWhere(spark, root, "k", lit(0L), lit(10000L))
    val empty = Snapshot.readCurrent(spark, root)
    assert(empty.count() == 0L && empty.columns.toSeq == Seq("k", "v"))
    // a no-overlap delete is a metadata-only commit, still readable
    Snapshot.deleteWhere(spark, root, "k", lit(90000L), lit(99999L))
    assert(Snapshot.readCurrent(spark, root).count() == 0L)
    assert(Snapshot.currentVersion(spark, root).contains(all + 1))
  }

  test("mergeCommit rewrites only key-overlapping files; the rest ride by reference") {
    import spark.implicits._
    val root = freshTable()
    // 0..799 range-laid-out over 8 files: each file covers a ~100-key band
    val df = spark.range(0, 800).select(col("id").as("k"),
        (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k"))
    val v1Files = spark.read.parquet(dirOf(root, 1L))
      .select(input_file_name()).distinct().count()
    // change batch: update one ~half-file band + insert keys beyond
    // every file's range
    val changes = ((100L to 150L).map(k => (k, 1000L + k)) ++
      (10000L until 10005L).map(k => (k, -k))).toDF("k", "v")
    val mv = Snapshot.mergeCommit(spark, root, changes, "k")
    assert(mv == 2L)
    // values: exactly the logical upsert
    val got = Snapshot.readCurrent(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = ((0L until 800L).filterNot(k => k >= 100L && k <= 150L)
      .map(k => (k, k % 7)) ++ (100L to 150L).map(k => (k, 1000L + k)) ++
      (10000L until 10005L).map(k => (k, -k))).toSet
    assert(got == expect)
    // file granularity: the band lives in at most 2 of the 8 files —
    // everything else is REFERENCED into v2, not rewritten
    val mf = Snapshot.fileInventory(spark, root, 2L).map(_._1)
    val referenced = mf.count(_.startsWith(dirOf(root, 1L) + "/"))
    assert(referenced >= v1Files - 2,
      s"expected ~all-but-overlapping files referenced: " +
        s"$referenced of $v1Files")
    // insert-only merge (keys beyond every bound): ZERO files rewritten —
    // the merge degenerates to an append, v2's files all carried
    val v2Inventory = mf.toSet
    val iv = Snapshot.mergeCommit(spark, root,
      (20000L until 20010L).map(k => (k, k)).toDF("k", "v"), "k")
    val mf3 = Snapshot.fileInventory(spark, root, iv).map(_._1)
    assert(v2Inventory.subsetOf(mf3.toSet),
      "insert-only merge rewrote carried files")
    assert(Snapshot.readCurrent(spark, root).count() == 800L + 5 + 10)
    // data skipping survives the manifest merge: pruned point read
    // sees the merged value through carried + fresh stats
    val after = Snapshot.readCurrentPruned(spark, root, "k",
      lit(120L), lit(120L)).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSeq == Seq((120L, 1120L)))
    // time travel: the pre-merge version is intact
    assert(Snapshot.readVersion(spark, root, 1L).count() == 800L)
    // change feed across the pruned merge: updates + inserts only
    val feed = Snapshot.changeFeed(spark, root, "k", 1L, 2L).collect()
    assert(feed.length == 51 + 5, s"feed rows: ${feed.length}")
    // NULL-key base rows survive any merge (never equal to a change
    // key), whether their file is touched or carried
    val nroot = freshTable()
    val ndf = Seq((Option(1L), "a"), (Option.empty[Long], "n1"),
      (Option(2L), "b")).toDF("k", "v")
    Snapshot.commitWithStats(ndf.coalesce(1), nroot, Seq("k"))
    Snapshot.mergeCommit(spark, nroot, Seq((1L, "A")).toDF("k", "v"), "k")
    val nvals = Snapshot.readCurrent(spark, nroot).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(nvals == Set((Some(1L), "A"), (None, "n1"), (Some(2L), "b")))
    // add-column evolution through the pruned path: carried files
    // surface the new column as NULL via the recorded schema
    val ev = Snapshot.mergeCommit(spark, root,
      Seq((100L, 7777L, "fresh")).toDF("k", "v", "note"), "k")
    val evolved = Snapshot.readCurrent(spark, root)
    assert(evolved.columns.toSeq == Seq("k", "v", "note"))
    val byKey = evolved.filter(col("k").isin(100L, 700L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      .toSet
    assert(byKey == Set((100L, 7777L, Some("fresh")),
      (700L, 0L, None)), s"evolution rows: $byKey")
    assert(Snapshot.currentVersion(spark, root).contains(ev))
  }

  test("compactSmall bin-packs only the small files; settled files ride by reference") {
    val root = freshTable()
    // 80k rows over 8 range files (~10k rows each); three narrow
    // deletes leave three nearly-empty rewritten files beside the
    // settled full-size ones — the delete-churn shape compactSmall is for
    val df = spark.range(0, 80000).select(col("id").as("k"),
        (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k"))
    Snapshot.deleteWhere(spark, root, "k", lit(0L), lit(9500L))
    Snapshot.deleteWhere(spark, root, "k", lit(10000L), lit(19500L))
    Snapshot.deleteWhere(spark, root, "k", lit(20000L), lit(29500L))
    val expect = Snapshot.readCurrent(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = Snapshot.currentVersion(spark, root).get
    // threshold between the rewritten slivers and the settled files
    val inv = Snapshot.fileInventory(spark, root, base)
    val thr = inv.map(_._2).sorted.apply(inv.size / 2) // median splits them
    val smallBefore = inv.count(_._2 < thr)
    val largePaths = inv.filter(_._2 >= thr).map(_._1).toSet
    assert(smallBefore >= 2, s"venue broken: $smallBefore small files")
    val cv = Snapshot.compactSmall(spark, root, smallBytes = thr)
    assert(cv == base + 1)
    // content identical
    assert(Snapshot.readCurrent(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
    // the small files merged into one; the settled files are the SAME
    // paths, by reference
    val after = Snapshot.fileInventory(spark, root, cv)
    assert(after.size == inv.size - smallBefore + 1,
      s"expected ${inv.size - smallBefore + 1} files, got ${after.size}")
    assert(largePaths.subsetOf(after.map(_._1).toSet),
      "a settled file was rewritten instead of referenced")
    // data skipping survives the pack (carried + fresh stats)
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(40000L), lit(40010L)).count() == 11L)
    // idempotent: one merged file left under the threshold is a no-op
    assert(Snapshot.compactSmall(spark, root, smallBytes = thr) == cv)
    assert(Snapshot.currentVersion(spark, root).contains(cv))
  }

  test("restore rolls back by reference: metadata-only, history forward, skipping intact") {
    val root = freshTable()
    val df = spark.range(0, 8000).select(col("id").as("k"),
        (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k"))
    Snapshot.deleteWhere(spark, root, "k", lit(0L), lit(2500L))
    assert(Snapshot.readCurrent(spark, root).count() == 5499L)
    val rv = Snapshot.restore(spark, root, 1L)
    assert(rv == 3L, "restore must commit a NEW version, not rewind")
    // full content is back
    assert(Snapshot.readCurrent(spark, root).count() == 8000L)
    // metadata-only: every file is a v1 reference, and v3 wrote none
    val inv = Snapshot.fileInventory(spark, root, rv)
    val refs = inv.map(_._1).filter(_.startsWith(dirOf(root, 1L) + "/"))
    assert(Snapshot.metaOf(spark, root, rv).dir.isEmpty)
    assert(refs.size >= 4 && refs.size == inv.size,
      s"expected only v1 files referenced, got: $inv")
    // the damaged version stays readable for forensics
    assert(Snapshot.readVersion(spark, root, 2L).count() == 5499L)
    // the feed from damage to restore is pure re-inserts
    val feed = Snapshot.changeFeed(spark, root, "k", 2L, 3L).collect()
    assert(feed.length == 2501 &&
      feed.forall(_.getAs[String]("_change") == "insert"))
    // stats carried from the restore target still prune
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(100L), lit(110L)).count() == 11L)
    // restoring to the current version is a no-op
    assert(Snapshot.restore(spark, root, 3L) == 3L)
  }

  test("per-file bloom index skips files a range layout cannot, and survives maintenance") {
    val root = freshTable()
    // layout on a scrambled key so `v` (unique ids) scatters: every
    // file's [min_v, max_v] spans ~the whole domain — min/max skipping
    // is useless on v, membership skipping is not
    val df = spark.range(0, 8000).select(
        ((col("id") * 2654435761L) % 8000).as("k"), col("id").as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k", "v"),
      bloomCols = Seq("v"))
    val nFiles = Snapshot.fileInventory(spark, root, 1L).size
    // min/max on v touches ~every file...
    val mm = Snapshot.prunedFiles(spark, root, 1L, "v",
      lit(4242L), lit(4242L))
    assert(mm.size >= nFiles - 1,
      s"scrambled layout should defeat min/max: ${mm.size} of $nFiles")
    // ...the bloom touches ~one
    val bf = Snapshot.filesForPoint(spark, root, 1L, "v", 4242L)
    assert(bf.nonEmpty && bf.size <= 2,
      s"bloom should pick ~1 file, got ${bf.size} of $nFiles")
    val got = Snapshot.readCurrentPoint(spark, root, "v", 4242L).collect()
    assert(got.length == 1 && got.head.getLong(1) == 4242L)
    // a value outside the domain: definitively absent, empty + schema
    val none = Snapshot.readCurrentPoint(spark, root, "v", 999999L)
    assert(none.count() == 0L && none.columns.toSeq == Seq("k", "v"))
    // the index survives a file-granular delete (carried stats rows
    // keep their bloom columns) and a full compaction (re-derived)
    Snapshot.deleteWhere(spark, root, "k", lit(0L), lit(500L))
    val afterDel = Snapshot.readCurrentPoint(spark, root, "v", 4242L)
      .collect()
    assert(afterDel.length <= 1) // 4242's row survives unless its k deleted
    Snapshot.compact(spark, root, numFiles = 4)
    val afterCompact = Snapshot.readCurrentPoint(spark, root, "v", 4242L)
      .collect()
    assert(afterCompact.map(_.getLong(1)).toSeq ==
      afterDel.map(_.getLong(1)).toSeq)
  }

  test("appendCommit lands only the batch's files; stats and reads span the union") {
    val root = freshTable()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(mk(0L, 1000L), root, Seq("k"))
    val v1Files = Snapshot.fileInventory(spark, root, 1L).map(_._1).toSet
    val av = Snapshot.appendCommit(mk(1000L, 2000L), root)
    assert(av == 2L)
    // the append carried v1 by reference and added only its own files
    val inv2 = Snapshot.fileInventory(spark, root, 2L).map(_._1).toSet
    assert(v1Files.subsetOf(inv2), "append must reference the base files")
    val added = inv2 -- v1Files
    assert(added.nonEmpty && added.forall(_.startsWith(dirOf(root, 2L) + "/")),
      s"append leaked non-batch files: $added")
    // content is the union, and carried+fresh stats prune across it
    assert(Snapshot.readCurrent(spark, root).count() == 2000L)
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(500L), lit(1500L)).count() == 1001L)
    // append on an empty table is the first commit
    val fresh = freshTable()
    assert(Snapshot.appendCommit(mk(0L, 10L), fresh) == 1L)
    assert(Snapshot.readCurrent(spark, fresh).count() == 10L)
  }

  test("racing append and delete serialize through the claim protocol") {
    // (the put: one entry per version, a loser re-puts or replans)
    val root = freshTable()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(mk(0L, 1000L), root, Seq("k"))
    // disjoint targets: the delete removes [0,100] from the base, the
    // append adds [2000,2100) — BOTH serial orders converge to the
    // same row set, so the assert pins serialization, not luck
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(Snapshot.appendCommit(mk(2000L, 2100L), root))
    val fd = Future(
      Snapshot.deleteWhere(spark, root, "k", lit(0L), lit(100L)))
    val (va, vd) = (Await.result(fa, 120.seconds),
      Await.result(fd, 120.seconds))
    // both landed, on distinct versions, and nothing was lost
    assert(Set(va, vd) == Set(2L, 3L), s"got versions $va/$vd")
    val ks = Snapshot.readCurrent(spark, root)
      .collect().map(_.getLong(0)).toSet
    val expect = ((101L until 1000L) ++ (2000L until 2100L)).toSet
    assert(ks == expect,
      s"racing commits lost rows: ${(expect -- ks).take(5)}... or " +
        s"phantoms: ${(ks -- expect).take(5)}...")
  }

  test("readCurrentPruned's stats-less fallback resolves the manifest, not the bare directory") {
    val root = freshTable()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    // plain commit (NO stats) then an append: v2's entry references
    // v1's files but carries no stats — a fallback that read v2's
    // attempt directory alone would silently return only the appended
    // batch
    Snapshot.commit(mk(0L, 1000L), root)
    Snapshot.appendCommit(mk(1000L, 2000L), root)
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(0L), lit(5000L)).count() == 2000L,
      "fallback dropped manifest-referenced rows")
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(500L), lit(1500L)).count() == 1001L)
    // the degenerate case: a stats-less RESTORE writes no directory —
    // a directory fallback would return nothing
    Snapshot.commit(mk(0L, 10L), root)
    Snapshot.restore(spark, root, 1L)
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(0L), lit(5000L)).count() == 1000L,
      "fallback returned the restore's empty directory instead of the table")
    // a table with stats on `k` only: a read on `v` has no stats to
    // prune with and falls back to the filtered read; a box prunes on
    // the dimension that has stats and filters on both
    val keyed = freshTable()
    Snapshot.commitWithStats(mk(0L, 1000L).repartitionByRange(4, col("k"))
      .sortWithinPartitions("k"), keyed, Seq("k"))
    assert(Snapshot.readCurrentPruned(spark, keyed, "v",
      lit(2L), lit(3L)).count() == 286L)
    def box(c1: String, lo1: Long, hi1: Long, c2: String, lo2: Long, hi2: Long) =
      Snapshot.readCurrentPrunedBox(spark, keyed, c1, lit(lo1), lit(hi1),
        c2, lit(lo2), lit(hi2)).select("k").collect().map(_.getLong(0)).toSet
    val want = (100L to 299L).filter(k => k % 7 == 2 || k % 7 == 3).toSet
    assert(box("k", 100L, 299L, "v", 2L, 3L) == want)
    assert(box("v", 2L, 3L, "k", 100L, 299L) == want)
    assert(Snapshot.readCurrentPrunedBox(spark, keyed, "v", lit(2L), lit(3L),
      "v", lit(0L), lit(6L)).count() == 286L)
  }

  test("DELETE WHERE does not delete NULL-key rows, wherever they live") {
    val root = freshTable()
    // one file mixing NULL keys with in-range keys (so the file is
    // rewritten) — SQL DELETE semantics: a NULL predicate does not
    // delete, so the NULLs must survive the rewrite exactly as they
    // would survive in a carried file
    val df = spark.range(0L, 20L)
      .select(when(col("id") < 5, lit(null).cast("long"))
          .otherwise(col("id")).as("k"),
        (col("id") % 7).as("v"))
      .coalesce(1)
    Snapshot.commitWithStats(df, root, Seq("k"))
    Snapshot.deleteWhere(spark, root, "k", lit(5L), lit(9L))
    val ks = Snapshot.readCurrent(spark, root).collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSet
    assert(ks == (Set(-1L) ++ (10L until 20L)),
      s"NULL-key rows were deleted by a NULL predicate: $ks")
  }

  test("racing appendCommits on an EMPTY table both land (bootstrap serializes)") {
    val root = freshTable()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    // the old bootstrap degraded to two blind full-replace commits —
    // the pointer ended on one batch and the other append's rows were
    // silently lost despite append's additive contract
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(Snapshot.appendCommit(mk(0L, 100L), root))
    val fb = Future(Snapshot.appendCommit(mk(100L, 200L), root))
    val (va, vb) = (Await.result(fa, 120.seconds),
      Await.result(fb, 120.seconds))
    assert(Set(va, vb) == Set(1L, 2L), s"got versions $va/$vb")
    val ks = Snapshot.readCurrent(spark, root)
      .collect().map(_.getLong(0)).toSet
    assert(ks == (0L until 200L).toSet,
      s"bootstrap race lost rows: ${((0L until 200L).toSet -- ks).take(5)}...")
  }

  test("add-column evolution: old files read NULL, old versions keep the old schema") {
    val root = freshTable()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(mk(0L, 100L), root, Seq("k"))
    // the evolved batch adds `flag`; carried v1 files never rewrite
    Snapshot.appendCommit(
      mk(100L, 200L).withColumn("flag", col("k") % 2), root)
    val cur = Snapshot.readCurrent(spark, root)
    assert(cur.columns.toSeq == Seq("k", "v", "flag"),
      s"union schema expected, got ${cur.columns.toSeq}")
    val byFlag = cur.groupBy("flag").count().collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1))
      .toMap
    assert(byFlag == Map(-1L -> 100L, 0L -> 50L, 1L -> 50L),
      s"old rows must read NULL flag: $byFlag")
    // time travel: the OLD version still reads with the OLD schema
    assert(Snapshot.readVersion(spark, root, 1L).columns.toSeq
      == Seq("k", "v"))
    // pruning still works across the boundary (old files carry stats)
    assert(Snapshot.readCurrentPruned(spark, root, "k",
      lit(50L), lit(150L)).count() == 101L)
    // maintenance crossing the boundary: a delete whose touched files
    // are OLD-generation must not drop the new column from the table,
    // and a full compact re-materializes the union schema
    Snapshot.deleteWhere(spark, root, "k", lit(0L), lit(9L))
    val afterDel = Snapshot.readCurrent(spark, root)
    assert(afterDel.columns.toSeq == Seq("k", "v", "flag"))
    assert(afterDel.count() == 190L)
    Snapshot.compact(spark, root, numFiles = 2)
    val afterCompact = Snapshot.readCurrent(spark, root)
    assert(afterCompact.columns.toSeq == Seq("k", "v", "flag"))
    assert(afterCompact.filter(col("flag").isNull).count() == 90L)
    // a retype is NOT an append — fail fast, not silent corruption
    intercept[IllegalArgumentException] {
      Snapshot.appendCommit(
        mk(200L, 210L).withColumn("flag", lit("not-a-long")), root)
    }
  }

  test("change feed crosses an add-column boundary with NULL pre-images") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // v2 adds `flag`: k=1 unchanged (flag stays NULL), k=2 updated
    // (flag appears), k=3 inserted
    Snapshot.commit(
      Seq((1L, "a", None: Option[Long]), (2L, "b", Some(7L)),
        (3L, "c", Some(1L))).toDF("k", "v", "flag"), root)
    val feed = Snapshot.changeFeed(spark, root, "k", fromV = 1L, toV = 2L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(feed == Set((2L, "update", 7L), (3L, "insert", 1L)),
      s"feed across the evolution boundary: $feed")
  }

  test("zorder commit: the 2-D box prune opens strictly fewer files than either 1-D prune on a linear layout") {
    import spark.implicits._
    // the full 64×64 grid, one row per cell — every a-slice carries
    // every b value, so a single-column sort serves one axis and
    // scatters the other
    val df = (0 until 4096).map { i =>
      (i.toLong, (i / 64).toLong, (i % 64).toLong)
    }.toDF("id", "a", "b")
    val zRoot = freshTable()
    Snapshot.commitClustered(df, zRoot, "a", "b", 16)
    val linRoot = freshTable()
    Snapshot.commitWithStats(
      df.repartitionByRange(16, col("a")).sortWithinPartitions("a"),
      linRoot, Seq("a", "b"))
    def filesFor(root: String, c: String, lo: Long, hi: Long): Set[String] =
      Snapshot.prunedFiles(spark, root, 1L, c, lit(lo), lit(hi)).toSet
    // a quarter-box on each axis
    val zBox = filesFor(zRoot, "a", 0, 15)
      .intersect(filesFor(zRoot, "b", 0, 15))
    val linA = filesFor(linRoot, "a", 0, 15)
    val linB = filesFor(linRoot, "b", 0, 15)
    val total = filesFor(zRoot, "a", Long.MinValue, Long.MaxValue).size
    assert(total == 16, s"expected 16 clustered files, got $total")
    // the linear layout's scattered dimension prunes nothing
    assert(linB.size == 16,
      s"linear layout pruned the scattered dimension: ${linB.size}")
    assert(zBox.size < linA.size && zBox.size < linB.size,
      s"box prune (${zBox.size}) not better than 1-D prunes " +
        s"(a=${linA.size}, b=${linB.size})")
    // values: the box read equals the plain filter, both layouts
    val want = df.filter(col("a").between(0, 15) && col("b").between(0, 15))
      .select("id").as[Long].collect().sorted.toSeq
    val got = Snapshot.readCurrentPrunedBox(spark, zRoot,
        "a", lit(0L), lit(15L), "b", lit(0L), lit(15L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want, s"box read mismatch: ${got.size} vs ${want.size}")
  }

  test("vacuum keeps manifest-referenced ancestors until compact collapses the chain") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commitWithStats(
      Seq.tabulate(100)(i => (i.toLong, s"r$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      root, Seq("k"))
    Snapshot.deleteWhere(spark, root, "k", lit(0L), lit(24L))
    val before = rows(root)
    // v2's manifest still references v1's carried files: retention
    // would reclaim v1, reference-tracking must keep it
    val (a1, a2) = (rel(dirOf(root, 1L)), rel(dirOf(root, 2L)))
    val d1 = Snapshot.vacuum(spark, root)
    assert(!d1.contains(a1),
      s"vacuum reclaimed a manifest-referenced ancestor: $d1")
    assert(rows(root) == before, "chain read broken after vacuum")
    // compact re-materializes v3 self-contained; now v1 AND v2 are
    // unreferenced and reclaimable
    Snapshot.compact(spark, root, 2)
    val d2 = Snapshot.vacuum(spark, root)
    assert(d2.contains(a1) && d2.contains(a2),
      s"collapsed chain not reclaimed: $d2")
    assert(rows(root) == before, "content changed across compact+vacuum")
    val ex = intercept[java.util.NoSuchElementException] {
      Snapshot.readVersion(spark, root, 1L).collect()
    }
    assert(ex.getMessage.contains("vacuumed"),
      s"vacuumed-version read must fail fast: ${ex.getMessage}")
  }

  test("time travel: as-of instants resolve to the version live at that instant") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    Snapshot.commit(Seq((1L, "A"), (3L, "c")).toDF("k", "v"), root)
    Snapshot.commit(Seq((9L, "z")).toDF("k", "v"), root)
    val h = Snapshot.commitHistory(spark, root)
    assert(h.map(_._1) == Seq(1L, 2L, 3L), s"history versions: $h")
    val ts = h.toMap
    // markers are strictly increasing even when commits land within
    // the same millisecond
    assert(ts(1L) < ts(2L) && ts(2L) < ts(3L), s"non-monotonic: $h")
    assert(Snapshot.versionAsOf(spark, root, ts(1L)) == 1L)
    assert(Snapshot.versionAsOf(spark, root, (ts(1L) + ts(2L)) / 2) == 1L)
    assert(Snapshot.versionAsOf(spark, root, ts(2L)) == 2L)
    assert(Snapshot.versionAsOf(spark, root, ts(3L) + 1000000L) == 3L)
    val mid = Snapshot.readAsOf(spark, root, ts(2L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mid == Set((1L, "A"), (3L, "c")), s"as-of v2 read: $mid")
    intercept[java.util.NoSuchElementException] {
      Snapshot.versionAsOf(spark, root, ts(1L) - 1)
    }
    val bare = freshTable()
    intercept[java.util.NoSuchElementException] {
      Snapshot.versionAsOf(spark, bare, System.currentTimeMillis())
    }
  }

  test("vacuum shrinks collected versions to headers: history and as-of outlive the data") {
    import spark.implicits._
    val root = freshTable()
    (1 to 3).foreach(i => Snapshot.commit(Seq((i.toLong, s"r$i")).toDF("k", "v"), root))
    val log = Snapshot.logOf(spark, root)
    Snapshot.vacuum(spark, root, retain = 1)
    // the headers keep every version's time and directory
    assert(Snapshot.logOf(spark, root) == log)
    val ts = Snapshot.commitHistory(spark, root).toMap
    assert(Snapshot.versionAsOf(spark, root, ts(2L)) == 2L)
    val e = intercept[java.util.NoSuchElementException](
      Snapshot.readAsOf(spark, root, ts(2L)).collect())
    assert(e.getMessage.contains("retained: v=3"), e.getMessage)
    assert(Snapshot.readAsOf(spark, root, ts(3L)).count() == 1L)
    // a header is two fields, not the version's file list
    val header = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_log", "v=1.json")), "UTF-8")
    assert(!header.contains("files") && !header.contains("schema"), header)
  }

  test("of4 upsert-merge through snapshots equals the logical merge") {
    val got = graft.operators.Etl.upsertMerge(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val orders = graft.sources.Tables.orders(spark, sf)
    val want = orders.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // the merge batch only reprices (no key add/drop): per-status counts
    // must survive the snapshot roundtrip untouched
    assert(got == want)
  }

  test("shallow clone: zero-copy reference, independent evolution, source untouched") {
    import spark.implicits._
    val base = freshTable()
    val src = s"$base/src"
    val dst = s"$base/clone"
    Snapshot.commitWithStats(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
        .toDF("k", "v").repartitionByRange(2, col("k"))
        .sortWithinPartitions("k"),
      src, Seq("k"))
    Snapshot.shallowClone(spark, src, dst)
    // the clone's v1 wrote NO data files of its own — pure reference
    val cloned = Snapshot.fileInventory(spark, dst, 1L).map(_._1)
    assert(cloned.nonEmpty)
    assert(cloned.forall(_.contains("/src/")),
      s"clone entry should reference source files: $cloned")
    assert(!exists(dst, "_data"), "the clone wrote an attempt directory")
    assert(rows(dst) == rows(src))
    // delete a band on the CLONE: only overlapping files rewrite (under
    // the clone's root); the rest keep riding the source's files
    Snapshot.deleteWhere(spark, dst, "k", lit(1L), lit(2L))
    assert(rows(dst) == Set((3L, "c"), (4L, "d")))
    val after = Snapshot.fileInventory(spark, dst, 2L).map(_._1)
    assert(after.exists(_.contains("/src/")),
      "untouched files must still ride the source cross-root")
    // the source never noticed
    assert(Snapshot.currentVersion(spark, src).contains(1L))
    assert(rows(src) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a second clone into a used root is refused
    intercept[IllegalArgumentException] {
      Snapshot.shallowClone(spark, src, dst)
    }
    // compact self-contains the clone (drops the cross-root dependency)
    Snapshot.compact(spark, dst)
    val selfFiles = Snapshot.fileInventory(spark, dst,
      Snapshot.currentVersion(spark, dst).get).map(_._1)
    assert(selfFiles.forall(!_.contains("/src/")))
    assert(rows(dst) == Set((3L, "c"), (4L, "d")))
  }

  test("merge-side schema evolution: new column lands, kept rows read NULL, old version keeps old schema") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    // change batch carries a NEW column: update k=2, insert k=9
    Snapshot.mergeCommit(spark, root,
      Seq((2L, "B", 20L), (9L, "i", 90L)).toDF("k", "v", "extra"), "k")
    val cur = Snapshot.readCurrent(spark, root)
    assert(cur.columns.toSeq == Seq("k", "v", "extra"))
    val byK = cur.collect().map(r =>
      r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(byK == Map(1L -> ("a", None), 2L -> ("B", Some(20L)),
      3L -> ("c", None), 9L -> ("i", Some(90L))))
    // pre-merge version is untouched: old schema, old rows
    val v1 = Snapshot.readVersion(spark, root, 1L)
    assert(v1.columns.toSeq == Seq("k", "v") && v1.count() == 3)
    // a follow-up merge WITHOUT the evolved column still works and
    // reads NULL there (the symmetric allowMissingColumns direction)
    Snapshot.mergeCommit(spark, root, Seq((1L, "A")).toDF("k", "v"), "k")
    val after = Snapshot.readCurrent(spark, root)
    assert(after.columns.toSeq == Seq("k", "v", "extra"))
    assert(after.filter(col("k") === 1L).head().isNullAt(2))
    assert(after.filter(col("k") === 2L).head().getLong(2) == 20L)
  }

  test("CHECK constraints gate every commit path atomically; NULL passes; drop lifts") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "qty"), root)
    // metadata-only add: carries files by reference, validates existing
    val vC = Snapshot.addCheckConstraint(spark, root, "qty_pos", "qty > 0")
    assert(vC == 2L)
    assert(Snapshot.checkConstraintsOf(spark, root, vC)
      == Seq(("qty_pos", "qty > 0")))
    // ...and v1's constraint set is empty (versioned resolution)
    assert(Snapshot.checkConstraintsOf(spark, root, 1L).isEmpty)
    // a constraint the data violates is refused WITHOUT burning a version
    val refused = intercept[Snapshot.ConstraintViolation] {
      Snapshot.addCheckConstraint(spark, root, "qty_small", "qty < 25")
    }
    assert(refused.nViolations == 1L
      && Snapshot.currentVersion(spark, root).contains(vC))
    // append with one bad row: rejected atomically, pointer parked
    val rej = intercept[Snapshot.ConstraintViolation] {
      Snapshot.appendCommit(Seq((4L, 40L), (5L, -5L)).toDF("k", "qty"), root)
    }
    assert(rej.constraint == "qty_pos" && rej.nViolations == 1L)
    assert(Snapshot.currentVersion(spark, root).contains(vC))
    assert(Snapshot.readCurrent(spark, root).count() == 3L)
    // merge with a bad change row: rejected before the merge write
    intercept[Snapshot.ConstraintViolation] {
      Snapshot.mergeCommit(spark, root,
        Seq((2L, -1L)).toDF("k", "qty"), "k")
    }
    assert(Snapshot.currentVersion(spark, root).contains(vC))
    // NULL predicate rows PASS (SQL CHECK semantics)
    Snapshot.appendCommit(
      Seq((6L, Some(60L)), (7L, None)).toDF("k", "qty"), root)
    assert(Snapshot.readCurrent(spark, root).count() == 5L)
    // the constraint survives unrelated commits (resolution ≤ v)
    val rej2 = intercept[Snapshot.ConstraintViolation] {
      Snapshot.appendCommit(Seq((8L, 0L)).toDF("k", "qty"), root)
    }
    assert(rej2.constraint == "qty_pos")
    // drop lifts enforcement going forward
    Snapshot.dropCheckConstraint(spark, root, "qty_pos")
    Snapshot.appendCommit(Seq((8L, 0L)).toDF("k", "qty"), root)
    assert(Snapshot.readCurrent(spark, root).count() == 6L)
    // historical versions still REPORT the constraint they ran under
    assert(Snapshot.checkConstraintsOf(spark, root, vC).nonEmpty)
  }

  test("column rename is metadata-only: files frozen, every path speaks logical names, renames compose") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commitWithStats(
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("k", "qty", "v").repartition(2),
      root, Seq("k"))
    val inv1 = Snapshot.fileInventory(spark, root, 1L).map(_._1).toSet
    Snapshot.renameColumn(spark, root, "qty", "amount")
    // zero data I/O: version 2 references exactly version 1's files
    assert(Snapshot.fileInventory(spark, root, 2L).map(_._1).toSet == inv1)
    assert(Snapshot.readCurrent(spark, root).columns.toSeq
      == Seq("k", "amount", "v"))
    // the old version still reads under the name it was committed with
    assert(Snapshot.readVersion(spark, root, 1L).columns.toSeq
      == Seq("k", "qty", "v"))
    // writers speak the NEW name: append, then merge
    Snapshot.appendCommit(Seq((4L, 40L, "d")).toDF("k", "amount", "v"), root)
    Snapshot.mergeCommit(spark, root,
      Seq((2L, 200L, "B")).toDF("k", "amount", "v"), "k")
    val byK = Snapshot.readCurrent(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byK == Map(1L -> 10L, 2L -> 200L, 3L -> 30L, 4L -> 40L))
    // pruned read addressed by the logical STATS column still skips
    val pruned = Snapshot.readCurrentPruned(spark, root, "k",
      org.apache.spark.sql.functions.lit(1L),
      org.apache.spark.sql.functions.lit(2L))
    assert(pruned.columns.contains("amount"))
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // deleteWhere by logical name
    Snapshot.deleteWhere(spark, root, "k",
      org.apache.spark.sql.functions.lit(4L),
      org.apache.spark.sql.functions.lit(4L))
    assert(Snapshot.readCurrent(spark, root).count() == 3L)
    // renames COMPOSE to one map entry; renaming back drops the map
    Snapshot.renameColumn(spark, root, "amount", "price")
    assert(Snapshot.readCurrent(spark, root).columns.toSeq
      == Seq("k", "price", "v"))
    val vNow = Snapshot.currentVersion(spark, root).get
    assert(Snapshot.metaOf(spark, root, vNow).colmap
      == Seq(("qty", "price")))
    Snapshot.renameColumn(spark, root, "price", "qty")
    assert(Snapshot.metaOf(spark, root,
      Snapshot.currentVersion(spark, root).get).colmap.isEmpty)
    // refusals: unknown source, taken target, constraint-referenced
    intercept[IllegalArgumentException] {
      Snapshot.renameColumn(spark, root, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      Snapshot.renameColumn(spark, root, "qty", "v")
    }
    Snapshot.addCheckConstraint(spark, root, "qty_pos", "qty > 0")
    intercept[IllegalArgumentException] {
      Snapshot.renameColumn(spark, root, "qty", "amount")
    }
  }

  test("change feed crosses a rename boundary as updates, not a delete+insert storm") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "qty"), root)
    Snapshot.renameColumn(spark, root, "qty", "amount")
    Snapshot.mergeCommit(spark, root,
      Seq((2L, 200L), (5L, 50L)).toDF("k", "amount"), "k")
    val feed = Snapshot.changeFeed(spark, root, "k", 1L,
      Snapshot.currentVersion(spark, root).get).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // k=1 unchanged (same physical value through the rename); k=2
    // updated; k=5 inserted — the rename itself is invisible to rows
    assert(feed == Set((2L, "update", 200L), (5L, "insert", 50L)))
  }

  test("generated column: base-range reads prune via the derived bucket's stats") {
    import spark.implicits._
    val root = freshTable()
    val df = (1L to 8000L).map(i => (i, s"v$i")).toDF("k", "v")
    Snapshot.commitGenerated(df, root, "k", 1000L, "kb", nFiles = 8)
    // rule recorded and resolvable
    assert(Snapshot.metaOf(spark, root, 1L).gen
      .contains(("kb", "k", 1000L)))
    // a one-bucket base range opens a strict subset of the files even
    // though stats exist only on the GENERATED column
    val all = Snapshot.prunedFiles(spark, root, 1L, "kb",
      lit(Long.MinValue), lit(Long.MaxValue)).toSet
    val hit = Snapshot.prunedFiles(spark, root, 1L, "kb",
      lit(2L), lit(2L)).toSet
    assert(all.size == 8 && hit.size < all.size,
      s"expected a strict prune: ${hit.size} of ${all.size}")
    // values: base semantics exactly (bucket-boundary edges included)
    val got = Snapshot.readCurrentWhereBase(spark, root, "k", 1999L, 3001L)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == (1999L to 3001L).toSet)
    // rule mismatch refuses rather than scanning everything silently
    intercept[IllegalArgumentException] {
      Snapshot.readCurrentWhereBase(spark, root, "v", 1L, 2L)
    }
  }

  test("generated column: unsafe names refused at commit, corrupt sidecar loud at read") {
    import spark.implicits._
    val root = freshTable()
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    // a name the readers could not resolve unquoted is rejected
    // BEFORE anything commits (quote, space, backtick)
    for (bad <- Seq("""k"b""", "k b", "`kb`")) {
      intercept[IllegalArgumentException] {
        Snapshot.commitGenerated(df, root, "k", 1000L, bad)
      }
    }
    intercept[IllegalArgumentException] {
      Snapshot.commitGenerated(df, root, """base"col""", 1000L, "kb")
    }
    // a record that EXISTS but doesn't parse is corruption, not
    // "no rule": the reader must fail loudly with the evidence rather
    // than degrade into the misleading no-rule NoSuchElementException
    Snapshot.commitGenerated(df, root, "k", 1000L, "kb", nFiles = 2)
    val record = new java.io.File(root, "_log/v=1.json")
    assert(record.isFile, s"no metadata record at $record")
    java.nio.file.Files.write(record.toPath,
      """{"gen":bogus}""".getBytes("UTF-8"))
    // drop the local-FS checksum shadow so the corruption reaches the
    // PARSER (a CRC mismatch is the other, already-loud failure mode)
    new java.io.File(record.getParent, s".${record.getName}.crc").delete()
    val e = intercept[IllegalStateException] {
      Snapshot.readCurrentWhereBase(spark, root, "k", 1L, 5L)
    }
    assert(e.getMessage.contains("malformed") &&
      e.getMessage.contains("bogus"), e.getMessage)
  }

  // ---- merge-on-read deletes (deletion-vector sidecar) ----

  private def dataFiles(root: String, v: Long): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(dirOf(root, v)).toUri.getPath))
      .iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .toSet
  }

  test("deleteWhereMor erases scattered rows with ZERO data files rewritten") {
    import spark.implicits._
    val root = freshTable()
    val df = spark.range(0, 800).select(col("id").as("k"),
        (col("id") % 7).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k"))
    val v1Files = dataFiles(root, 1L)
    // every 10th key: one row in EVERY file — the shape whose COW
    // delete would rewrite the whole table
    val v2 = Snapshot.deleteWhereMor(spark, root, col("k") % 10 === 0)
    assert(v2 == 2L)
    // values: exactly the filtered table
    val got = Snapshot.readCurrent(spark, root)
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L until 800L).filterNot(_ % 10 == 0).toSet)
    // granularity: the new version holds NO data rows of its own —
    // every base file rides by reference, only the sidecar is new
    val mf = Snapshot.fileInventory(spark, root, v2).map(_._1)
    assert(v1Files.subsetOf(mf.map(_.stripPrefix("file://")).toSet)
      || mf.count(_.startsWith(dirOf(root, 1L) + "/")) == v1Files.size,
      "MOR delete failed to carry every base file by reference")
    assert(mf.size == v1Files.size && Snapshot.metaOf(spark, root, v2).dir.isEmpty,
      "MOR delete wrote a data file")
    // time travel: the pre-delete version still shows the rows
    assert(Snapshot.readVersion(spark, root, 1L).count() == 800L)
    // composition: a second MOR delete unions into the sidecar
    val v3 = Snapshot.deleteWhereMor(spark, root, col("k") === 1L)
    assert(Snapshot.readCurrent(spark, root).count() == 800L - 80 - 1)
    // NULL predicate deletes nothing (SQL DELETE semantics)
    Snapshot.deleteWhereMor(spark, root,
      when(col("k") < 0, true).otherwise(lit(null).cast("boolean")))
    assert(Snapshot.readCurrent(spark, root).count() == 800L - 80 - 1)
    assert(v3 == 3L)
  }

  test("currentRowCount (metadata) equals the full read-back count " +
      "through commit, append, MOR-delete, COW-delete and purge (r15)") {
    import spark.implicits._
    val root = freshTable()
    def bothAgree(tag: String): Long = {
      val meta = Snapshot.currentRowCount(spark, root)
      val scan = Snapshot.readCurrent(spark, root).count()
      assert(meta == scan, s"$tag: metadata count $meta != scan count $scan")
      meta
    }
    val df = spark.range(0, 500).select(col("id").as("k"),
        (col("id") % 7).as("v"))
      .repartitionByRange(5, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k"))
    assert(bothAgree("commit") == 500L)
    Snapshot.appendCommit(
      (1000L until 1010L).map(k => (k, k)).toDF("k", "v"), root)
    assert(bothAgree("append") == 510L)
    // MOR delete: tombstones must subtract exactly — 50 multiples of
    // 10 in [0,500) plus k=1000 from the appended band
    Snapshot.deleteWhereMor(spark, root, col("k") % 10 === 0)
    assert(bothAgree("mor-delete") == 510L - 51L)
    // a second MOR wave unions (distinct) into the sidecar
    Snapshot.deleteWhereMor(spark, root, col("k") === 1L || col("k") % 10 === 0)
    assert(bothAgree("mor-delete-2") == 510L - 51L - 1L)
    // COW band delete: rewritten files shed their tombstones, carried
    // files keep theirs — the mixed shape the subtraction must survive
    Snapshot.deleteWhere(spark, root, "k", lit(100L), lit(149L))
    bothAgree("cow-after-mor")
    // purge rematerializes and clears the sidecar
    Snapshot.purgeDv(spark, root)
    bothAgree("purged")
    // degenerate: delete everything — manifest-listed empty table
    Snapshot.deleteWhere(spark, root, "k", lit(Long.MinValue),
      lit(Long.MaxValue))
    assert(bothAgree("emptied") == 0L)
  }

  test("MOR tombstones survive appends, die under compact, and never resurrect through rewrites") {
    import spark.implicits._
    val root = freshTable()
    val df = spark.range(0, 400).select(col("id").as("k"),
        (col("id") % 5).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k"))
    Snapshot.deleteWhereMor(spark, root, col("k") % 10 === 0) // -40
    // append: new rows visible, tombstones still applied to carried files
    Snapshot.appendCommit(
      (1000L until 1010L).map(k => (k, k)).toDF("k", "v"), root)
    assert(Snapshot.readCurrent(spark, root).count() == 400 - 40 + 10)
    // pruned range read applies the sidecar
    val pruned = Snapshot.readCurrentPruned(spark, root, "k",
      lit(0L), lit(39L)).collect().map(_.getLong(0)).toSet
    assert(pruned == (0L until 40L).filterNot(_ % 10 == 0).toSet,
      s"pruned read resurrected tombstoned rows: $pruned")
    // file-granular COW delete of a band: its rewrite must not
    // resurrect the band's tombstoned rows, and carried files keep
    // their tombstones
    Snapshot.deleteWhere(spark, root, "k", lit(100L), lit(149L))
    val after = Snapshot.readCurrent(spark, root)
      .collect().map(_.getLong(0)).toSet
    val expect = ((0L until 400L).filterNot(_ % 10 == 0)
      .filterNot(k => k >= 100L && k <= 149L) ++
      (1000L until 1010L)).toSet
    assert(after == expect)
    // keyed merge re-inserting a tombstoned key: the fresh row wins
    // (tombstones pin (file, row_index), never keys)
    Snapshot.mergeCommit(spark, root,
      Seq((30L, -30L)).toDF("k", "v"), "k")
    val k30 = Snapshot.readCurrent(spark, root)
      .filter(col("k") === 30L).collect().map(_.getLong(1)).toSeq
    assert(k30 == Seq(-30L), s"re-inserted tombstoned key read $k30")
    // compact re-materializes the survivors and CLEARS the bitmaps
    val cv = Snapshot.compact(spark, root, numFiles = 2)
    assert(Snapshot.metaOf(spark, root, cv).files.forall(_.dv.isEmpty),
      "compact must clear the deletion vectors")
    assert(Snapshot.readCurrent(spark, root)
      .filter(col("k") % 10 === 0 && col("k") < 400).count() == 1L)
    // (k=30 is the one re-inserted multiple-of-10 under 400)
  }

  test("purgeDv rewrites only tombstoned files, clears the sidecar, and no-ops when clean") {
    import spark.implicits._
    val root = freshTable()
    val df = spark.range(0, 400).select(col("id").as("k"),
        (col("id") % 5).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(df, root, Seq("k"))
    // clustered delete: tombstones land in the low-key file(s) only
    Snapshot.deleteWhereMor(spark, root, col("k") < 50)
    val pv = Snapshot.purgeDv(spark, root)
    assert(pv == 3L)
    assert(Snapshot.metaOf(spark, root, pv).files.forall(_.dv.isEmpty),
      "purge left a deletion vector behind")
    // only the tombstoned file(s) rewrote; the rest carried by reference
    val mfp = Snapshot.fileInventory(spark, root, pv).map(_._1)
    assert(mfp.count(_.startsWith(dirOf(root, 1L) + "/")) >= 2,
      s"purge rewrote clean files: $mfp")
    assert(Snapshot.readCurrent(spark, root).count() == 350L)
    // the purged bytes really dropped the rows (read the fresh files raw)
    val freshP = mfp.filter(_.startsWith(dirOf(root, pv) + "/"))
    if (freshP.nonEmpty)
      assert(spark.read.parquet(freshP: _*)
        .filter(col("k") < 50).count() == 0L)
    // a clean table no-ops without burning a version
    assert(Snapshot.purgeDv(spark, root) == pv)
  }

  test("change feed classifies MOR-deleted rows as deletes (no write-path logging needed)") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(spark.range(0, 50)
      .select(col("id").as("k"), col("id").as("v")), root)
    Snapshot.deleteWhereMor(spark, root, col("k") % 10 === 0)
    val feed = Snapshot.changeFeed(spark, root, "k", fromV = 1L, toV = 2L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the feed derives from version reads, and version reads apply the
    // sidecar — so a metadata-only MOR delete surfaces as exactly its
    // row deletes, nothing else
    assert(feed == (0L until 50L by 10L).map(_ -> "delete").toSet, feed)
  }

  test("a zero-match MOR delete on a DV-less table writes NO sidecar (no read tax)") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commit(spark.range(0, 50)
      .select(col("id").as("k"), col("id").as("v")), root)
    val v2 = Snapshot.deleteWhereMor(spark, root, col("k") < 0)
    assert(v2 == 2L)
    assert(Snapshot.metaOf(spark, root, v2).files.forall(_.dv.isEmpty) &&
      attempts(root).size == 1,
      "an empty match must not attach a bitmap — every read would pay " +
        "the deletion-vector filter for nothing")
    assert(Snapshot.readCurrent(spark, root).count() == 50L)
  }

  test("MOR tombstones survive a carry through a table root containing a space") {
    import spark.implicits._
    // the URL-encoding trap: `_metadata.file_path` and Path.toString may
    // disagree on how a space in the root is spelled; a byte-wise
    // mismatch would silently drop every tombstone at carry time and
    // resurrect the deleted rows. The carry now asserts membership
    // loudly; this pins the whole path end-to-end.
    val dir = java.nio.file.Files.createTempDirectory("graft_snap spaced_")
    val root = dir.resolve("tbl with space").toString
    Snapshot.commit(spark.range(0, 60)
      .select(col("id").as("k"), col("id").as("v")), root)
    Snapshot.deleteWhereMor(spark, root, col("k") % 10 === 0)
    assert(Snapshot.readCurrent(spark, root).count() == 54L)
    // append → writeManifestAndStats carry (the drop site)
    Snapshot.appendCommit(Seq((1000L, 1L)).toDF("k", "v"), root)
    val got = Snapshot.readCurrent(spark, root)
      .collect().map(_.getLong(0)).toSet
    assert(!got.exists(k => k < 60 && k % 10 == 0),
      s"carried tombstones were dropped through the spaced root: $got")
    assert(got.size == 55)
  }

  test("a table root with a space, %, + and a non-ASCII character: actions name each file in the scan's form") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_")
    val root = dir.resolve("t a%b+c \u00e9").toString
    // a bloom commit keys its stats aggregate by scan form; the append
    // makes a version whose files live in two attempts
    Snapshot.commitWithStats(spark.range(0, 60)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(3, col("k")), root, Seq("k"), bloomCols = Seq("v"))
    Snapshot.appendCommit(Seq((1000L, 1L)).toDF("k", "v"), root)
    val m = Snapshot.metaOf(spark, root, 2L)
    assert(m.files.size == 4 && m.files.forall(_.path.contains("/t a%b+c \u00e9/")))
    def scanned(paths: String*) = spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path"), input_file_name()).distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // the driver's scan form is `_metadata.file_path`, byte for byte;
    // `input_file_name()` is the same URI in the `file:///` spelling
    val want = m.files.map { f =>
      val uri = org.apache.spark.paths.SparkPath.fromPathString(f.path).urlEncoded
      assert(uri.startsWith("file:///"), uri)
      (Snapshot.scanForm(f.path), uri)
    }.toSet
    assert(want.forall { case (s, u) => s == "file:/" + u.stripPrefix("file:///") })
    assert(scanned(m.files.map(_.path): _*) == want)
    assert(scanned(m.files.map(_.path).map(p => p.take(p.lastIndexOf('/'))).distinct: _*) == want)
    // every read path: the bitmaps find their files, the bloom payload
    // names the live files
    Snapshot.deleteWhereMor(spark, root, col("k") % 10 === 0) // 6 + k=1000
    assert(Snapshot.readCurrent(spark, root).count() == 54L &&
      Snapshot.currentRowCount(spark, root) == 54L)
    assert(Snapshot.readCurrentPoint(spark, root, "v", 3L)
      .collect().map(_.getLong(0)).sorted.toSeq == (3L until 60L by 7L).filter(_ % 10 != 0))
    Snapshot.purgeDv(spark, root)
    assert(Snapshot.readCurrent(spark, root).count() == 54L)
  }

  test("vacuum reads only the versions since the last vacuum: a corrupt collected header is never opened") {
    val root = freshTable()
    def ver(v: Long) = Snapshot.metaOf(spark, root, v)
    Snapshot.commitWithStats(spark.range(0, 40).select(col("id").as("k"))
      .repartitionByRange(2, col("k")), root, Seq("k"))
    Snapshot.compact(spark, root, numFiles = 1) // v=2
    Snapshot.compact(spark, root, numFiles = 1) // v=3
    val first = Seq(1L, 2L).map(v => rel(dirOf(root, v))).toSet
    assert(Snapshot.vacuum(spark, root).toSet == first)
    Snapshot.compact(spark, root, numFiles = 1) // v=4
    Snapshot.compact(spark, root, numFiles = 1) // v=5
    val second = Seq(3L, 4L).map(v => rel(dirOf(root, v))).toSet
    val live = ver(5L).dir.toSet.map(rel)
    // headers 1 and 2 form the collected prefix; the walk down from v=5
    // stops at header 2 and never opens header 1
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_log", "v=1.json"),
      "not json {".getBytes("UTF-8"))
    intercept[IllegalStateException](Snapshot.commitHistory(spark, root))
    assert(Snapshot.vacuum(spark, root).toSet == second)
    assert(attempts(root) == live && Snapshot.readCurrent(spark, root).count() == 40L)
    // v=3 and v=4 shrank to their headers
    Seq(3L, 4L).foreach { v =>
      val entry = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_log", s"v=$v.json")), "UTF-8")
      assert(entry.startsWith("{\"time\":") && !entry.contains("\"files\""), entry)
    }
  }

  test("a MOR delete past half of a file's rows rewrites that file in the same commit") {
    // four files of exactly 100 rows: keys [0,100), [100,200), …
    val root = freshTable()
    Snapshot.commitWithStats(spark.range(0, 400, 1, 4)
      .select(col("id").as("k"), (col("id") % 5).as("v")), root, Seq("k"))
    val v1 = Snapshot.metaOf(spark, root, 1L).files
    def fileOf(k: Long) = v1.find(_.bounds.head._1 == k).get.path
    // a fifth of the first file, and exactly half of the second: below
    // the rule, both keep their rows behind a bitmap
    val v2 = Snapshot.deleteWhereMor(spark, root, col("k") < 20 ||
      (col("k") >= 100 && col("k") < 150))
    val m2 = Snapshot.metaOf(spark, root, v2)
    assert(v2 == 2L && m2.dir.isEmpty && m2.files.map(_.path) == v1.map(_.path))
    assert(m2.files.map(f => f.path -> f.deleted).toMap ==
      Map(fileOf(0L) -> 20L, fileOf(100L) -> 50L, fileOf(200L) -> 0L, fileOf(300L) -> 0L))
    // the first file passes half: the same commit rewrites it without
    // its deleted rows, and its bitmap dies with it; the others ride
    val v3 = Snapshot.deleteWhereMor(spark, root, col("k") >= 20 && col("k") < 60)
    val m3 = Snapshot.metaOf(spark, root, v3)
    assert(v3 == 3L && m3.dir.isDefined)
    val (fresh, carried) = m3.files.partition(f => m3.dir.contains(f.path.take(f.path.lastIndexOf('/'))))
    assert(carried.map(_.path).toSet == Set(fileOf(100L), fileOf(200L), fileOf(300L)))
    assert(fresh.map(_.rows).sum == 40L && fresh.forall(_.dv.isEmpty))
    assert(carried.find(_.path == fileOf(100L)).get.deleted == 50L)
    assert(spark.read.parquet(fresh.map(_.path): _*).collect().map(_.getLong(0)).toSet ==
      (60L until 100L).toSet)
    assert(Snapshot.readCurrent(spark, root).count() == 290L &&
      Snapshot.currentRowCount(spark, root) == 290L)
    // a file whose every row is deleted is dropped, not rewritten
    val v4 = Snapshot.deleteWhereMor(spark, root, col("k") >= 300)
    val m4 = Snapshot.metaOf(spark, root, v4)
    assert(m4.dir.isEmpty && !m4.files.exists(_.path == fileOf(300L)))
    assert(Snapshot.readCurrent(spark, root).count() == 190L &&
      Snapshot.currentRowCount(spark, root) == 190L)
  }

  test("MOR sidecars ride shallow clones and follow vacuum retention") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commitWithStats(spark.range(0, 100)
      .select(col("id").as("k"), col("id").as("v"))
      .repartitionByRange(2, col("k")), root, Seq("k"))
    Snapshot.deleteWhereMor(spark, root, col("k") < 10)
    // clone inherits the tombstones with the referenced files
    val cloneRoot = freshTable() + "/clone"
    Snapshot.shallowClone(spark, root, cloneRoot)
    assert(Snapshot.readCurrent(spark, cloneRoot).count() == 90L)
    // the bitmaps live in the entries, so the MOR deletes write no
    // attempt; vacuum with retain=1 keeps v1's directory for the files
    // v3 carries, with v3's bitmaps
    Snapshot.deleteWhereMor(spark, root, col("k") === 50L) // v=3
    assert(Seq(2L, 3L).map(Snapshot.metaOf(spark, root, _).files.map(_.deleted).sum) ==
      Seq(10L, 11L) && attempts(root) == Set(rel(dirOf(root, 1L))))
    val swept = Snapshot.vacuum(spark, root, retain = 1)
    assert(swept.isEmpty, s"vacuum swept $swept")
    assert(Snapshot.readCurrent(spark, root).count() == 89L)
    // entries follow the retained versions: the v1 directory v3's entry
    // still names keeps its files, not its entry
    def entries(): Set[Long] = (1L to Snapshot.currentVersion(spark, root).get)
      .filter(v => scala.util.Try(Snapshot.metaOf(spark, root, v)).isSuccess).toSet
    assert(entries() == Set(3L) && exists(root, rel(dirOf(root, 1L))))
    // generated, rename, constraint, append and drop commits, then a
    // writer killed before its put (in flight)
    Snapshot.commitGenerated(Snapshot.readCurrent(spark, root), root,
      "k", 10L, "kb", nFiles = 2) // v=4, self-contained
    Snapshot.renameColumn(spark, root, "v", "val")
    Snapshot.addCheckConstraint(spark, root, "k_nonneg", "k >= 0")
    Snapshot.appendCommit(
      Seq((200L, 1L, 20L, 7L)).toDF("k", "val", "kb", "w"), root)
    Snapshot.dropColumn(spark, root, "w") // v=8
    val before = attempts(root)
    killedBeforePut(root)(Snapshot.appendCommit(
      Seq((201L, 2L, 20L)).toDF("k", "val", "kb"), root)) // in flight
    val inFlight = attempts(root) -- before
    assert(inFlight.size == 1)
    // retained v7 and v8 name the attempts of v4 and v7; the in-flight
    // attempt is young, so it stays too
    Snapshot.vacuum(spark, root, retain = 2)
    assert(entries() == Set(7L, 8L))
    assert(attempts(root) == Set(rel(dirOf(root, 4L)), rel(dirOf(root, 7L))) ++ inFlight)
    // the head's entry carries every edit
    val head = Snapshot.readCurrent(spark, root)
    assert(head.columns.toSeq == Seq("k", "val", "kb") && head.count() == 90L)
    assert(Snapshot.checkConstraintsOf(spark, root, 8L) == Seq(("k_nonneg", "k >= 0")))
    assert(Snapshot.readCurrentWhereBase(spark, root, "k", 20L, 29L).count() == 10L)
    // the dead writer's attempt goes once older than the retention
    inFlight.foreach(backdate(root, _))
    Snapshot.vacuum(spark, root, retain = 2)
    assert(attempts(root) == Set(rel(dirOf(root, 4L)), rel(dirOf(root, 7L))))
    for (r <- Seq(root, cloneRoot);
         d <- Seq("_schema", "_constraints", "_colmap", "_dropped", "_gencol",
           "_claims", "_history", "_ptrlock"))
      assert(!exists(r, d), s"$r/$d exists")
  }

  test("commitGenerated writes its rule before the pointer swap") {
    val root = freshTable()
    Snapshot.commit(spark.range(0, 10).select(col("id").as("k")), root)
    // a directory where the next version's entry belongs: the entry
    // (and with it the rule) cannot be put
    assert(new java.io.File(root, "_log/v=2.json").mkdirs())
    intercept[java.io.IOException] {
      Snapshot.commitGenerated(spark.range(0, 10).select(col("id").as("k")),
        root, "k", 1000L, "kb", nFiles = 2)
    }
    // the version whose rule never landed was never published
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.readCurrent(spark, root).columns.toSeq == Seq("k"))
  }

  test("a commit killed before its pointer swap leaks none of its metadata into later versions") {
    import spark.implicits._
    def batch(ks: Range) =
      ks.map(k => (k.toLong, k * 10L, k % 3L)).toDF("k", "qty", "w")
    val killed: Seq[(String, String => Any)] = Seq(
      "renameColumn" -> (r => Snapshot.renameColumn(spark, r, "qty", "amount")),
      "addCheckConstraint" ->
        (r => Snapshot.addCheckConstraint(spark, r, "qty_small", "qty < 100")),
      "dropColumn" -> (r => Snapshot.dropColumn(spark, r, "w")),
      "commitGenerated" -> (r => Snapshot.commitGenerated(batch(0 until 10),
        r, "k", 5L, "kb", nFiles = 2)))
    killed.foreach { case (name, op) =>
      val root = freshTable()
      Snapshot.commit(batch(0 until 10), root)
      val before = attempts(root)
      // the attempt written (if the commit writes data); no put
      killedBeforePut(root)(op(root))
      assert(Snapshot.currentVersion(spark, root).contains(1L), name)
      val dead = attempts(root) -- before
      assert(dead.size == (if (name == "commitGenerated") 1 else 0), s"$name: $dead")
      // the next commit and append see only v1's metadata: no rename,
      // no constraint, no retired name, no rule
      assert(Snapshot.commit(batch(0 until 10).drop("w"), root) == 2L, name)
      assert(Snapshot.readCurrent(spark, root).columns.toSeq == Seq("k", "qty"),
        s"$name: the killed commit's column map or schema leaked")
      assert(Snapshot.checkConstraintsOf(spark, root, 2L).isEmpty,
        s"$name: the killed commit's constraint leaked")
      intercept[java.util.NoSuchElementException] {
        Snapshot.readCurrentWhereBase(spark, root, "k", 0L, 3L)
      }
      Snapshot.appendCommit(batch(100 until 105), root)
      val head = Snapshot.readCurrent(spark, root)
      assert(head.columns.toSeq == Seq("k", "qty", "w") && head.count() == 15L,
        name)
      // vacuum collects the dead writer's attempt once it is old
      dead.foreach(backdate(root, _))
      Snapshot.vacuum(spark, root)
      dead.foreach(a => assert(!exists(root, a), s"$name: $a survived vacuum"))
    }
  }

  test("every read-modify-write commit: an empty table throws and claims " +
      "nothing; a table advances by exactly one version or stays put") {
    import spark.implicits._
    def table(): String = {
      val root = freshTable()
      Snapshot.commitWithStats(spark.range(0, 200)
        .select(col("id").as("k"), (col("id") % 7).as("v"),
          (col("id") % 3).as("w"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
        root, Seq("k"))
      root
    }
    val none: String => Unit = _ => ()
    // (entry point, set-up on the committed table, call, advances?)
    val cases: Seq[(String, String => Unit, String => Long, Boolean)] = Seq(
      ("compact", none, r => Snapshot.compact(spark, r), true),
      ("mergeCommit", none, r => Snapshot.mergeCommit(spark, r,
        Seq((5L, 99L, 0L)).toDF("k", "v", "w"), "k"), true),
      ("deleteWhere", none,
        r => Snapshot.deleteWhere(spark, r, "k", lit(10L), lit(20L)), true),
      ("deleteWhereMor", none,
        r => Snapshot.deleteWhereMor(spark, r, col("k") < 5), true),
      ("purgeDv", none, r => Snapshot.purgeDv(spark, r), false),
      ("purgeDv", r => Snapshot.deleteWhereMor(spark, r, col("k") < 5),
        r => Snapshot.purgeDv(spark, r), true),
      ("addCheckConstraint", none,
        r => Snapshot.addCheckConstraint(spark, r, "v_ok", "v >= 0"), true),
      ("dropCheckConstraint",
        r => Snapshot.addCheckConstraint(spark, r, "v_ok", "v >= 0"),
        r => Snapshot.dropCheckConstraint(spark, r, "v_ok"), true),
      ("renameColumn", none,
        r => Snapshot.renameColumn(spark, r, "v", "v2"), true),
      ("dropColumn", none, r => Snapshot.dropColumn(spark, r, "w"), true),
      ("appendCommit", none, r => Snapshot.appendCommit(
        Seq((500L, 1L, 1L)).toDF("k", "v", "w"), r), true),
      ("compactSmall", none, r => Snapshot.compactSmall(spark, r), true),
      ("compactSmall", none,
        r => Snapshot.compactSmall(spark, r, smallBytes = 1L), false),
      ("restore", none, r => Snapshot.restore(spark, r, 1L), false),
      ("restore", r => Snapshot.deleteWhereMor(spark, r, col("k") < 5),
        r => Snapshot.restore(spark, r, 1L), true))
    assert(cases.map(_._1).distinct.size == 12)
    cases.foreach { case (name, setup, call, advances) =>
      // empty root: the head read fails before any write. appendCommit
      // is the exception by contract — it commits the first version
      val empty = freshTable() + "/empty"
      if (name == "appendCommit")
        assert(call(empty) == 1L, s"$name: bootstrap did not land v=1")
      else {
        intercept[java.util.NoSuchElementException](call(empty))
        assert(!exists(empty, "_data") && !exists(empty, "_log"),
          s"$name left an attempt or entry behind on an empty table")
      }
      // committed table
      val root = table()
      setup(root)
      val head = Snapshot.currentVersion(spark, root).get
      val before = attempts(root)
      val got = call(root)
      assert(Snapshot.currentVersion(spark, root).contains(got))
      if (!advances) {
        assert(got == head, s"$name: no-op moved the head $head → $got")
        assert(!exists(root, s"_log/v=${head + 1}.json") && attempts(root) == before,
          s"$name: no-op wrote an entry or attempt")
      } else {
        assert(got == head + 1, s"$name: $head → $got, expected head+1")
        assert(exists(root, s"_log/v=$got.json"), s"$name: entry missing")
        // an attempt directory exactly when the version added files
        val m = Snapshot.metaOf(spark, root, got)
        val added = attempts(root) -- before
        assert(added.toSet.subsetOf(m.dir.map(rel).toSet),
          s"$name: stray attempt $added")
        m.dir.foreach(d => assert(exists(root, rel(d)), s"$name: $d missing"))
        // the entry is the whole version: it keeps the stats columns,
        // every action carries their bounds, and its row count is the
        // count of what every file it names reads back
        assert(m.stats == Seq("k") && m.files.forall(_.bounds.size == 1),
          s"$name: the entry lost its stats")
        assert(Snapshot.currentRowCount(spark, root) ==
          Snapshot.readCurrent(spark, root).count(), s"$name: row count")
        Seq("_manifest", "_stats").foreach(d =>
          assert(!exists(root, d), s"$name: wrote a $d sidecar"))
      }
    }
  }

  // ---- metadata-sized sidecars are read on the driver ----------------

  /** The point-lookup key of [[sidecarTable]]'s row `k` (a bijection
    * on [0, 1000)). */
  private def vOf(k: Long): Long = (k * 7919L) % 1000L

  /** 1000 rows in ~8 files with stats on `k`, a bloom on `v`, a file
    * manifest (append) and a deletion vector (every `k % 10 == 3`):
    * every sidecar kind a read resolves. Sketches sized to the
    * ~125 rows per file. */
  private def sidecarTable(): String = withConf(
      "graft.snapshot.bloomEstItems", "200") {
    val root = freshTable()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), ((col("id") * 7919L) % 1000L).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(mk(0L, 500L), root, Seq("k"),
      bloomCols = Seq("v"))
    Snapshot.appendCommit(mk(500L, 1000L), root)
    Snapshot.deleteWhereMor(spark, root, col("k") % 10 === 3)
    root
  }

  test("metadata reads run no Spark job: row count, read-plan construction, vacuum") {
    val root = sidecarTable()
    val (n, countJobs) = jobsOf(Snapshot.currentRowCount(spark, root))
    assert(countJobs == 0, s"currentRowCount ran $countJobs jobs")
    assert(n == 900L)
    // plan construction resolves the manifest, stats, bloom and DV
    // sidecars on the driver; only the action runs jobs
    val (pruned, prunedJobs) = jobsOf(
      Snapshot.readCurrentPruned(spark, root, "k", lit(100L), lit(199L)))
    assert(prunedJobs == 0, s"readCurrentPruned planned with $prunedJobs jobs")
    assert(pruned.count() == 90L)
    val (hit, hitJobs) = jobsOf(
      Snapshot.readCurrentPoint(spark, root, "v", vOf(124L)))
    assert(hitJobs == 0, s"readCurrentPoint planned with $hitJobs jobs")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(124L))
    // tombstoned row, and a value no file holds (the schema anchor)
    Seq(vOf(123L), 5000L).foreach { v =>
      val (miss, missJobs) = jobsOf(
        Snapshot.readCurrentPoint(spark, root, "v", v))
      assert(missJobs == 0, s"readCurrentPoint($v) planned with $missJobs jobs")
      assert(miss.count() == 0L && miss.columns.toSeq == Seq("k", "v"))
    }
    val (deleted, vacuumJobs) = jobsOf(Snapshot.vacuum(spark, root))
    assert(vacuumJobs == 0, s"vacuum ran $vacuumJobs jobs")
    // v3 carries every file and payload: vacuum deletes nothing, but
    // collects v1 and v2 down to their headers
    assert(deleted.isEmpty, s"deleted $deleted")
    Seq(1L, 2L).foreach(v =>
      intercept[java.util.NoSuchElementException](Snapshot.metaOf(spark, root, v)))
    assert(Snapshot.readCurrent(spark, root).count() == 900L)
  }

  test("commits that write no data file create no directory, with pinned Spark jobs") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commitWithStats(spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 7).as("v"), (col("id") % 3).as("w"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"), root, Seq("k"))
    // (commit, Spark jobs): only the data-sized scans remain (the MOR
    // delete's one bitmap aggregate among them); no zero-row anchor file
    // is written, and the entry — file actions with their stats and
    // deletion vectors — is written on the driver
    val cases: Seq[(String, () => Long, Int)] = Seq(
      ("deleteWhereMor", () => Snapshot.deleteWhereMor(spark, root,
        col("k") % 10 === 3), 2),
      ("restore", () => Snapshot.restore(spark, root, 1L), 0),
      ("renameColumn", () => Snapshot.renameColumn(spark, root, "v", "v2"), 0),
      ("addCheckConstraint", () =>
        Snapshot.addCheckConstraint(spark, root, "k_ok", "k >= 0"), 2),
      ("dropCheckConstraint", () =>
        Snapshot.dropCheckConstraint(spark, root, "k_ok"), 0),
      ("dropColumn", () => Snapshot.dropColumn(spark, root, "w"), 0),
      ("deleteWhere", () => Snapshot.deleteWhere(spark, root, "k",
        lit(5000L), lit(6000L)), 0))
    val ran = cases.map { case (name, call, _) =>
      val before = attempts(root)
      val (v, jobs) = jobsOf(call())
      val m = Snapshot.metaOf(spark, root, v)
      assert(m.dir.isEmpty && attempts(root) == before, s"$name wrote a data file at v=$v")
      name -> jobs
    }
    assert(ran == cases.map(c => c._1 -> c._3))
    val clone = freshTable() + "/clone"
    val (cv, cloneJobs) = jobsOf(Snapshot.shallowClone(spark, root, clone))
    assert(cloneJobs == 0, s"shallowClone ran $cloneJobs jobs, pinned 0")
    assert(cv == 1L && !exists(clone, "_data"))
    assert(Snapshot.readCurrent(spark, clone).columns.toSeq == Seq("k", "v2"))
    assert(Snapshot.currentRowCount(spark, clone) == 1000L)
  }

  test("sidecars above one split keep the distributed scan, with the driver branch's files and rows") {
    val root = sidecarTable()
    val v = Snapshot.currentVersion(spark, root).get
    val m = Snapshot.metaOf(spark, root, v)
    // the inventory and the range prune read the entry alone; the
    // point lookup reads the bloom payloads the actions name
    def entryReads() = (
      Snapshot.fileInventory(spark, root, v).map(_._1).sorted,
      Snapshot.prunedFiles(spark, root, v, "k", lit(100L), lit(450L)).sorted)
    def pointRead() = Snapshot.filesForPoint(spark, root, v, "v", vOf(124L)).sorted
    def live() = Snapshot.readCurrent(spark, root)
    def liveRows() =
      live().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (onDriver, driverJobs) = jobsOf((entryReads(), pointRead()))
    assert(driverJobs == 0, s"driver-branch sidecar reads ran $driverJobs jobs")
    assert(onDriver._1._1.size >= 8 && onDriver._1._2.nonEmpty && onDriver._2.nonEmpty)
    val driverRows = liveRows()
    assert(driverRows.size == 900)
    // every payload the reads resolve (the two bloom payloads) is
    // larger than the forced split
    val split = 512L
    val payloads = m.files.flatMap(_.bloom).distinct
    assert(payloads == Seq(dirOf(root, 1L), dirOf(root, 2L)).map(_ + "/_payload/bloom"),
      payloads)
    payloads.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      assert(bytes > split, s"$d is only $bytes B")
    }
    withConf("spark.sql.files.maxPartitionBytes", split.toString) {
      val (entry, entryJobs) = jobsOf(entryReads())
      assert(entryJobs == 0 && entry == onDriver._1,
        s"entry reads ran $entryJobs jobs above one split")
      val (scanned, scanJobs) = jobsOf(pointRead())
      assert(scanJobs >= 1, s"above one split the bloom probe scans: $scanJobs jobs")
      assert(scanned == onDriver._2)
      assert(liveRows() == driverRows)
    }
  }

  test("vacuum leaves a version kept only for a survivor's manifest unreadable, retained versions whole") {
    import spark.implicits._
    val root = freshTable()
    Snapshot.commitWithStats(spark.range(0, 100).select(col("id").as("k"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"), root, Seq("k"))
    // v=2 rewrites one file (19 rows left) and carries three (75 rows)
    Snapshot.deleteWhere(spark, root, "k", lit(0L), lit(5L))
    Snapshot.appendCommit(Seq(1000L).toDF("k"), root) // v=3 carries v=2's file
    def count(v: Long) = Snapshot.readVersion(spark, root, v).count()
    def collected(v: Long) = {
      val e = intercept[java.util.NoSuchElementException](count(v))
      assert(e.getMessage.contains(s"no version $v (vacuumed?)"), e.getMessage)
    }
    assert(count(2L) == 94L && count(3L) == 95L)
    Snapshot.vacuum(spark, root, retain = 2)
    assert(exists(root, rel(dirOf(root, 1L))), "v2's entry still names v1's directory")
    collected(1L)
    assert(count(2L) == 94L && count(3L) == 95L)
    Snapshot.vacuum(spark, root, retain = 1)
    assert(exists(root, rel(dirOf(root, 2L))), "v3's entry still names v2's directory")
    collected(2L)
    assert(count(3L) == 95L && Snapshot.readCurrent(spark, root).count() == 95L)
  }

  test("appendCommit of a batch without a stats column records NULL bounds for it") {
    import spark.implicits._
    // no bloom: footer-derived stats; a bloom on k: the scan fallback
    for (bloom <- Seq(Nil, Seq("k"))) {
      val root = freshTable()
      Snapshot.commitWithStats(spark.range(0, 40)
          .select(col("id").as("k"), (col("id") * 10).as("s"), col("id").as("v"))
          .repartitionByRange(2, col("k")), root, Seq("s"), bloomCols = bloom)
      Snapshot.appendCommit(Seq((100L, 1L), (101L, 2L)).toDF("k", "v"), root)
      val all = Snapshot.readCurrent(spark, root)
      assert(all.count() == 42L && all.filter(col("s").isNull).count() == 2L)
      def keys(df: org.apache.spark.sql.DataFrame) =
        df.select("k").collect().map(_.getLong(0)).sorted.toSeq
      for ((lo, hi) <- Seq((50L, 120L), (0L, 390L), (1000L, 2000L)))
        assert(keys(Snapshot.readCurrentPruned(spark, root, "s", lit(lo), lit(hi))) ==
          keys(all.filter(col("s").between(lo, hi))), s"bloom=$bloom [$lo, $hi]")
    }
  }

  test("a commit on a table with deletion vectors carries them verbatim, with no job of its own") {
    import spark.implicits._
    def append(root: String) =
      jobsOf(Snapshot.appendCommit(Seq((2000L, 1L)).toDF("k", "v"), root))._2
    def rows(root: String) = Snapshot.readCurrent(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def bitmaps(root: String, v: Long) = Snapshot.metaOf(spark, root, v).files
      .collect { case f if f.dv.isDefined => f.path -> f.dv.get }
    // the same append on the table and on its purged twin: the
    // deletion vectors add 0 jobs to the data write and its bloom stats
    val root = sidecarTable()
    val clean = sidecarTable()
    Snapshot.purgeDv(spark, clean)
    val (dvAppend, cleanAppend) = (append(root), append(clean))
    assert(dvAppend == cleanAppend && dvAppend == 3,
      s"append ran $dvAppend jobs on the DV table, $cleanAppend without")
    // the append's entry holds v3's bitmaps as they were
    assert(bitmaps(root, 4L) == bitmaps(root, 3L) && bitmaps(root, 3L).size == 8)
    assert(rows(root) == rows(clean) && rows(root).size == 901)
    // purgeDv rewrites exactly the files with a bitmap: its jobs are the
    // DV-filtered rewrite and the fresh bloom stats
    val (pv, purge) = jobsOf(Snapshot.purgeDv(spark, root))
    assert(purge == 3, s"purgeDv ran $purge jobs")
    val m = Snapshot.metaOf(spark, root, pv)
    assert(m.files.forall(_.dv.isEmpty) &&
      m.files.map(_.path).toSet.intersect(bitmaps(root, 4L).map(_._1).toSet).isEmpty)
    assert(rows(root).size == 901)
    // vacuum keeps what the live entry names; the entry is the bitmaps
    val kept = sidecarTable()
    Snapshot.appendCommit(Seq((2000L, 1L)).toDF("k", "v"), kept)
    Snapshot.vacuum(spark, kept, retain = 1)
    intercept[java.util.NoSuchElementException](Snapshot.metaOf(spark, kept, 3L))
    val left = Snapshot.readCurrent(spark, kept).collect().map(_.getLong(0))
    assert(left.length == 901 && !left.exists(k => k < 1000 && k % 10 == 3))
    assert(Snapshot.currentRowCount(spark, kept) == 901L)
  }

  // ---- pruned and point reads within a quarter of openCostInBytes
  // run on the driver

  /** `read()` as the read-your-write client uses it — aggregated
    * (count, sum of `sumCol`) and collected — runs no Spark job while
    * its files, as parquet and as decoded rows, total at most a quarter
    * of `spark.sql.files.openCostInBytes`; with
    * the bound forced to one byte it scans (≥ 1 job) and answers the
    * same, row for row. Returns the rows, sorted. */
  private def driverParity(tag: String, sumCol: String)(
      read: () => org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    def both() = (read().agg(count(lit(1)), sum(col(sumCol))).head(),
      read().collect().toSeq.sortBy(_.toString))
    val (onDriver, jobs) = jobsOf(both())
    assert(jobs == 0, s"$tag: the driver read ran $jobs jobs")
    withConf("spark.sql.files.openCostInBytes", "1") {
      val (scanned, scanJobs) = jobsOf(both())
      assert(scanJobs >= 1, s"$tag: past the bound the read scans, ran $scanJobs jobs")
      assert(scanned == onDriver, tag)
    }
    onDriver._2
  }

  test("pruned, box and point reads of a DV table run on the driver, skipping the bitmaps' rows") {
    val root = sidecarTable()
    val pruned = driverParity("pruned", "v")(() =>
      Snapshot.readCurrentPruned(spark, root, "k", lit(100L), lit(450L)))
    // the positions skipped on the driver are those the scan's filter drops
    assert(pruned.map(_.getLong(0)).sorted == (100L to 450L).filter(_ % 10 != 3))
    val box = driverParity("box", "k")(() => Snapshot.readCurrentPrunedBox(spark, root,
      "k", lit(100L), lit(450L), "v", lit(0L), lit(499L)))
    assert(box.nonEmpty && box.forall(r => r.getLong(1) <= 499L && r.getLong(0) % 10 != 3))
    assert(driverParity("point", "k")(() =>
      Snapshot.readCurrentPoint(spark, root, "v", vOf(124L))).map(_.getLong(0)) == Seq(124L))
    assert(driverParity("deleted point", "k")(() =>
      Snapshot.readCurrentPoint(spark, root, "v", vOf(123L))).isEmpty)
  }

  test("driver reads under a root with a space, %, + and a non-ASCII character") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_")
      .resolve("t a%b+c \u00e9").toString
    Snapshot.commitWithStats(spark.range(0, 60)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(3, col("k")), root, Seq("k"), bloomCols = Seq("v"))
    Snapshot.deleteWhereMor(spark, root, col("k") % 10 === 0)
    assert(driverParity("pruned", "v")(() =>
      Snapshot.readCurrentPruned(spark, root, "k", lit(0L), lit(59L))).size == 54)
    assert(driverParity("point", "k")(() =>
      Snapshot.readCurrentPoint(spark, root, "v", 3L)).map(_.getLong(0)).sorted ==
      (3L until 60L by 7L).filter(_ % 10 != 0))
  }

  test("driver reads across an added column: old files read NULL") {
    val root = freshTable()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Snapshot.commitWithStats(mk(0L, 100L), root, Seq("k"))
    Snapshot.appendCommit(mk(100L, 200L).withColumn("flag", col("k") % 2), root)
    val got = driverParity("pruned", "flag")(() =>
      Snapshot.readCurrentPruned(spark, root, "k", lit(50L), lit(150L)))
    assert(got.size == 101 && got.count(_.isNullAt(2)) == 50)
  }

  test("driver reads after a rename and a drop speak the logical names") {
    val root = freshTable()
    Snapshot.commitWithStats(spark.range(0, 200)
      .select(col("id").as("k"), (col("id") % 13).as("v"), (col("id") * 2).as("w"))
      .repartitionByRange(4, col("k")), root, Seq("k"), bloomCols = Seq("v"))
    Snapshot.renameColumn(spark, root, "v", "v2")
    Snapshot.dropColumn(spark, root, "w")
    val pruned = driverParity("pruned", "v2")(() =>
      Snapshot.readCurrentPruned(spark, root, "k", lit(20L), lit(80L)))
    assert(pruned.size == 61 && pruned.forall(_.length == 2))
    assert(Snapshot.readCurrentPruned(spark, root, "k", lit(20L), lit(80L))
      .columns.toSeq == Seq("k", "v2"))
    val point = driverParity("point", "k")(() =>
      Snapshot.readCurrentPoint(spark, root, "v2", 5L))
    assert(point.map(_.getLong(0)).sorted == (5L until 200L by 13L))
  }

  test("driver reads widen an INT32 file under a long column, as the scan does") {
    val root = freshTable()
    Snapshot.commitWithStats(spark.range(0, 100)
      .select(col("id").as("k"), (col("id") % 9).cast("int").as("n"))
      .repartitionByRange(2, col("k")), root, Seq("k"))
    // the entry records `n` as a long; the file keeps its INT32 column
    val entry = java.nio.file.Paths.get(root, "_log", "v=1.json")
    val text = new String(java.nio.file.Files.readAllBytes(entry), "UTF-8")
    val widened = text.replace("\"name\":\"n\",\"type\":\"integer\"",
      "\"name\":\"n\",\"type\":\"long\"")
    assert(widened != text)
    java.nio.file.Files.write(entry, widened.getBytes("UTF-8"))
    val got = driverParity("pruned", "n")(() =>
      Snapshot.readCurrentPruned(spark, root, "k", lit(10L), lit(40L)))
    assert(got.size == 31 && got.forall(r => r.getLong(1) == r.getLong(0) % 9))
  }

  test("a read whose decoded rows pass the bound scans, though its parquet is under it") {
    val root = freshTable()
    Snapshot.commitWithStats(spark.range(0, 1010)
      .select(col("id").as("k"), (col("id") % 7).as("v")).coalesce(1), root, Seq("k"))
    val read = () => Snapshot.readCurrentPruned(spark, root, "k", lit(0L), lit(1009L))
    // a row of two longs is estimated at 24 bytes decoded, so the bound,
    // a quarter of 96,000 bytes, holds 1,000 live rows
    withConf("spark.sql.files.openCostInBytes", "96000") {
      val parquet = Snapshot.readCurrent(spark, root).inputFiles.toSeq
        .map(f => new java.io.File(new java.net.URI(f)).length).sum
      assert(parquet > 0 && parquet < 24000L, parquet)
      val (past, jobs) = jobsOf(read().agg(count(lit(1)), sum(col("v"))).head())
      assert(jobs >= 1, "1,010 live rows are past the bound: the read scans")
      assert(past.getLong(0) == 1010L)
      // deleted rows do not count: 1,000 live rows read on the driver
      Snapshot.deleteWhereMor(spark, root, col("k") >= 1000L)
      assert(driverParity("at the bound", "v")(read).size == 1000)
    }
  }
}
object SnapshotSpec {
  /** Holds a racing writer's batch in its write until released. */
  @volatile var gate: java.util.concurrent.CountDownLatch = _
}
