package graft

import graft.operators.Snapshot
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dev-only scale soak (test scope): certify the FILE-GRANULAR keyed
  * MERGE (`Snapshot.mergeCommit` through the stats manifest) at soak
  * scales, A/B'd against the stats-less full-rewrite path on the same
  * data and change batch.
  *
  *   sbt "Test/runMain graft.MergeSoak [sfDir]"
  *
  * Reports, per leg: layout-commit time (one-time setup, not the
  * operator), pruned-merge time + files rewritten vs carried, full-
  * rewrite-merge time, and an exact-arithmetic value cross-check that
  * both paths produced the same logical table. The claim under test is
  * the commit message's: a merge touching one narrow key band costs
  * O(matching files) of data I/O, never a table rewrite — so the
  * pruned/full ratio should widen with the table while the pruned wall
  * tracks the BAND, not the corpus.
  */
object MergeSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.util.LocalSession(graft.util.LocalSession.envCpus(32))
    spark.range(1000).selectExpr("sum(id)").collect()

    // per-job wall profile: each timed leg below prints its slowest
    // jobs (call site + seconds), so a surprising leg total is
    // attributable from the artifact instead of a rerun
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobDur = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStart.put(e.jobId, (e.time, Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")))
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(jobStart.remove(e.jobId)).foreach { case (t0, site) =>
            jobDur.add(site -> (e.time - t0) / 1e3)
          }
      })
    def drainJobs(tag: String): Unit = {
      import scala.jdk.CollectionConverters._
      val all = jobDur.asScala.toSeq
      jobDur.clear()
      val top = all.sortBy(-_._2).take(6)
        .map { case (s, d) => f"$s=$d%.1f" }.mkString(" ")
      println(f"[msoak]   $tag jobs=${all.size} top: $top")
    }

    def sec[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // Bench's calibration probe between legs: this box's contention
    // waves swing walls ~2-6× (the r12 first sf100 run read the pruned
    // merge at 98 s where a decomposed run pegs the same path
    // at ~18 s) — a leg printed next to an elevated probe is the box,
    // next to a quiet one is the code.
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("id % 99991 AS k", "id AS v")
        .groupBy("k").agg(sum("v"))
        .selectExpr("count(*)", "sum(k)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def probeLine(tag: String): Unit =
      println(f"[msoak]   probe@$tag=${probe()}%.2f s")

    val base = java.nio.file.Files.createTempDirectory("graft_msoak_")
    val orders = Tables.orders(spark, sfDir)
    val nRows = orders.count()
    // one contiguous ~0.1%-of-ROWS key band repriced + 5 inserts beyond
    // every file's range (the insert-only degenerate rides along).
    // Quantile-derived, not keyspace-derived: the scale fixtures shift
    // replica keys by 1e9, so a keyspace fraction lands on an
    // arbitrary row mass (the first cut of this soak hit 5% of sf10's
    // rows and 8/14 files — not the narrow-merge shape under test)
    val maxKey = orders.agg(max("o_orderkey")).first().getLong(0)
    val qs = orders.stat.approxQuantile("o_orderkey",
      Array(0.5, 0.501), 0.00005)
    val bandLo = qs(0).toLong
    val bandHi = math.max(qs(1).toLong, bandLo + 1L)
    def changesOf(src: org.apache.spark.sql.DataFrame) = {
      val repriced = src.filter(col("o_orderkey").between(bandLo, bandHi))
        .withColumn("o_totalprice",
          (col("o_totalprice").cast(DecimalType(12, 2)) + 500)
            .cast("double"))
      val inserts = src.limit(5)
        .withColumn("o_orderkey", col("o_orderkey") + lit(maxKey) * 2 + 1)
      repriced.unionByName(inserts)
    }
    val laid = orders.repartitionByRange(
        Snapshot.derivedCommitFiles(nRows), col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")

    // bytes a merge WROTE = its attempt directory's size — the
    // cluster-relevant measure (this box's page cache and 32 threads
    // make a sub-GB full rewrite cheap on wall; a 100 TB table's is not)
    def treeBytes(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(
          new org.apache.hadoop.fs.Path(dir).toUri.getPath))
        .iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
    }
    def dirOf(root: String, v: Long): String =
      Snapshot.metaOf(spark, root, v).dir.get
    def dirBytes(root: String, v: Long): Long = treeBytes(dirOf(root, v))

    // ---- leg A: stats-backed table, file-granular merge ----
    val tA = s"$base/pruned"
    probeLine("start")
    val (_, commitA) = sec(Snapshot.commitWithStats(laid, tA, Seq("o_orderkey")))
    val changes = changesOf(orders).cache()
    val nChanges = changes.count()
    val (vA, mergeA) = sec(Snapshot.mergeCommit(spark, tA, changes, "o_orderkey"))
    probeLine("pruned_merge")
    drainJobs("pruned_merge")
    val mf = Snapshot.fileInventory(spark, tA, vA).map(_._1)
    val carried = mf.count(!_.startsWith(dirOf(tA, vA) + "/"))
    val rewritten = mf.length - carried
    val bytesA = dirBytes(tA, vA)

    // ---- leg B: stats-less table, full-rewrite merge (the A/B) ----
    val tB = s"$base/full"
    val (_, commitB) = sec(Snapshot.commit(laid, tB))
    val (vB, mergeB) = sec(Snapshot.mergeCommit(spark, tB, changes, "o_orderkey"))
    probeLine("full_merge")
    val bytesB = dirBytes(tB, vB)

    // ---- value cross-check: both paths read as the same table ----
    // key sums in DecimalType: the one-hop sf100 fixture carries keys
    // up to ~1e12 over 150M rows — a BIGINT sum overflows (~7.5e19)
    // under Spark 4's default ANSI mode
    def digest(root: String) = Snapshot.readCurrent(spark, root)
      .agg(count(lit(1)),
        sum(col("o_orderkey").cast(DecimalType(38, 0))),
        graft.functions.Exact.dsum(col("o_totalprice")))
      .first()
    val (dA, dB) = (digest(tA), digest(tB))
    require(dA == dB, s"pruned/full digests diverge: $dA vs $dB")

    println(f"[msoak] sfDir=$sfDir rows=$nRows changes=$nChanges " +
      f"band=[$bandLo,$bandHi]")
    println(f"[msoak] layout_commit=$commitA%.2f s (full-path commit " +
      f"$commitB%.2f s)")
    println(f"[msoak] pruned_merge=$mergeA%.2f s rewritten=$rewritten " +
      f"carried=$carried of ${mf.length} files " +
      f"bytes_written=${bytesA / 1e6}%.1f MB")
    println(f"[msoak] full_merge=$mergeB%.2f s " +
      f"bytes_written=${bytesB / 1e6}%.1f MB " +
      f"wall_ratio=${mergeB / mergeA}%.1f x " +
      f"io_ratio=${bytesB.toDouble / math.max(1L, bytesA)}%.1f x")

    // ---- leg C: merge-on-read scattered delete on the pruned table ----
    // the shape COW cannot serve: one matching row in ~every file.
    // Measured: the delete commit itself (O(matched) bitmaps in the
    // entry vs leg B's table rewrite), the read tax the bitmap filter
    // adds, and the purge that re-materializes and clears the bitmaps.
    def digestTimed() = sec(Snapshot.readCurrent(spark, tA)
      .agg(count(lit(1)),
        sum(col("o_orderkey").cast(DecimalType(38, 0)))).first())
    val (_, readBefore) = digestTimed()
    val (dvV, morSec) = sec(Snapshot.deleteWhereMor(spark, tA,
      col("o_orderkey") % 97 === 0))
    val dvBytes = Snapshot.metaOf(spark, tA, dvV).files.flatMap(_.dv)
      .map(_.serializedSizeInBytes).sum
    val (d1, readAfter) = digestTimed()
    drainJobs("read_mor")
    // scattered tombstones touch every file — purge's worst case
    // (degrades to compact's cost; both the op and the bound measured)
    val (pv, purgeScattered) = sec(Snapshot.purgeDv(spark, tA))
    probeLine("purge_scattered")
    val (d2, readPurged) = digestTimed()
    require(d1 == d2, s"purge changed the MOR table's digest: $d1 vs $d2")
    assert(Snapshot.metaOf(spark, tA, pv).files.forall(_.dv.isEmpty),
      "purge left a deletion vector")
    println(f"[msoak] mor_delete=$morSec%.2f s " +
      f"bitmaps=${dvBytes / 1e3}%.1f KB (vs full rewrite " +
      f"${bytesB / 1e6}%.1f MB)")
    println(f"[msoak] read_plain=$readBefore%.2f s " +
      f"read_mor=$readAfter%.2f s read_purged=$readPurged%.2f s " +
      f"purge_scattered=$purgeScattered%.2f s")

    // ---- leg D: CLUSTERED tombstones — purge's design case ----
    // delete one narrow key band via MOR (bitmaps land in ~1-2 files;
    // one whose deleted rows pass half its rows is rewritten by the
    // delete itself), then purge: rewrite O(touched files), carry the rest
    val (bandV, morBand) = sec(Snapshot.deleteWhereMor(spark, tA,
      col("o_orderkey").between(bandLo, bandHi)))
    val (ppv, purgeClustered) = sec(Snapshot.purgeDv(spark, tA))
    val pmf = Snapshot.fileInventory(spark, tA, ppv).map(_._1)
    val wrote = Seq(bandV, ppv).distinct.flatMap(Snapshot.metaOf(spark, tA, _).dir)
    val pRewrote = pmf.count(f => wrote.exists(d => f.startsWith(d + "/")))
    probeLine("end")
    println(f"[msoak] mor_band_delete=$morBand%.2f s " +
      f"purge_clustered=$purgeClustered%.2f s " +
      f"rewrote=$pRewrote of ${pmf.length} files")

    // ---- the log's shape: dense history, no stale attempt after GC ----
    for (t <- Seq(tA, tB)) {
      val cur = Snapshot.currentVersion(spark, t).get
      require(Snapshot.commitHistory(spark, t).map(_._1) == (1L to cur),
        s"$t: history not dense 1..$cur")
      Snapshot.vacuum(spark, t)
      val named = Snapshot.metaOf(spark, t, cur).files.map(_.path)
      val stale = Option(new java.io.File(t, "_data").listFiles()).toSeq.flatten
        .filterNot(d => named.exists(_.contains(s"/_data/${d.getName}/")))
        .filter(d => System.currentTimeMillis() - d.lastModified() >
          Snapshot.AttemptRetentionMs)
      require(stale.isEmpty, s"$t: unnamed attempts older than the retention: $stale")
    }
    println(f"[msoak] history dense, vacuum clean; bytes written by lost " +
      f"puts and discarded: ${Snapshot.discardedBytes.get()}")
    spark.stop()
  }
}
