package graft

import graft.operators.Snapshot
import org.apache.spark.sql.functions._

/** File-count soak for the snapshot/manifest layer — the scale axis
  * the fixture bench pair cannot show (its tables are single files).
  * Builds an `nFiles`-file bloom-indexed table and times the
  * metadata-bound operations whose cost law is O(files):
  * append (manifest carry), point lookup (driver-side sketch
  * deserialization), range read (stats scan), file-granular delete,
  * and small-file compaction. `Test/runMain graft.SnapshotSoak
  * [nFiles] [rowsPerFile] [bloomEstItems]` — results land in
  * BENCH_NOTES by hand, like the other soaks. */
object SnapshotSoak {
  def main(args: Array[String]): Unit = {
    val nFiles = args.lift(0).map(_.toInt).getOrElse(1000)
    val rowsPerFile = args.lift(1).map(_.toInt).getOrElse(10000)
    val est = args.lift(2).map(_.toLong).getOrElse(20000L)
    val spark = graft.util.LocalSession(32)
    spark.conf.set("graft.snapshot.bloomEstItems", est.toString)

    val n = nFiles.toLong * rowsPerFile
    val root = java.nio.file.Files
      .createTempDirectory("graft_snapsoak_").toString
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[soak] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // layout on k (range-disjoint per file); v scrambled for the bloom
    val df = spark.range(0, n).select(col("id").as("k"),
        ((col("id") * 2654435761L) % n).as("v"))
      .repartitionByRange(nFiles, col("k")).sortWithinPartitions("k")
    timed(s"commitWithStats $nFiles files")(
      Snapshot.commitWithStats(df, root, Seq("k"), bloomCols = Seq("v")))
    val manifestBytes = Snapshot
      .fileInventory(spark, root,
        Snapshot.currentVersion(spark, root).get).map(_._2).sum
    println(s"[soak] table bytes: $manifestBytes")
    timed("appendCommit 1 batch")(
      Snapshot.appendCommit(spark.range(n, n + rowsPerFile)
        .select(col("id").as("k"),
          ((col("id") * 2654435761L) % n).as("v"))
        .coalesce(1), root))
    val hit = timed("point lookup (bloom)")(
      Snapshot.readCurrentPoint(spark, root, "v", 4242L).count())
    require(hit == 1L, s"expected 1 row, got $hit")
    val miss = timed("point lookup (absent)")(
      Snapshot.readCurrentPoint(spark, root, "v", -1L).count())
    require(miss == 0L, s"expected 0 rows, got $miss")
    // driver-traffic evidence: the probe filters executor-side, so the
    // driver receives MATCHING FILE NAMES, never the sketches —
    // O(matches) traffic where the pre-fix collect shipped
    // O(files × sketch-bytes). Matched-count printed for the notes;
    // heap sampled across repeated lookups to show the driver stays
    // flat at any file count (GC-forced sample: coarse, but a
    // sketch-materializing driver would show tens of MB per lookup).
    val curV = Snapshot.currentVersion(spark, root).get
    val matched = Snapshot.filesForPoint(spark, root, curV, "v", 4242L)
    println(s"[soak] bloom matched files: ${matched.size} of ~$nFiles " +
      "(driver receives names only)")
    val rt = Runtime.getRuntime
    def usedMb(): Long = {
      System.gc(); (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    }
    val heapBefore = usedMb()
    timed("5 repeated point lookups")((1 to 5).foreach(_ =>
      Snapshot.readCurrentPoint(spark, root, "v", 4242L).count()))
    println(s"[soak] driver heap across 5 lookups: $heapBefore -> " +
      s"${usedMb()} MB")
    val ranged = timed("range read (stats)")(
      Snapshot.readCurrentPruned(spark, root, "k",
        lit(1000L), lit(2000L)).count())
    require(ranged == 1001L, s"expected 1001 rows, got $ranged")
    timed("deleteWhere 1-file band")(
      Snapshot.deleteWhere(spark, root, "k", lit(0L), lit(rowsPerFile / 2L)))
    // threshold under the settled per-file size: pack only the delete's
    // sliver and the append's small batch file, reference the rest
    val perFile = manifestBytes / nFiles
    timed("compactSmall (slivers only)")(
      Snapshot.compactSmall(spark, root, smallBytes = perFile / 2))
    val total = timed("full read count")(
      Snapshot.readCurrent(spark, root).count())
    println(s"[soak] final rows: $total")
    // Vacuum wall (VERDICT r13 #5): after append+delete+compact the
    // chain holds superseded versions whose unreferenced files are
    // GC-eligible — at nFiles scale this is the O(files) metadata walk
    // + fs deletes a 100 TB table pays per maintenance cycle.
    val swept = timed("vacuum (retain 1)")(
      Snapshot.vacuum(spark, root, retain = 1))
    println(s"[soak] vacuum swept ${swept.size} paths")
    timed("post-vacuum read count") {
      val after = Snapshot.readCurrent(spark, root).count()
      require(after == total, s"vacuum changed visible rows: $total -> $after")
      after
    }
    spark.stop()
  }
}
