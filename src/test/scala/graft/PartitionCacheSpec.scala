package graft

import graft.functions.Exact
import graft.operators.{Layout, PartitionCache}
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Parity of the CalcAvgLoan driver fold with Spark's own aggregate: a
  * cache partition within one split is averaged on the driver, and the
  * answer must be bit-identical to [[Exact.avgFloorLong]] run as a
  * distributed partial/final aggregate over the same files. */
class PartitionCacheSpec extends SparkSuite {

  private val Val = "l_extendedprice"

  /** A cache partition of one data file per element of `files`, each
    * holding its values (None: NULL) in a `l_extendedprice` column of
    * type `t`. An empty element writes a zero-row file. */
  private def partition(t: DataType, files: Seq[Seq[Option[Double]]]): Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_parity_")
      .toString + "/l_returnflag=A"
    val schema = StructType(Seq(StructField(Val, t, nullable = true)))
    files.foreach { vs =>
      val rows = vs.map { v =>
        Row(v.map(d => if (t == DoubleType) d else BigDecimal(d)).orNull)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("append").parquet(dir)
    }
    new Path(dir)
  }

  private def listing(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq

  /** (driver fold, distributed aggregate) of partition `p`; the fold
    * must run no Spark job. */
  private def bothAverages(p: Path): (Long, Long) = {
    val files = listing(p)
    val (driver, jobs) = jobsOf(PartitionCache.partitionAvg(spark, p, files))
    assert(jobs == 0, s"the driver fold ran $jobs jobs")
    val bytes = files.filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val distributed =
      withConf("spark.sql.files.maxPartitionBytes", (bytes - 1).toString) {
        val r = PartitionCache.avgFrame(spark, p, files).head()
        val viaRequest = PartitionCache.partitionAvg(spark, p, files)
        val agg = if (r.isNullAt(0)) 0L else r.getLong(0)
        assert(viaRequest == agg, "above one split a request runs avgFrame")
        agg
      }
    (driver, distributed)
  }

  /** Partitions on which the cast, not the sum, decides the floor.
    * 9.995, 0.995 and 1.005 are stored just below the half cent:
    * Spark's cast rounds their shortest decimal form half-up (10.00,
    * 1.00, 1.01), the exact binary value rounds down. 50.125 is an exact
    * tie that half-up and half-even round apart, so the pair averages
    * 100.00 or 99.995. */
  private val boundaries: Seq[Seq[Seq[Option[Double]]]] = Seq(
    Seq(Seq(Some(9.995))),
    Seq(Seq(Some(50.125), Some(149.87))),
    Seq(Seq(Some(0.995), None), Seq(Some(1.005)), Seq(None)))

  /** Seeded partitions: 1-4 files of 0-60 rows, ~10% NULLs, ~30%
    * half-cent ties (x.xx5), some all-NULL and zero-row files. */
  private def generated(seed: Int): Seq[Seq[Seq[Option[Double]]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(12) {
      Seq.fill(1 + rnd.nextInt(4)) {
        rnd.nextInt(8) match {
          case 0 => Nil
          case 1 => Seq.fill(1 + rnd.nextInt(5))(None)
          case _ => Seq.fill(rnd.nextInt(60)) {
            if (rnd.nextInt(10) == 0) None
            else {
              val cents = rnd.nextInt(10000000).toLong
              Some(if (rnd.nextInt(10) < 3) (cents * 10 + 5) / 1000.0
                   else cents / 100.0)
            }
          }
        }
      }
    }
  }

  for (ansi <- Seq("true", "false")) {
    test(s"driver fold equals the distributed aggregate on DOUBLE partitions (ansi=$ansi)") {
      withConf("spark.sql.ansi.enabled", ansi) {
        (boundaries ++ generated(7)).foreach { files =>
          val (driver, distributed) = bothAverages(partition(DoubleType, files))
          assert(driver == distributed, s"driver $driver vs Spark $distributed on $files")
        }
      }
    }

    test(s"driver fold equals the distributed aggregate on DECIMAL(12,2) partitions (ansi=$ansi)") {
      withConf("spark.sql.ansi.enabled", ansi) {
        generated(11).foreach { files =>
          val cents = files.map(_.map(_.map(d => math.rint(d * 100) / 100)))
          val (driver, distributed) =
            bothAverages(partition(Exact.Dec2, cents))
          assert(driver == distributed, s"driver $driver vs Spark $distributed on $cents")
        }
      }
    }
  }

  test("the fold's special partitions: half-cent ties, an all-NULL file, a zero-row file") {
    assert(boundaries.map(b => bothAverages(partition(DoubleType, b))) ==
      Seq((10L, 10L), (100L, 100L), (1L, 1L)))
    // NULLs are not counted
    assert(bothAverages(partition(DoubleType,
      Seq(Seq(Some(3.0), None), Seq(None, None)))) == (3L, 3L))
    // all-NULL and zero-row partitions average 0
    assert(bothAverages(partition(DoubleType, Seq(Seq(None, None)))) == (0L, 0L))
    val empty = partition(DoubleType, Seq(Nil))
    val data = listing(empty).filter(_.getPath.getName.endsWith(".parquet"))
    assert(data.nonEmpty &&
      Layout.footerRowCountOfFiles(spark, data.map(_.getPath.toString)) == 0L,
      s"want one zero-row data file, got $data")
    assert(bothAverages(empty) == (0L, 0L))
  }

  test("outside ANSI mode a value DECIMAL(12,2) cannot hold is counted, not summed") {
    withConf("spark.sql.ansi.enabled", "false") {
      assert(bothAverages(partition(DoubleType,
        Seq(Seq(Some(1e11), Some(4.0))))) == (2L, 2L))
    }
  }

  test("a driver fold that stops early, at a sum overflow or a file that fails to decode, closes its reader") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    def dataOf(p: Path) = listing(p).filter(_.getPath.getName.endsWith(".parquet"))
    /** `f` and the streams it left open. */
    def leftOpen[T](f: => T): (T, Int) = {
      val (opened, closed) = (CountingFs.opened.get, CountingFs.closed.get)
      val out = f
      val newlyOpened = CountingFs.opened.get - opened
      assert(newlyOpened > 0, "nothing was read through the counting file system")
      (out, newlyOpened - (CountingFs.closed.get - closed))
    }
    // 10M values of 9,999,999,999.99: the sum of their cents leaves the
    // Long range near row 9.2M, and Spark's aggregate answers instead
    val big = java.nio.file.Files.createTempDirectory("graft_close_").toString +
      "/l_returnflag=A"
    spark.range(0L, 10000000L, 1L, 1).select(lit(9999999999.99).as(Val))
      .write.parquet(big)
    val bigFs = new Path(s"countfs://$big")
    assert(dataOf(bigFs).map(_.getLen).sum <= spark.sessionState.conf.filesMaxPartitionBytes)
    assert(leftOpen(PartitionCache.partitionAvg(spark, bigFs, listing(bigFs))) ==
      (9999999999L, 0))
    // a file whose last row group is zeroed: its first row groups
    // decode, then the reader fails
    val bad = java.nio.file.Files.createTempDirectory("graft_close_").toString +
      "/l_returnflag=A"
    spark.range(0L, 200000L, 1L, 1).select((col("id") * 0.37 % 1000).as(Val))
      .write.option("parquet.block.size", "65536").parquet(bad)
    val badFs = new Path(s"countfs://$bad")
    val file = dataOf(badFs).head
    val lastChunk = {
      val r = Layout.openFooter(spark.sparkContext.hadoopConfiguration, file)
      try r.getRowGroups.get(r.getRowGroups.size - 1).getColumns.get(0)
      finally r.close()
    }
    assert(lastChunk.getStartingPos > 4L, "want more than one row group")
    val raf = new java.io.RandomAccessFile(file.getPath.toUri.getPath, "rw")
    try {
      raf.seek(lastChunk.getStartingPos)
      raf.write(new Array[Byte](lastChunk.getTotalSize.toInt))
    } finally raf.close()
    val rows = Layout.driverRows(spark, StructType(Seq(StructField(Val, DoubleType))), Seq(file))
    var decoded = 0
    val (failed, open) = leftOpen {
      try { while (rows.hasNext) { rows.next(); decoded += 1 }; None }
      catch { case e: Exception => Some(e) }
      finally rows.close()
    }
    assert(failed.nonEmpty && decoded > 0 && open == 0, s"decoded $decoded rows, then $failed")
    val (unreadable, left) = leftOpen(intercept[java.io.IOException](
      PartitionCache.partitionAvg(spark, badFs, listing(badFs))))
    assert(left == 0, s"$left streams left open after $unreadable")
  }

  test("a CalcAvgLoan reuse broadcasts nothing") {
    val cacheDir = graft.util.Scratch.dir("graft_cache_")
    assert(PartitionCache.calcAvg(spark, sf, cacheDir, "A")._2 == "create")
    val before = org.apache.spark.BroadcastBlocks.ids()
    val ((source, added), jobs) = jobsOf {
      val (_, source) = PartitionCache.calcAvg(spark, sf, cacheDir, "A")
      (source, org.apache.spark.BroadcastBlocks.ids() -- before)
    }
    assert(source == "reuse" && jobs == 0 && added.isEmpty,
      s"$source: $jobs jobs, broadcasts $added")
  }
}

/** The local file system under the `countfs` scheme, counting the input
  * streams it opens and the ones closed. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    CountingFs.opened.incrementAndGet()
    new FSDataInputStream(new FSInputStream {
      private var closed = false
      def seek(pos: Long): Unit = in.seek(pos)
      def getPos: Long = in.getPos
      def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
      def read(): Int = in.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, len)
      override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
        in.read(pos, b, off, len)
      override def available(): Int = in.available()
      override def close(): Unit = {
        if (!closed) { closed = true; CountingFs.closed.incrementAndGet() }
        in.close()
      }
    })
  }
}

object CountingFs {
  val opened = new java.util.concurrent.atomic.AtomicInteger
  val closed = new java.util.concurrent.atomic.AtomicInteger
}
