package graft

import graft.functions.Exact
import graft.operators.{Layout, PartitionCache}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
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
}
