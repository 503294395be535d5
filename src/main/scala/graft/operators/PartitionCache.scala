package graft.operators

import graft.functions.Exact
import graft.sources.Tables
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** O8, O11, O12: the reference's partition-cache lifecycle
  * (`server.py:95-147`, `CalcAvgLoan`): per-key materialized subsets with
  * a tri-state `source` tag —
  *   - `reuse`    — per-key partition exists, read only that (fast path,
  *                  `server.py:104-111`);
  *   - `create`   — cache miss, full scan with pushed-down key filter,
  *                  write the subset, `server.py:113-116,124-143`;
  *   - `recreate` — partition unreadable/corrupt, same fallback,
  *                  `server.py:118-121`.
  *
  * Spark-first re-expression: the cache is a `partitionBy(key)` parquet
  * directory, so the "reuse" read is a one-directory, one-column scan
  * instead of a hand-named file. A request is ONE Spark job on a small
  * partition: one `listStatus` gives existence and the byte total, the
  * read schema comes from the first data file's footer, read in-process
  * (no schema-inference job; a garbage file fails there, before any job),
  * and a partition that fits in one split
  * (`spark.sql.files.maxPartitionBytes`) is aggregated after
  * `coalesce(1)`, so the plan has no `Exchange` and AQE adds no final
  * stage. A larger partition keeps the distributed partial/final
  * aggregate. `create` averages the partition it just wrote through the
  * same read, never rescanning the source. Every request reads the
  * partition (no memoized answers), so corruption between requests is
  * still detected. Works on any Hadoop `FileSystem` (local now, HDFS via
  * path scheme).
  */
object PartitionCache {
  private val KeyCol = "l_returnflag"
  private val ValCol = "l_extendedprice"

  /** The cached partition's bytes could not be read back: no data file,
    * a footer that does not parse or lacks [[ValCol]], or a scan task that
    * cannot decode a file. The only failure that turns a reuse into a
    * `recreate`. */
  private final class Unreadable(msg: String, cause: Throwable = null)
    extends java.io.IOException(msg, cause)

  /** One `CalcAvgLoan`: truncating AVG of [[ValCol]] for `key`, from the
    * per-key cache when present. Returns (avg, source-tag).
    */
  def calcAvg(spark: SparkSession, sfDir: String, cacheDir: String,
              key: String): (Long, String) = {
    val partPath = new Path(s"$cacheDir/$KeyCol=$key")
    val fs = partPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def createFrom(source: String): (Long, String) = {
      // Full-table scan with the key predicate pushed into the parquet
      // reader, then materialize the per-key subset into the cache
      // (reference: filtered read server.py:125-126, write :131-140).
      // The answer is read back from the written partition; a failure
      // there propagates instead of looping into another create.
      Tables.lineitem(spark, sfDir).filter(col(KeyCol) === key)
        .write.mode("overwrite").parquet(partPath.toString)
      (partitionAvg(spark, partPath, fs.listStatus(partPath).toSeq), source)
    }

    val listing =
      try Some(fs.listStatus(partPath).toSeq)
      catch { case _: java.io.FileNotFoundException => None }
    listing match {
      case None => createFrom("create")
      case Some(files) =>
        val cached =
          try Some(partitionAvg(spark, partPath, files))
          catch { case _: Unreadable => None }
        cached.map(_ -> "reuse").getOrElse(createFrom("recreate"))
    }
  }

  /** Truncating AVG of [[ValCol]] over one cache partition, in one job
    * when it fits in one split. Pinned empty-key behavior: AVG over zero
    * rows is 0 (the reference crashes here — `int(NaN)` on an unknown
    * county, `server.py:128`; we define it instead, SURVEY §7.5). */
  private def partitionAvg(spark: SparkSession, dir: Path,
                           files: Seq[FileStatus]): Long = {
    val df = avgFrame(spark, dir, files)
    val r =
      try df.head()
      catch { case e: SparkException => throw new Unreadable(s"scan of $dir", e) }
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The aggregate [[partitionAvg]] runs over `files`, the listing of
    * `dir`: [[ValCol]] read with the type the first data file's footer
    * declares, coalesced to one task when the data files total at most
    * one split. */
  private[graft] def avgFrame(spark: SparkSession, dir: Path,
                              files: Seq[FileStatus]): DataFrame = {
    // Spark's own hidden-file rule: `_SUCCESS`, `.crc` and friends are
    // not data.
    val data = files.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
    val first = data.headOption.getOrElse(
      throw new Unreadable(s"no data file in $dir"))
    val conf = spark.sparkContext.hadoopConfiguration
    val footerSchema =
      try {
        // Explicit read options built from the session's Hadoop conf:
        // the one-argument `open` builds a fresh Hadoop `Configuration`
        // per call (measured ~7 ms on a 4-vCPU VM, against ~0.3 ms for
        // the footer itself), and the schema needs no row-group metadata.
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, conf),
          org.apache.parquet.HadoopReadOptions.builder(conf, first.getPath)
            .withMetadataFilter(org.apache.parquet.format.converter
              .ParquetMetadataConverter.SKIP_ROW_GROUPS)
            .build())
        try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(reader.getFileMetaData.getSchema)
        finally reader.close()
      } catch { case NonFatal(e) =>
        throw new Unreadable(s"footer of ${first.getPath}", e) }
    val field = footerSchema.find(_.name == ValCol).getOrElse(
      throw new Unreadable(s"${first.getPath} has no $ValCol column"))
    val scan = spark.read.schema(StructType(Seq(field))).parquet(dir.toString)
    val oneSplit =
      data.map(_.getLen).sum <= spark.sessionState.conf.filesMaxPartitionBytes
    (if (oneSplit) scan.coalesce(1) else scan)
      .agg(Exact.avgFloorLong(col(ValCol)))
  }

  /** Driver-contract query: run the full create→reuse protocol for every
    * key against a fresh cache dir and emit (key, pass, avg, source) —
    * deterministically `create` on pass 1 and `reuse` on pass 2. The
    * per-key loop is control plane (it mirrors the reference's
    * one-RPC-per-county shape); each iteration's scan/agg is distributed.
    */
  def protocolTrace(spark: SparkSession, sfDir: String): DataFrame = {
    val cacheDir = graft.util.Scratch.dir("graft_cache_")
    val keys = Seq("A", "N", "R")
    val rows = for (pass <- Seq(1, 2); k <- keys) yield {
      val (avg, src) = calcAvg(spark, sfDir, cacheDir, k)
      Row(k, pass, avg, src)
    }
    val schema = StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("pass", IntegerType, nullable = false),
      StructField("avg_price", LongType, nullable = false),
      StructField("source", StringType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      .orderBy("key", "pass")
  }
}
