package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O13+O14: storage-metadata scan — the reference's `BlockLocations` RPC
  * (`server.py:70-93`: WebHDFS GETFILEBLOCKLOCATIONS → flatten hosts[] →
  * count blocks per host), re-expressed on the Hadoop `FileSystem` API:
  * one NameNode metadata call per file (no data read), then the
  * flatten+count as a relational explode/groupBy over a local relation,
  * which [[graft.plans.DriverEval]] evaluates on the driver: no Spark
  * job, as the reference answers in-process. Works identically on
  * local fs (single "localhost" replica) and HDFS (real block→host
  * lists) — the path scheme decides.
  */
object StorageMeta {

  /** Per-table block/host inventory for every fixture table in `sfDir`. */
  def blockLocations(spark: SparkSession, sfDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = Tables.all.flatMap { t =>
      val p = new Path(s"$sfDir/$t.parquet")
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      fs.getFileBlockLocations(st, 0, st.getLen).zipWithIndex.map {
        case (loc, i) =>
          Row(t, i, loc.getOffset, loc.getLength, loc.getHosts.toSeq)
      }
    }
    val schema = StructType(Seq(
      StructField("table", StringType, nullable = false),
      StructField("block_idx", IntegerType, nullable = false),
      StructField("offset", LongType, nullable = false),
      StructField("length", LongType, nullable = false),
      StructField("hosts", ArrayType(StringType), nullable = false)))
    graft.plans.DriverEval.localFrame(spark, rows, schema)
  }

  /** The `BlockLocations` response shape: blocks per host (O14's
    * explode + grouped count), plus bytes. Rows-only check (a SQL oracle
    * cannot see the filesystem).
    */
  def blocksPerHost(spark: SparkSession, sfDir: String): DataFrame =
    blockLocations(spark, sfDir)
      .select(col("table"), col("length"), explode(col("hosts")).as("host"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_blocks"), sum(col("length")).as("n_bytes"))
      .orderBy("host")
}
