package graft.util

import org.apache.spark.sql.SparkSession

/** The one local session shape every runner, tool, soak and spec uses:
  * `local[cpus]`, `cpus` shuffle partitions, AQE on, 8 MB file splits,
  * UTC, no UI, WARN logging, and [[graft.plans.DriverEval]] installed.
  * One shape means a dev tool measures what the bench measures.
  *
  * The split size: the fixture contract is ONE parquet file per table,
  * so the default 128 MB split hands an 80 MB sf1 lineitem scan to a
  * single core while the rest idle (measured: TPC-H Q7 12.3 s → 3.7 s
  * from re-splitting alone). 8 MB ≈ 2-3 splits per core at sf1. A real
  * deployment gets scan parallelism from file COUNT and should keep the
  * default; this sizes the single-file case (SURVEY §7.5).
  */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.DriverEval.install(spark)
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
