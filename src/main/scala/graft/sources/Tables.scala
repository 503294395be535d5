package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver fixture tables (`TESTDATA.md`) plus a generic
  * JDBC source mirroring the reference's MySQL scan
  * (reference `server.py:29-39`, SURVEY §2.1 O1).
  *
  * Scale notes: all fixture reads are plain parquet scans — Catalyst's
  * `ColumnPruning` / `PushDownPredicates` reach the scan automatically, so
  * callers should express filters/projections declaratively and never
  * pre-materialize. On a real cluster the same code reads
  * `hdfs://…/table.parquet` unchanged (path is config, not code).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The fixture table `name`, read with the schema its first data
    * file's footer declares (`Layout.footerSchema`): the same schema
    * and rows as `spark.read.parquet`, without its schema-inference
    * job. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(graft.operators.Layout.footerSchema(spark, path))
      .parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` normalization, shared with the streaming source. The
    * fixture has shipped with two physical types for `ts`: nanosecond
    * parquet (which Spark's vectorized reader rejects — read raw as
    * int64 nanos via `nanosAsLong` and divide to µs; the fixture has no
    * sub-µs digits, and DuckDB reads the same file at µs so both
    * engines agree) and plain µs `TIMESTAMP_NTZ`. Branch on the
    * OBSERVED column type so both fixture generations — and copies
    * round-tripped through a Spark write by the re-sharding and
    * edge-case specs — land on the same session-TZ (UTC-pinned)
    * `TimestampType` column every downstream operator was certified
    * against.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // same wall-clock digits; cast pins them to UTC instants
        // (session TZ is UTC everywhere in this project)
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** O1: JDBC source scan (reference `server.py:29-39` reads MySQL via
    * SQLAlchemy). Fixture runs use parquet; this is the cluster-mode entry
    * for an RDBMS source. Spark pushes predicates and column pruning into
    * the JDBC query; `partitionColumn`/`numPartitions` options shard the
    * scan across executors (the reference reads single-threaded into
    * driver RAM — the anti-pattern this replaces).
    */
  def jdbc(spark: SparkSession, url: String, dbtable: String,
           options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format("jdbc")
      .option("url", url).option("dbtable", dbtable)
    options.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  /** The MySQL entry the reference actually deploys against (reference
    * `server.py:29`: `mysql+mysqlconnector://root:…@mysql:3306/testdb`;
    * `docker-compose.yml:16` wires the `mysql` host): standard JDBC URL
    * plus the Connector/J driver class. Spark resolves the MySQL
    * DIALECT from the `jdbc:mysql:` URL prefix alone — identifier
    * quoting (backticks), pushdown WHERE text, and type mapping are all
    * dialect-generated, so first contact with a live server is
    * config-only: host/port/db/credentials (and the connector jar on
    * the classpath — not shipped in this sandbox, which the spec pins
    * as a fail-fast naming the missing class rather than a silent
    * fallback). Pass the same `partitionColumn`/`lowerBound`/
    * `upperBound`/`numPartitions` options as any [[jdbc]] call to shard
    * the scan across executors. */
  val MySqlDriverClass = "com.mysql.cj.jdbc.Driver"

  def mysqlUrl(host: String, port: Int, database: String): String =
    s"jdbc:mysql://$host:$port/$database"

  def mysql(spark: SparkSession, host: String, port: Int, database: String,
            dbtable: String, user: String, password: String,
            options: Map[String, String] = Map.empty): DataFrame =
    jdbc(spark, mysqlUrl(host, port, database), dbtable,
      Map("driver" -> MySqlDriverClass,
        "user" -> user, "password" -> password) ++ options)
}
