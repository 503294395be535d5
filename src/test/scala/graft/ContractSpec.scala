package graft

/** Driver-contract invariants: the correctness gate hash-compares each
  * `queries` entry against its `oracleSql` twin, so a key typo or a
  * missing oracle silently downgrades a query to a weaker check. Pin
  * the alignment and the exact rows-only exception set. */
class ContractSpec extends SparkSuite {

  test("every oracle key names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("rows-only queries are exactly the documented sketch/fs set") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == Set(
      "o13_block_locations",   // filesystem metadata — not visible to SQL
      "x05b_approx_distinct",  // HLL++ sketch values are engine-specific
      "x05d_approx_quantiles", // GK sketch values are engine-specific
      "x24_sketch_rollup"      // Datasketches HLL — no DuckDB twin;
                               // error bound spec-pinned in EdgeCaseSpec
    ), s"unexpected rows-only set: $rowsOnly")
  }

  test("flagship entry returns rows (driver smoke-check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query function builds an analyzable plan") {
    // Construction must not throw (resolution errors, missing columns,
    // bad registrations) for any declared query; execution is the
    // verify/bench mains' job.
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.schema.fields.nonEmpty, s"$name has an empty schema")
    }
  }

  test("main code reads exactly the listed graft.* conf keys (knob count pin)") {
    // every configuration knob is a review decision: a new `graft.<key>`
    // conf read fails here until this list names it
    import scala.jdk.CollectionConverters._
    val key = "\"(graft\\.[a-z][A-Za-z0-9]*(?:\\.[A-Za-z0-9]+)+)\"".r
    val read = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(p => key.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)).map(_.group(1)))
      .toSet
    assert(read == Set(
      "graft.ann.indexDir", "graft.ann.indexRetentionMs", "graft.ann.leaseStaleMs",
      "graft.snapshot.bloomEstItems",
      "graft.streaming.kafka.bootstrap", "graft.streaming.kafka.startingOffsets",
      "graft.streaming.kafka.topic", "graft.streaming.rate.rowsPerBatch",
      "graft.streaming.rate.startTimestamp", "graft.streaming.source",
      "graft.streaming.statePartitions"), s"graft.* conf keys read: $read")
  }

  test("main code builds no frame through sparkContext.parallelize") {
    // a driver-made frame is a local relation (DriverEval.localFrame),
    // so the plans over it fold on the driver instead of running jobs
    import scala.jdk.CollectionConverters._
    val hits = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).contains("sparkContext.parallelize"))
      .toList
    assert(hits.isEmpty, s"sparkContext.parallelize in $hits")
  }

  test("README hardcodes no query-surface count (drift guard)") {
    // The surface count lives in ONE place: SparkEntry.queries.size.
    // README copies of it went stale twice (rounds 5 and 6); ban the
    // pattern outright so the next addition can't drift.
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val hits = "\\b\\d+\\s+(?:quer|oracle|spec)".r.findAllIn(readme).toList
    assert(hits.isEmpty,
      s"README hardcodes surface counts $hits — reference " +
        s"SparkEntry.queries (currently ${SparkEntry.queries.size}) " +
        "without a literal number instead")
  }
}
