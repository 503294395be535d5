package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSuite {

  test("bucketed tables join without a query-time shuffle") {
    val wh = java.nio.file.Files.createTempDirectory("graft_buckets_")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    Layout.writeBucketed(li, "graft_li_b", s"$wh/li", "l_orderkey", 8)
    Layout.writeBucketed(o, "graft_o_b", s"$wh/o", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_li_b")
        .join(spark.table("graft_o_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join must not re-shuffle the fact side:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not re-shuffle the dim side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_li_b")
      spark.sql("DROP TABLE IF EXISTS graft_o_b")
    }
  }

  test("salted join is row-equivalent to the plain join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Layout.saltedJoin(li, o, "l_orderkey", "o_orderkey", 7)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }
  test("bloom semi-join reduction prunes the fact side and never changes results") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderstatus") === "F" &&
        col("o_orderpriority") === "1-URGENT")
    // the pruned fact is a strict subset that keeps every matching row
    val pruned = Layout.bloomPrune(li, o, "l_orderkey", "o_orderkey", 100000L)
    val factN = li.count()
    val prunedN = pruned.count()
    val matchN = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    assert(prunedN < factN,
      s"bloom probe pruned nothing: $prunedN of $factN fact rows kept")
    assert(prunedN >= matchN,
      s"bloom probe LOST matching rows: kept $prunedN, join needs $matchN")
    // and the reduced join is row-identical to the plain join
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reduced = Layout.bloomReducedJoin(li, o, "l_orderkey", "o_orderkey")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == reduced)
  }

  test("AQE skew-join splits the hot partition — the built-in complement to salting") {
    // The same Zipf venue x21 certifies with MANUAL salting: 80% of the
    // fact rows share one join key. Here the join runs UNSALTED and
    // AQE's OptimizeSkewedJoin must split the hot partition at runtime
    // (thresholds lowered to fire at fixture scale; production defaults
    // are 256 MB / 5x median). Both mitigation paths stay certified:
    // salting covers broadcast-able dims and extreme keys, AQE covers
    // moderate skew on sort-merge joins with zero code change.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.get(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // sf0.01: the hot partition must exceed the (lowered) byte
      // threshold in SHUFFLE bytes for the split heuristic to see it
      val sf01 = "/root/testdata/sf0.01"
      // AQE splits a skewed reduce partition at MAP-OUTPUT granularity:
      // the single-file fixture scans as ONE map task, whose output is
      // unsplittable — repartition first, as a cluster's many input
      // splits would naturally provide
      val big = graft.sources.Tables.events(spark, sf01)
        .repartition(16)
        .select(col("user_id"), col("value"),
          when(col("user_id") % 100 < 80, lit(0))
            .otherwise((col("user_id") % 20).cast("int") + 1)
            .as("skew_key"))
      val dim = graft.sources.Tables.nation(spark, sf01)
        .select(col("n_nationkey"), col("n_name"))
      val joined = big.join(dim, col("skew_key") === col("n_nationkey"))
      // execute THIS dataframe's own QueryExecution (count() would plan
      // a separate query and leave this one's AQE un-finalized)
      val n = joined.collect().length.toLong
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the hot partition:\n$p")
      // and the adaptive path returns exactly the salted-join row count
      val salted = graft.operators.Layout
        .skewedEventsJoin(spark, sf01)
        .agg(sum(col("n_events"))).first().getLong(0)
      assert(n == salted,
        s"AQE skew join rows $n != salted-path total $salted")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("z-order layout gives two-dimensional file skipping") {
    import org.apache.spark.sql.functions._
    val src = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
    val nFiles = 16
    val zOut = java.nio.file.Files.createTempDirectory("graft_z_").toString
    Layout.zorderWrite(src, zOut, "l_partkey", "l_suppkey", nFiles)
    // baseline: clustered on an UNRELATED key (sorted ingest order - the
    // layout a pipeline gets by default)
    val linOut = java.nio.file.Files.createTempDirectory("graft_lin_").toString
    src.repartitionByRange(nFiles, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(linOut)

    // per-file (min, max) boxes over both filter dimensions - the stats
    // any skipping reader consults
    def boxes(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_partkey").as("plo"), max("l_partkey").as("phi"),
        min("l_suppkey").as("slo"), max("l_suppkey").as("shi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    val (pMax, sMax) = {
      val r = src.agg(max("l_partkey"), max("l_suppkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    // a selective 2-D query box (~quarter of each dimension)
    val (pLo, pHi) = (1L, pMax / 4)
    val (sLo, sHi) = (1L, sMax / 4)
    def touched(bs: Array[(Long, Long, Long, Long)]): Int =
      bs.count { case (plo, phi, slo, shi) =>
        plo <= pHi && phi >= pLo && slo <= sHi && shi >= sLo }

    val zT = touched(boxes(zOut))
    val linT = touched(boxes(linOut))
    assert(linT >= nFiles - 1,
      s"unrelated-key layout should leave ~every file matching, got $linT")
    assert(zT * 2 < linT,
      s"z-order should skip most files: touched $zT of $nFiles vs $linT")
    // and the layout loses no rows
    assert(spark.read.parquet(zOut).count() == src.count())
  }

  test("magic-mask zorderKey equals the definitional bit-interleave sum") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // definitional form: Σ bit_i(a)·4^i + Σ bit_i(b)·2·4^i — the
    // term-sum the production key replaced for JIT reasons; values
    // must be IDENTICAL (committed layouts stay valid)
    def defSum(a: org.apache.spark.sql.Column,
               b: org.apache.spark.sql.Column, bits: Int) =
      (0 until bits).map { i =>
        (shiftright(a, i) % 2) * lit(1L << (2 * i)) +
          (shiftright(b, i) % 2) * lit(1L << (2 * i + 1))
      }.reduce(_ + _)
    // keys spanning the whole 31-bit domain incl. the edges
    val rows = (Seq(0L, 1L, 2L, 3L, (1L << 31) - 1, (1L << 30) + 12345L) ++
      (1 to 200).map(i => (i * 10738471L + 977L) % ((1L << 31) - 1)))
    val df = rows.zip(rows.reverse).toDF("a", "b")
    for (bits <- Seq(1, 7, 16, 31)) {
      val bad = df.select(
          graft.operators.Layout.zorderKey(col("a"), col("b"), bits)
            .as("fast"),
          defSum(col("a"), col("b"), bits).as("def"))
        .filter(col("fast") =!= col("def")).count()
      assert(bad == 0L, s"zorderKey mismatch at bits=$bits")
    }
  }

  test("derived shuffle width reproduces the measured Q21 A/B winners and widens past the spill-safe bound") {
    import graft.operators.Layout
    // the Q21 A/B geometry (BENCH_NOTES third-decade table): the
    // derivation must pick the MEASURED winner at both soaked scales —
    // the 32-wide floor (sf100: 333 s with 2.9 GB/partition local
    // spill vs 439 s spill-free 256-wide)
    val sf10Bytes = 928062076L + 141068260L     // lineitem+orders sf10
    val sf100Bytes = 11153671464L + 1741614874L // lineitem+orders sf100
    assert(Layout.shuffleWidthFor(sf10Bytes, 32) == 32)
    assert(Layout.shuffleWidthFor(sf100Bytes, 32) == 32)
    // one decade further the estimated spill mass (10x sources) blows
    // the 8 GB/partition safe bound and the schedule widens BEFORE a
    // partition's sort goes multi-pass
    val sf1000Bytes = sf100Bytes * 10
    assert(Layout.shuffleWidthFor(sf1000Bytes, 32) > 32)
    assert(Layout.shuffleWidthFor(sf1000Bytes, 32) ==
      math.ceil(sf1000Bytes * 10.0 / (8L << 30)).toInt)
    // the floor is the deployment's parallelism — never narrowed
    assert(Layout.shuffleWidthFor(0L, 32) == 32)
    assert(Layout.shuffleWidthFor(sf100Bytes, 256) == 256)
    // and the venue-side derivation reads real footer-level bytes
    val derived = Layout.derivedShuffleWidth(spark, sf,
      Seq("lineitem", "orders"))
    assert(derived == spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "toy fixtures sit at the floor")
  }

  test("corpus-build width narrows tiny corpora and caps at the session width") {
    import graft.operators.Layout
    // the r14 measured geometry: the sf0.1 corpus (594 KB) must narrow
    // to the floor (the width-32 x09e build burned 6.5× the width-4
    // task CPU), while anything past ~16 MB saturates a 32-wide session
    assert(Layout.corpusWidthFor(594L << 10, 32) == 4)
    assert(Layout.corpusWidthFor(6L << 20, 32) == 12)   // ~sf1
    assert(Layout.corpusWidthFor(59L << 20, 32) == 32)  // ~sf10: cap
    assert(Layout.corpusWidthFor(594L << 20, 32) == 32) // ~sf100: cap
    // the CAP is the deployment width — a wide session is never
    // narrowed once the corpus carries enough bytes per partition,
    // and a production width always wins at production volume
    assert(Layout.corpusWidthFor(10L << 30, 2048) == 2048)
    // degenerate inputs stay in-range
    assert(Layout.corpusWidthFor(0L, 32) == 4)
    assert(Layout.corpusWidthFor(1L, 2) == 2) // cap below floor: cap wins
    // fs-metadata derivation over the real fixture: tiny corpus → floor
    val w = Layout.corpusBuildWidth(spark, sf)
    assert(w == 4, s"fixture documents corpus should derive the floor, got $w")
  }

  test("footer probes are exact replacements for the sizing jobs (r14)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    assert(Layout.footerRowCount(spark, s"$sf/lineitem.parquet") ==
      li.count(), "footer row count must equal count()")
    assert(Layout.footerMaxLong(spark, s"$sf/lineitem.parquet",
        "l_orderkey") ==
      Some(li.agg(max("l_orderkey")).head().getLong(0)),
      "footer max must equal max()")
    // unsupported shapes fall back loudly to None, never a wrong value
    assert(Layout.footerMaxLong(spark, s"$sf/lineitem.parquet",
      "no_such_col").isEmpty)
    assert(Layout.footerMaxLong(spark, s"$sf/lineitem.parquet",
      "l_returnflag").isEmpty, "string stats (truncatable) must refuse")
    assert(Layout.footerRowCount(spark, s"$sf/does_not_exist.parquet") == 0L)
    // scan parallelism: row-group granularity, early-exit cap
    val p1 = Layout.scanParallelism(spark, s"$sf/lineitem.parquet", 1)
    assert(p1 == 1)
    val p64 = Layout.scanParallelism(spark, s"$sf/lineitem.parquet", 64)
    assert(p64 >= 1 && p64 <= 64)
    assert(Layout.scanParallelism(spark, s"$sf/does_not_exist.parquet", 8) == 0)
  }

  test("combined footer probe: count+min+max in one walk; zero-row " +
      "files never inflate scan parallelism (r15)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val (rows, mm) = Layout.footerCountAndMinMax(spark,
      s"$sf/lineitem.parquet", Seq("l_orderkey", "l_partkey", "nope"))
    assert(rows == li.count())
    val agg = li.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head()
    assert(mm("l_orderkey") == Some((agg.getLong(0), agg.getLong(1))))
    assert(mm("l_partkey") == Some((agg.getLong(2), agg.getLong(3))))
    assert(mm("nope").isEmpty)
    // per-file-list variant (the manifest-count primitive)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"$sf/lineitem.parquet")
    val parts = dir.getFileSystem(conf).listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    assert(Layout.footerRowCountOfFiles(spark, parts) == rows)
    // a zero-row part file holds zero row groups: scanParallelism must
    // count row groups, never files (ADVICE r14 — a file-count
    // short-circuit let empty write partitions fake achievable width)
    val mixed = java.nio.file.Files
      .createTempDirectory("graft_zerorow_").toString
    import spark.implicits._
    spark.range(5).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$mixed/t")
    val fs = new org.apache.hadoop.fs.Path(mixed).getFileSystem(conf)
    spark.range(0).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$mixed/z")
    def onePart(sub: String): org.apache.hadoop.fs.Path =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$mixed/$sub")).toSeq
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, onePart("t"), fs,
      new org.apache.hadoop.fs.Path(s"$mixed/d/part-0.parquet"),
      false, conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, onePart("z"), fs,
      new org.apache.hadoop.fs.Path(s"$mixed/d/part-1.parquet"),
      false, conf)
    val width = Layout.scanParallelism(spark, s"$mixed/d", 2)
    assert(width == 1,
      s"zero-row file must contribute 0 row groups, got width $width")
  }

  test("footer-path stats manifest matches the scan path (r14)") {
    import graft.operators.Snapshot
    // a layout with one ALL-NULL file for the int columns (ids < 250
    // range-partition into the first file) plus ordinary files, and a
    // column of every type whose bounds the entry stores: a date, a
    // timestamp with sub-millisecond micros, a non-ASCII string, a
    // double with NaN (the max of a file holding one) and many digits,
    // a decimal(12,2)
    val src = spark.range(0L, 1000L).toDF("id")
      .select(col("id"),
        when(col("id") < 250, lit(null).cast("long"))
          .otherwise(col("id") * 7 % 101).as("k"),
        when(col("id") < 250, lit(null).cast("int"))
          .otherwise((col("id") % 1000).cast("int")).as("i"),
        date_add(lit("2001-02-03").cast("date"), (col("id") * 13 % 700).cast("int")).as("d"),
        timestamp_micros(lit(1600000000000000L) + col("id") * 1234567L + 789L).as("ts"),
        concat(lit("ü日-"), (col("id") * 31 % 997).cast("string")).as("s"),
        when(col("id") % 97 === 5, lit(Double.NaN))
          .otherwise(col("id") / 7.0).as("x"),
        (col("id") * 1.37).cast("decimal(12,2)").as("dec"))
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions("id")
    def root(): String = java.nio.file.Files.createTempDirectory("graft_fstat_")
      .toString + "/t"
    // the entry's per-file bounds against the scan answer, computed
    // here over the committed files: per-file min/max/count grouped on
    // the file each row came from
    def matches(root: String, cols: Seq[String]): Unit = {
      val fast = Snapshot.statsFrame(spark, Snapshot.metaOf(spark, root, 1L))
      val aggs = cols.flatMap(c => Seq(min(c).as(s"min_$c"), max(c).as(s"max_$c"))) :+
        count(lit(1)).as("n_rows")
      val slow = spark.read.parquet(Snapshot.metaOf(spark, root, 1L).dir.get)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
      // same schema (names + types, the contract readers prune on) …
      assert(fast.schema.map(f => (f.name, f.dataType)) ==
        slow.schema.map(f => (f.name, f.dataType)),
        s"schema drift: ${fast.schema} vs ${slow.schema}")
      // … and identical bounds/counts file by file, compared as text so
      // NaN equals NaN and a timestamp shows its micros (the two sides
      // spell a local URI differently — key on the file name)
      def byFile(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0).split('/').last -> r.toSeq.tail.map(String.valueOf))
        .toMap
      assert(byFile(fast) == byFile(slow),
        s"$cols: the entry's stats must equal the scan-derived stats")
      // the all-null file's bounds really are null in BOTH
      assert(slow.filter(col("min_k").isNull).count() >= 1L)
      assert(fast.filter(col("min_k").isNull).count() >= 1L)
    }
    // int columns: bounds from the footers
    val ints = root()
    Snapshot.commitWithStats(src, ints, Seq("k", "i"))
    matches(ints, Seq("k", "i"))
    // every type: bounds from the scan aggregate
    val typed = Seq("k", "i", "d", "ts", "s", "x", "dec")
    val all = root()
    Snapshot.commitWithStats(src, all, typed)
    matches(all, typed)
    val nan = Snapshot.statsFrame(spark, Snapshot.metaOf(spark, all, 1L))
      .filter(col("max_x").isNaN).count()
    assert(nan >= 1L, "a file holding NaN must keep NaN as its max")
    // a bloom table: bounds read back from the bloom payload
    val bloom = root()
    withConf("graft.snapshot.bloomEstItems", "200") {
      Snapshot.commitWithStats(src, bloom, Seq("k", "ts", "s"), bloomCols = Seq("id"))
    }
    matches(bloom, Seq("k", "ts", "s"))
  }

  test("readParquet reads every file of a directory, on the driver within one split and scanned above it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_readpq_")
      .toString + "/t"
    spark.range(0, 300).select(col("id"), (col("id") % 7).cast("string").as("s"))
      .repartition(3).write.parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val want = rows(spark.read.parquet(dir))
    assert(want.size == 300)
    val (local, localJobs) = jobsOf(rows(Layout.readParquet(spark, dir)))
    assert(localJobs == 0 && local == want)
    withConf("spark.sql.files.maxPartitionBytes", "1024") {
      val (scanned, scanJobs) = jobsOf(rows(Layout.readParquet(spark, dir)))
      assert(scanJobs > 0 && scanned == want)
    }
  }

  test("a driver read broadcasts nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_readpq_")
      .toString + "/t"
    spark.range(0, 50).write.parquet(dir)
    val before = org.apache.spark.BroadcastBlocks.ids()
    val ((read, added), jobs) = jobsOf {
      val read = Layout.readParquet(spark, dir)
      (read, org.apache.spark.BroadcastBlocks.ids() -- before)
    }
    assert(jobs == 0 && added.isEmpty, s"$jobs jobs, broadcasts $added")
    assert(read.count() == 50L)
  }

  test("readParquet and footerSchema defer to Spark's inference for a partitioned directory and a missing path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_readpq_")
      .toString + "/p"
    spark.range(0, 20).select(col("id"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(dir)
    val want = spark.read.parquet(dir)
    assert(want.columns.toSeq == Seq("id", "k"))
    assert(Layout.footerSchema(spark, dir) == want.schema)
    val got = Layout.readParquet(spark, dir)
    assert(got.schema == want.schema)
    assert(got.collect().map(r => (r.getLong(0), r.get(1))).toSet ==
      want.collect().map(r => (r.getLong(0), r.get(1))).toSet)
    intercept[org.apache.spark.sql.AnalysisException](
      Layout.footerSchema(spark, s"$dir-missing"))
    intercept[org.apache.spark.sql.AnalysisException](
      Layout.readParquet(spark, s"$dir-missing"))
  }

  /** Sorted row hashes: equal multisets of rows hash equal. */
  private def hashes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(xxhash64(df.columns.map(col): _*)).collect()
      .map(_.getLong(0)).toSeq.sorted

  test("fixture tables read with the footer schema equal the inferred read, with no job") {
    import graft.sources.Tables
    // session confs both reads must honor, switched between reads in
    // one session and unset too: the driver reader's schema converter
    // requires each in its Hadoop conf, and events' µs `ts` is NTZ only
    // under inferTimestampNTZ
    val keys = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.binaryAsString")
    val settings = Seq(
      Seq(None, None, None),
      Seq(Some("true"), Some("false"), Some("true")),
      Seq(Some("false"), Some("true"), Some("false")),
      Seq(None, Some("false"), None),
      Seq(Some("true"), None, Some("true")))
    for (s <- settings; t <- Tables.all)
      withConfs(keys.zip(s): _*) {
        val path = s"$sf/$t.parquet"
        val inferred = spark.read.parquet(path)
        for ((how, read) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
            "Tables.table" -> (() => Tables.table(spark, sf, t)),
            "the driver read" -> (() => Layout.readParquet(spark, path)))) {
          val (df, jobs) = jobsOf(read())
          assert(jobs == 0, s"$t ($s): $how ran $jobs jobs")
          assert(df.schema == inferred.schema, s"$t ($s): $how's schema differs")
          assert(hashes(df) == hashes(inferred), s"$t ($s): $how's rows differ")
        }
      }
  }

  test("the driver reader's Hadoop conf equals the conf Spark's parquet scan broadcasts, as the session confs switch") {
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
    import org.apache.spark.sql.internal.SQLConf
    import scala.jdk.CollectionConverters._
    def entries(c: org.apache.hadoop.conf.Configuration): Map[String, String] =
      c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    val path = s"$sf/events.parquet"
    val schema = Layout.footerSchema(spark, path)
    val index = new InMemoryFileIndex(spark,
      Seq(new org.apache.hadoop.fs.Path(path)), Map.empty, None)
    // every session conf the scan copies into its Hadoop conf, all
    // unset (a set one reaches both confs through newHadoopConf), then
    // all set away from their defaults
    val flags = Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED, SQLConf.CASE_SENSITIVE,
      SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION)
    val tz = SQLConf.SESSION_LOCAL_TIMEZONE.key
    val unset = (flags.map(_.key) :+ tz).map(_ -> None)
    val switched = flags.map(f => f.key -> Some((!f.defaultValue.get).toString)) :+
      (tz -> Some("America/Los_Angeles"))
    for (s <- Seq(unset, switched))
      withConfs(s: _*) {
        val scan = ParquetScan(spark, spark.sessionState.newHadoopConf(), index,
          schema, schema, new org.apache.spark.sql.types.StructType(), Array.empty,
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        val bc = scan.createReaderFactory()
          .asInstanceOf[ParquetPartitionReaderFactory].broadcastedConf
        try {
          val want = entries(bc.value.value)
          val got = entries(Layout.driverReaderConf(spark, schema))
          val differ = (want.keySet ++ got.keySet).toSeq.sorted
            .filter(k => want.get(k) != got.get(k))
            .map(k => s"$k: scan ${want.get(k)}, driver ${got.get(k)}")
          assert(differ.isEmpty, differ.mkString("; "))
        } finally bc.destroy()
      }
  }
}
