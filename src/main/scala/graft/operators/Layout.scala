package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout techniques for 100 TB joins (SURVEY §7.5): bucketing
  * for shuffle-free co-located joins, salting for skewed keys. These are
  * layout/plan tools, not queries — their plan-level properties are
  * asserted in LayoutSpec.
  */
object Layout {

  /** Write `df` as a bucketed (+ sorted) table so later equi-joins on
    * `key` read both sides pre-partitioned — no Exchange at query time.
    * The write shuffles once; every subsequent join of tables bucketed
    * to the same (key, n) is co-located. That trade (one write-time
    * shuffle, N query-time shuffles saved) is the backbone of a 100 TB
    * star schema.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, nBuckets: Int): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.write.bucketBy(nBuckets, key).sortBy(key)
      .option("path", path).format("parquet").saveAsTable(table)
  }

  /** Morton (Z-order) key: interleave the low `bits` bits of two
    * non-negative integer keys, so integer order on the result walks a
    * space-filling curve through the (a, b) plane — rows close in Z-key
    * are close in BOTH dimensions. Pure bit arithmetic, codegen-friendly,
    * no UDF.
    *
    * ALIASING: only the low `bits` bits participate — key values
    * ≥ 2^bits fold into the same curve cell as their low-bit twins,
    * silently degrading the 2-D locality the key promises. Size `bits`
    * to cover the full key range (⌈log2(max+1)⌉; [[zorderWrite]] derives
    * it from the data by default), or rank-encode wide/sparse keys
    * first. Max 31 per dimension (2×31 interleaved bits keep the key in
    * a positive Long). */
  def zorderKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                bits: Int = 16): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"zorderKey bits must be in [1,31]: $bits")
    // Magic-mask bit spread (the classic Morton "Part1By1"): ~6 bitwise
    // ops per dimension instead of a `bits`-term checked-arithmetic sum.
    // The term-sum form this replaces produced the same values but blew
    // up at width 31 — its ~124-node ANSI-checked expression tree
    // compiled into a projection too large for the JIT in the exchange
    // write stage, and the z-order WRITE ran 12× slower at sf1
    // (measured 100.8 s inline vs 3.8 s pre-materialized; this form:
    // linear). Bitwise ops also carry no ANSI overflow branches.
    // LayoutSpec pins value-equality with the definitional term sum.
    val keep = lit((1L << bits) - 1)
    def spread(c: org.apache.spark.sql.Column) = {
      val m = Seq(
        16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
        4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
        1 -> 0x5555555555555555L)
      m.foldLeft(c.bitwiseAND(keep)) { case (x, (s, mask)) =>
        x.bitwiseXOR(shiftleft(x, s)).bitwiseAND(lit(mask))
      }
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-order clustered write: range-partition on the Morton key of two
    * filter dimensions and sort within files. Each output file then
    * covers a compact BOX in (a, b) space, so a reader with min/max
    * statistics (parquet row groups, any lakehouse format's file stats)
    * skips every file whose box misses the query box — two-dimensional
    * data skipping, where single-column sorting only prunes one
    * dimension. The write costs one range shuffle; every subsequent
    * selective scan on EITHER OR BOTH dimensions prunes. LayoutSpec
    * measures the effect on real per-file statistics.
    *
    * `bits` ≤ 0 (the default) derives the interleave width from the
    * observed key maxima (one tiny pre-aggregate over the write input) —
    * every key bit participates and nothing aliases; pass an explicit
    * width only when the key range is known a priori.
    */
  def zorderWrite(df: DataFrame, out: String, c1: String, c2: String,
                  nFiles: Int, bits: Int = 0): Unit =
    zorderCluster(df, c1, c2, nFiles, bits)
      .write.mode("overwrite").parquet(out)

  /** The clustering transform behind [[zorderWrite]], exposed so any
    * sink (a plain parquet write, a [[Snapshot]] commit) can lay its
    * files on the Morton curve: derive the interleave width from the
    * observed maxima when `bits` ≤ 0, range-partition on the Z-key so
    * each output file covers a compact (c1, c2) box, sort within
    * partitions so parquet row-group stats are tight too, and drop the
    * key — the layout never leaks into the schema. */
  def zorderCluster(df: DataFrame, c1: String, c2: String,
                    nFiles: Int, bits: Int = 0): DataFrame = {
    val eff =
      if (bits > 0) bits
      else {
        val row = df.agg(
          max(col(c1).cast(org.apache.spark.sql.types.LongType)),
          max(col(c2).cast(org.apache.spark.sql.types.LongType))).head()
        val hi = math.max(
          if (row.isNullAt(0)) 0L else row.getLong(0),
          if (row.isNullAt(1)) 0L else row.getLong(1))
        math.min(31, math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(hi)))
      }
    df.withColumn("__z", zorderKey(col(c1), col(c2), eff))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Salted equi-join for skewed build keys: the big (skewed) side gets
    * a deterministic salt derived from its row content; the small side
    * is replicated once per salt. Row-for-row equivalent to the plain
    * join (each big row matches exactly one salted replica) but the
    * shuffle key becomes (key, salt), splitting a hot key across
    * `nSalts` reducers. AQE's skew-join handles moderate skew
    * automatically; salting is the explicit tool for pathological keys.
    */
  def saltedJoin(big: DataFrame, small: DataFrame,
                 bigKey: String, smallKey: String, nSalts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(hash(big.columns.map(col): _*), lit(nSalts)))
    val expandedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    saltedBig.join(expandedSmall,
        saltedBig(bigKey) === expandedSmall(smallKey) &&
          saltedBig("__salt") === expandedSmall("__salt"))
      .drop("__salt")
  }

  /** x21: [[saltedJoin]] taken from plan-level tool to CERTIFIED query
    * (SURVEY §7.5's named risk). The venue is a Zipf-shaped key derived
    * deterministically from events: ~80% of rows land on key 0, the
    * rest spread over keys 1–20 — the classic hot-key profile where a
    * plain shuffle join sends 80% of the fact table through ONE
    * reducer. The salted join splits key 0 across `nSalts` reducers
    * (plan-asserted in PlanSpec: the shuffle key is (key, salt)), and
    * the result is certified row-identical to the plain join by the
    * DuckDB oracle — which replays the UNSALTED join, proving the salt
    * never leaks into results. Aggregates are count/min/max only —
    * order-free, no float summation.
    *
    * The small side joins `nation` (a real dimension); its `nSalts`×
    * replication is 25·nSalts rows — salting trades a trivially bigger
    * build side for hot-key parallelism, exactly the 100 TB trade.
    * (AQE's skew-join handles MODERATE skew on sort-merge joins
    * without code changes; explicit salting is the tool that also
    * covers hash joins, non-AQE engines, and pathological single-key
    * skew — certifying it keeps the tool honest.)
    */
  /** Bloom-filter semi-join reduction: drop fact rows that cannot join
    * BEFORE the join's shuffle, using Spark's native bloom sketch pair
    * (see [[graft.plans.BloomReduce]] for why registration is needed).
    *
    * Stage 1 aggregates the dim keys' xxhash64 into one bloom sketch —
    * a distributed aggregate with map-side partial merge whose result
    * is O(numBits), never O(dim). Stage 2 probes the sketch as an
    * UNCORRELATED SCALAR SUBQUERY inside the fact-side filter: Spark
    * executes it once, embeds the sketch, and the codegen'd
    * `might_contain` predicate runs inside the fact scan's
    * whole-stage-codegen span — so at 100 TB the shuffle only carries
    * fact rows whose key is (probably) present in dim. False positives
    * only cost shuffled bytes; the join itself re-verifies every
    * surviving row, so results are EXACTLY the plain join's
    * (certified by x25's oracle, which replays the un-reduced join).
    * False negatives cannot occur (bloom guarantee), so no row is ever
    * lost.
    *
    * This is the reduction `InjectRuntimeFilter` performs when its size
    * thresholds fire (10 GB fact-scan default); as a library operator
    * it is explicit, threshold-free, and applies to join shapes the
    * rule skips. `estItems` sizes the sketch (Spark derives numBits);
    * an under-sized sketch only raises the FP rate — correctness is
    * unaffected.
    *
    * The dim plan is evaluated twice (sketch + join build) — it is the
    * SMALL side by contract, exactly like the probe relation of any
    * semi-join reduction.
    */
  def bloomReducedJoin(fact: DataFrame, dim: DataFrame,
                       factKey: String, dimKey: String,
                       estItems: Long = 100000L): DataFrame =
    bloomPrune(fact, dim, factKey, dimKey, estItems)
      .join(dim, col(factKey) === dim(dimKey))

  /** The fact-side pruning stage of [[bloomReducedJoin]], exposed so
    * LayoutSpec can certify the reduction actually drops rows.
    *
    * The scalar subquery needs SQL text, so the inputs bind through
    * temp views — PER-CALL unique names, dropped as soon as the plan is
    * analyzed (Dataset construction is eagerly analyzed, so the
    * returned frame holds the resolved plan and never re-reads the
    * catalog): fixed names would let two concurrent calls on one
    * session interleave create-or-replace and bind each other's
    * fact/dim, and would leak the views into the session catalog. */
  private[graft] def bloomPrune(fact: DataFrame, dim: DataFrame,
                                factKey: String, dimKey: String,
                                estItems: Long): DataFrame = {
    val spark = fact.sparkSession
    graft.plans.BloomReduce.register(spark)
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val factView = s"__graft_bloom_fact_$id"
    val dimView = s"__graft_bloom_dim_$id"
    fact.createOrReplaceTempView(factView)
    dim.createOrReplaceTempView(dimView)
    try spark.sql(
      s"""SELECT f.* FROM $factView f
         |WHERE ${graft.plans.BloomReduce.probeName}(
         |  (SELECT ${graft.plans.BloomReduce.aggName}(xxhash64($dimKey),
         |          CAST($estItems AS BIGINT)) FROM $dimView),
         |  xxhash64(f.$factKey))""".stripMargin)
    finally {
      spark.catalog.dropTempView(factView)
      spark.catalog.dropTempView(dimView)
    }
  }

  /** x25: [[bloomReducedJoin]] as a certified query. The dim side is a
    * selectively filtered `orders` (status F, priority 1-URGENT) with a
    * MERGE hint so the join exercises the sort-merge path the reduction
    * exists for (at fixture scale the dim would otherwise broadcast —
    * at 100 TB a many-million-row dim lands on SMJ by itself, and the
    * bloom probe is what keeps the fact shuffle proportional to the
    * MATCHING rows, not the table). The DuckDB oracle replays the PLAIN
    * join — certifying the sketch is result-transparent: no lost rows
    * (no false negatives), no phantom rows (the join re-verifies false
    * positives). Aggregates are decimal-exact / count-based, order
    * pinned.
    */
  def bloomPrunedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.sources.Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F" &&
        col("o_orderpriority") === "1-URGENT")
      .hint("merge")
    val fact = graft.sources.Tables.lineitem(spark, sfDir)
    bloomReducedJoin(fact, dim, "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("sum_qty"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")
  }

  def skewedEventsJoin(spark: SparkSession, sfDir: String,
                       nSalts: Int = 16): DataFrame = {
    val big = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("value"),
        when(col("user_id") % 100 < 80, lit(0))
          .otherwise((col("user_id") % 20).cast("int") + 1)
          .as("skew_key"))
    val dim = graft.sources.Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"))
    saltedJoin(big, dim, "skew_key", "n_nationkey", nSalts)
      .groupBy(col("skew_key"), col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("skew_key")
  }

  // ---- derived batch shuffle width (VERDICT r10 #5) --------------------

  /** Conservative in-memory expansion from compressed parquet source
    * bytes to worst-case sort/spill mass at the shuffle: the sf100 Q21
    * measurement (11 GB lineitem source → 26.9 GB shuffled → 92.7 GB
    * spilled through the sort buffers, ≈8.4×) rounded UP — erring
    * toward more partitions exactly when shuffles are huge, the safe
    * direction (the state-width discipline's argument applied to batch). */
  private val SpillExpansionFactor = 10L

  /** The per-partition spill mass the measured crossover says a local
    * sort absorbs at sequential-disk speed: Q21 at sf100 ran 2.9 GB of
    * spill per partition 32-wide in 333 s, BEATING the spill-free
    * 256-wide leg (439 s, +32% CPU — more merge streams cost more than
    * local sequential spill saves). 8 GB is ~3× that largest
    * measured-good point, bounded below the multi-pass-merge knee and
    * single-disk scratch exhaustion. On a cluster with REMOTE shuffle
    * the crossover shifts — this constant is the one deployment knob. */
  private[graft] val SpillSafeBytesPerPartition = 8L << 30

  /** width = max(deployment parallelism, ceil(estimated spill mass /
    * [[SpillSafeBytesPerPartition]])), capped at 32768. Pure, so the
    * spec pins the whole schedule without 100 GB fixtures. The floor
    * is the venue's configured width (never LOWER a deployment's
    * parallelism); the derivation only WIDENS, and only once a query
    * family's worst-case per-partition spill would blow past what
    * local sequential disk absorbs — the measured Q21 A/B's rule:
    *  - sf10  (1.2 GB sources → ~12 GB est):   32 (floor; measured good)
    *  - sf100 (13 GB sources → ~130 GB est):   32 (floor; 333 s beat
    *    256-wide's 439 s — spill at 2.9 GB/partition is the WIN side)
    *  - sf1000 (~130 GB sources → ~1.3 TB est): 163 — past the safe
    *    bound, the schedule widens before a partition's sort thrashes. */
  private[graft] def shuffleWidthFor(sourceBytes: Long, floor: Int): Int = {
    val estSpill = sourceBytes * SpillExpansionFactor
    val want = (estSpill + SpillSafeBytesPerPartition - 1) /
      SpillSafeBytesPerPartition
    math.min(32768L, math.max(floor.toLong, want)).toInt
  }

  /** Venue-side derivation for one query's shuffled tables: sum the
    * leaf-file bytes (namenode metadata only — no data read) and apply
    * [[shuffleWidthFor]] against the session's configured width. Set
    * by the RUNNER around the action (Bench/ExplainRun), not inside
    * the query builder — `spark.sql.shuffle.partitions` binds when
    * the exchange is PLANNED at action time, so a conf set during
    * DataFrame construction and restored before the action would
    * never bind (and one left set would leak into the next query). */
  def derivedShuffleWidth(spark: SparkSession, sfDir: String,
                          tables: Seq[String]): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet")
      try p.getFileSystem(conf).getContentSummary(p).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
    shuffleWidthFor(bytes, spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  // ---- derived corpus-BUILD width (r14, guide §2: scale-adaptive
  // partitioning — never a constant tuned for local mode or cluster) --

  /** Compressed source bytes one partition of a corpus-scale BUILD
    * shuffle should carry. [[shuffleWidthFor]] solves the opposite
    * problem (WIDEN huge shuffles before a partition's sort thrashes);
    * this one NARROWS tiny ones: below ~1 MB of source bytes per
    * partition the per-task fixed overhead (task-binary deserialization
    * of multi-MB serialized stages, store/agg init, scheduler latency)
    * dwarfs the data work. Measured (r14, sf0.1's 594 KB corpus): the
    * x09e gram-pair build ran 467 s of task CPU and 29.2 s wall at the
    * session width 32 vs 71 s CPU / 16.5 s wall at width 4 — 6.5× the
    * CPU was pure per-partition overhead; x09d likewise 12.1 → 8.2 s.
    * 512 KB/partition keeps the in-flight exploded gram mass (~10×
    * source) in the single-digit-MB range per task — small enough to
    * stay cache-resident, large enough that task overhead amortizes. */
  private[graft] val CorpusBuildBytesPerPartition = 512L << 10

  /** width = clamp(ceil(bytes / [[CorpusBuildBytesPerPartition]]),
    * 4, session width). The CAP is the deployment's configured width —
    * the derivation only ever NARROWS, and only while the corpus is
    * small enough that narrow is right (59 MB of documents already
    * saturates a 32-wide session; at 100 TB the cap always wins, so
    * production parallelism is never reduced). Pure, spec-pinnable. */
  private[graft] def corpusWidthFor(bytes: Long, cap: Int): Int = {
    val want = (bytes + CorpusBuildBytesPerPartition - 1) /
      CorpusBuildBytesPerPartition
    math.min(cap.toLong, math.max(4L, want)).toInt
  }

  /** [[corpusWidthFor]] over the leaf-file bytes of `tables` (fs
    * metadata only — no data read, no job). */
  def corpusBuildWidth(spark: SparkSession, sfDir: String,
                       tables: Seq[String] = Seq("documents")): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet")
      try p.getFileSystem(conf).getContentSummary(p).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
    corpusWidthFor(bytes,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** Scope `spark.sql.shuffle.partitions` to `width` around `f` —
    * used INSIDE memoized build bodies, where the build's own actions
    * (count / localCheckpoint / index write) run, so the conf binds at
    * exchange-planning time and is restored before the caller's query
    * plans anything. Restores on all exits. */
  def withShuffleWidth[T](spark: SparkSession, width: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    try f finally spark.conf.set(key, was)
  }

  /** [[withShuffleWidth]] plus SCAN-width alignment: also scope
    * `spark.sql.files.maxPartitionBytes` to `srcBytes / width` (floored
    * at 64 KB) so the build's SOURCE SCAN runs at ~`width` tasks too.
    * Needed because compressed bytes are a terrible proxy for the
    * compute a columnar scan feeds: the replicated embeddings table
    * compresses ~80× (200k × 64-float vectors = 5 MB of parquet at
    * sf10), so the default split size handed the ~630 µs/row LSH sign
    * projection to ONE task — measured r14: the x09f bucket build ran
    * a 126 s single-task stage at sf10 while the rest of the box sat
    * idle; split-aligned it runs at the derived width. Restores both
    * confs on all exits. */
  def withBuildScope[T](spark: SparkSession, width: Int,
                        srcBytes: Long)(f: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val was = spark.conf.get(key)
    val split = math.max(64L << 10, srcBytes / math.max(1, width))
    spark.conf.set(key, split.toString)
    try withShuffleWidth(spark, width)(f)
    finally spark.conf.set(key, was)
  }

  /** Maximum achievable parquet SCAN parallelism for the table at
    * `dir`, capped at `atMost`: parquet scans split at ROW-GROUP
    * granularity (a row group is assigned to the split holding its
    * midpoint), so however small the split size, a table with R row
    * groups runs at most R scan tasks. Metadata-only: ≥`atMost` leaf
    * files short-circuits without opening anything (each file holds ≥1
    * row group — the only case that can be narrow is a few-file
    * table, exactly when the footer walk is cheap); otherwise the
    * footers are read (no data pages) with early exit at `atMost`.
    * Returns 0 for a missing/empty table. */
  def scanParallelism(spark: SparkSession, dir: String, atMost: Int): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val files =
      try p.getFileSystem(conf).listStatus(p).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      catch { case _: java.io.FileNotFoundException => return 0 }
    // No file-count short-circuit (ADVICE r14): zero-row parquet files
    // (empty write partitions) hold zero row groups, so counting files
    // would overstate achievable parallelism and let widenedForBuild
    // skip a needed repartition. The early exit at `atMost` still
    // bounds the walk to ~atMost footer opens on any populated table.
    var total = 0
    val it = files.iterator
    while (it.hasNext && total < atMost) {
      val f = it.next()
      val in = openFooter(conf, f)
      try total += in.getRowGroups.size()
      finally in.close()
    }
    math.min(total, atMost)
  }

  /** Open `file`'s parquet footer with read options built from `conf`.
    * The one-argument `ParquetFileReader.open` builds its options from
    * a fresh Hadoop `Configuration` per call (measured ~7 ms on a
    * 4-vCPU VM, against ~0.25 ms with the options passed) — every
    * footer walk goes through here. */
  private[graft] def openFooter(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.FileStatus,
      filter: org.apache.parquet.format.converter.ParquetMetadataConverter
        .MetadataFilter =
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      : org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, file.getPath)
        .withMetadataFilter(filter).build())

  /** The data files of the parquet at `path` — the file itself, or the
    * directory's files under Spark's hidden-file rule (`_SUCCESS`,
    * `.crc` and friends are not data), by name. None when Spark's own
    * inference must decide: a missing path, no data file, or a
    * subdirectory (partition discovery). */
  private def flatDataFiles(spark: SparkSession, path: String)
      : Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val listed =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => return None }
    val data = listed.filter { f =>
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
    if (data.isEmpty || data.exists(_.isDirectory)) None else Some(data)
  }

  /** The schema `spark.read.parquet` infers for a file set whose first
    * data file is `file`: that file's footer, read in-process (no
    * schema-inference job), through Spark's own footer rule — the
    * schema a Spark writer embedded, else the converted parquet schema
    * under the session's conf (`nanosAsLong`, `binaryAsString`, …) —
    * made nullable, as Spark's file source makes it. */
  private[graft] def footerSchema(spark: SparkSession,
      file: org.apache.hadoop.fs.FileStatus)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val reader = openFooter(spark.sparkContext.hadoopConfiguration, file,
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    val schema =
      try ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(file.getPath, reader.getFooter),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      finally reader.close()
    nullable(schema)
  }

  /** `schema` nullable throughout, as Spark's file source reads it. */
  private[graft] def nullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def of(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = of(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(of(a.elementType), true)
      case m: MapType => MapType(of(m.keyType), of(m.valueType), true)
      case other => other
    }
    of(schema).asInstanceOf[StructType]
  }

  /** [[footerSchema]] of the parquet at `path` (a file or a directory
    * of part files); Spark's own inference where [[flatDataFiles]]
    * defers to it. */
  private[graft] def footerSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    flatDataFiles(spark, path) match {
      case Some(files) => footerSchema(spark, files.head)
      case None => spark.read.parquet(path).schema
    }

  /** `spark.read.parquet(paths: _*)` for metadata-sized parquet
    * (snapshot bloom and deletion-vector payloads) without the two
    * Spark jobs that read costs — schema inference and the collect.
    * The schema comes from the first data file's footer
    * ([[footerSchema]]). When the files total at most one split
    * (`spark.sql.files.maxPartitionBytes`, the rule [[PartitionCache]]
    * sizes by), Spark's own parquet reader reads them on the driver
    * into a local relation: Catalyst folds filters and projections into
    * it and `collect` runs no job. Larger inputs keep the distributed
    * scan, with the declared schema. */
  private[graft] def readParquet(spark: SparkSession, paths: String*): DataFrame = {
    val listed = paths.map(flatDataFiles(spark, _))
    if (listed.exists(_.isEmpty)) spark.read.parquet(paths: _*)
    else {
      val files = listed.flatten.flatten
      val schema = footerSchema(spark, files.head)
      if (files.map(_.getLen).sum > spark.sessionState.conf.filesMaxPartitionBytes)
        spark.read.schema(schema).parquet(paths: _*)
      else readOnDriver(spark, schema, files)
    }
  }

  /** The rows of `files` ([[driverRows]], `deleted` as there) as a
    * local relation of `schema`, on a session with
    * [[graft.plans.DriverEval]] installed: the driver read of
    * [[readParquet]] and of the snapshot's pruned and point reads. */
  private[graft] def readOnDriver(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[org.apache.hadoop.fs.FileStatus],
      deleted: Seq[Long => Boolean] = Nil): DataFrame = {
    // the converter copies every value out of the reader's reused row
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    val rows = driverRows(spark, schema, files, deleted)
    val read =
      try rows.map(toRow(_).asInstanceOf[org.apache.spark.sql.Row]).toList
      finally rows.close()
    graft.plans.DriverEval.localFrame(spark, read, schema)
  }

  /** The rows of `files`, file after file, read on the driver by
    * Spark's own parquet reader as `schema` (a file without one of its
    * columns reads NULL there), leaving out each row whose position in
    * its file (`_metadata.row_index`: every row group is read, in
    * order) `deleted(i)` holds for `files(i)`; with `deleted` empty,
    * none is left out. Lazy: a file is opened when the
    * iterator reaches it, so a file that does not decode fails in
    * `hasNext`/`next`. The iterator reuses its row: copy what must
    * outlive the next call. A file read to its end is closed; a caller
    * that stops early, by choice or by a failure, must `close` the
    * iterator, as the driver has no task whose end would close it.
    *
    * The reader is Spark's DSv2 parquet row reader, given
    * [[driverReaderConf]] in a [[DriverOnly]] broadcast: a scan
    * broadcasts its conf to the executors, a driver read has none. */
  private[graft] def driverRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[org.apache.hadoop.fs.FileStatus],
      deleted: Seq[Long => Boolean] = Nil)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] with java.io.Closeable = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.PartitionedFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
    val sqlConf = spark.sessionState.conf
    val factory = ParquetPartitionReaderFactory(sqlConf,
      new DriverOnly(driverReaderConf(spark, schema)),
      schema, schema, new org.apache.spark.sql.types.StructType(),
      Array.empty, None, new ParquetOptions(Map.empty[String, String], sqlConf))
    val kept: Long => Boolean = _ => false
    new Iterator[InternalRow] with java.io.Closeable {
      private var pending = files.iterator.zipAll(deleted, null, kept)
      private var reader: org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = null
      private var skip = kept
      private var position = -1L
      private var ready = false
      def hasNext: Boolean = {
        while (!ready && (reader != null || pending.hasNext)) {
          if (reader == null) {
            val (f, d) = pending.next()
            reader = factory.buildReader(PartitionedFile(InternalRow.empty,
              org.apache.spark.paths.SparkPath.fromPath(f.getPath),
              0L, f.getLen, Array.empty, f.getModificationTime, f.getLen))
            skip = d
            position = -1L
          }
          ready = reader.next()
          if (!ready) closeReader()
          else { position += 1; ready = !skip(position) }
        }
        ready
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("no more rows")
        ready = false
        reader.get()
      }
      private def closeReader(): Unit =
        if (reader != null) { val r = reader; reader = null; r.close() }
      def close(): Unit = { pending = Iterator.empty; closeReader() }
    }
  }

  /** The Hadoop conf `ParquetScan.createReaderFactory` (Spark 4.1.2)
    * hands its reader to read `schema`, taken from the session at each
    * call: the read support, the requested and row schemas, the session
    * time zone and the schema converter's flags. `LayoutSpec` holds it
    * equal to the scan's own. */
  private[graft] def driverReaderConf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.hadoop.conf.Configuration = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    val json = schema.json
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    Seq(
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> sqlConf.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> sqlConf.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> sqlConf.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sqlConf.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> sqlConf.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sqlConf.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        sqlConf.parquetReaderRespectUnknownTypeAnnotation
    ).foreach { case (entry, on) => conf.setBoolean(entry.key, on) }
    conf
  }

  /** `conf` as the broadcast Spark's reader takes, read only in the JVM
    * that made it: no block-manager copy to write, fetch or clean up. */
  private final class DriverOnly(conf: org.apache.hadoop.conf.Configuration)
      extends org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration](-1L) {
    private val wrapped = new org.apache.spark.util.SerializableConfiguration(conf)
    override protected def getValue() = wrapped
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }

  /** Exact row count of a parquet directory from FOOTERS — metadata
    * only, no data pages, no job. Identical to `df.count()` on the
    * unfiltered table (parquet row counts are exact), so sizing passes
    * that only need the cardinality of a base table pay O(files)
    * driver metadata instead of a full count job per venue (guide
    * §1.2: don't compute things you throw away — at 100 TB the count
    * pass is a full scan). Missing directory → 0. */
  def footerRowCount(spark: SparkSession, dir: String): Long =
    footerCountAndMax(spark, dir, Nil)._1

  /** Exact total row count of an EXPLICIT parquet file list from
    * footers (metadata only, no job) — the manifest-count primitive:
    * a snapshot version's live files are named by its manifest, not
    * co-located in one directory. */
  def footerRowCountOfFiles(spark: SparkSession,
                            paths: Seq[String]): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val reader = openFooter(conf, p.getFileSystem(conf).getFileStatus(p))
      try reader.getRowGroups.asScala.map(_.getRowCount).sum
      finally reader.close()
    }.sum
  }

  /** Exact max of a plain INT32/INT64 column from footer statistics,
    * or None when any populated row group lacks an exact stat (caller
    * falls back to the aggregate job). Matches `max(col)` exactly —
    * parquet integer statistics are never truncated. */
  def footerMaxLong(spark: SparkSession, dir: String,
                    column: String): Option[Long] =
    footerCountAndMax(spark, dir, Seq(column))._2(column)

  /** [[footerCountAndMinMax]] projected to the max — the shape most
    * delete-bound/range-cut venues want. */
  def footerCountAndMax(spark: SparkSession, dir: String,
                        cols: Seq[String])
      : (Long, Map[String, Option[Long]]) = {
    val (rows, mm) = footerCountAndMinMax(spark, dir, cols)
    (rows, mm.map { case (c, v) => c -> v.map(_._2) })
  }

  /** Combined footer probe — ONE footer open per file (ADVICE r14: the
    * count/max pairs every commit venue runs used to open each footer
    * up to 5×): exact total row count plus, per requested column, the
    * exact (min, max) of a plain INT32/INT64 column from footer
    * statistics. A column maps to None when it is missing,
    * non-plain-integer, or any populated row group lacks an exact
    * non-null stat — the caller falls back to the aggregate job for
    * THAT column; the row count is always exact (parquet file
    * metadata, never absent). Missing directory → (0, all None). */
  def footerCountAndMinMax(spark: SparkSession, dir: String,
                           cols: Seq[String])
      : (Long, Map[String, Option[(Long, Long)]]) = {
    import scala.jdk.CollectionConverters._
    val p = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val files =
      try p.getFileSystem(conf).listStatus(p).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      catch { case _: java.io.FileNotFoundException =>
        return (0L, cols.map(_ -> None).toMap) }
    var rows = 0L
    // per column: unusable (permanently None), else running (seen, lo, hi)
    val unusable = scala.collection.mutable.Set.empty[String]
    val seen = scala.collection.mutable.Set.empty[String]
    val lo = scala.collection.mutable.Map.empty[String, Long]
    val hi = scala.collection.mutable.Map.empty[String, Long]
    files.foreach { st =>
      val reader = openFooter(conf, st)
      try {
        val schema = reader.getFileMetaData.getSchema
        val groups = reader.getRowGroups.asScala
        rows += groups.map(_.getRowCount).sum
        val live = cols.filterNot(unusable.contains)
        live.foreach { column =>
          def markUnusable(): Unit = unusable += column
          if (!schema.containsField(column)) markUnusable()
          else {
            val t = schema.getType(Seq(column): _*)
            val plain = t.isPrimitive && {
              val ann = t.asPrimitiveType().getLogicalTypeAnnotation
              ann == null || (ann match {
                case i: org.apache.parquet.schema.LogicalTypeAnnotation
                      .IntLogicalTypeAnnotation =>
                  i.isSigned && (i.getBitWidth == 32 || i.getBitWidth == 64)
                case _ => false
              })
            }
            if (!plain) markUnusable()
            else {
              val it = groups.iterator
              var ok = true
              while (ok && it.hasNext) {
                val b = it.next()
                if (b.getRowCount > 0) {
                  b.getColumns.asScala
                    .find(_.getPath.toDotString == column) match {
                    case None => ok = false
                    case Some(chunk) =>
                      val s = chunk.getStatistics
                      def asLong(v: Any): Option[Long] = v match {
                        case l: java.lang.Long => Some(l.longValue)
                        case i: java.lang.Integer => Some(i.intValue.toLong)
                        case _ => None
                      }
                      if (s == null || s.isEmpty) ok = false
                      else if (s.hasNonNullValue)
                        (asLong(s.genericGetMin), asLong(s.genericGetMax)) match {
                          case (Some(mn), Some(mx)) =>
                            if (!seen(column)) {
                              lo(column) = mn; hi(column) = mx
                            } else {
                              if (mn < lo(column)) lo(column) = mn
                              if (mx > hi(column)) hi(column) = mx
                            }
                            seen += column
                          case _ => ok = false
                        }
                      else if (s.getNumNulls < b.getRowCount) ok = false
                  }
                }
              }
              if (!ok) markUnusable()
            }
          }
        }
      } finally reader.close()
    }
    val bounds = cols.map { c =>
      c -> (if (!unusable(c) && seen(c)) Some((lo(c), hi(c))) else None)
    }.toMap
    (rows, bounds)
  }

  /** Leaf-file bytes of `$sfDir/$table.parquet` (fs metadata only). */
  private[operators] def tableBytes(spark: SparkSession, sfDir: String,
                                    table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }
}
