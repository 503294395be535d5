package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only fixture scaler (test scope, not product surface): derive an
  * N× copy of a driver fixture dir for scale soaks — the committed,
  * reproducible form of the round-5 ad-hoc derivations (BENCH_NOTES).
  *
  *   sbt "Test/runMain graft.ScaleFixtures <srcDir> <dstDir> [mult]"
  *
  * Derivation rules, per table:
  *  - `region`/`nation` copy unchanged (fixed-size dimensions, as in
  *    TPC-H itself — scale factor never grows them).
  *  - Keyed tables replicate `mult`× with every key column shifted by
  *    `replica * 1e9`, the SAME shift on both sides of every FK
  *    (orders.o_custkey moves with customer.c_custkey, lineitem's three
  *    FKs with their parents), so join fan-outs are preserved exactly:
  *    each replica is a self-contained TPC-H-ish world and the join
  *    graph grows linearly, never cross-replica.
  *  - `documents` maps each replica's tokens through a ROTATED copy of
  *    the (closed, 31-token) vocabulary — vocab stays closed, per-token
  *    df grows ~mult×, planted near-dup pairs survive inside each
  *    replica (the round-5 dedup-soak derivation, BENCH_NOTES); n_chars
  *    is recomputed from the rotated text.
  *  - `embeddings` rotates each replica's vector left by `replica`
  *    positions — norms preserved, directions decorrelated, so cosine
  *    structure grows linearly instead of collapsing onto 10× exact
  *    clones.
  *  - `events.ts` is carried in its physical fixture type (int64 nanos
  *    under `nanosAsLong` for the ns generation; µs NTZ for the newer
  *    one — `sources.Tables.normalizeTs` reads both); timestamps are
  *    kept so time-window populations grow mult× (denser streams, the
  *    realistic scale direction for an event feed).
  */
object ScaleFixtures {
  /** Replica key shift. Derived from the SOURCE's own key range, not a
    * constant: chaining derivations (sf0.1 → sf1 → sf10) with a FIXED
    * stride collides replica keys (`k + (r1+r2)·stride`, binomially
    * weighted), which fans every FK join out ~mult× and collapses
    * distinct-key counts — measured +84% probe-normalized on the sf10
    * full surface vs the one-hop fixture before this derivation
    * (BENCH_NOTES r11). The stride is the smallest power of 10 above
    * every shifted key column's max, floored at 1e9 so a one-hop
    * derivation reproduces the historical fixtures bit-for-bit. */
  private var Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.util.LocalSession(32)
    // the ns-generation fixtures carry events.ts as int64 nanos
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    // THE single source of truth for which key columns shift, consumed
    // by BOTH the stride derivation and the replicate calls below — a
    // column added to one list but not the other would silently
    // reintroduce the replica-key collision the stride fix closed
    // (+84% probe inflation class, BENCH_NOTES r11)
    val shiftCols: Seq[(String, Seq[String])] = Seq(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    def shiftsOf(t: String): Seq[String] =
      shiftCols.find(_._1 == t).get._2

    // One GLOBAL stride for every shifted key column (FK consistency:
    // orders.o_custkey must move exactly with customer.c_custkey), a
    // metadata-cheap max over the key columns of the source
    val maxKey = shiftCols.flatMap { case (t, cols) =>
      val row = read(t).select(
        cols.map(c => max(col(c)).cast("long").as(c)): _*).first()
      cols.zipWithIndex.map { case (c, i) =>
        require(!row.isNullAt(i),
          s"$t.$c has a null/empty max — cannot derive a stride from it")
        row.getLong(i)
      }
    }.max
    while (Stride <= maxKey) Stride *= 10L
    println(s"[scale] key stride $Stride (source max key $maxKey)")
    // The fixture layout contract is `<table>.parquet` as a single FILE
    // (TESTDATA.md); the streaming source's pathGlobFilter and any
    // single-file reader depend on it, so write-then-rename rather than
    // leaving a part-file directory. Parquet files are row-group
    // splittable, so a single file still scans in parallel.
    def write(df: DataFrame, name: String): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val tmp = s"$dst/_tmp_$name"
      // Parquet splits at ROW-GROUP granularity: coalesce(1) under the
      // default 128 MB parquet.block.size wrote the whole sf1 lineitem
      // (6M rows / 80 MB) as ONE row group, so every scan-bound soak
      // query ran its scan in ONE task no matter the core count
      // (measured: TPC-H Q18 67.6 s at sf1 on 32 threads). 8 MB row
      // groups match Bench's spark.sql.files.maxPartitionBytes=8m —
      // every 8 MB split owns a row group and the single-file fixture
      // scans in parallel, which is the point of the contract's
      // "row-group splittable" clause.
      //
      // r14 refinement: a FIXED 8 MB group is still one-group-per-file
      // for tables that compress harder than ~mult× (the replicated
      // embeddings table dictionary-compresses ~80×: 200k × 64-float
      // vectors = 5 MB at sf10), and one row group = one scan task no
      // matter the split size — measured: the x09f LSH projection ran
      // a 123 s single-task stage at sf10 with 31 cores idle. Size the
      // group to the table's ESTIMATED OUTPUT bytes (source bytes ×
      // mult) so every fixture file carries ≥~32 row groups, floored
      // at 256 KB (below that, footer/page overhead dominates) and
      // capped at the historical 8 MB.
      val estBytes = {
        val p = new org.apache.hadoop.fs.Path(s"$src/$name.parquet")
        try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength * mult
        catch { case _: java.io.FileNotFoundException => 0L }
      }
      val blockBytes = math.max(256L << 10,
        math.min(8L << 20, estBytes / 32))
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", blockBytes.toString)
        .parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      require(part.length == 1, s"expected one part file, got ${part.toSeq}")
      Files.createDirectories(Paths.get(dst))
      Files.move(Paths.get(part.head), Paths.get(s"$dst/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      // scrub the tmp dir (part file already moved out)
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      println(s"[scale] $name -> $dst/$name.parquet")
    }
    // mult replicas via a tiny crossJoin (broadcast by AQE); keys listed
    // in `shift` move by replica*Stride, everything else is unchanged
    def replicate(df: DataFrame, shift: Seq[String]): DataFrame = {
      val reps = spark.range(0, mult).select(col("id").as("__rep"))
      shift.foldLeft(df.crossJoin(broadcast(reps))) { (d, k) =>
        d.withColumn(k, col(k) + col("__rep") * Stride)
      }.drop("__rep")
    }

    write(read("region"), "region")
    write(read("nation"), "nation")
    for ((t, cols) <- shiftCols
         if t != "documents" && t != "embeddings") // derived below
      write(replicate(read(t), cols), t)

    // documents: rotated-vocabulary replicas. The fixture vocabulary is
    // closed and tiny (31 tokens at sf0.1), so collecting it is a
    // metadata-sized driver read; refuse to run the rotation against an
    // open vocabulary where the broadcast map would not be tiny.
    val vocab = read("documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct()
      .orderBy("tok").collect().map(_.getString(0))
    require(vocab.length <= 10000,
      s"documents vocabulary has ${vocab.length} tokens — rotation " +
        "derivation assumes a closed vocab; use a different derivation")
    val vmap = map(vocab.zipWithIndex.flatMap { case (t, i) =>
      Seq(lit(t), lit(i))
    }: _*)
    val varr = array(vocab.map(lit): _*)
    val v = vocab.length
    val docs = replicate(read("documents"), shiftsOf("documents"))
      .withColumn("__rep",
        ((col("doc_id") / Stride).cast("long")) % lit(Stride))
      .withColumn("text",
        concat_ws(" ", transform(split(col("text"), " "),
          t => when(t === "", t).otherwise(
            element_at(varr,
              (((element_at(vmap, t) + col("__rep")) % v) + 1)
                .cast("int"))))))
      .withColumn("n_chars", length(col("text")))
      .drop("__rep")
    write(docs, "documents")

    // embeddings: left-rotate the vector by replica positions
    val dim = read("embeddings").select(size(col("embedding")))
      .first().getInt(0)
    val emb = replicate(read("embeddings"), shiftsOf("embeddings"))
      .withColumn("__rep",
        (((col("vec_id") / Stride).cast("long")) % lit(Stride))
          .cast("int") % dim)
      .withColumn("embedding",
        concat(slice(col("embedding"), col("__rep") + 1, lit(dim) - col("__rep")),
               slice(col("embedding"), lit(1), col("__rep"))))
      .drop("__rep")
    write(emb, "embeddings")

    spark.stop()
  }
}
