package graft.operators

import graft.functions.VectorOps
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** X10: similarity search and embedding analytics over the `embeddings`
  * table (`ArrayType(FloatType)`, 64-dim), all over int-quantized
  * vectors (see [[VectorOps]]) so every score is exact arithmetic with
  * one final IEEE division — deterministic and replayable in the DuckDB
  * oracle, no RNG state and no float comparisons anywhere.
  *
  * Three plans for "top-k nearest by cosine per query vector":
  *  - [[cosineTopK]] — brute force: broadcast the (small) query set and
  *    score every corpus vector with the fused codegen'd dot. Exact
  *    recall; O(|Q|·N·d), embarrassingly parallel, no shuffle until the
  *    final per-query top-k.
  *  - [[annLsh]] — banded random-hyperplane LSH ([[bandedBuckets]]):
  *    candidates share any (band, bandkey); planes-per-band sizes the
  *    buckets, band count sets multi-probe recall.
  *  - [[ivfTopK]] — inverted-file probing: coarse cells (data-derived
  *    centroids), assignment + nprobe best cells per query.
  * Plus corpus analytics on the same machinery: [[embeddingNearDup]],
  * [[labelCentroids]], [[nearestCentroid]].
  */
object Similarity {
  private val NQueries = 8
  private val Dims = 64

  /** Target expected LSH bucket population for the corpus-level banded
    * ops — in-bucket pairing is quadratic in population, so this is
    * the knob that keeps candidate mass linear in N. */
  private val LshTargetBucket = 64L

  /** Training-sample cap for the staged IVF codebook: Lloyd's
    * iterations run on at most ~this many vectors (deterministic
    * stride sample), so codebook TRAINING cost is bounded by a
    * constant regardless of corpus size — the production discipline
    * for a 100 TB corpus, where the full-corpus pass happens exactly
    * once (the staged ASSIGNMENT, [[stagedIvfIndex]]), never per
    * query and never per Lloyd's iteration. */
  private val TrainSampleCap = 65536L

  /** File-level fingerprint of the embeddings table (name/len/mtime
    * per leaf file — namenode metadata only, no data read). Keys every
    * ANN memo AND the on-disk staged index root, so a fixture whose
    * contents change mid-session re-probes and re-stages instead of
    * silently reusing a stale codebook/assignment (the [[graft.operators.Dedup]]
    * `wideIds` discipline applied to the ANN family). */
  private[operators] def embFingerprint(spark: SparkSession,
                                        sfDir: String): String =
    graft.util.Fingerprint.of(spark, s"$sfDir/embeddings.parquet")

  /** Rows one task of a vector BUILD should own. Vector work is
    * CPU-dense per row (the banded sign projection runs
    * (planes+reserve) fused 64-dim dots ≈ 630 µs/row at the sf10
    * geometry), and the replicated embeddings parquet compresses ~80×,
    * so BYTES-derived widths starve it — width must come from the ROW
    * count (footer metadata via [[corpusN]], no data read). 8k rows ≈
    * 5 s of projection per task at the sf10 geometry. */
  private val VecRowsPerTask = 8192L

  /** Scope a vector-BUILD body to the width the embeddings table
    * actually needs: width = clamp(ceil(n / [[VecRowsPerTask]]), 4,
    * session width), applied to BOTH the shuffles and the source-scan
    * split size ([[Layout.withBuildScope]]). Measured r14 at sf10
    * (200k vectors, 5 MB parquet): the default 8 MB split handed the
    * whole banded projection to one 126 s task; scan-aligned it runs
    * at the derived width. At deployment scale the session width (the
    * cap) always wins — the derivation never narrows big corpora. */
  private def vecBuildWidth(spark: SparkSession, sfDir: String): Int = {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val want = (corpusN(spark, sfDir) + VecRowsPerTask - 1) / VecRowsPerTask
    math.min(cap.toLong, math.max(4L, want)).toInt
  }

  private def vecScoped[T](spark: SparkSession, sfDir: String)
                          (f: => T): T =
    Layout.withBuildScope(spark, vecBuildWidth(spark, sfDir),
      Layout.tableBytes(spark, sfDir, "embeddings"))(f)

  /** Conditionally WIDEN an embeddings-derived relation for a
    * CPU-dense build stage: parquet scans split at row-group
    * granularity, so when the table's row groups are fewer than the
    * derived build width, narrowing the split size cannot help — the
    * projection runs on however many row groups exist while the rest
    * of the box idles (guide §2.5 input skew: "one huge unsplittable
    * file … repartition immediately after the read"). Measured r14 at
    * sf10 BEFORE the fixture row-group fix: the whole 200k-vector
    * banded projection ran as ONE 126 s task; after the fixture fix 3
    * row groups still cap the scan at 3 of the derived 25 tasks. The
    * round-robin repartition moves the compact quantized vectors once
    * (~50 MB at sf10) to unlock the full projection width — and fires
    * ONLY when the metadata probe (memoized per fixture fingerprint)
    * says row groups < width, so at deployment scale (files ≥ width)
    * it is the identity and build plans keep their no-exchange shape. */
  private def widenedForBuild(df: DataFrame, spark: SparkSession,
                              sfDir: String, width: Int): DataFrame = {
    val avail = graft.util.SessionMemo.memoizedValue(spark,
        s"embRg|$sfDir|$width|${embFingerprint(spark, sfDir)}") {
      Layout.scanParallelism(spark, s"$sfDir/embeddings.parquet", width)
    }
    if (avail < width) df.repartition(width) else df
  }

  /** Vector count of the (optionally id-bounded) corpus — one count
    * over the pruned scan, memoized per (fixture, fingerprint, bound).
    * The returned literal seeds [[annGeometry]] on both the Spark and
    * oracle sides, so the derived knobs are plan-time constants. */
  private[graft] def corpusN(spark: SparkSession, sfDir: String,
                             idBound: Long = Long.MaxValue): Long =
    graft.util.SessionMemo.memoizedValue(spark,
        s"annN|$sfDir|$idBound|${embFingerprint(spark, sfDir)}") {
      if (idBound == Long.MaxValue) // unbounded: exact from footers (r14)
        Layout.footerRowCount(spark, s"$sfDir/embeddings.parquet")
      else Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < idBound).select("vec_id").count()
    }

  /** Derived IVF geometry `(sample stride, codebook size k)` from the
    * corpus vector count — both integer functions of `n` that the
    * DuckDB oracle recomputes in SQL, so the derivation itself is part
    * of the certified trajectory:
    *   - `stride = n div 65536 + 1`: the training sample is every
    *     stride-th vec_id, bounding Lloyd's per-iteration cost at
    *     ~[[TrainSampleCap]] × k regardless of corpus size;
    *   - `k = max(8, floor(sqrt(n / 32)))`: the codebook follows √N
    *     (cell population ~5.7·√N stays sub-linear, so probe cost per
    *     query is O(nprobe·√N) instead of O(N·nprobe/const)), floored
    *     at the historical k=8 so oracle-scale fixtures (n ≤ 2592)
    *     keep byte-identical output.
    * The r9 derived-k experiment (BENCH_NOTES postmortem) proved that
    * growing k WITHOUT staging makes things worse — the N×k assignment
    * pass paid per run goes super-linear. Growing k is only safe
    * because [[stagedIvfIndex]] pays that pass once, on disk. */
  private[graft] def annGeometry(n: Long): (Long, Int) = {
    val stride = n / TrainSampleCap + 1L
    val k = math.max(8L, math.floor(math.sqrt(n.toDouble / 32.0)).toLong)
    (stride, k.toInt)
  }

  /** Corpus-derived LSH geometry `(planes, bands)` for the banded ops
    * whose candidate set is corpus×bucket ([[embeddingNearDup]],
    * [[knnJoin]]) — the family's two dials set from data instead of
    * constants. A FIXED band key width turns linear corpus growth into
    * quadratic candidate mass (256 buckets at 200k vectors = 780 per
    * bucket; measured 41×/decade on the ensemble's semantic half), so
    * bits-per-band grows to bound the expected population at
    * ~[[LshTargetBucket]]; the band count rises geometrically with the
    * extra bits to hold ≥-threshold recall roughly constant (per-band
    * collision ≈ p^bits with p = 1 − θ/π ≈ 0.8 at the 0.45-cosine
    * operating point, so each extra bit costs ×0.8 recall ⇒ ×1.25
    * bands). Floors at the documented 8-bit × 2-band geometry — the
    * historical (16, 2) — so oracle-scale fixtures (≤ 16k vectors)
    * keep byte-identical output; caps at 16 bits × 8 bands (the
    * population knee returns ~N/4M per bucket, ample headroom past the
    * soak scales). The probe is one parquet count-star (footer
    * metadata, no data pages), memoized per (session, fixture). */
  private[operators] def derivedLshGeometry(spark: SparkSession,
                                            sfDir: String): (Int, Int) =
    graft.util.SessionMemo.memoizedValue(spark,
        s"lshGeom|$sfDir|${embFingerprint(spark, sfDir)}") {
      val n = corpusN(spark, sfDir)
      val bits = math.min(16, math.max(8,
        math.ceil(math.log(math.max(1L, n).toDouble / LshTargetBucket)
          / math.log(2.0)).toInt))
      val bands = math.min(8, math.max(2,
        math.ceil(2.0 * math.pow(1.25, (bits - 8).toDouble)).toInt))
      (bits * bands, bands)
    }

  /** vec_id, float vector, exact integer squared norm — norm and all
    * pair dots use the fused native [[graft.plans.QuantizedDot]]
    * expression (single codegen'd loop, no intermediate arrays);
    * bit-equal to the HOF quantize/dotQ form (QuantizedDotSpec). */
  private def quantized(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.QuantizedDot.register(spark)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", expr("quantized_dot(embedding, embedding)"))
  }

  private def topkOf(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "vec_id", "cosine")
      .orderBy("query_id", "rnk")
  }

  /** Brute-force exact cosine top-k per query vector (vec_id < 8, k=5). */
  def cosineTopK(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val all = quantized(spark, sfDir)
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"))
    val scored = all.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorOps.cosineFromQ(expr("quantized_dot(q_emb, embedding)"),
          col("q_n2"), col("n2")).as("cosine"))
    topkOf(scored, k)
  }

  /** Banded random-hyperplane LSH signatures: `planes` sign bits split
    * into `bands` band keys of `planes/bands` bits each — one
    * `(vec_id, band, bandkey)` row per band (the same banded-equi-join
    * shape as MinHash-LSH). Candidates are pairs sharing ANY band, so
    * recall and bucket population are tunable independently: more
    * planes per band → smaller buckets (the O(k²) per-bucket scoring
    * shrinks); more bands → multi-probe recall. A single fixed-width
    * bucket (round 1: 8 planes, 1 band = 256 buckets) leaves N/256
    * vectors per bucket at corpus scale — the quadratic blowup the
    * banding removes.
    *
    * The hyperplane weight for (plane j, dim pos) is
    * `r/1000003 - 0.5` with `r = (1103515245*(j*64+pos)+12345) mod
    * 1000003`; the projection sign is evaluated on the integer numerator
    * `sum(qv * (2r - 1000003))` — exact integer arithmetic, replayable
    * in the DuckDB oracle, no RNG state and no float comparisons.
    */
  private[operators] def bandedBuckets(spark: SparkSession, sfDir: String,
                                       planes: Int, bands: Int,
                                       extraBits: Int = 0): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val perBand = planes / bands
    graft.plans.QuantizedDot.register(spark)
    // The hyperplane weights are compile-time constants, so each
    // projection p_j = Σ_pos qv·wnum(j,pos) is ONE fused codegen'd
    // quantized_dot(embedding, <const weight vector>) call — a pure
    // per-row projection. (An earlier revision exploded every vector to
    // 64 (pos, qv) rows and joined a broadcast (j, pos, wnum) relation:
    // N×64×planes intermediate rows plus two shuffled aggregations,
    // all replaced here by per-row arithmetic with no shuffle at all.)
    // Exactness: quantized_dot re-quantizes round(w·1e6), and
    // |wnum| < 1000003 means the float carrier w = wnum/1e6 re-quantizes
    // to exactly wnum (float's 2⁻²⁴ relative error is < 0.06 absolute
    // after ×1e6, far under the 0.5 rounding margin) — so p_j, every
    // band key, and every downstream candidate/cosine are bit-identical
    // to the explicit-join form and to the DuckDB oracle's replay.
    def wvec(j: Int): Array[Float] =
      (1 to Dims).map { pos =>
        val r = (1103515245L * (j.toLong * Dims + pos) + 12345L) % 1000003L
        ((2L * r - 1000003L).toDouble / 1e6).toFloat
      }.toArray
    val pCols = (0 until planes + extraBits).map(j =>
      call_function(graft.plans.QuantizedDot.name,
        col("embedding"), lit(wvec(j))).as(s"p$j"))
    val withP = Tables.embeddings(spark, sfDir)
      .select(col("vec_id") +: pCols: _*)
    val bandStructs = (0 until bands).map { b =>
      val key = (0 until perBand).map { r =>
        val j = b * perBand + r
        when(col(s"p$j") >= 0, lit(1L << r)).otherwise(0L)
      }.reduce(_ + _)
      struct(lit(b.toLong).as("band"), key.as("bandkey"))
    }
    // reserve-plane key for hot-bucket refinement ([[refinedBuckets]]):
    // one extra sign word per vector, computed in the SAME projection
    // pass (planes j ≥ `planes` — deterministic, disjoint hyperplanes)
    val xkey =
      if (extraBits == 0) lit(0L)
      else (0 until extraBits).map { r =>
        when(col(s"p${planes + r}") >= 0, lit(1L << r)).otherwise(0L)
      }.reduce(_ + _)
    withP.select(col("vec_id"), xkey.as("xkey"),
        explode(array(bandStructs: _*)).as("s"))
      .select(col("vec_id"), col("s.band").as("band"),
        col("s.bandkey").as("bandkey"), col("xkey"))
  }

  /** Population cap for one LSH bucket in the corpus-level banded ops,
    * and the reserve-bit budget for splitting buckets above it. The
    * measured fixtures put oracle-scale maxima far below the cap
    * (33/147/1115/7722 at sf0.01/0.1/1/10 under their derived
    * geometries), so refinement is a no-op at oracle scale — output
    * there is byte-identical with or without it. */
  private val LshBucketCap = 256L
  private val LshMaxExtraBits = 16

  /** [[bandedBuckets]] with HOT buckets adaptively split: geometry
    * alone cannot bound bucket population, because real embeddings are
    * direction-skewed — at 200k fixture vectors the 12-bit bands
    * average 53 per bucket but peak at 7 722, and Σpop² (the candidate
    * mass) is ~20× the uniform estimate. Measured, those hot buckets
    * are hash ARTIFACTS, not cosine clusters (true-pair density inside
    * the worst bucket ≈ the global background: 0.04% ≥ 0.45 vs 0.01%),
    * so splitting them loses almost nothing while removing the
    * quadratic hot-bucket term.
    *
    * The split is ITERATIVE, because the one-shot
    * `depth = ⌈log2(pop/cap)⌉` rule under-splits exactly where it
    * matters: skew recurses (the hottest 12-bit bucket's 5-bit sub
    * split left a 3 647-member sub-bucket — reserve-plane signs
    * correlate inside a direction cluster), while the data itself
    * separates fine at full width (max 76-plane sign-pattern
    * multiplicity is 78). Each round re-measures (band, bandkey, sub)
    * populations and splits the still-hot groups by that rule's bit
    * increment from the shared reserve word — monotone progress, at
    * most [[LshMaxExtraBits]] total bits, converging in ≤ 4 rounds on
    * anything short of mass sign-pattern duplication. Pairs in a
    * refined bucket must agree on the sub-key — a recall cost of
    * ~p^depth confined to the artifact buckets. Per round the hot
    * list is ≤ N/cap rows (broadcast side); sub stays 0 for every
    * bucket at or under the cap, so plans and results below the cap
    * are untouched. The FINAL bucket relation (N·bands rows of four
    * longs — the signature table, tiny next to the vectors) is
    * memoized per (session, fixture, geometry): the near-dup, kNN,
    * and ensemble queries share one build, and the candidate
    * self-join's two branches scan the checkpoint instead of
    * replaying projection + refinement. */
  private[operators] def refinedBuckets(spark: SparkSession, sfDir: String,
                                        planes: Int, bands: Int): DataFrame =
    graft.util.SessionMemo.memoized(spark,
        s"lshRefined|$sfDir|$planes|$bands") {
     vecScoped(spark, sfDir) {
      // the projection scan is NOT widened like the IVF builds: a wide
      // build here measured wall-flat at ~4x task CPU, because the
      // scattered checkpoint order costs the payload self-join in
      // embeddingNearDup more than the build saves (OPTIMIZATION_r14 §5)
      var cur = bandedBuckets(spark, sfDir, planes, bands,
          extraBits = LshMaxExtraBits)
        .select(col("vec_id"), col("band"), col("bandkey"), col("xkey"),
          lit(0L).as("sub"), lit(0).as("used"))
        .localCheckpoint()
      var round = 0
      var done = false
      while (round < 4 && !done) {
        // `used` is uniform within a (band, bandkey, sub) group by
        // construction (every member took the same splits), so max()
        // reads the common value
        val hot = cur.groupBy("band", "bandkey", "sub")
          .agg(count(lit(1)).as("pop"), max("used").as("u"))
          .filter(col("pop") > LshBucketCap && col("u") < LshMaxExtraBits)
          // smallest d with pop/2^d ≤ cap (log2 is exact at the power-
          // of-two boundaries), clamped to the remaining bit budget
          .withColumn("inc", least(lit(LshMaxExtraBits) - col("u"),
            ceil(log2(ceil(col("pop").cast(DoubleType) / LshBucketCap)))
              .cast(IntegerType)))
          .select("band", "bandkey", "sub", "inc")
          .localCheckpoint()
        if (hot.isEmpty) done = true
        else {
          cur = cur
            .join(broadcast(hot), Seq("band", "bandkey", "sub"), "left")
            .withColumn("used", when(col("inc").isNull, col("used"))
              .otherwise(col("used") + col("inc")))
            .withColumn("sub", expr("xkey & (shiftleft(1L, used) - 1L)"))
            .drop("inc")
            .localCheckpoint()
          round += 1
        }
      }
      cur.select("vec_id", "band", "bandkey", "sub")
     }
    }

  /** X9/X10: embedding-cosine near-duplicate pairs — ALL pairs sharing
    * any LSH band (not just the query set) scored with the fused dot and
    * thresholded. This is vector-level corpus dedup: at 100 TB the
    * (band, bandkey) key partitions the similarity join so each task
    * scores one bucket's O(k²) pairs instead of the corpus's O(N²) —
    * PROVIDED the bucket count tracks the corpus, which is what the
    * default [[derivedLshGeometry]] guarantees (`planes = 0` = derive;
    * explicit values pin the geometry, as the spec's recall pins do).
    */
  def embeddingNearDup(spark: SparkSession, sfDir: String,
                       threshold: Double = 0.45,
                       planes: Int = 0, bands: Int = 0): DataFrame = {
    val (p, b) = if (planes > 0) (planes, bands)
                 else derivedLshGeometry(spark, sfDir)
    val bk = refinedBuckets(spark, sfDir, p, b)
    // Verify IN the bucket join (r11, the sf100 lesson): the old shape
    // materialized the raw candidate-pair relation — distinct() over
    // every bucket collision, then TWO more candidate-mass shuffles to
    // fetch each side's embedding — so its scratch grew with collision
    // mass, not survivor mass (>60 GB at 2M vectors, exhausted the
    // box). Attaching the embeddings to the bucket relation first
    // costs one bounded shuffle (corpus × bands rows), the fused dot
    // + threshold run INSIDE the join's output pipeline, and only the
    // SURVIVORS reach the dedup shuffle. A pair colliding in k buckets
    // scores k times instead of once — integer codegen'd dots, the
    // cheap side of the trade; the distinct is unchanged because the
    // score is deterministic per pair.
    //
    // The join stays a sort-merge join carrying the payload: a shuffled
    // hash join and an ids-only candidate join with the payloads
    // re-joined afterwards were both measured no better (the latter
    // spilled 15.6 GB at sf10; OPTIMIZATION_r14 §3, BENCH_NOTES r14).
    val all = quantized(spark, sfDir)
    val withEmb = bk.join(all.select(col("vec_id"), col("embedding"),
      col("n2")), "vec_id")
    withEmb.as("x").join(withEmb.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bandkey") === col("y.bandkey") &&
          col("x.sub") === col("y.sub") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        VectorOps.cosineFromQ(
          expr("quantized_dot(x.embedding, y.embedding)"),
          col("x.n2"), col("y.n2")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** X9 semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    * corpus with the learned k-means codebook, then mark as duplicates
    * the members of each cluster whose cosine to a MORE CENTRAL member
    * (higher centroid score; ties to lower vec_id) clears the
    * threshold. Exact pairwise similarity runs only WITHIN a cell, so
    * the join is keyed on the cell id and each task scores one cell's
    * O(m²) pairs — never corpus×corpus. At 100 TB the codebook size k
    * grows with the corpus (the paper uses √N-ish k), holding m = N/k
    * bounded, and the codebook itself stays a broadcast-sized k×dims
    * relation trained on a sample — both plans are exactly the shapes
    * below. The drop rule is declarative (a member is dropped iff ANY
    * more-central member is within τ — the upper-triangular max of the
    * paper), so there is no sequential greedy state and the result is
    * independent of partitioning.
    *
    * All similarity arithmetic is the exact quantized-integer core
    * ([[graft.functions.VectorOps]]); the only floats are the trailing
    * IEEE cosine divisions, so the full trajectory — k-means cells,
    * assignment, centrality ranks, pair cosines, kept flags — replays
    * bit-for-bit in the DuckDB oracle (k-means iterations unrolled as
    * CTEs). Returns (vec_id, cell, kept 1/0) for every vector.
    */
  def semanticDedup(spark: SparkSession, sfDir: String,
                    threshold: Double = 0.45,
                    k: Int = 0, iters: Int = 2): DataFrame = {
    // assignment with the winning score retained (the score doubles as
    // the centrality measure — higher = closer to its centroid). The
    // default path reads it straight from the staged index — SemDeDup's
    // corpus-scale N×k pass is index maintenance, not query cost; an
    // explicit k>0 (soak drivers sweeping codebook size) trains and
    // assigns inline at that size.
    val assign =
      if (k > 0)
        assignToCellsScored(
          Tables.embeddings(spark, sfDir).select("vec_id", "embedding"),
          kmeansSums(spark, sfDir, iters, kOverride = k))
      else stagedIvfIndex(spark, sfDir).assign
    val wc = Window.partitionBy("cell").orderBy(desc("cellscore"), asc("vec_id"))
    val ranked = assign.withColumn("crnk", row_number().over(wc))
    val members = ranked.join(quantized(spark, sfDir), "vec_id")
    // within-cell upper-triangular pair scoring: shuffle keyed on cell
    val dropped = members.as("x").join(members.as("y"),
        col("x.cell") === col("y.cell") && col("x.crnk") < col("y.crnk"))
      .select(col("y.vec_id").as("vec_id"),
        VectorOps.cosineFromQ(expr("quantized_dot(x.embedding, y.embedding)"),
          col("x.n2"), col("y.n2")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select("vec_id").distinct()
    ranked.join(dropped.withColumn("isdup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("isdup").isNull, 1).otherwise(0).as("kept"))
      .orderBy("vec_id")
  }

  /** Per-label (count, element-wise quantized sum-vector) — ONE
    * hash aggregate keyed on label, accumulating each vector into a
    * `dims`-long buffer via [[graft.plans.VecSumAgg]]. Partials combine
    * map-side, so at 100 TB the shuffle carries `labels × dims` longs
    * total — the vectors themselves never leave their input partition.
    * (Replaces a posexplode into `N × dims` rows + a (label, pos)
    * shuffle: same exact integers, 3-4× less work at sf0.1.) */
  private def centroidSums(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.VecSumAgg.register(spark)
    Tables.embeddings(spark, sfDir)
      .select(col("label"), VectorOps.quantizeFast(col("embedding")).as("qv"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), expr("vec_sum(qv)").as("sums"))
  }

  /** Per-class embedding centroids (class prototypes) — the embedding
    * aggregation a curation pipeline runs constantly (cluster summaries,
    * label prototypes for nearest-centroid classification, drift
    * checks). Exact integer accumulation over the quantized vectors
    * ([[centroidSums]]); the only float op is the final dequantizing
    * division, in a pinned order so DuckDB replays it bit-for-bit. The
    * posexplode here unrolls `labels × dims` SUMMED rows (tiny), not the
    * corpus.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    centroidSums(spark, sfDir)
      .select(col("label"), col("n_vecs"),
        posexplode(col("sums")).as(Seq("pos0", "sum_q")))
      .select(col("label"), (col("pos0") + 1).cast(LongType).as("pos"),
        col("n_vecs"),
        (col("sum_q").cast(DoubleType) / col("n_vecs") / 1e6).as("centroid"))
      .orderBy("label", "pos")

  /** Nearest-centroid classification + confusion matrix — the
    * auto-labeling/drift-check loop a curation pipeline closes with
    * [[labelCentroids]]: every vector is assigned the label whose
    * centroid maximizes the mean dot product, and assignments are
    * aggregated against the true labels. Scoring is exact integer
    * arithmetic (vector · centroid-numerator) with ONE double division
    * at the end, and a deterministic label tiebreak — so the argmax is
    * engine-stable. Scale shape: the centroid relation is labels × dims
    * (tiny → broadcast); the corpus side streams through one keyed
    * aggregate per (vector, label) — no shuffle of the vectors
    * themselves beyond the scoring aggregate.
    */
  def nearestCentroid(spark: SparkSession, sfDir: String): DataFrame = {
    // per-row argmax over the plan-embedded centroids — the old
    // corpus×labels row_number window SHUFFLED the whole N×k scored
    // fan-out on vec_id just to keep rank 1 (the same physical-shape
    // class as the assignment plane, BENCH_NOTES r13); the argmax
    // tiebreak (score desc, cell asc) matches the window order, so
    // the confusion matrix is bit-identical
    val assign = assignToCellsScored(
      Tables.embeddings(spark, sfDir).select("vec_id", "embedding"),
      centroidCells(spark, sfDir))
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").as("true_label"))
    assign
      .join(labels, "vec_id")
      .groupBy(col("true_label"), col("cell").as("predicted_label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("true_label", "predicted_label")
  }

  /** Mean-dot score of every vector against every coarse cell (the
    * label centroids acting as IVF cells): exact integer numerator, one
    * double division — shared by [[ivfTopK]]'s assignment and probe
    * sides. Shape: the summed-centroid relation is `labels` rows
    * ([[centroidSums]] — broadcast), scoring is a per-row exact long-dot
    * against each cell's sum-vector with NO shuffle at all (the old form
    * exploded the corpus to `N × dims` rows, joined on pos, and
    * re-aggregated). Overflow headroom: `qv·s ≤ 1e6 · (n_vecs·1e6)`, so
    * a 64-dim dot stays under 2^63 up to ~10^5 vectors per label —
    * beyond that, pre-divide the centroid numerator once (the division
    * is then no longer a single trailing op, so re-pin the oracle).
    */
  /** The IVF prune: assign every vector to its best cell, probe each
    * query's `nprobe` best cells, and return the `(query_id, vec_id)`
    * candidate pairs — materialized (tiny) with lineage cut so the
    * N-vectors × N-cells score relation is released immediately
    * instead of staying cached for the session lifetime. Shared by the
    * exact-rescore [[ivfTopK]] and the ADC-rescore [[ivfPqTopK]]. */
  private def ivfCandidates(spark: SparkSession, sfDir: String,
                            nprobe: Int,
                            cells: Option[DataFrame]): DataFrame = {
    val cent = cells.getOrElse(centroidCells(spark, sfDir))
    // corpus assignment: the map-only CellArgmax plane (shared with
    // the staged build) — the old form materialized + cached the
    // corpus×k scored relation and max_by(struct)-aggregated it (the
    // SortAggregate shape, BENCH_NOTES r13); the argmax tiebreak
    // (score desc, cell asc) equals the oracle's ROW_NUMBER() = 1 row
    val assign = assignToCellsScored(
      Tables.embeddings(spark, sfDir).select("vec_id", "embedding"), cent)
      .select("vec_id", "cell")
    // probe ranking needs top-NPROBE (not just the argmax) but only
    // for the bounded query set — scored live (|Q| × k rows), the same
    // slice discipline as the staged-index probe path
    val w = Window.partitionBy("vec_id").orderBy(desc("cellscore"), asc("cell"))
    val probes = cellScores(spark, sfDir, cent)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    broadcast(probes).join(assign, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id")).distinct()
      .localCheckpoint()
  }

  /** The label centroids in the (cell, n, s) codebook shape. */
  private def centroidCells(spark: SparkSession, sfDir: String): DataFrame =
    centroidSums(spark, sfDir)
      .select(col("label").as("cell"), col("n_vecs").as("n"),
        col("sums").as("s"))

  /** Mean-dot cell scores for the bounded QUERY slice only (|Q| × k
    * rows — the probe side's live scoring; the corpus side goes
    * through [[assignToCellsScored]]'s map-only argmax). */
  private def cellScores(spark: SparkSession, sfDir: String,
                         cent: DataFrame): DataFrame =
    Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id"), VectorOps.quantizeFast(col("embedding")).as("qv"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cell"),
        (VectorOps.ldotQ(col("qv"), col("s")).cast(DoubleType) / col("n"))
          .as("cellscore"))

  /** IVF-style approximate top-k: the corpus is coarsely quantized into
    * cells (default: the label centroids — deterministic and
    * data-derived; pass `cells = Some(kmeansSums(...))` for the LEARNED
    * codebook, which has the identical (cell, n, sum-vector) shape),
    * every vector is ASSIGNED to its best cell, and a query probes only
    * its `nprobe` best cells — so exact scoring touches `nprobe/cells`
    * of the corpus instead of all of it. This is the inverted-file
    * complement to [[annLsh]]: LSH buckets by random projection, IVF by
    * learned/derived structure. The cell relation is tiny and
    * broadcasts; the probe join is keyed on the cell id.
    */
  def ivfTopK(spark: SparkSession, sfDir: String, k: Int = 3,
              nprobe: Int = 2,
              cells: Option[DataFrame] = None): DataFrame =
    exactRescore(spark, sfDir, ivfCandidates(spark, sfDir, nprobe, cells), k)

  /** Exact-cosine rescore of a `(query_id, vec_id)` candidate relation
    * + per-query top-k — the shared tail of every IVF variant. */
  private def exactRescore(spark: SparkSession, sfDir: String,
                           cand: DataFrame, k: Int): DataFrame = {
    val all = quantized(spark, sfDir)
    val scored = cand
      .join(broadcast(all.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("n2").as("q_n2"))), "query_id")
      .join(all, "vec_id")
      .select(col("query_id"), col("vec_id"),
        VectorOps.cosineFromQ(expr("quantized_dot(q_emb, embedding)"),
          col("q_n2"), col("n2")).as("cosine"))
    topkOf(scored, k)
  }

  /** x10e2: IVF top-k over the LEARNED codebook, probe-only — the
    * assignment side reads the staged index ([[stagedIvfIndex]])
    * instead of re-scoring the corpus against the cells; only the
    * bounded query set is scored live (|Q| × k dots + a |Q|·k-row
    * window). At 100 TB the per-query work is the nprobe best cells'
    * populations (~nprobe·5.7·√N rows via the cell-keyed join), with
    * the corpus-scale N×k pass amortized into index maintenance. */
  def ivfTopKLearned(spark: SparkSession, sfDir: String, k: Int = 3,
                     nprobe: Int = 2): DataFrame =
    exactRescore(spark, sfDir, ivfLearnedCandidates(spark, sfDir, nprobe), k)

  /** Candidate pairs from the staged index: score the bounded query
    * set against the broadcast codebook, take each query's `nprobe`
    * best cells, and join against the persisted assignment on the cell
    * key. Byte-equal to the inline [[ivfCandidates]] over the same
    * codebook (cell scores are per-(vector, cell) independent, so
    * scoring ONLY the queries changes nothing). */
  private def ivfLearnedCandidates(spark: SparkSession, sfDir: String,
                                   nprobe: Int): DataFrame = {
    val idx = stagedIvfIndex(spark, sfDir)
    val probeScores = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id"), VectorOps.quantizeFast(col("embedding")).as("qv"))
      .crossJoin(broadcast(idx.cells))
      .select(col("vec_id"), col("cell"),
        (VectorOps.ldotQ(col("qv"), col("s")).cast(DoubleType) / col("n"))
          .as("cellscore"))
    val w = Window.partitionBy("vec_id").orderBy(desc("cellscore"), asc("cell"))
    val probes = probeScores.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    broadcast(probes).join(idx.assign.select("vec_id", "cell"), "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id")).distinct()
  }

  /** Learned IVF codebook: Lloyd's k-means over the quantized vectors,
    * a FIXED number of iterations with deterministic, data-derived
    * initialization (the k lowest vec_ids as singleton seeds) — the
    * production coarse quantizer for [[ivfTopK]], replacing the label
    * centroids stand-in. Every iteration is the same two shapes the IVF
    * machinery already runs: score = broadcast long-dot of each vector
    * against each cell's (count, sum-vector) with ONE trailing IEEE
    * division, argmax by (score desc, cell asc) — then cells rebuild as
    * one `vec_sum` aggregate. Cells that lose every member drop
    * (deterministically) rather than being re-seeded. All arithmetic
    * before the division is exact 64-bit integers, the division's
    * operands convert to double identically in any IEEE engine, and the
    * tiebreak is total — so the whole trajectory, not just the final
    * centroids, replays bit-for-bit in the DuckDB oracle (iterations
    * unrolled as CTEs).
    *
    * Scale shape per iteration: the cell relation is `k × dims` longs
    * (broadcast); scoring is shuffle-free per-row arithmetic; the
    * rebuild is one map-side-combined aggregate shuffling `k × dims`
    * longs. A 100 TB corpus runs this on a sample for the codebook,
    * then one final assignment pass — both are these exact plans.
    * (Production k-means++ seeding slots into the init frame; the fixed
    * low-id seed keeps the fixture oracle-replayable.)
    */
  /** The k-means codebook as a (cell, n, sum-vector) relation — the
    * same shape [[centroidSums]] produces from labels, so either slots
    * into [[cellScores]]/[[ivfTopK]] unchanged. Memoized per (session,
    * fixture, params): the certification query (x10g) and the learned
    * IVF probe (x10e2) share one trained codebook — k × dims longs —
    * instead of each replaying the Lloyd's iterations. */
  private[graft] def kmeansSums(spark: SparkSession, sfDir: String,
                                iters: Int = 2,
                                idBound: Long = Long.MaxValue,
                                kOverride: Int = 0): DataFrame =
    graft.util.SessionMemo.memoized(spark,
      s"kmeansSums|$sfDir|$iters|$idBound|$kOverride|" +
        embFingerprint(spark, sfDir)) {
      vecScoped(spark, sfDir) {
        kmeansSumsBuild(spark, sfDir, iters, idBound, kOverride)
      }
    }

  /** The un-memoized trainer (the determinism spec replays it).
    * `idBound` restricts training to `vec_id < idBound` — a pushed-down
    * range predicate, used by [[incrementalIvfAssign]] to train on the
    * historical corpus only. Geometry (sample stride, k) is derived
    * from the trained population via [[annGeometry]] unless
    * `kOverride > 0` pins an explicit codebook size (soak drivers). */
  private[graft] def kmeansSumsBuild(spark: SparkSession, sfDir: String,
                                     iters: Int = 2,
                                     idBound: Long = Long.MaxValue,
                                     kOverride: Int = 0): DataFrame = {
    graft.plans.VecSumAgg.register(spark)
    val (stride, k) =
      if (kOverride > 0) (1L, kOverride)
      else annGeometry(corpusN(spark, sfDir, idBound))
    // the cached sample inherits the SCAN's partitioning, so a
    // row-group-capped scan would run every Lloyd's iteration (k fused
    // dots per sampled row) at row-group width — widen before caching
    val vecs = widenedForBuild(
        Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") < idBound)
          .filter(col("vec_id") % stride === 0),
        spark, sfDir, vecBuildWidth(spark, sfDir))
      .select(col("vec_id"), VectorOps.quantizeFast(col("embedding")).as("qv"))
      .cache()
    // seeds: the k LOWEST sample vec_ids (rank-based, not `id < k` —
    // robust to sparse/shifted id domains; equal on dense fixtures)
    var cells = vecs.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cell"), lit(1L).as("n"), col("qv").as("s"))
    for (_ <- 1 to iters) {
      // Each Lloyd's iteration is one MAP + one map-side-combined
      // aggregate: the row's cell comes from the plan-embedded
      // [[graft.plans.CellArgmax]] (same total (score desc, cell asc)
      // tiebreak → same assignment), and the rebuild aggregates the
      // row's OWN qv under it. The old crossJoin → max_by(struct) +
      // re-join form was the SortAggregate shape measured (BENCH_NOTES r13)
      // on the full assignment plane — at 1B-vector geometry (k ≈ 31k
      // cells × the 65k sample) the training fan-out alone would be
      // 2B rows per iteration. An empty sample keeps the empty seed
      // relation (iterating is a no-op).
      cellArgmaxParts(cells).foreach { case (ids, _, _, j) =>
        cells = vecs.withColumn("__j", j)
          .select(element_at(typedLit(ids),
            (col("__j") + 1).cast(IntegerType)).as("cell"), col("qv"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n"), expr("vec_sum(qv)").as("s"))
      }
    }
    // k × dims summed longs — materialize the (tiny) codebook, release
    // the corpus-sized quantized-vector cache
    val out = cells.localCheckpoint()
    vecs.unpersist()
    out
  }

  /** The staged ANN index: the sample-trained codebook plus the
    * full-corpus cell assignment `(vec_id, cell, cellscore)`, committed
    * ONCE as an on-disk snapshot table keyed by the corpus fingerprint
    * and derived geometry, then read (column-pruned parquet scan) by
    * every consumer — the learned-IVF probe (x10e2), IVF-PQ (x10i),
    * recall certification (x10j), and SemDeDup (x09l). This is the
    * r9-postmortem design: the N×k assignment pass — the binding
    * constraint that made inline derived-k WORSE at scale — is index
    * maintenance (paid once per corpus version, amortized across
    * queries, sessions, and JVMs), not query cost; queries are
    * probe-only. Arrival deltas merge in via the [[incrementalIvfAssign]]
    * shape against the frozen codebook; a corpus whose files change
    * gets a new fingerprint and a fresh index, so oracle replays (train
    * on the CURRENT corpus sample, assign all) stay exact.
    *
    * Cross-process protocol: the first process to atomically create the
    * index root builds and publishes it (`_COMPLETE` marker written
    * last); a process that loses the claim builds a session-local copy
    * rather than blocking on an in-flight (or dead) builder — identical
    * bytes by determinism of the trajectory.
    *
    * Lifecycle (the shared [[graft.util.Lease]] discipline, VERDICT
    * r10 #3/#4): the winning builder HEARTBEATS `root/_lease` for the
    * whole build, so a live build of ANY duration — a real 100 TB
    * encode job runs hours — can never be reclaimed out from under it
    * (the old 30-minute root-mtime rule could: writing into
    * subdirectories never bumps the root's own mtime). Dead-builder
    * residue (no `_COMPLETE`, lease stale past
    * `graft.ann.leaseStaleMs`, default 60 s) is reclaimed before the
    * claim. Loser-path local copies are enrolled for exit GC
    * ([[graft.util.Lease.gcOnExit]]), and after publishing, the winner
    * sweeps sibling index roots idle past `graft.ann.indexRetentionMs`
    * (default 7 days; `_COMPLETE` mtime is refreshed on every open, so
    * retention measures IDLE time — the `Snapshot.vacuum` "assumes no
    * reader is still walking" caveat applies). */
  private[graft] final case class IvfIndex(cells: DataFrame,
                                           assign: DataFrame,
                                           pqCodebook: DataFrame,
                                           pqCodes: DataFrame)

  private[graft] def stagedIvfIndex(spark: SparkSession,
                                    sfDir: String): IvfIndex = {
    val fp = embFingerprint(spark, sfDir)
    graft.util.SessionMemo.memoizedValue(spark, s"ivfIndex|$sfDir|$fp") {
      vecScoped(spark, sfDir) {
        buildOrOpenIvfIndex(spark, sfDir, fp)
      }
    }
  }

  /** Base directory the staged ANN indexes live under. Default is the
    * shared `java.io.tmpdir/graft_annindex` (the long-lived-deployment
    * lifecycle: any process with the same corpus+geometry opens the
    * published index). Overridable via the `graft.ann.indexDir`
    * session conf or the `GRAFT_ANN_INDEX_DIR` env so a MEASUREMENT
    * window can isolate its own index root — the driver's back-to-back
    * bench legs (32-core then 8-core) used to let the second leg open
    * the first leg's index, flattering its memo time and blurring the
    * scaling A/B (VERDICT r14 #2). The lifecycle feature is unchanged:
    * within one root the claim/lease/retention protocol is identical. */
  private[graft] def annIndexBase(spark: SparkSession): java.nio.file.Path =
    java.nio.file.Paths.get(
      spark.conf.getOption("graft.ann.indexDir")
        .orElse(sys.env.get("GRAFT_ANN_INDEX_DIR"))
        .getOrElse(java.nio.file.Paths
          .get(System.getProperty("java.io.tmpdir"), "graft_annindex")
          .toString))

  /** The on-disk root this corpus+geometry stages into — exposed so
    * lifecycle specs/soaks can address the exact root a competing
    * process would claim. */
  private[graft] def indexRootFor(spark: SparkSession,
                                  sfDir: String): java.nio.file.Path = {
    val fp = embFingerprint(spark, sfDir)
    val (stride, k) = annGeometry(corpusN(spark, sfDir))
    annIndexBase(spark).resolve(s"idx-$fp-s$stride-k$k-pq")
  }

  private def buildOrOpenIvfIndex(spark: SparkSession, sfDir: String,
                                  fp: String): IvfIndex = {
    import java.nio.file.{Files, Paths}
    import graft.util.Lease
    val conf = spark.sparkContext.hadoopConfiguration
    val base = annIndexBase(spark)
    val root = indexRootFor(spark, sfDir)
    val complete = root.resolve("_COMPLETE")
    val staleMs = spark.conf.getOption("graft.ann.leaseStaleMs")
      .map(_.toLong).getOrElse(60000L)
    def hPath(p: java.nio.file.Path) =
      new org.apache.hadoop.fs.Path("file://" + p.toAbsolutePath)
    def open(dir: java.nio.file.Path): IvfIndex = {
      // retention measures IDLE time: a reader refreshes the published
      // marker so a hot index is never swept, however old its build
      val mk = dir.resolve("_COMPLETE")
      if (Files.exists(mk))
        try Lease.refresh(conf, hPath(mk)) catch { case _: Exception => () }
      IvfIndex(
        Snapshot.readCurrent(spark, dir.resolve("codebook").toString)
          .select("cell", "n", "s"),
        Snapshot.readCurrent(spark, dir.resolve("assign").toString)
          .select("vec_id", "cell", "cellscore"),
        Snapshot.readCurrent(spark, dir.resolve("pqcodebook").toString)
          .select("sub", "cell", "cq"),
        Snapshot.readCurrent(spark, dir.resolve("pqcodes").toString)
          .select("vec_id", "sub", "code"))
    }
    if (Files.exists(complete)) return open(root)
    Files.createDirectories(base)
    // Dead-build reclaim: incomplete root whose builder stopped
    // heartbeating. Both clocks must be stale — the root's own mtime
    // covers the claim→first-heartbeat gap (a builder that JUST
    // created the directory has a fresh root and no lease yet).
    if (Files.exists(root) && !Files.exists(complete)) {
      val leaseLive = Lease.isLive(conf, hPath(root.resolve("_lease")), staleMs)
      val rootFresh = System.currentTimeMillis() -
        Files.getLastModifiedTime(root).toMillis <= staleMs
      if (!leaseLive && !rootFresh) {
        import scala.jdk.CollectionConverters._
        Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => Files.deleteIfExists(p))
      }
    }
    val claimed =
      try { Files.createDirectory(root); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    // The winner's liveness signal for the whole build: a >staleMs
    // build stays claimed as long as this JVM breathes; a killed
    // builder's lease goes stale and the next caller reclaims.
    val hb =
      if (claimed)
        Some(Lease.heartbeat(conf, hPath(root.resolve("_lease")),
          math.max(250L, staleMs / 6)))
      else None
    // Test-only slow-build injection for the two-JVM SlowBuilder soak
    // (AnnLeaseSoak): hold the claim well past the stale window while
    // heartbeating, proving a LIVE slow builder is never reclaimed.
    if (claimed)
      sys.env.get("GRAFT_ANN_BUILD_SLEEP_MS").map(_.toLong)
        .filter(_ > 0).foreach(Thread.sleep)
    val target =
      if (claimed) root
      else {
        // correct bytes by determinism, but private to this session and
        // worthless after it — enroll for exit GC (a disk leak per
        // losing process otherwise)
        val t = Files.createTempDirectory("graft_annindex_local_")
        Lease.gcOnExit(t)
        t
      }
    try {
      // writer widths derived from data (the of21 target-file-size
      // discipline): codebooks are k×dims — always one file; the
      // corpus-sized assignment/codes tables get ~2M rows per file so a
      // toy corpus writes 1 file (no 32-way shuffle-write overhead) and
      // a 10^9-vector corpus writes wide
      val n = corpusN(spark, sfDir)
      val corpusFiles = math.max(1L, math.min(64L, n / 2000000L + 1L)).toInt
      val cb = kmeansSums(spark, sfDir)
      Snapshot.commit(cb.coalesce(1), target.resolve("codebook").toString)
      // Corpus-sized index tables are RANGE-laid on vec_id and committed
      // WITH per-file stats: arrivals carry ids above the corpus max, so
      // the incremental-maintenance merge ([[incrementalIvfAssign]]'s
      // shape) prunes to INSERT-ONLY — zero base files rewritten — and
      // per-vector lookups read one file. The range shuffle is one-time
      // build cost, marginal next to the N×k encode job it rides behind.
      def keyLaid(df: DataFrame) = df
        .repartitionByRange(corpusFiles, col("vec_id"))
        .sortWithinPartitions("vec_id")
      Snapshot.commitWithStats(
        keyLaid(assignToCellsScored(
          widenedForBuild(
            Tables.embeddings(spark, sfDir).select("vec_id", "embedding"),
            spark, sfDir, vecBuildWidth(spark, sfDir)), cb)),
        target.resolve("assign").toString, Seq("vec_id"))
      // the PQ half of the ANN layout is index state too: the per-vector
      // codes are the compressed corpus representation — written once at
      // encode time in production, never re-derived per query
      val pqcb = pqCodebooksBuild(spark, sfDir)
      Snapshot.commit(pqcb.coalesce(1), target.resolve("pqcodebook").toString)
      Snapshot.commitWithStats(
        keyLaid(pqAssign(pqSubVectors(spark, sfDir, wide = true), pqcb)
          .select(col("vec_id"), col("sub"), col("cell").as("code"))),
        target.resolve("pqcodes").toString, Seq("vec_id"))
      if (claimed) Files.createFile(complete)
    } finally hb.foreach(_.close())
    // Publish-time retention sweep (winner only): stale-fingerprint
    // roots — a corpus whose files changed leaves its old `idx-<fp>`
    // behind forever otherwise — and dead incomplete residue.
    if (claimed) sweepIndexSiblings(spark, base, root, staleMs)
    open(target)
  }

  /** GC sibling index roots under `base` (never `current`):
    *  - COMPLETE roots idle past `graft.ann.indexRetentionMs`
    *    (default 7 days; `_COMPLETE` mtime = last open, so this is
    *    idle time, not age) — the stale-fingerprint accumulation;
    *  - INCOMPLETE roots whose lease is dead and whose own mtime is
    *    stale — a crashed builder's residue.
    * Same caveat as [[Snapshot.vacuum]]: GC assumes no reader is
    * still walking a root it has decided to reclaim. */
  private def sweepIndexSiblings(spark: SparkSession,
                                 base: java.nio.file.Path,
                                 current: java.nio.file.Path,
                                 staleMs: Long): Unit = {
    import java.nio.file.Files
    import graft.util.Lease
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val retentionMs = spark.conf.getOption("graft.ann.indexRetentionMs")
      .map(_.toLong).getOrElse(7L * 24 * 3600 * 1000)
    def hPath(p: java.nio.file.Path) =
      new org.apache.hadoop.fs.Path("file://" + p.toAbsolutePath)
    val now = System.currentTimeMillis()
    val sibs =
      try Files.list(base).iterator().asScala.toSeq
      catch { case _: java.io.IOException => Seq.empty }
    sibs.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("idx-") &&
        p.toAbsolutePath != current.toAbsolutePath)
      .foreach { sib =>
        val mk = sib.resolve("_COMPLETE")
        val dead =
          if (Files.exists(mk))
            now - Files.getLastModifiedTime(mk).toMillis > retentionMs
          else
            !Lease.isLive(conf, hPath(sib.resolve("_lease")), staleMs) &&
              now - Files.getLastModifiedTime(sib).toMillis > staleMs
        if (dead)
          try Files.walk(sib).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => Files.deleteIfExists(p))
          catch { case _: java.io.IOException => () } // racing sweeper
      }
  }

  def kmeansCells(spark: SparkSession, sfDir: String): DataFrame =
    stagedIvfIndex(spark, sfDir).cells
      .select(col("cell"), col("n").as("n_vecs"),
        posexplode(col("s")).as(Seq("pos0", "sum_q")))
      .select(col("cell"), (col("pos0") + 1).cast(LongType).as("pos"),
        col("n_vecs"),
        (col("sum_q").cast(DoubleType) / col("n_vecs") / 1e6).as("centroid"))
      .orderBy("cell", "pos")

  /** Embedding-space class-separation audit: over the bounded audit
    * subset (vec_id < 64 — an O(k²) diagnostic, never corpus×corpus),
    * score every pair with the fused dot and report, per same-label /
    * cross-label stratum, the pair count, how many clear a similarity
    * threshold, and the extreme cosines. Healthy embeddings show
    * same-label mass above cross-label mass; drift shows up as the
    * strata converging. Count/min/max aggregates only — no float
    * summation, so the result is order-free and engine-exact.
    */
  def classSeparation(spark: SparkSession, sfDir: String,
                      auditN: Int = 64,
                      threshold: Double = 0.2): DataFrame = {
    val all = quantized(spark, sfDir)
    val sub = all.filter(col("vec_id") < auditN)
      .join(Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label")),
        "vec_id")
    val pairs = sub.as("x").join(broadcast(sub.as("y")),
        col("x.vec_id") < col("y.vec_id"))
      .select(
        when(col("x.label") === col("y.label"), "same_label")
          .otherwise("cross_label").as("stratum"),
        VectorOps.cosineFromQ(expr("quantized_dot(x.embedding, y.embedding)"),
          col("x.n2"), col("y.n2")).as("cosine"))
    pairs.groupBy("stratum")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cosine") >= threshold, 1L).otherwise(0L))
          .as("n_above_threshold"),
        min("cosine").as("min_cosine"),
        max("cosine").as("max_cosine"))
      .orderBy("stratum")
  }

  /** LSH-banded approximate top-k (k=3): candidates share at least one
    * (band, bandkey) with the query vector; exact cosine within
    * candidates only. */
  def annLsh(spark: SparkSession, sfDir: String, k: Int = 3,
             planes: Int = 16, bands: Int = 2): DataFrame = {
    val bk = bandedBuckets(spark, sfDir, planes, bands)
    val cand = bk.as("e").join(
        broadcast(bk.filter(col("vec_id") < NQueries).as("q")),
        col("e.band") === col("q.band") && col("e.bandkey") === col("q.bandkey")
          && col("e.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("vec_id"))
      .distinct()
    val all = quantized(spark, sfDir)
    val scored = cand
      .join(broadcast(all.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("n2").as("q_n2"))), "query_id")
      .join(all, "vec_id")
      .select(col("query_id"), col("vec_id"),
        VectorOps.cosineFromQ(expr("quantized_dot(q_emb, embedding)"),
          col("q_n2"), col("n2")).as("cosine"))
    topkOf(scored, k)
  }

  /** X10l: LSH-bucketed k-NN JOIN (`x10l_knn_join`) — every corpus
    * vector's top-k neighbours among the vectors it shares an LSH band
    * with; the k-NN-graph construction step under SemDeDup-style
    * cluster curation and graph-based diversity sampling, and the
    * all-vectors generalization of [[annLsh]] (which ranks only the
    * 8-query set).
    *
    * 100 TB shape: candidate generation is the banded self-equi-join —
    * each (band, bandkey) bucket emits its own O(m²) DIRECTED pairs, so
    * work is per-bucket-bounded exactly like [[embeddingNearDup]], and
    * the per-vector top-k is one hash-partitioned window over the
    * candidate relation (WindowGroupLimit pushes the rank filter below
    * the sort at rank-k). More planes per band shrink m; more bands
    * recover recall — the same two dials as every banded family member.
    * No corpus×corpus anything; vectors with no bucket-mate simply have
    * no rows (isolated nodes of the graph).
    *
    * Arithmetic is the exact quantized core, so the DuckDB oracle
    * replays buckets, candidates, cosines, and ranks bit-for-bit.
    */
  def knnJoin(spark: SparkSession, sfDir: String, k: Int = 3,
              planes: Int = 0, bands: Int = 0): DataFrame = {
    val (p, b) = if (planes > 0) (planes, bands)
                 else derivedLshGeometry(spark, sfDir)
    val bk = refinedBuckets(spark, sfDir, p, b)
    val cand = bk.as("x").join(bk.as("y"),
        col("x.band") === col("y.band") && col("x.bandkey") === col("y.bandkey")
          && col("x.sub") === col("y.sub")
          && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src_id"), col("y.vec_id").as("nbr_id"))
      .distinct()
    val all = quantized(spark, sfDir)
    val scored = cand
      .join(all.select(col("vec_id").as("src_id"), col("embedding").as("s_emb"),
        col("n2").as("s_n2")), "src_id")
      .join(all.select(col("vec_id").as("nbr_id"), col("embedding").as("n_emb"),
        col("n2").as("n_n2")), "nbr_id")
      .select(col("src_id"), col("nbr_id"),
        VectorOps.cosineFromQ(expr("quantized_dot(s_emb, n_emb)"),
          col("s_n2"), col("n_n2")).as("cosine"))
    val w = Window.partitionBy("src_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= k)
      .select(col("src_id"), col("rnk"), col("nbr_id"), col("cosine"))
      .orderBy("src_id", "rnk")
  }

  /** x10m: Johnson-Lindenstrauss PROJECTION-DISTORTION AUDIT — the
    * pre-flight a 100 TB ANN deployment runs BEFORE committing to a
    * projection width: project every vector onto D ±1-sign directions
    * (an Achlioptas sparse JL matrix; signs from the same LCG residue
    * scheme as [[bandedBuckets]], no RNG state) and MEASURE, per query,
    * the cosine distortion |cos_proj − cos_exact| over the full corpus
    * — max, exact rank-selected p50/p90 (the [[Relational
    * .exactQuantiles]] discipline: order-free, engine-replayable; a
    * float SUM/mean would not hash-match across engines). Both D=8 and
    * D=32 audits come from ONE projection pass (the 8-dim projection
    * is a prefix slice of the 32-dim one), making the JL lemma's
    * ~1/√D error law a measured table row rather than a citation.
    *
    * This is deliberately an AUDIT, not a projected-space top-k: on
    * this fixture's isotropic geometry the measured p90 distortion
    * (~0.1 even at D=32) dwarfs the ~0.003 neighbor-rank gaps, so
    * ranking in projected space certifiably loses (recall 3/24 at
    * D=8, and a dense Gaussian 32-dim projection fails the same way —
    * measured during development). That asymmetry is exactly why every
    * ANN family member here ([[annLsh]]/[[ivfTopK]]/[[pqAdcTopK]])
    * generates candidates coarsely but SCORES at full precision — the
    * audit turns that design rule into per-corpus numbers. Pure
    * per-row projection (no shuffle, no training); the heavy side is
    * the |Q|×N scoring, the same broadcast shape as [[cosineTopK]].
    */
  def jlDistortion(spark: SparkSession, sfDir: String,
                   projDims: Seq[Int] = Seq(8, 32)): DataFrame = {
    val maxD = projDims.max
    val P = 1000003L
    def sign(j: Int, pos: Int): Long = {
      val r = (1103515245L * (j * Dims + pos) + 12345L) % P
      if (2 * r < P) 1L else -1L
    }
    // p_j = Σ_pos q_pos·sign(j,pos): an unrolled constant-sign sum per
    // direction — one codegen'd projection stage, no join, no shuffle
    def proj(j: Int): org.apache.spark.sql.Column =
      (0 until Dims).map(pos =>
        element_at(col("qv"), pos + 1) * lit(sign(j, pos))).reduce(_ + _)
    val projected = quantized(spark, sfDir)
      .withColumn("qv", VectorOps.quantizeFast(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("n2"),
        array((0 until maxD).map(proj): _*).as("p"))
    val q = projected.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"), col("p").as("qp"))
    val deltas = projected.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .select(Seq(col("query_id"), col("vec_id"),
        VectorOps.cosineFromQ(expr("quantized_dot(q_emb, embedding)"),
          col("q_n2"), col("n2")).as("cos_exact")) ++
        projDims.map { d =>
          val ps = slice(col("p"), 1, d)
          val qs = slice(col("qp"), 1, d)
          VectorOps.cosineFromQ(VectorOps.dotQ(qs, ps),
            VectorOps.norm2Q(qs), VectorOps.norm2Q(ps)).as(s"cos_$d")
        }: _*)
    projDims.map { d =>
      val w = Window.partitionBy("query_id")
        .orderBy(col("err"), col("vec_id"))
      val wn = Window.partitionBy("query_id")
      deltas
        .select(col("query_id"), col("vec_id"),
          abs(col(s"cos_$d") - col("cos_exact")).as("err"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_pairs"),
          max(col("err")).as("max_err"),
          max(when(col("rn") === expr("(n+1) div 2"), col("err")))
            .as("p50_err"),
          max(when(col("rn") === expr("(9*n+9) div 10"), col("err")))
            .as("p90_err"))
        .withColumn("proj_dims", lit(d))
    }.reduce(_ unionByName _)
      .select("query_id", "proj_dims", "n_pairs",
        "max_err", "p50_err", "p90_err")
      .orderBy("query_id", "proj_dims")
  }

  // ---- Product quantization (PQ) + asymmetric-distance top-k ----

  private val PqM = 4            // subspaces
  private val PqSubDims = Dims / PqM
  private val PqKsub = 4         // codewords per subspace
  private val PqIters = 2

  /** Exact integer squared L2 distance between two quantized arrays —
    * the fused native expression ([[graft.plans.LongL2]]); identical
    * integers to the composed `aggregate(zip_with(...))` form it
    * replaced (the PQ oracle CTEs are untouched). */
  private def l2Q(a: org.apache.spark.sql.Column,
                  b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    VectorOps.ll2Q(a, b)

  /** One row per (vector, subspace): the quantized 16-dim slice.
    * Pure per-row projection — no shuffle; at 100 TB this is the map
    * stage that feeds both training (sampled) and encoding (full). */
  private[graft] def pqSubVectors(spark: SparkSession, sfDir: String,
                                  wide: Boolean = false): DataFrame = {
    val base = Tables.embeddings(spark, sfDir)
    val srcW =
      if (wide) widenedForBuild(base, spark, sfDir,
        vecBuildWidth(spark, sfDir))
      else base
    val vecs = srcW
      .select(col("vec_id"), VectorOps.quantizeFast(col("embedding")).as("qv"))
    vecs.select(col("vec_id"),
      posexplode(array((0 until PqM).map(j =>
        slice(col("qv"), j * PqSubDims + 1, PqSubDims)): _*))
        .as(Seq("sub", "sq")))
  }

  /** The PQ codeword argmin as a plan-embedded column over
    * `(sq, sub)` rows — [[graft.plans.PqArgmin]] with the codebook
    * collected to primitive arrays (m·k codewords of sub-vector
    * width: 256 longs here, a few KB for any real PQ config — a
    * MODEL, the same contract as [[assignToCellsScored]]'s
    * collect). Same total (dist asc, cell asc) tiebreak as the
    * broadcast-join + argmin-aggregate plane it replaces — identical
    * codes, every PQ oracle untouched. */
  private def pqArgminCol(cb: DataFrame): Option[org.apache.spark.sql.Column] = {
    val spark = cb.sparkSession
    graft.plans.PqArgmin.register(spark)
    // sub arrives as INT (posexplode's pos) or LONG depending on the
    // caller's projection — read numerically
    def asL(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    val rows = cb.select(col("sub"), col("cell"), col("cq")).collect()
      .sortBy(r => (asL(r, 0), asL(r, 1)))
    // an EMPTY codebook (empty-corpus fixture) has no argmin — callers
    // preserve the join form's semantics (zero assignments)
    if (rows.isEmpty) return None
    val m = rows.map(asL(_, 0)).max.toInt + 1
    val perSub = rows.groupBy(asL(_, 0).toInt)
    // offsets: starts(s) .. starts(s+1) bound sub s's codewords in the
    // sub-major sorted layout (length m+1, starts(0) = 0)
    val subStarts = (0 until m)
      .map(s => perSub.get(s).map(_.length).getOrElse(0).toLong)
      .scanLeft(0L)(_ + _).toArray
    val ids = rows.map(asL(_, 1))
    val cqFlat = rows.flatMap(_.getSeq[Long](2))
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    Some(column(graft.plans.PqArgmin(expression(col("sq")),
      expression(col("sub")), subStarts, ids, cqFlat)))
  }

  /** Nearest codeword per (vector, subspace) under exact integer L2
    * with a total (dist, cell) tiebreak — a pure MAP job (one
    * [[pqArgminCol]] projection; the broadcast-join fan-out and the
    * argmin aggregate are gone, BENCH_NOTES r13). */
  private[graft] def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame =
    pqArgminCol(cb) match {
      case Some(cell) =>
        subs.select(col("vec_id"), col("sub"), cell.as("cell"))
      case None => // no codewords: the old join form assigned nothing
        subs.limit(0).select(col("vec_id"), col("sub"),
          lit(null).cast(LongType).as("cell"))
    }

  /** Product-quantization codebooks: per subspace, Lloyd's k-means
    * (k = 4, 2 fixed iterations, low-id singleton seeds) over the
    * quantized slices, with each rebuilt centroid FLOORED back to
    * integers (`floor(sum/count)` elementwise). The floor is the
    * determinism device: every assignment compares exact BIGINT L2
    * distances, so the whole trajectory — and therefore the codebook —
    * replays bit-for-bit in the oracle's unrolled CTEs. (The quotient
    * can never sit within one double ulp below an integer: the gap to
    * the nearest non-equal integer is ≥ 1/n, astronomically larger, so
    * `floor(castDouble(s)/n)` is exact in both engines.) Rounding a
    * centroid to the 1e-6 quantization grid costs nothing at float32
    * embedding precision. Result is m·k tiny rows — a broadcast
    * constant at any corpus scale; at 100 TB the trainer would run on
    * a sample (the codebook is a model, not a per-row artifact), which
    * this plan shape already permits: training input and encode input
    * are the same projection. All four subspace trainers run in ONE
    * set of jobs (sub is just a grouping column), not m sequential
    * loops.
    */
  private[graft] def pqCodebooks(spark: SparkSession, sfDir: String): DataFrame =
    stagedIvfIndex(spark, sfDir).pqCodebook
      .select(col("sub"), col("cell"), col("cq"))

  /** The un-memoized trainer (the determinism spec replays it). */
  private[graft] def pqCodebooksBuild(spark: SparkSession,
                                      sfDir: String): DataFrame = {
    graft.plans.VecSumAgg.register(spark)
    // full-corpus sub-vector relation, iterated PqIters times — widen
    // past the row-group cap before caching (see [[widenedForBuild]])
    val subs = pqSubVectors(spark, sfDir, wide = true).cache()
    var cb = subs.filter(col("vec_id") < PqKsub)
      .select(col("sub"), col("vec_id").as("cell"), col("sq").as("cq"))
    for (_ <- 1 to PqIters) {
      // rebuild WITHOUT re-joining the corpus: the row holds its own
      // sq, and its codeword comes from the plan-embedded argmin — so
      // each Lloyd's iteration is one map + one map-side-combined
      // aggregate (the old assignment join back onto `subs` was a
      // corpus-sized SMJ: 740 MB shuffled per iteration at sf100,
      // BENCH_NOTES r13). An empty codebook (empty
      // corpus) stays empty — iterating is a no-op.
      pqArgminCol(cb).foreach { cell =>
        cb = subs.withColumn("cell", cell)
          .groupBy("sub", "cell")
          .agg(count(lit(1)).as("n"), expr("vec_sum(sq)").as("s"))
          .select(col("sub"), col("cell"),
            transform(col("s"),
              x => floor(x.cast(DoubleType) / col("n"))).as("cq"))
      }
    }
    val out = cb.localCheckpoint()
    subs.unpersist()
    out
  }

  /** `(vec_id, sub, code)` — the m-codes-per-vector compressed
    * representation, read from the staged index (encoded once at
    * index-build time, column-pruned parquet scan per query). */
  private def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    stagedIvfIndex(spark, sfDir).pqCodes

  /** Per-query ADC lookup table: `(query_id, sub, code, d)` — the
    * query slice's exact L2 to every codeword; |Q|·m·k rows,
    * broadcast. */
  private def pqLut(spark: SparkSession, sfDir: String): DataFrame =
    pqSubVectors(spark, sfDir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("sq"))
      .join(broadcast(pqCodebooks(spark, sfDir)), "sub")
      .select(col("query_id"), col("sub"), col("cell").as("code"),
        l2Q(col("sq"), col("cq")).as("d"))

  private def adcRank(adc: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(asc("adc_dist"), asc("vec_id"))
    adc.withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "vec_id", "adc_dist")
      .orderBy("query_id", "rnk")
  }

  /** PQ-compressed ANN: encode every vector as m = 4 codeword ids
    * (the 100 TB memory story — m small ints per vector instead of
    * 4·64 float bytes), then answer top-k per query by ASYMMETRIC
    * distance: the query stays uncompressed, and its distance to a
    * database vector is the sum over subspaces of the query-slice →
    * codeword distance, read from a per-query lookup table of m·k
    * entries. Everything is exact BIGINT arithmetic end to end — the
    * output distance is an integer — so the DuckDB oracle replays the
    * training, encoding, LUT, and ranking bit-for-bit. Plan shape: the
    * codebook and the LUT (|Q|·m·k rows) broadcast; encoding is a
    * per-row argmin against the broadcast codebook; the ADC sum is one
    * keyed shuffle of (query, vec) partials. In a production layout
    * the codes are written once as an array column and ADC becomes a
    * zero-shuffle scan with the LUT sum fused per row — the groupBy
    * here stands in for that scan without changing the arithmetic.
    */
  def pqAdcTopK(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    graft.plans.VecSumAgg.register(spark)
    val adc = pqCodes(spark, sfDir)
      .join(broadcast(pqLut(spark, sfDir)), Seq("sub", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("d").as("adc_dist"))
    adcRank(adc, k)
  }

  /** IVF-PQ: the billion-scale ANN layout — the learned coarse
    * quantizer ([[kmeansSums]]) prunes the corpus to the query's
    * `nprobe` best inverted lists, and the survivors are scored by
    * PQ asymmetric distance instead of the exact dot. This composes
    * the two independently-certified halves exactly as a production
    * index stores them: per cell, a posting list of (vec_id, m codes) —
    * a few bytes per vector — so a probe reads `nprobe/cells` of the
    * corpus at PQ compression and touches no raw vector at all; the
    * uncompressed embedding is only ever read for the query itself.
    * Every intermediate stays exact BIGINT (candidates from the IVF
    * chain, distances from the ADC chain), so the oracle replays both
    * trajectories and their composition bit-for-bit.
    */
  def ivfPqTopK(spark: SparkSession, sfDir: String, k: Int = 3,
                nprobe: Int = 2): DataFrame = {
    graft.plans.VecSumAgg.register(spark)
    val cand = ivfLearnedCandidates(spark, sfDir, nprobe)
    // cand is |Q|·(corpus/cells)·nprobe rows of two longs — broadcast it
    // so the (big) code relation is never shuffled for the join
    val adc = broadcast(cand)
      .join(pqCodes(spark, sfDir), "vec_id")
      .join(broadcast(pqLut(spark, sfDir)), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum("d").as("adc_dist"))
    adcRank(adc, k)
  }

  /** x10j: recall@k certification of every ANN index against the
    * brute-force ground truth — the first number a real ANN user asks
    * for, promoted from spec pins to a first-class oracle-checked
    * query. One row per method: how many of its top-k ids (per query)
    * appear in the exact top-k, plus the shared denominator
    * |queries|·k. Exact integer counts, order-free.
    *
    * Scale shape: each method's result and the truth are |Q|·k rows —
    * the joins here are between TINY relations; the corpus-sized work
    * lives inside the (already scale-audited) method pipelines.
    */
  def annRecall(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val truth = cosineTopK(spark, sfDir, k)
      .select(col("query_id"), col("vec_id"))
      .cache() // |Q|·k rows, reused by every method's intersection
    def hitsOf(name: String, df: DataFrame): DataFrame =
      df.filter(col("rnk") <= k)
        .select(col("query_id"), col("vec_id"))
        .join(truth, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("method"), col("hits"))
    val denom = truth.agg(count(lit(1)).as("denom"))
    Seq(
      hitsOf("ivf_learned", ivfTopKLearned(spark, sfDir, k)),
      hitsOf("ivfpq", ivfPqTopK(spark, sfDir, k)),
      hitsOf("lsh", annLsh(spark, sfDir, k)))
      .reduce(_ unionByName _)
      .crossJoin(broadcast(denom))
      .orderBy("method")
  }

  /** The incremental-maintenance split point: the newest quarter of the
    * id space is "the CDC batch", everything below is the historical
    * corpus. One memoized metadata-cheap aggregate (max over a pruned
    * scalar column); the returned literal makes the delta filter a
    * PLAN-TIME range predicate that pushes to the parquet scan. */
  private[graft] def newVecThreshold(spark: SparkSession,
                                     sfDir: String): Long =
    graft.util.SessionMemo.memoizedValue(spark, s"newVecThreshold|$sfDir") {
      val n = Tables.embeddings(spark, sfDir)
        .agg(max(col("vec_id"))).first().getLong(0) + 1L
      n - n / 4
    }

  /** x10k: incremental IVF maintenance — the production shape for a
    * GROWING embedding corpus. The codebook is trained on the
    * historical vectors only ([[kmeansSums]] with `idBound`); the
    * historical assignment table is committed as a snapshot version;
    * then the CDC batch of NEW vectors is assigned against the
    * EXISTING codebook — the incremental pass scans ONLY the delta
    * (range predicate pushed to the scan, plan-asserted) — and
    * merge-committed by key. The read-back of the resulting snapshot
    * head is certified equal to a full reassignment of the whole
    * corpus (the oracle replays exactly that), which is the defining
    * property of incremental maintenance: same state, delta-sized
    * work.
    *
    * At 100 TB: the historical table is parquet you never rescan, the
    * delta is the day's arrivals, the codebook is k×dims longs
    * broadcast to the delta's executors — assignment cost is
    * O(|delta|·k·d), independent of corpus size. Re-TRAINING (not done
    * here) is a scheduled job on a sample; until it runs, the frozen
    * codebook keeps assignments consistent, which is what lets the
    * merge be append-shaped.
    */
  def incrementalIvfAssign(spark: SparkSession, sfDir: String): DataFrame =
    incrementalIvfAssignAt(spark, sfDir,
      graft.util.Scratch.dir("graft_ivf_snap_"))

  /** [[incrementalIvfAssign]] against a caller-owned snapshot root, so
    * specs/soaks can inspect the resulting manifest (the insert-only
    * zero-rewrite pin lives in DedupSimilaritySpec). */
  private[graft] def incrementalIvfAssignAt(spark: SparkSession,
                                            sfDir: String,
                                            root: String): DataFrame = {
    graft.plans.VecSumAgg.register(spark)
    val t = newVecThreshold(spark, sfDir)
    val cb = kmeansSums(spark, sfDir, idBound = t)
    val emb = Tables.embeddings(spark, sfDir)
    // Historical assignment goes down range-laid with per-file vec_id
    // stats, so the CDC batch (ids all ABOVE the historical max) prunes
    // the merge to INSERT-ONLY: mergeCommit consults the stats
    // manifest, finds no file whose key interval contains a delta key,
    // and carries every historical file by reference — delta-sized
    // write I/O, the incremental-maintenance contract made literal
    // (granularity pinned in SimilaritySpec).
    val hist = assignToCells(emb.filter(col("vec_id") < t), cb)
    Snapshot.commitWithStats(
      hist.repartitionByRange(
          Snapshot.derivedCommitFiles(t), col("vec_id"))
        .sortWithinPartitions("vec_id"),
      root, Seq("vec_id"))
    Snapshot.mergeCommit(spark, root,
      assignToCells(emb.filter(col("vec_id") >= t), cb), "vec_id")
    Snapshot.readCurrent(spark, root)
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")
  }

  /** Argmax cell assignment against a broadcast (cell, n, sum-vector)
    * codebook — the same score/tiebreak arithmetic as the IVF chain
    * (exact integer dot, one trailing IEEE division, total order), as
    * one map-side-combined `max_by` aggregate. */
  private[graft] def assignToCells(vecs: DataFrame,
                                   cells: DataFrame): DataFrame =
    assignToCellsScored(vecs, cells).select("vec_id", "cell")

  /** Argmax assignment with the winning score RETAINED — the staged
    * index row shape: the score doubles as SemDeDup's centrality
    * measure, so persisting it makes x09l probe-only too. The
    * (score desc, cell asc) tiebreak is total, so the argmax equals
    * the oracle's ROW_NUMBER() = 1 row exactly, and the double
    * round-trips through parquet bit-for-bit. */
  /** The collected codebook (sorted by cell id) plus the
    * [[graft.plans.CellArgmax]] index column over a `qv` input — the
    * shared core of the assignment plane and the Lloyd's trainer.
    * The codebook is a MODEL — k×dims longs, k ≈ √N by
    * [[annGeometry]] — so it collapses to plan-embedded primitive
    * arrays and scoring becomes a pure MAP job with the same
    * (score desc, cell asc) IEEE tiebreak the old
    * crossJoin → max_by(struct) plane computed. That plane was a scale
    * defect, not just overhead: max_by's struct ordering key forces
    * SortAggregate, which at sf100 externally sorted the 500M-row
    * fan-out — 23.7 GB of spill for a 2M-row result (BENCH_NOTES
    * r13). The collect is metadata-plane by the same
    * contract that broadcast the cells relation before it (k×dims ≈
    * 128 KB at sf100; a billion-vector corpus at k=√N ≈ 31k cells is
    * ~16 MB — still a driver constant). None for an empty codebook
    * (empty-corpus fixtures). */
  private def cellArgmaxParts(cells: DataFrame)
      : Option[(Array[Long], Array[Long], Array[Long],
                org.apache.spark.sql.Column)] = {
    // cell/n arrive as INT (label codebooks) or LONG (vec_id-seeded
    // ones) — read numerically; the caller restores the cell dtype
    def asL(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    val rows = cells.select(col("cell"), col("n"), col("s")).collect()
      .sortBy(asL(_, 0))
    if (rows.isEmpty) return None
    val ids = rows.map(asL(_, 0))
    val ns = rows.map(asL(_, 1))
    val sFlat = rows.flatMap(_.getSeq[Any](2)
      .map(_.asInstanceOf[Number].longValue))
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    Some((ids, ns, sFlat, column(graft.plans.CellArgmax(
      expression(col("qv")), ids, ns, sFlat))))
  }

  private[graft] def assignToCellsScored(vecs: DataFrame,
                                         cells: DataFrame): DataFrame = {
    val cellType = cells.schema("cell").dataType
    cellArgmaxParts(cells) match {
      case Some((ids, ns, sFlat, j)) =>
        vecs.select(col("vec_id"),
            VectorOps.quantizeFast(col("embedding")).as("qv"))
          .withColumn("__j", j)
          .select(col("vec_id"),
            element_at(typedLit(ids), (col("__j") + 1).cast(IntegerType))
              .cast(cellType).as("cell"),
            // winner's score recomputed with one ldot over the winner's
            // slice — the identical (double)dot / (double)n op chain
            (VectorOps.ldotQ(col("qv"),
              slice(typedLit(sFlat),
                (col("__j") * size(col("qv")) + 1).cast(IntegerType),
                size(col("qv")))).cast(DoubleType) /
              element_at(typedLit(ns), (col("__j") + 1).cast(IntegerType)))
              .as("cellscore"))
      case None => // no cells: the old crossJoin form assigned nothing
        vecs.limit(0).select(col("vec_id"),
          lit(null).cast(cellType).as("cell"),
          lit(null).cast(DoubleType).as("cellscore"))
    }
  }

  /** Per-vector symmetric int8 post-training quantization — the export
    * step that turns a float corpus into the serving/packing format —
    * with an EXACT reconstruction-error certificate. Per vector:
    * scale = maxabs/127 (maxabs on the shared 1e-6 integer grid), code
    * = round(q·127/maxabs) computed entirely in non-negative integer
    * arithmetic (`((q+maxabs)·254 + maxabs) div (2·maxabs) − 127`, the
    * shift keeping trunc = floor on both engines), and the certificate
    * max|q·127 − code·maxabs| — the max reconstruction error as an
    * exact rational numerator over denominator `maxabs` — which
    * correct rounding bounds by maxabs/2 (`within_half`). One narrow
    * projection per row, all codegen'd HOFs, no shuffle until the
    * final O(vectors) sort: the 100 TB shape is a pure map job. */
  def int8Export(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorOps.quantizeFast(col("embedding")).as("q"))
      .withColumn("maxabs",
        expr("array_max(transform(q, v -> abs(v)))"))
      .withColumn("codes", expr(
        """CASE WHEN maxabs = 0 THEN transform(q, v -> CAST(0 AS BIGINT))
          |ELSE transform(q, v ->
          |  ((v + maxabs) * 254 + maxabs) div (2 * maxabs) - 127)
          |END""".stripMargin))
      .withColumn("max_err_num", expr(
        "array_max(zip_with(q, codes, (a, c) -> abs(a*127 - c*maxabs)))"))
      .select(col("vec_id"), col("maxabs"),
        expr("array_min(codes)").as("min_code"),
        expr("array_max(codes)").as("max_code"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (acc, x) -> acc + x)")
          .as("sum_code"),
        col("max_err_num"),
        (col("max_err_num") * 2 <= col("maxabs")).as("within_half"))
      .orderBy("vec_id")
  }
}
