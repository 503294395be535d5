package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSuite {

  test("exact dedup keeps every distinct document exactly once") {
    val rows = Dedup.exactDedup(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total)
    assert(rows.forall(_.getString(2).length == 64), "sha256 hex expected")
  }

  test("minhash-LSH pairs are genuinely similar (recheck via shingle sets)") {
    val pairs = Dedup.minhashLsh(spark, sf).collect()
    assert(pairs.nonEmpty, "fixture plants near-duplicates; none found")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sh = Dedup.shingles(docs).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    pairs.foreach { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (sa, sb) = (sh(a), sh(b))
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(expect - j) < 1e-12, s"pair ($a,$b): $j vs $expect")
      assert(j >= 0.5)
    }
  }

  test("simhash near-pairs have small hamming distance and high jaccard pairs overlap") {
    val ham = Dedup.simhashPairs(spark, sf).collect()
    assert(ham.forall(_.getInt(2) <= 3))
    val mh = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hs = ham.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((mh & hs).nonEmpty, "the two near-dup detectors should agree somewhere")
  }

  test("dedup clusters are consistent with the pair graph") {
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // every label is the minimum member of its component
    labels.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.keys.min == cl)
    }
  }

  test("prefix-filter and count-join jaccard strategies agree exactly") {
    // The AllPairs/PPJoin prefix plan (the 100 TB open-vocabulary
    // strategy) is a lossless candidate pruning: both physical plans
    // must produce the identical thresholded pair set, jaccard included.
    val count = Dedup.ngramJaccard(spark, sf, strategy = Dedup.CountJoin)
      .collect().map(_.toSeq)
    val prefix = Dedup.ngramJaccard(spark, sf, strategy = Dedup.PrefixFilter)
      .collect().map(_.toSeq)
    assert(count.nonEmpty, "fixture plants near-duplicates; none found")
    assert(count.toSeq == prefix.toSeq)
    // ... and at width 4 (the x09e2 open-vocabulary certification
    // venue): same losslessness on the corpus shape where the prefix
    // prune actually pays
    val count4 = Dedup.ngramJaccard(spark, sf, strategy = Dedup.CountJoin,
      width = 4).collect().map(_.toSeq)
    val prefix4 = Dedup.ngramJaccard(spark, sf, strategy = Dedup.PrefixFilter,
      width = 4).collect().map(_.toSeq)
    assert(count4.nonEmpty, "planted near-dups must survive width-4 shingles")
    assert(count4.toSeq == prefix4.toSeq)
  }

  test("pair-emitting queries bound per-doc fanout to the strongest partners") {
    // the emitted contract is O(docs): at most 8 partners per left doc,
    // and exactly the BEST-ranked ones — a near-dup-dense fixture can
    // no longer make the result quadratic
    val ham = Dedup.simhashPairs(spark, sf)
    val hamFan = ham.groupBy("doc_a").count()
      .agg(max("count")).head().getLong(0)
    assert(hamFan <= 8, s"simhash pair fanout $hamFan exceeds the bound")
    val top = Dedup.ngramJaccardTop(spark, sf)
    val topFan = top.groupBy("doc_a").count()
      .agg(max("count")).head().getLong(0)
    assert(topFan <= 8, s"jaccard pair fanout $topFan exceeds the bound")
    // bounded = per-doc top-8 of the memoized full relation
    val full = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val kept = top.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(kept.subsetOf(full.toSet), "bounded set must be a subset")
    full.groupBy(_._1).foreach { case (a, ps) =>
      val best = ps.sortBy(p => (-p._3, p._2)).take(8).toSet
      assert(kept.filter(_._1 == a) == best,
        s"doc $a kept the wrong partners")
    }
  }

  test("contamination cells partition the near-dup pair set") {
    val cells = Dedup.contamination(spark, sf).collect()
    val totalPairs = Dedup.ngramJaccard(spark, sf).count()
    assert(cells.map(_.getLong(2)).sum == totalPairs,
      "every near-dup pair must land in exactly one split cell")
    val splits = Set("train", "valid", "test")
    cells.foreach { r =>
      assert(splits(r.getString(0)) && splits(r.getString(1)))
    }
  }

  test("brute-force top-k matches a naive driver-side computation for one query") {
    val got = Similarity.cosineTopK(spark, sf).collect()
      .filter(_.getLong(0) == 0).sortBy(_.getInt(1))
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def q(v: Array[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * 1000000))
    val q0 = q(vecs(0))
    def cos(b: Array[Float]): Double = {
      val qb = q(b)
      val dot = q0.zip(qb).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(q0.map(x => x * x).sum.toDouble) *
        math.sqrt(qb.map(x => x * x).sum.toDouble))
    }
    val naive = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got.map(_.getLong(2)).toSeq == naive.map(_._1))
    got.zip(naive).foreach { case (r, (_, c)) =>
      assert(math.abs(r.getDouble(3) - c) < 1e-12)
    }
  }

  test("LSH ANN returns true cosines (subset of brute-force scoring)") {
    val ann = Similarity.annLsh(spark, sf).collect()
    assert(ann.nonEmpty)
    val brute = Similarity.cosineTopK(spark, sf, k = 499).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    ann.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(brute.contains(key))
      assert(math.abs(brute(key) - r.getDouble(3)) < 1e-12)
    }
  }

  test("IVF probe returns true cosines and more probes never lose results") {
    val brute = Similarity.cosineTopK(spark, sf, k = 499).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(brute.contains(key))
      assert(math.abs(brute(key) - r.getDouble(3)) < 1e-12)
    }
    // probing every cell = exact top-k over the whole corpus
    val nCells = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("label").distinct().count().toInt
    val full = Similarity.ivfTopK(spark, sf, k = 3, nprobe = nCells).collect()
    val exact = Similarity.cosineTopK(spark, sf, k = 3).collect()
    assert(full.map(_.toSeq).toSeq == exact.map(_.toSeq).toSeq,
      "nprobe = all cells must equal brute force")
  }

  test("banded LSH width is tunable and more bands never lose candidates") {
    // Bands are prefixes of the same hyperplane sequence, so the 24×3
    // config's candidate set is a superset of the default 16×2 one:
    // per (query, rank), the wider config's cosine can only improve.
    val narrow = Similarity.annLsh(spark, sf, k = 3, planes = 16, bands = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val wide = Similarity.annLsh(spark, sf, k = 3, planes = 24, bands = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(wide.size >= narrow.size)
    narrow.foreach { case (key, cosNarrow) =>
      assert(wide.contains(key))
      assert(wide(key) >= cosNarrow - 1e-15,
        s"rank $key regressed: ${wide(key)} < $cosNarrow")
    }
  }

  test("embedding near-dup emits distinct ordered pairs whose cosines equal the brute-force quantized cosine") {
    // the wider geometry: the smoke fixture has no survivors under the
    // derived one
    val nd = Similarity.embeddingNearDup(spark, sf, threshold = 0.3,
      planes = 24, bands = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(nd.nonEmpty, "fixture must produce near-dup pairs")
    val ids = nd.map(p => (p._1, p._2))
    assert(ids.forall { case (a, b) => a < b }, "pairs must have vec_a < vec_b")
    assert(ids.distinct.size == ids.size, "pairs must be distinct")
    assert(ids == ids.sorted, "pairs must come ordered by (vec_a, vec_b)")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000000)).toArray)
      .toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    nd.foreach { case (a, b, cos) =>
      val (x, y) = (vecs(a), vecs(b))
      val brute = dot(x, y).toDouble /
        (math.sqrt(dot(x, x).toDouble) * math.sqrt(dot(y, y).toDouble))
      assert(cos == brute, s"pair ($a, $b): emitted $cos, brute force $brute")
      assert(cos >= 0.3, s"pair ($a, $b) below the threshold: $cos")
    }
  }
  test("k-means codebook: every vector lands in one surviving cell, and iterating moves mass") {
    val cells = Similarity.kmeansCells(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    // one (cell, pos) row per dimension; pos=1 rows carry each cell once
    val perCell = cells.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2))
    assert(perCell.map(_._2).sum == total,
      "cell membership must partition the corpus")
    assert(perCell.length <= 8 && perCell.nonEmpty)
    assert(perCell.forall(_._2 > 0), "surviving cells must be non-empty")
    // determinism: a genuine RE-TRAIN (memo bypassed) is bit-identical
    // to the memoized codebook the query used
    def sums(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
      .sortBy(_._1).toList
    assert(sums(Similarity.kmeansSums(spark, sf))
      == sums(Similarity.kmeansSumsBuild(spark, sf)))
    // the learned codebook must differ from its trivial seeds: after the
    // reassignment rounds some cell holds more than a seed's 1 vector
    assert(perCell.map(_._2).max > 1)
  }

  test("auto strategy probe: count-join on closed vocab, prefix-filter on open vocab") {
    import spark.implicits._
    // the synthetic fixture is a closed ~1k-gram vocabulary: every gram
    // is shared widely, pruning can't pay → CountJoin
    assert(Dedup.chooseStrategy(spark, sf) == Dedup.CountJoin)
    // widening the shingle to 4 tokens opens the SAME corpus's gram
    // space (31^4 possible grams, most df ≤ 2) → PrefixFilter: the
    // probe sees corpus shape, not corpus identity — this is the
    // x09e2 certification venue's selection
    assert(Dedup.chooseStrategy(spark, sf, width = 4) == Dedup.PrefixFilter)
    // an open vocabulary: each doc's bigrams are (almost) unique to it
    val dir = java.nio.file.Files.createTempDirectory("graft_openvocab_")
    try {
      (0L until 400L).map { i =>
        val text = (0 until 30).map(j => s"w${i}_$j").mkString(" ")
        (i, text, "en", "synthetic", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(Dedup.chooseStrategy(spark, dir.toString) == Dedup.PrefixFilter)
      // and the auto-dispatched result equals the explicit strategies
      // (identical-by-construction on the open corpus: no near-dups)
      assert(Dedup.ngramJaccard(spark, dir.toString,
        strategy = Dedup.Auto).count() == 0L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    // auto on the fixture dispatches to CountJoin and shares its memo:
    // results must be row-identical to the explicit CountJoin query
    val auto = Dedup.ngramJaccard(spark, sf, strategy = Dedup.Auto)
      .collect().map(_.toSeq).toSeq
    val explicit = Dedup.ngramJaccard(spark, sf).collect().map(_.toSeq).toSeq
    assert(auto == explicit)
  }

  test("the learned k-means codebook slots into the IVF probe unchanged") {
    val withKmeans = Similarity.ivfTopK(spark, sf,
      cells = Some(Similarity.kmeansSums(spark, sf))).collect()
    assert(withKmeans.nonEmpty)
    // every returned cosine must be the TRUE cosine (IVF only prunes
    // candidates, never perturbs scores): check against brute force
    val brute = Similarity.cosineTopK(spark, sf, k = 2000).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    withKmeans.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(brute(key) == r.getDouble(3), s"IVF perturbed the cosine at $key")
    }
  }

  test("semantic dedup: kept flags replay exactly under an in-JVM reimplementation") {
    val out = Similarity.semanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(out.length == total, "every vector must appear exactly once")
    assert(out.map(_._1).distinct.length == out.length)
    // independent replay: quantized vectors + the learned codebook,
    // assignment / centrality / drop rule recomputed with plain Scala
    // doubles (the same IEEE op order the operator's plan uses)
    val qvs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.round(v.toDouble * 1e6)).toArray)
      .toMap
    val cells = Similarity.kmeansSums(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    def score(qv: Array[Long], c: (Long, Long, Array[Long])): Double =
      qv.zip(c._3).map { case (a, b) => a * b }.sum.toDouble / c._2
    val assign = qvs.map { case (id, qv) =>
      val best = cells.map(c => (score(qv, c), c._1))
        .minBy { case (s, cell) => (-s, cell) }
      (id, best._2, best._1)
    }.toSeq
    val byCell = assign.groupBy(_._2).map { case (cell, ms) =>
      cell -> ms.sortBy { case (id, _, s) => (-s, id) }.map(_._1)
    }
    def cos(a: Long, b: Long): Double = {
      val (qa, qb) = (qvs(a), qvs(b))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val n2 = (v: Array[Long]) => v.map(x => x * x).sum
      dot.toDouble / (math.sqrt(n2(qa).toDouble) * math.sqrt(n2(qb).toDouble))
    }
    val expected = byCell.flatMap { case (cell, ordered) =>
      ordered.zipWithIndex.map { case (id, i) =>
        val dup = ordered.take(i).exists(earlier => cos(earlier, id) >= 0.45)
        (id, cell, if (dup) 0 else 1)
      }
    }.toSeq.sortBy(_._1)
    assert(out.toSeq.sortBy(_._1) == expected)
    // the most central member of each cell is always kept, and some
    // cell actually dropped something at this threshold... (fixture
    // plants embedding near-dups; if none survive here the threshold
    // is above every within-cell cosine — still a valid state, so only
    // pin the keep-rate bounds)
    val keptN = out.count(_._3 == 1)
    assert(keptN >= cells.length && keptN <= total)
    // threshold monotonicity: τ > 1 keeps everything
    assert(Similarity.semanticDedup(spark, sf, threshold = 1.01)
      .collect().forall(_.getInt(2) == 1))
  }

  test("benchmark decontamination flags exactly the train docs sharing an 8-gram with test") {
    val out = Dedup.benchmarkDecontam(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    def split(id: Long): String = {
      val b = ((id * 2654435761L) % 2147483647L) % 10
      if (b < 8) "train" else if (b == 8) "valid" else "test"
    }
    def grams(toks: Seq[String]): Set[String] =
      toks.sliding(8).filter(_.size == 8).map(_.mkString(" ")).toSet
    val bench = docs.collect { case (id, t) if split(id) == "test" => grams(t) }
      .foldLeft(Set.empty[String])(_ ++ _)
    val expected = docs.toSeq.collect {
      case (id, t) if split(id) == "train" && t.size >= 8 =>
        val g = grams(t)
        (id, g.size.toLong, g.count(bench.contains).toLong)
    }.filter(_._3 > 0).sortBy(_._1)
    assert(out.toSeq.sortBy(_._1) == expected)
    assert(expected.nonEmpty, "fixture plants cross-split near-dups; none hit")
  }

  test("decontam shuffle fallback returns exactly the broadcast-path rows") {
    // force the size gate shut (maxBroadcastGrams = 0): the keyed
    // shuffle join must be row-identical to the broadcast probe
    val bc = Dedup.benchmarkDecontam(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val sm = Dedup.benchmarkDecontam(spark, sf, maxBroadcastGrams = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sm == bc, "gated fallback diverged from the broadcast path")
  }

  test("repeated spans replay exactly under an in-JVM reimplementation") {
    val out = Dedup.repeatedSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    // semantic truth over STRING grams (the operator keys on hashes;
    // equality here also certifies the fixture is collision-free)
    val gramDocs = scala.collection.mutable.Map.empty[Seq[String], Set[Long]]
    for ((id, toks) <- docs; g <- toks.sliding(8) if g.size == 8)
      gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
    val repeated = gramDocs.collect {
      case (g, ids) if ids.size >= 2 => g
    }.toSet
    val expected = docs.toSeq.flatMap { case (id, toks) =>
      val starts = toks.sliding(8).zipWithIndex.collect {
        case (g, i) if g.size == 8 && repeated(g) => (i + 1).toLong
      }.toSeq
      // overlap-merge islands, mirroring the operator's window logic
      val islands = starts.foldLeft(List.empty[(Long, Long, Long)]) {
        case ((s0, e0, n0) :: rest, s) if s <= e0 =>
          (s0, math.max(e0, s + 7), n0 + 1) :: rest
        case (acc, s) => (s, s + 7, 1L) :: acc
      }.reverse
      islands.map { case (s, e, n) => (id, s, e, e - s + 1, n) }
    }.sortBy(t => (t._1, t._2))
    assert(out == expected)
    assert(expected.nonEmpty, "fixture plants cross-doc duplicate text; none found")
  }

  test("span scrub removes exactly the merged-span token mass") {
    // removed tokens per doc must equal the sum of that doc's merged
    // span lengths (spans never overlap after the merge), and only
    // docs that actually lost tokens may appear
    val spans = Dedup.repeatedSpans(spark, sf).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(3)).sum).toMap
    val rows = Dedup.spanScrub(spark, sf).collect()
    assert(rows.nonEmpty, "fixture plants cross-doc repeats; none scrubbed")
    rows.foreach { r =>
      val (id, before, kept) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(kept < before)
      assert(before - kept == spans(id),
        s"doc $id removed ${before - kept}, spans say ${spans(id)}")
      // fully-scrubbed docs have no text to hash; others carry sha256
      assert((kept == 0L) == r.isNullAt(3))
    }
    // and docs with no spans must not appear
    assert(rows.map(_.getLong(0)).toSet.subsetOf(spans.keySet))
  }

  test("identical documents scrub each other to nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scrub_").toString
    // A and B are verbatim copies (12 tokens); C shares no 8-gram
    Seq((1L, "q w e r t y u i o p a s"),
        (2L, "q w e r t y u i o p a s"),
        (3L, "z z z z z z z z z z z z"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.spanScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.isNullAt(3))).toSeq
    assert(rows == Seq((1L, 0L, true), (2L, 0L, true)),
      s"copies must fully scrub, the unique doc must survive: $rows")
  }

  test("prefix filter catches pairs exactly at the jaccard threshold (regression)") {
    // Boundary construction: two 5-token docs sharing 3 of their 4
    // bigrams, each with one globally-unique bigram -> J = 3/5 exactly,
    // and the unique (rarest) grams sort FIRST, so a one-short prefix
    // (the double-division slice bug this pins) holds only the
    // non-shared gram and silently misses the pair.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tau_").toString
    Seq((1L, "a x y z w"), (2L, "b x y z w"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (st <- Seq(Dedup.CountJoin, Dedup.PrefixFilter)) {
      val pairs = Dedup.ngramJaccard(spark, dir, strategy = st).collect()
      assert(pairs.length == 1, s"$st must find the tau-boundary pair")
      assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
      assert(pairs.head.getDouble(2) == 0.6)
    }
  }

  test("PQ: codebook retrains bit-identically, codes partition, ADC sums the LUT") {
    import operators.Similarity
    def cb(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toList))
      .sortBy(t => (t._1, t._2)).toList
    // a genuine RE-TRAIN (memo bypassed) equals the memoized codebook
    val book = cb(Similarity.pqCodebooks(spark, sf))
    assert(book == cb(Similarity.pqCodebooksBuild(spark, sf)))
    // 4 subspaces, ≤4 surviving codewords each, 16-dim integer centroids
    assert(book.map(_._1).distinct == List(0, 1, 2, 3))
    book.groupBy(_._1).foreach { case (_, cells) =>
      assert(cells.nonEmpty && cells.size <= 4)
      cells.foreach(c => assert(c._3.size == 16))
    }
    // every vector gets exactly one code per subspace
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val codes = Similarity.pqAssign(
        Similarity.pqSubVectors(spark, sf),
        Similarity.pqCodebooks(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(codes.size == n * 4)
    assert(codes.values.forall(c => c >= 0 && c < 4))
    // ADC re-derivation: the reported distance for each top-k row equals
    // the driver-side sum of this query's LUT entries at the hit's codes
    val cbMap = book.map(t => (t._1, t._2) -> t._3).toMap
    val qSubs = Similarity.pqSubVectors(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 8).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Long](2)).toMap
    def adcOf(q: Long, hit: Long): Long = (0 until 4).map { j =>
      val slice = qSubs((q, j))
      val word = cbMap((j, codes((hit, j))))
      slice.zip(word).map { case (a, b) => (a - b) * (a - b) }.sum
    }.sum
    Similarity.pqAdcTopK(spark, sf).collect().foreach { r =>
      assert(r.getLong(3) == adcOf(r.getLong(0), r.getLong(2)),
        s"ADC mismatch for query ${r.getLong(0)} hit ${r.getLong(2)}")
    }
    // IVF-PQ composition: distances are the same ADC (pruning never
    // perturbs scores), and the prune can only SHRINK the result —
    // every hit's ADC is >= the full-corpus ADC at the same rank
    val full = Similarity.pqAdcTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    val pruned = Similarity.ivfPqTopK(spark, sf).collect()
    assert(pruned.nonEmpty)
    pruned.foreach { r =>
      val (q, rnk, hit, adc) = (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))
      assert(adc == adcOf(q, hit), s"IVF-PQ perturbed ADC at ($q, $hit)")
      assert(adc >= full((q, rnk)),
        s"pruned rank-$rnk for query $q beat the full-corpus scan")
    }
  }

  test("ANN recall rows are exact intersection counts with the shared denominator") {
    import operators.Similarity
    val rows = Similarity.annRecall(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("ivf_learned", "ivfpq", "lsh"))
    val truth = Similarity.cosineTopK(spark, sf, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows.values.forall(_._2 == truth.size), "denominator drifted")
    // replay one method's intersection driver-side
    val ivf = Similarity.ivfTopK(spark, sf, 3,
        cells = Some(Similarity.kmeansSums(spark, sf))).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows("ivf_learned")._1 == ivf.intersect(truth).size)
    rows.values.foreach { case (h, d) => assert(h >= 0 && h <= d) }
  }

  test("incremental IVF snapshot state equals a full reassignment") {
    import operators.Similarity
    val inc = Similarity.incrementalIvfAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t = Similarity.newVecThreshold(spark, sf)
    val full = Similarity.assignToCells(
        spark.read.parquet(s"$sf/embeddings.parquet"),
        Similarity.kmeansSums(spark, sf, idBound = t)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full,
      "snapshot-composed incremental assignment diverged from full pass")
    // and the delta was genuinely non-trivial on both sides of the split
    assert(inc.keys.count(_ >= t) > 0 && inc.keys.count(_ < t) > 0)
  }

  test("incremental IVF delta merge is insert-only: zero historical files rewritten") {
    import operators.{Similarity, Snapshot}
    // the historical assignment is range-laid with per-file vec_id
    // stats and the CDC batch's ids all sit ABOVE the historical max,
    // so mergeCommit's stats consultation must find NO overlapping
    // file: every v=1 file rides into v=2 by manifest reference and
    // the merge writes only the delta — the incremental-maintenance
    // cost model (delta-sized I/O) as an asserted property, not prose
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_grain_").toString
    Similarity.incrementalIvfAssignAt(spark, sf, root).count()
    val head = Snapshot.currentVersion(spark, root).get
    assert(head == 2L, s"expected commit + one merge, head=$head")
    val mf = Snapshot.fileInventory(spark, root, head).map(_._1)
    val Seq(d1, dHead) = Seq(1L, head).map(Snapshot.metaOf(spark, root, _).dir.get)
    val v1Count = java.nio.file.Files.list(java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(d1).toUri.getPath))
      .toArray.map(_.toString)
      .count(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
    assert(mf.count(_.startsWith(d1 + "/")) == v1Count,
      "delta merge rewrote historical files — the insert-only prune regressed")
    assert(mf.exists(_.startsWith(dHead + "/")), "delta files missing")
  }

  test("salted join equals the plain join (salt never leaks into results)") {
    import graft.operators.Layout
    import graft.sources.Tables
    val salted = Layout.skewedEventsJoin(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toList
    val big = Tables.events(spark, sf)
      .select(col("user_id"), col("value"),
        when(col("user_id") % 100 < 80, lit(0))
          .otherwise((col("user_id") % 20).cast("int") + 1).as("skew_key"))
    val plain = big.join(Tables.nation(spark, sf),
        col("skew_key") === col("n_nationkey"))
      .groupBy(col("skew_key"), col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy("skew_key").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toList
    assert(salted == plain)
    // the venue is genuinely hot: key 0 carries the dominant mass
    val mass = salted.map(t => t._1 -> t._3).toMap
    assert(mass(0) > salted.map(_._3).sum / 2, s"key 0 not hot: $mass")
  }

  test("containment pairs replay exactly under an in-JVM recompute (incl. the top-8 bound)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // width-4 distinct gram-id sets per doc (the Spark side's pipeline)
    val gsets = docs.map { case (id, text) =>
      val t = text.split(" ")
      id -> t.sliding(4).filter(_.length == 4)
        .map(g => graft.plans.PolyHash.hash(g.mkString(" "))).toSet
    }.filter(_._2.nonEmpty)
    // df ceiling (not binding at 50 docs, but replay it anyway)
    val df = gsets.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val kept = gsets.map { case (id, s) => id -> s.filter(df(_) <= 300) }
      .filter(_._2.nonEmpty)
    val want = (for {
      (a, sa) <- kept; (b, sb) <- kept if a < b
      inter = (sa & sb).size.toLong
      if inter * 5 >= sa.size * 3 || inter * 5 >= sb.size * 3
    } yield (a, b, sa.size.toLong, sb.size.toLong, inter,
      inter.toDouble / sa.size, inter.toDouble / sb.size)).toSeq
    val bounded = want.groupBy(_._1).toSeq.flatMap { case (_, ps) =>
      ps.sortBy(p => (-math.max(p._6, p._7), p._2)).take(8)
    }.sortBy(p => (p._1, p._2))
    val got = Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == bounded)
    assert(got.nonEmpty)
  }

  test("kNN join restricted to the query set IS annLsh (same buckets, same ranks)") {
    // knnJoin generalizes annLsh from the 8-query set to every vector:
    // identical LSH parameters must therefore produce identical rows
    // when the graph is filtered to those sources
    val graph = Similarity.knnJoin(spark, sf, k = 3)
      .filter(col("src_id") < 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toList
    val ann = Similarity.annLsh(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toList
    assert(graph == ann)
  }

  test("kNN join emits at most k rows per source with contiguous ranks and true cosines") {
    val rows = Similarity.knnJoin(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, nbrs) =>
      val ranks = nbrs.map(_._2).sorted.toList
      assert(ranks == (1 to nbrs.length).toList, s"src $src ranks $ranks")
      assert(nbrs.length <= 3)
      // descending cosine within each source's list
      val byRank = nbrs.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
      assert(!nbrs.exists(_._3 == src), s"self-edge at $src")
    }
    // the graph covers well beyond the 8-query set
    assert(rows.map(_._1).distinct.length > 8)
  }

  test("ensemble dedup is exactly the full-outer fusion of the two detectors") {
    val lex = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Similarity.embeddingNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Dedup.ensembleDedup(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(4),
        !r.isNullAt(2), !r.isNullAt(3)))
    assert(rows.map(_._1).toSet == (lex ++ sem))
    rows.foreach { case (p, signal, hasJ, hasC) =>
      val expect =
        if (lex(p) && sem(p)) "both"
        else if (lex(p)) "lexical" else "semantic"
      assert(signal == expect, s"pair $p: $signal != $expect")
      assert(hasJ == lex(p) && hasC == sem(p), s"pair $p NULL pattern")
    }
    // the point of the ensemble: the two detectors genuinely disagree
    // (at sf0.01 both directions are populated — the driver's oracle
    // venue shows 25 lexical-only + 1 semantic-only; this smaller
    // fixture pins at least one side)
    assert((lex -- sem).nonEmpty || (sem -- lex).nonEmpty)
  }

  test("filter drift audit: bins partition the corpus, the integer gate is the >10-point rule") {
    val rows = TextAnalysis.filterDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.count()
    val kept = docs.filter(col("n_chars") >= 280).count()
    Seq("len_bin", "lang").foreach { f =>
      val g = rows.filter(_._1 == f)
      assert(g.map(_._3).sum == total, s"$f bins must partition all docs")
      assert(g.map(_._4).sum == kept, s"$f bins must partition kept docs")
    }
    rows.foreach { case (f, b, nAll, nKept, delta, drifted) =>
      val exact = nKept.toDouble / kept - nAll.toDouble / total
      assert(math.abs(exact - delta) < 1e-12, s"($f,$b) delta")
      assert(drifted ==
        (math.abs(nKept * total - nAll * kept) * 10 > total * kept),
        s"($f,$b) gate")
    }
    // the length gate must visibly drift the length feature
    assert(rows.exists(r => r._1 == "len_bin" && r._6))
  }

  test("JL distortion audit: quantiles well-formed, error shrinks with projection width") {
    val rows = Similarity.jlDistortion(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    // 8 queries × two widths; every pair of the corpus audited
    assert(rows.length == 16)
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    rows.foreach { case (_, d, np, mx, p50, p90) =>
      assert(Set(8, 32).contains(d))
      assert(np == n - 1)
      assert(p50 <= p90 && p90 <= mx && mx <= 2.0 && p50 >= 0.0)
    }
    // the JL lemma made measurable: per query, widening 8 → 32 dims
    // shrinks the p90 distortion (≈1/√D; exact factor is data-noise)
    val byQ = rows.groupBy(_._1)
    byQ.foreach { case (q, g) =>
      val p90of = g.map(x => x._2 -> x._6).toMap
      assert(p90of(32) < p90of(8),
        s"query $q: p90 ${p90of(32)} !< ${p90of(8)}")
    }
    // ...and the audit's verdict on THIS corpus: even at D=32 the p90
    // distortion dwarfs the ~0.003 neighbor-rank gaps — the measured
    // reason the ANN family scores candidates at full precision
    // instead of ranking in projected space
    assert(byQ.values.flatten.filter(_._2 == 32).map(_._6).min > 0.01)
  }

  test("incremental dedup: verdicts agree with a full recompute; corpus text stays out of the batch plan") {
    val out = Dedup.incrementalMinhash(spark, sf)
    val rows = out.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      if (r.isNullAt(2)) None else Some(r.getInt(2))))
    // every delta doc gets exactly its verdict rows; novel docs exist
    val deltaIds = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 5 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == deltaIds)
    assert(rows.exists(_._2.isEmpty), "fixture should have novel delta docs")
    val dups = rows.filter(_._2.isDefined)
    assert(dups.nonEmpty, "fixture plants near-dups across the split")
    // agreement threshold and partner convention hold
    dups.foreach { case (d, Some(p), Some(n)) =>
      assert(n >= 12 && n <= 16)
      assert(p % 5 != 0 || p < d, s"delta-delta pair ($d,$p) must keep the earlier doc")
    case _ => fail()
    }
    // verdicts agree with x09b's from-scratch pair graph where both
    // apply: any full-pipeline VERIFIED pair (jaccard >= 0.8, well
    // above the banding estimate's floor) whose later side is a delta
    // doc must be found by the incremental path too
    val strong = Dedup.minhashLsh(spark, sf).collect()
      .filter(_.getDouble(2) >= 0.8)
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a % 5 == 0 || b % 5 == 0 }
    val found = dups.map { case (d, Some(p), _) => (d.min(p), d.max(p)) case _ => fail() }.toSet
    strong.foreach { case (a, b) =>
      assert(found.contains((a.min(b), a.max(b))),
        s"strong pair ($a,$b) missed by the incremental path")
    }
    // the 100 TB claim, visible in the plan: after the index exists,
    // the batch-dedup plan touches documents.parquet ONLY for the
    // delta verdict-row join, column-pruned to doc_id — corpus text
    // rides in exclusively through the signature-index parquet
    val planStr = out.queryExecution.executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(planStr).length
    assert(docScans >= 1, s"expected the delta doc_id scan in:\n$planStr")
    val textReads = planStr.split("\n")
      .filter(_.contains("documents.parquet"))
      .count(_.contains("text"))
    assert(textReads == 0,
      s"corpus/delta TEXT must not appear in the batch plan (the " +
        s"signature checkpoint already paid it):\n$planStr")
    assert(planStr.contains("graft_mhidx_"),
      "signature-index parquet scan missing from the plan")
  }

  test("wide doc ids (≥ 2^31): pair counting and the split survive, results shift-equivariant") {
    import org.apache.spark.sql.functions._
    // a fixture whose doc ids escape the packed-key domain — what the
    // replica-shifted scale fixtures (and any 100 TB corpus) carry
    val tmp = java.nio.file.Files.createTempDirectory("graft_wideid_")
      .toString
    val shift = 5000000000L
    graft.sources.Tables.documents(spark, sf)
      .withColumn("doc_id", col("doc_id") + shift)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // CountJoin jaccard: identical pairs, ids shifted (struct-key path)
    val base = graft.operators.Dedup.ngramJaccardTop(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val wide = graft.operators.Dedup.ngramJaccardTop(spark, tmp).collect()
      .map(r => (r.getLong(0) - shift, r.getLong(1) - shift,
        r.getDouble(2))).toSeq
    assert(wide == base, "struct-key pair counting diverged from packed")
    // containment: same equivariance
    val cBase = graft.operators.Dedup.containmentPairs(spark, sf)
      .select("doc_a", "doc_b", "inter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cWide = graft.operators.Dedup.containmentPairs(spark, tmp)
      .select("doc_a", "doc_b", "inter").collect()
      .map(r => (r.getLong(0) - shift, r.getLong(1) - shift,
        r.getLong(2))).toSeq
    assert(cWide == cBase, "containment struct-key path diverged")
    // the leakage-safe split's bucket hash must not overflow on wide
    // ids (regression: raw `id·a` product blew past 2^63 at sf1)
    val split = graft.operators.TextAnalysis.leakageSafeSplit(spark, tmp)
      .collect()
    assert(split.map(_.getLong(1)).sum ==
      graft.sources.Tables.documents(spark, sf).count())
  }

  test("class-collapsed builds equal the doc-level reference on a dup-dense corpus") {
    // The oracle fixtures are nearly dup-free, so they barely exercise
    // the identical-text class expansion (intra-class 1.0 pairs, both-
    // direction cross expansion, equal-set order-permuted classes,
    // side-label swaps, per-class-pair top-8 slices). This corpus is
    // built to stress exactly those paths: exact-dup groups of
    // multiplicity 5, 3, and 12; a cross-group pair at J = 0.6 exactly;
    // and two DIFFERENT texts with EQUAL bigram sets.
    import spark.implicits._
    val g1 = (1L to 5L).map(i => (i, "alpha beta gamma delta epsilon"))
    val g2 = (6L to 8L).map(i => (i, "alpha beta gamma delta zeta"))
    val perm = Seq((9L, "a b a b a"), (10L, "b a b a b"))
    val solo = (11L to 13L).map(i => (i, s"u$i v$i w$i x$i y$i"))
    val big = (30L to 41L).map(i => (i, "omega psi chi phi upsilon"))
    val docs = g1 ++ g2 ++ perm ++ solo ++ big
    val dir = java.nio.file.Files.createTempDirectory("graft_dup_").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // doc-level reference: distinct bigram sets, J ≥ 0.6, a < b
    val gsets = docs.map { case (id, t) =>
      id -> t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    }.toMap
    val ids = docs.map(_._1)
    val refPairs = (for {
      a <- ids; b <- ids if a < b
      ia = gsets(a).intersect(gsets(b)).size
      j = ia.toDouble / (gsets(a).size + gsets(b).size - ia)
      if j >= 0.6
    } yield (a, b, j)).toSet
    for (st <- Seq(Dedup.CountJoin, Dedup.PrefixFilter)) {
      val got = Dedup.ngramJaccard(spark, dir, strategy = st).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == refPairs,
        s"$st: ${(got -- refPairs)} unexpected; ${(refPairs -- got)} missing")
    }
    // spot shape: the 12-copy group alone contributes C(12,2)=66 pairs,
    // the equal-set permuted pair (9,10) verifies at exactly 1.0, and
    // the G1×G2 boundary pairs land at exactly 0.6
    assert(refPairs.count { case (a, b, _) => a >= 30 && b >= 30 } == 66)
    assert(refPairs.contains((9L, 10L, 1.0)))
    assert(refPairs.count { case (a, b, j) => a <= 5 && b >= 6 && b <= 8 }
      == 15 && refPairs.filter { case (a, b, _) =>
        a <= 5 && b >= 6 && b <= 8 }.forall(_._3 == 0.6))

    // containment: doc-level reference with the per-doc top-8 contract
    val tau = (ia: Int, n: Int) => ia * 5 >= n * 3
    val contRef = (for {
      a <- ids; b <- ids if a < b
      ia = gsets(a).intersect(gsets(b)).size if ia > 0
      (na, nb) = (gsets(a).size, gsets(b).size)
      if tau(ia, na) || tau(ia, nb)
    } yield (a, b, ia.toDouble / na, ia.toDouble / nb)).toSeq
    val contTop = contRef.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(r => (-math.max(r._3, r._4), r._2)).take(8)
    }.toSet
    val gotCont = Dedup.containmentPairs(spark, dir, width = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5), r.getDouble(6)))
      .toSet
    assert(gotCont == contTop,
      s"containment: ${(gotCont -- contTop)} unexpected; ${(contTop -- gotCont)} missing")

    // simhash pairs: identical texts fingerprint identically, and the
    // 12-copy group's first member emits EXACTLY MaxPairsPerDoc
    // hamming-0 partners (the per-class-pair top-8-by-id slice)
    val fp = Dedup.simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert((30L to 41L).map(fp).toSet.size == 1, "identical texts, one fingerprint")
    val sp = Dedup.simhashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val from30 = sp.filter(_._1 == 30L)
    assert(from30.length == 8 && from30.forall(_._3 == 0)
      && from30.map(_._2).sorted.sameElements(31L to 38L),
      s"doc 30 must emit the 8 smallest co-members at hamming 0: ${from30.toList}")

    // minhash-LSH: every jaccard-1.0 pair is banding-proof (identical
    // signatures always collide) — all intra-group pairs and the
    // equal-set permuted pair must surface at exactly 1.0
    val mh = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ones = refPairs.filter(_._3 == 1.0)
      .filter { case (a, b, _) => // 3-shingle eligibility: ≥ 3 tokens
        docs.toMap.apply(a).split(" ").length >= 3 }
    assert(ones.subsetOf(mh),
      s"jaccard-1.0 pairs missing from minhash: ${(ones -- mh)}")
    // note: refPairs J is over bigrams, minhash J over 3-shingles —
    // they agree at 1.0 (identical sets) which is all this pin uses
    mh.foreach { case (a, b, j) =>
      val (sa, sb) = (docs.toMap.apply(a).split(" ").sliding(3).map(_.mkString(" ")).toSet,
        docs.toMap.apply(b).split(" ").sliding(3).map(_.mkString(" ")).toSet)
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - expect) < 1e-12, s"($a,$b): $j vs $expect")
    }
  }
}
