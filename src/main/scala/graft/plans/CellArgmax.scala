package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: IVF cell argmax as a PER-ROW loop over
  * the (tiny, plan-embedded) codebook, replacing the N×k
  * crossJoin → max_by(struct) plane.
  *
  * The aggregate form had the right arithmetic but the wrong physical
  * shape at scale: `max_by` with a struct ordering key cannot use
  * HashAggregate (struct agg buffers aren't UnsafeRow-mutable), so
  * Spark planned SortAggregate over the fan-out — at sf100 that was a
  * 500M-row, 23.7 GB external sort SPILL for a 2M-row result
  * (BENCH_NOTES r13). A codebook is a MODEL — k×dims
  * integers, k ≈ √N by [[graft.operators.Similarity.annGeometry]] —
  * so the FAISS-shaped plan is: embed it in the row expression and
  * argmax inline. The fan-out, the aggregate, and the spill all
  * disappear; assignment becomes a pure map job (the 100 TB shape:
  * zero shuffle until the range layout of the one-per-vector OUTPUT).
  *
  * The codebook rides as PRIMITIVE `long[]` constructor fields (bound
  * into generated code via `addReferenceObj`), not as array-literal
  * child expressions: a literal's `GenericArrayData` boxes every
  * `getLong`, which at k·d accesses per row put ~9 ns/madd back on
  * the loop (measured — the first cut of this expression); primitive
  * loads run the loop at memory speed. SQL-registry construction
  * therefore requires the three codebook arguments to be foldable
  * array literals — which they are by design: the codebook is a
  * plan-time constant.
  *
  * `graft_cell_argmax(qv, cellIds, ns, sFlat)` returns the 0-based
  * index `j` into `cellIds` maximizing
  * `(double)(Σᵢ qvᵢ · sFlat[j·d+i]) / (double)ns[j]` with the same
  * total (score desc, cellId asc) tiebreak the max_by plane used —
  * score doubles are produced by the identical IEEE (long→double
  * divide) op chain, so the chosen cell is bit-equal and every oracle
  * is untouched. The caller recomputes the winner's score with one
  * more ldot (d madds/row — noise against the k·d loop here). */
case class CellArgmax(qv: Expression, cellIds: Array[Long],
                      ns: Array[Long], sFlat: Array[Long])
  extends UnaryExpression {

  override def child: Expression = qv

  override def checkInputDataTypes(): TypeCheckResult = qv.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> vector argument, got " +
        t.catalogString)
  }
  override def dataType: DataType = LongType
  override def prettyName: String = CellArgmax.name

  override def nullSafeEval(q: Any): Any = {
    // one primitive copy of the row's vector, then k·d primitive
    // reads: ArrayData.getLong is a virtual call + bounds check, and
    // at k·d ≈ 16k reads per row it dominated the loop (~100 µs/row
    // measured at sf100 vs ~16 µs of arithmetic)
    val qv = q.asInstanceOf[ArrayData].toLongArray()
    val d = qv.length
    val k = cellIds.length
    var bestJ = -1L
    var bestScore = Double.NegativeInfinity
    var bestId = Long.MaxValue
    var j = 0
    while (j < k) {
      var dot = 0L
      val off = j * d
      var i = 0
      while (i < d) { dot += qv(i) * sFlat(off + i); i += 1 }
      val score = dot.toDouble / ns(j).toDouble
      val cid = cellIds(j)
      if (score > bestScore || (score == bestScore && cid < bestId)) {
        bestScore = score; bestId = cid; bestJ = j
      }
      j += 1
    }
    bestJ
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("cellIds", cellIds, "long[]")
    val nsRef = ctx.addReferenceObj("cellNs", ns, "long[]")
    val sRef = ctx.addReferenceObj("cellSums", sFlat, "long[]")
    nullSafeCodeGen(ctx, ev, q => {
      val d = ctx.freshName("d")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val off = ctx.freshName("off")
      val dot = ctx.freshName("dot")
      val score = ctx.freshName("score")
      val cid = ctx.freshName("cid")
      val bestJ = ctx.freshName("bestJ")
      val bestScore = ctx.freshName("bestScore")
      val bestId = ctx.freshName("bestId")
      val qbuf = ctx.freshName("qbuf")
      s"""
         |long[] $qbuf = $q.toLongArray();
         |int $d = $qbuf.length;
         |int $k = $idsRef.length;
         |long $bestJ = -1L;
         |double $bestScore = java.lang.Double.NEGATIVE_INFINITY;
         |long $bestId = java.lang.Long.MAX_VALUE;
         |for (int $j = 0; $j < $k; $j++) {
         |  long $dot = 0L;
         |  int $off = $j * $d;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $dot += $qbuf[$i] * $sRef[$off + $i];
         |  }
         |  double $score = (double) $dot / (double) $nsRef[$j];
         |  long $cid = $idsRef[$j];
         |  if ($score > $bestScore ||
         |      ($score == $bestScore && $cid < $bestId)) {
         |    $bestScore = $score; $bestId = $cid; $bestJ = $j;
         |  }
         |}
         |${ev.value} = $bestJ;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): CellArgmax = copy(qv = newChild)
}

object CellArgmax {
  val name = "graft_cell_argmax"

  private def toLongs(e: Expression, pos: Int): Array[Long] = e match {
    case l: Literal if l.value.isInstanceOf[ArrayData] =>
      l.value.asInstanceOf[ArrayData].toLongArray()
    case other => throw new IllegalArgumentException(
      s"$name: codebook argument ${pos + 1} must be a foldable " +
        s"array<bigint> literal (the codebook is a plan-time constant); " +
        s"got ${other.sql}")
  }

  /** Idempotent per-session SQL registration. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => CellArgmax(exprs.head, toLongs(exprs(1), 1),
        toLongs(exprs(2), 2), toLongs(exprs(3), 3)),
      "scala_udf")
}
