package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: PQ codeword argmin as a PER-ROW loop
  * over the plan-embedded product-quantization codebook —
  * [[CellArgmax]]'s exact-L2 sibling for the PQ training/encode plane.
  *
  * A PQ codebook is m·k codewords of sub-vector width (m = 4, k ≤ 4
  * here — 256 longs; any real PQ config stays a few KB), so joining
  * the corpus against it and re-aggregating was the wrong physical
  * shape twice over: the broadcast-join fan-out costs N·m·k row
  * copies, and the training loop then JOINED the assignment back to
  * the cached sub-vectors to rebuild centroids — a corpus-sized
  * sort-merge join (740 MB shuffle per Lloyd's iteration at sf100,
  * BENCH_NOTES r13) for data the row already had in
  * hand. With the codebook embedded, assignment is one projection and
  * the rebuild is `withColumn(cell) → groupBy(sub, cell)` — no join,
  * no fan-out, one map-side-combined aggregate.
  *
  * `graft_pq_argmin(sq, sub)` + constructor fields
  * `(subStarts, cellIds, cqFlat)`: for row subspace `sub`, scan
  * codewords `j ∈ [subStarts(sub), subStarts(sub+1))`, exact BIGINT
  * L2 over the row's `d` elements against `cqFlat[j·d ...]`, return
  * the winning `cellIds(j)` under the same total (dist asc, cell asc)
  * tiebreak as [[graft.operators.Similarity.pqAssign]]'s packed-min —
  * identical codes, every PQ oracle untouched. Codebook arrays ride
  * as primitive long[] reference objects (the CellArgmax lesson:
  * literal-child GenericArrayData boxes every read). */
case class PqArgmin(sq: Expression, sub: Expression,
                    subStarts: Array[Long], cellIds: Array[Long],
                    cqFlat: Array[Long])
  extends BinaryExpression {

  // Every subspace must own at least one codeword: an empty range
  // [subStarts(i), subStarts(i+1)) would make the argmin loop fall
  // through and return the Long.MaxValue SENTINEL as a real code —
  // silent corruption where the old inner-join form merely dropped the
  // row. Unreachable under current codebook construction (all m subs
  // trained together), so fail loudly at plan-build time if the
  // invariant ever breaks rather than guarding the per-row hot loop.
  require(subStarts.length >= 2 &&
    subStarts.iterator.sliding(2).forall(p => p.head < p.last),
    s"${PqArgmin.name}: subStarts must be strictly increasing — every " +
      s"subspace needs >=1 codeword, got ${subStarts.mkString("[", ",", "]")}")

  override def left: Expression = sq
  override def right: Expression = sub

  override def checkInputDataTypes(): TypeCheckResult =
    (sq.dataType, sub.dataType) match {
      case (ArrayType(LongType, _), LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, bigint), got " +
          s"${a.catalogString}, ${b.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = PqArgmin.name

  override def nullSafeEval(q: Any, s: Any): Any = {
    val qa = q.asInstanceOf[ArrayData]
    val d = qa.numElements()
    val subI = s match { case i: Int => i; case l: Long => l.toInt }
    var bestDist = Long.MaxValue
    var bestId = Long.MaxValue
    var j = subStarts(subI).toInt
    val end = subStarts(subI + 1).toInt
    while (j < end) {
      var dist = 0L
      val off = j * d
      var i = 0
      while (i < d) {
        val diff = qa.getLong(i) - cqFlat(off + i)
        dist += diff * diff
        i += 1
      }
      val cid = cellIds(j)
      if (dist < bestDist || (dist == bestDist && cid < bestId)) {
        bestDist = dist; bestId = cid
      }
      j += 1
    }
    bestId
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val startsRef = ctx.addReferenceObj("pqSubStarts", subStarts, "long[]")
    val idsRef = ctx.addReferenceObj("pqCellIds", cellIds, "long[]")
    val cqRef = ctx.addReferenceObj("pqCqFlat", cqFlat, "long[]")
    nullSafeCodeGen(ctx, ev, (q, s) => {
      val d = ctx.freshName("d")
      val j = ctx.freshName("j")
      val end = ctx.freshName("end")
      val i = ctx.freshName("i")
      val off = ctx.freshName("off")
      val dist = ctx.freshName("dist")
      val diff = ctx.freshName("diff")
      val cid = ctx.freshName("cid")
      val bestDist = ctx.freshName("bestDist")
      val bestId = ctx.freshName("bestId")
      s"""
         |int $d = $q.numElements();
         |long $bestDist = java.lang.Long.MAX_VALUE;
         |long $bestId = java.lang.Long.MAX_VALUE;
         |int $end = (int) $startsRef[(int) $s + 1];
         |for (int $j = (int) $startsRef[(int) $s]; $j < $end; $j++) {
         |  long $dist = 0L;
         |  int $off = $j * $d;
         |  for (int $i = 0; $i < $d; $i++) {
         |    long $diff = $q.getLong($i) - $cqRef[$off + $i];
         |    $dist += $diff * $diff;
         |  }
         |  long $cid = $idsRef[$j];
         |  if ($dist < $bestDist || ($dist == $bestDist && $cid < $bestId)) {
         |    $bestDist = $dist; $bestId = $cid;
         |  }
         |}
         |${ev.value} = $bestId;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqArgmin =
    copy(sq = newLeft, sub = newRight)
}

object PqArgmin {
  val name = "graft_pq_argmin"

  private def toLongs(e: Expression, pos: Int): Array[Long] = e match {
    case l: Literal if l.value.isInstanceOf[ArrayData] =>
      l.value.asInstanceOf[ArrayData].toLongArray()
    case other => throw new IllegalArgumentException(
      s"$name: codebook argument ${pos + 1} must be a foldable " +
        s"array<bigint> literal; got ${other.sql}")
  }

  /** Idempotent per-session SQL registration:
    * `graft_pq_argmin(sq, sub, subStarts, cellIds, cqFlat)` with the
    * three codebook arguments required foldable. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => PqArgmin(exprs.head, exprs(1), toLongs(exprs(2), 2),
        toLongs(exprs(3), 3), toLongs(exprs(4), 4)),
      "scala_udf")
}
