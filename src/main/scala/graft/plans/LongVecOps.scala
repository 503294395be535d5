package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for exact BIGINT-array vector math —
  * the already-quantized siblings of [[QuantizedDot]] (which fuses
  * quantization INTO the dot and therefore only accepts float arrays).
  *
  * The ANN training/assignment planes — Lloyd's scoring, the N×k cell
  * assignment, PQ codeword assignment — all compare a quantized corpus
  * vector (`array<bigint>`) against a codebook's integer sum-vectors
  * or codewords, and until r13 did so through the composed
  * higher-order form `aggregate(zip_with(a, b, _*_), 0, _+_)`
  * ([[graft.functions.VectorOps.dotQ]]). Higher-order functions
  * evaluate their lambda INTERPRETED, per element, with two
  * intermediate ArrayData allocations per pair — measured ~7 µs per
  * 64-dim pair (BENCH_NOTES r13), which multiplied by
  * the N×k assignment pass made the dot itself the staged-index
  * build's dominant cost. These expressions emit the same arithmetic
  * as a tight primitive loop inside whole-stage codegen: identical
  * integers (the oracles are untouched), two orders of magnitude less
  * per-pair overhead.
  */
object LongVecOps {
  val dotName = "graft_ldot"
  val l2Name = "graft_ll2"
  val matchName = "graft_lmatch"

  /** Idempotent per-session SQL registration of `graft_ldot(a, b)`
    * (exact Σ aᵢ·bᵢ), `graft_ll2(a, b)` (exact Σ (aᵢ−bᵢ)²) and
    * `graft_lmatch(a, b)` (count of positions with aᵢ = bᵢ) over
    * `array<bigint>` columns. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      dotName, exprs => LongDot(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      l2Name, exprs => LongL2(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      matchName, exprs => LongMatch(exprs.head, exprs(1)), "scala_udf")
  }
}

/** Shared typing/codegen shell: exact BIGINT binary reduction over two
  * `array<bigint>` columns, truncated to the shorter length (the same
  * convention as [[QuantizedDot]]; all fixture pairs are equal-length,
  * pinned by QuantizedDotSpec). */
sealed trait LongVecReduce extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType

  /** Per-element contribution in generated-Java source, over element
    * variables `$x`/`$y`. */
  protected def termJava(x: String, y: String): String
  /** Per-element contribution for interpreted eval. */
  protected def termEval(x: Long, y: Long): Long

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += termEval(x.getLong(i), y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val vx = ctx.freshName("vx")
      val vy = ctx.freshName("vy")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $vx = $a.getLong($i);
         |  long $vy = $b.getLong($i);
         |  $acc += ${termJava(vx, vy)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** `graft_ldot(a, b)` = Σ aᵢ·bᵢ, exact BIGINT. */
case class LongDot(left: Expression, right: Expression)
  extends LongVecReduce {
  override def prettyName: String = LongVecOps.dotName
  override protected def termJava(x: String, y: String): String = s"$x * $y"
  override protected def termEval(x: Long, y: Long): Long = x * y
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

/** `graft_ll2(a, b)` = Σ (aᵢ−bᵢ)², exact BIGINT. */
case class LongL2(left: Expression, right: Expression)
  extends LongVecReduce {
  override def prettyName: String = LongVecOps.l2Name
  override protected def termJava(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def termEval(x: Long, y: Long): Long = {
    val d = x - y; d * d
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongL2 =
    copy(left = newLeft, right = newRight)
}

/** `graft_lmatch(a, b)` = |{i : aᵢ = bᵢ}| — the MinHash
  * signature-agreement count (x09q's per-candidate-pair Jaccard
  * estimate numerator), the last corpus-adjacent interpreted HOF
  * (VERDICT r13 #3). Same truncate-to-shorter convention as the
  * siblings; fixture signatures are equal-length (16). */
case class LongMatch(left: Expression, right: Expression)
  extends LongVecReduce {
  override def prettyName: String = LongVecOps.matchName
  override protected def termJava(x: String, y: String): String =
    s"(($x == $y) ? 1L : 0L)"
  override protected def termEval(x: Long, y: Long): Long =
    if (x == y) 1L else 0L
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongMatch =
    copy(left = newLeft, right = newRight)
}
