package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: fused int-quantized dot product of two
  * float-array columns (SURVEY §7.4 — the one place builtins fall short
  * of the performance we want).
  *
  * Semantically identical to the composed higher-order form
  * `aggregate(zip_with(quantize(a), quantize(b), _*_), 0, _+_)`
  * ([[graft.functions.VectorOps]]), but in one pass with zero
  * intermediate `ArrayData` allocations: the composed form materializes
  * two quantized arrays plus a zipped product array per row-pair, which
  * at 100 TB × top-k scoring is pure GC pressure. `doGenCode` emits a
  * tight primitive loop that whole-stage codegen inlines into the
  * surrounding stage.
  *
  * Quantization matches `ROUND(v * 1e6)` half-away-from-zero on both
  * engines (ties cannot occur for float×1e6 products — ≤44-bit
  * mantissas can't form the 0.5-2^-54 pathological double, so
  * trunc(±(t+0.5)) ≡ HALF_UP here); equality with the HOF form is
  * pinned by QuantizedDotSpec over the real fixture vectors.
  */
case class QuantizedDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "quantized_dot"

  @inline private def q(v: Double): Long =
    if (v >= 0) (v * 1e6 + 0.5).toLong else (v * 1e6 - 0.5).toLong

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += q(x.getFloat(i).toDouble) * q(y.getFloat(i).toDouble)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
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
         |  double $vx = (double) $a.getFloat($i);
         |  double $vy = (double) $b.getFloat($i);
         |  $acc += (long)($vx >= 0 ? $vx * 1e6 + 0.5 : $vx * 1e6 - 0.5)
         |        * (long)($vy >= 0 ? $vy * 1e6 + 0.5 : $vy * 1e6 - 0.5);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)
}

object QuantizedDot {
  val name = "quantized_dot"

  private def builder(exprs: Seq[Expression]): Expression =
    QuantizedDot(exprs.head, exprs(1))

  /** Idempotent per-session SQL registration (`quantized_dot(a, b)`),
    * plus the self-dot → fused-norm optimizer rule ([[SelfDotToNorm]])
    * via the public `experimentalMethods` hook (the extensions-free
    * path; `GraftExtensions` injects the same rule for
    * `spark.sql.extensions` deployments). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
    QuantizedNorm2.register(spark)
    LongVecOps.register(spark)
    val em = spark.experimental
    if (!em.extraOptimizations.contains(SelfDotToNorm))
      em.extraOptimizations = em.extraOptimizations :+ SelfDotToNorm
  }

  /** The `SparkSessionExtensions` hook form, for
    * `spark.sql.extensions=graft.plans.GraftExtensions` deployments. */
  def injectInto(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    e.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[QuantizedDot].getName, name),
      builder _))
}

/** Engine extensions entry point: register with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    QuantizedDot.injectInto(e)
    QuantizedNorm2.injectInto(e)
    PolyHash.injectInto(e)
    e.injectOptimizerRule(_ => SelfDotToNorm)
    e.injectOptimizerRule(_ => DriverEval)
  }
}
