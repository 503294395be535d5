package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: float-array → 1e-6-grid quantized
  * BIGINT array in one primitive loop with ONE output allocation —
  * the fused form of [[graft.functions.VectorOps.quantize]]'s
  * `transform(a, round(cast(x as double) * 1e6).cast(long))`.
  * Higher-order `transform` evaluates its lambda INTERPRETED per
  * element; quantization fronts every ANN training/assignment plane
  * (2M corpus rows × 64 elements per pass at sf100), so the lambda
  * overhead was a measurable slice of the assignment CPU
  * (BENCH_NOTES r13).
  *
  * Quantization is `ROUND(v·1e6)` half-away-from-zero — the same
  * `(long)(v·1e6 ± 0.5)` form [[QuantizedDot]] fuses and documents
  * (ties cannot occur for float×1e6 products, so trunc(±(t+0.5)) ≡
  * HALF_UP here); bit-equality with the HOF form is pinned over the
  * fixture vectors in QuantizedDotSpec. */
case class QuantizeVec(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = QuantizeVec.name

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = x.getFloat(i).toDouble
      out(i) = if (v >= 0) (v * 1e6 + 0.5).toLong else (v * 1e6 - 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $out[$i] = (long)($v >= 0 ? $v * 1e6 + 0.5 : $v * 1e6 - 0.5);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): QuantizeVec = copy(child = newChild)
}

object QuantizeVec {
  val name = "graft_quantize"

  /** Idempotent per-session SQL registration (`graft_quantize(a)`). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => QuantizeVec(exprs.head), "scala_udf")
}
