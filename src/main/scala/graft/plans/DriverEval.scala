package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.optimizer.{ConvertToLocalRelation, NormalizeNaNAndZero}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Optimizer rule: a plan whose every leaf is a driver-held
  * `LocalRelation` of metadata size is evaluated on the driver, so its
  * action runs no Spark job (Dremel's point, PAPERS.md: interactive
  * latency is fixed per-request overhead, not data volume). Spark's own
  * `ConvertToLocalRelation` folds `Project`, `Filter` and `Limit` into
  * such a relation; this rule also folds, all interpreted:
  *  - `Aggregate`: a `DeclarativeAggregate` through its initial, update
  *    and evaluate expressions, an `ImperativeAggregate` through
  *    `initialize`/`update`/`eval` — the path Spark's aggregation
  *    iterators run with codegen off, in Complete mode. Groups are keyed
  *    by their UnsafeRow bytes, so a FLOAT or DOUBLE key is normalized
  *    as Spark's planner normalizes it (NaN, -0.0), and an aggregate
  *    with a key whose equal values can differ in bytes — a FLOAT or
  *    DOUBLE nested inside, a string of a non-binary collation
  *    (UTF8_LCASE groups 'A' with 'a') — is not folded;
  *  - a global `Sort`, through an interpreted ordering;
  *  - `Generate`, through `generator.eval`, with `outer`'s NULL row.
  *
  * Guards: every expression of the folded node is deterministic, no
  * aggregate has DISTINCT or FILTER, the relation is not streaming, and
  * its `sizeInBytes` — and a `Generate`'s output — is at most
  * `spark.sql.files.openCostInBytes`, Spark's own cost of opening a
  * file: an input smaller than that costs less to evaluate than to
  * schedule. A fold that throws leaves the plan as it was, so an error
  * (an ANSI overflow, say) surfaces at execution with Spark's own error
  * class. The answers are Catalyst's own evaluation, equal to the
  * distributed plan's under Spark's contract that interpreted and
  * generated code agree.
  *
  * It runs in the "User Provided Optimizers" batch, after Spark's
  * "LocalRelation" batch, so it folds `Project`/`Filter`/`Limit` again
  * (through `ConvertToLocalRelation`; bottom-up, a `GlobalLimit` meets
  * its `LocalLimit` already folded) above what it folded.
  * [[install]] appends it to a session's
  * `spark.experimental.extraOptimizations`; [[GraftExtensions]] injects
  * it for `spark.sql.extensions` deployments.
  */
object DriverEval extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val bound = BigInt(conf.filesOpenCostInBytes)
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case GlobalLimit(IntegerLiteral(n), r: LocalRelation) =>
        r.copy(data = r.data.take(n))
      case p @ (_: Project | _: Filter | _: LocalLimit) =>
        attempt(p)(ConvertToLocalRelation(p))
      case a @ Aggregate(_, _, r: LocalRelation, _)
          if small(a, r, bound) && aggregatesOf(a).forall(plain) &&
            a.groupingExpressions.forall(k => byteKey(k.dataType)) =>
        attempt(a)(aggregate(a, r))
      case s @ Sort(order, true, r: LocalRelation, _) if small(s, r, bound) =>
        attempt(s)(r.copy(data = r.data.sorted(new InterpretedOrdering(order, r.output))))
      case g @ Generate(_, _, _, _, _, r: LocalRelation) if small(g, r, bound) =>
        attempt(g)(generate(g, r, bound))
    }
  }

  /** Idempotent per-session registration. */
  def install(spark: SparkSession): Unit = {
    val em = spark.experimental
    em.synchronized {
      if (!em.extraOptimizations.contains(DriverEval))
        em.extraOptimizations = em.extraOptimizations :+ DriverEval
    }
  }

  /** `rows` as a local relation of `schema`, on a session with the
    * rule installed: how every engine entry point builds a driver-made
    * frame, so the plans over it fold whatever session built them. */
  def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    install(spark)
    spark.createDataFrame(rows.asJava, schema)
  }

  private def attempt(p: LogicalPlan)(fold: => LogicalPlan): LogicalPlan =
    try fold catch { case NonFatal(_) => p }

  private def small(p: LogicalPlan, r: LocalRelation, bound: BigInt): Boolean =
    !r.isStreaming && r.computeStats().sizeInBytes <= bound &&
      p.expressions.forall(_.deterministic)

  private def aggregatesOf(a: Aggregate): Seq[AggregateExpression] =
    a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
      .distinctBy(_.canonicalized)

  private def plain(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && ae.mode == Complete &&
      (ae.aggregateFunction match {
        case _: DeclarativeAggregate | _: ImperativeAggregate => true
        case _ => false
      })

  private def floating(t: DataType): Boolean = t == FloatType || t == DoubleType

  /** Whether equal keys of type `t` have equal UnsafeRow bytes once a
    * top-level FLOAT or DOUBLE is normalized: no FLOAT or DOUBLE below
    * the top and no string of a collation without binary equality. */
  private def byteKey(t: DataType, top: Boolean = true): Boolean = t match {
    case FloatType | DoubleType => top
    case s: StringType => UnsafeRowUtils.isBinaryStable(s)
    case s: StructType => s.fields.forall(f => byteKey(f.dataType, top = false))
    case a: ArrayType => byteKey(a.elementType, top = false)
    case m: MapType => byteKey(m.keyType, top = false) && byteKey(m.valueType, top = false)
    case _ => true
  }

  /** One aggregate function in Complete mode, on a buffer of its own. */
  private trait Fold {
    def init(): InternalRow
    def update(buffer: InternalRow, row: InternalRow): Unit
    def eval(buffer: InternalRow): Any
  }

  private def foldOf(f: AggregateFunction, in: Seq[Attribute]): Fold = f match {
    case d: DeclarativeAggregate =>
      val start = new InterpretedMutableProjection(d.initialValues, Nil)
      val step = new InterpretedMutableProjection(d.updateExpressions,
        d.aggBufferAttributes ++ in)
      val end = BindReferences.bindReference(d.evaluateExpression, d.aggBufferAttributes)
      val joined = new JoinedRow
      new Fold {
        def init(): InternalRow = {
          val b = new GenericInternalRow(d.aggBufferAttributes.size)
          start.target(b)(InternalRow.empty)
          b
        }
        def update(b: InternalRow, row: InternalRow): Unit =
          step.target(b)(joined(b, row))
        def eval(b: InternalRow): Any = end.eval(b)
      }
    case i: ImperativeAggregate =>
      val g = BindReferences.bindReference(i: Expression, in)
        .asInstanceOf[ImperativeAggregate].withNewMutableAggBufferOffset(0)
      new Fold {
        def init(): InternalRow = {
          val b = new GenericInternalRow(g.aggBufferAttributes.size)
          g.initialize(b)
          b
        }
        def update(b: InternalRow, row: InternalRow): Unit = g.update(b, row)
        def eval(b: InternalRow): Any = g.eval(b)
      }
  }

  private def unsafe(exprs: Seq[Expression], in: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(exprs, in))

  /** `a` over `r`: one buffer per aggregate and group, groups in order
    * of first appearance; a global aggregate has its one group even on
    * no rows. */
  private def aggregate(a: Aggregate, r: LocalRelation): LocalRelation = {
    val keys = a.groupingExpressions
    val aggs = aggregatesOf(a)
    val folds = aggs.map(ae => foldOf(ae.aggregateFunction, r.output))
    val keyOf = unsafe(keys.map(k =>
      if (floating(k.dataType)) NormalizeNaNAndZero(k) else k), r.output)
    val groups = scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, Seq[InternalRow]]
    def group(key: UnsafeRow) =
      groups.getOrElse(key, { val b = folds.map(_.init()); groups(key.copy()) = b; b })
    if (keys.isEmpty) group(keyOf(InternalRow.empty))
    r.data.foreach { row =>
      group(keyOf(row)).zip(folds).foreach { case (b, f) => f.update(b, row) }
    }
    val keyAttrs = keys.map(k => AttributeReference("key", k.dataType, k.nullable)())
    val aggAttrs = aggs.map(_.resultAttribute)
    val result = unsafe(a.aggregateExpressions.map(_.transformDown {
      case ae: AggregateExpression =>
        aggAttrs(aggs.indexWhere(_.canonicalized == ae.canonicalized))
      case e if keys.exists(_.semanticEquals(e)) =>
        keyAttrs(keys.indexWhere(_.semanticEquals(e)))
    }), keyAttrs ++ aggAttrs)
    val joined = new JoinedRow
    LocalRelation(a.output, groups.map { case (key, b) =>
      result(joined(key, new GenericInternalRow(
        b.zip(folds).map { case (x, f) => f.eval(x) }.toArray))).copy()
    }.toSeq)
  }

  /** `g` over `r`, or `g` itself once its output passes `bound` or its
    * generator emits rows at termination (per partition, in Spark). */
  private def generate(g: Generate, r: LocalRelation, bound: BigInt): LogicalPlan = {
    val gen = BindReferences.bindReference(g.generator: Expression, r.output)
      .asInstanceOf[Generator]
    val out = unsafe(g.output, r.output ++ g.generatorOutput)
    val nulls = new GenericInternalRow(g.generatorOutput.size)
    val most = (bound / EstimationUtils.getSizePerRow(g.output)).min(Int.MaxValue - 1).toInt
    val joined = new JoinedRow
    val rows = r.data.iterator.flatMap { row =>
      val made = gen.eval(row).iterator
      (if (!made.hasNext && g.outer) Iterator.single(nulls) else made)
        .map(m => out(joined(row, m)).copy())
    }.take(most + 1).toSeq
    if (rows.size > most || gen.terminate().iterator.hasNext) g
    else LocalRelation(g.output, rows)
  }
}
