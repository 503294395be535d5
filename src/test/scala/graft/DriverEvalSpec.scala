package graft

import graft.plans.DriverEval
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[DriverEval]] folds a plan over a local relation on the driver: the
  * folded plan runs no Spark job and answers exactly what Spark's own
  * plan answers with the rule excluded. Doubles are multiples of 1/4
  * and `first` sees one value per group (`f` is constant in each), so
  * the distributed plan's partial order (per partition, merged in fetch
  * order) cannot move an answer; `collect_list` is compared sorted for
  * the same reason. */
class DriverEvalSpec extends SparkSuite {

  private def excluded[T](f: => T): T =
    withConf("spark.sql.optimizer.excludedRules", DriverEval.ruleName)(f)

  private def isFolded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** `build()` folds to a local relation, collects with no job, and
    * equals the rule-excluded plan's rows: in order when `ordered`,
    * else as a multiset. */
  private def folds(build: () => DataFrame, ordered: Boolean = false): Seq[Row] = {
    val df = build()
    val (got, jobs) = jobsOf(df.collect().toSeq)
    assert(isFolded(df), df.queryExecution.optimizedPlan.treeString)
    assert(jobs == 0, s"a folded plan ran $jobs jobs")
    val want = excluded(build().collect().toSeq)
    def norm(rs: Seq[Row]) = if (ordered) rs else rs.sortBy(_.toString)
    assert(norm(got) == norm(want))
    got
  }

  /** `build()` does not fold, and still equals the rule-excluded plan. */
  private def staysDistributed(build: () => DataFrame): Seq[Row] = {
    val df = build()
    val (got, jobs) = jobsOf(df.collect().toSeq)
    assert(!isFolded(df), df.queryExecution.optimizedPlan.treeString)
    assert(jobs >= 1)
    assert(got.sortBy(_.toString) == excluded(build().collect().toSeq).sortBy(_.toString))
    got
  }

  /** The error condition of the `SparkArithmeticException` (a class
    * private to Spark) that `f` raises, as itself or as a cause. */
  private def overflowOf(f: => Any): String = {
    val thrown = intercept[Exception](f)
    val e = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .find(_.getClass.getName == "org.apache.spark.SparkArithmeticException")
      .getOrElse(fail("no SparkArithmeticException", thrown))
    e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition
  }

  private val schema = StructType(Seq(
    StructField("g", StringType), StructField("d", DecimalType(12, 2)),
    StructField("x", DoubleType), StructField("s", StringType),
    StructField("f", StringType)))

  /** Groups "a", "b" and NULL; NULLs among every value column; `f`
    * constant per group. */
  private val rows = Seq(
    Row("a", BigDecimal("1.25"), 0.5, "p", "fa"),
    Row("b", BigDecimal("-3.10"), -2.25, "q", "fb"),
    Row(null, BigDecimal("7.00"), 1.75, null, "fn"),
    Row("a", null, null, "r", "fa"),
    Row("b", BigDecimal("4.05"), 8.0, "o", "fb"),
    Row(null, null, -0.25, "z", "fn"),
    Row("a", BigDecimal("0.01"), 3.5, null, "fa"))

  private def frame(rs: Seq[Row] = rows) = DriverEval.localFrame(spark, rs, schema)

  private val aggs = Seq(
    count(lit(1)), count(col("d")), sum(col("d")), avg(col("d")),
    min(col("d")), max(col("d")),
    sum(col("x")), avg(col("x")), min(col("x")), max(col("x")),
    count(col("s")), min(col("s")), max(col("s")), first(col("f")),
    sort_array(collect_list(col("s"))), sort_array(collect_list(col("d"))),
    sort_array(collect_list(col("x"))))

  test("grouped aggregates over decimal, double and string, NULL keys included") {
    val got = folds(() => frame().groupBy("g").agg(aggs.head, aggs.tail: _*))
    assert(got.size == 3 && got.exists(_.isNullAt(0)))
    // the exclusion takes: the same plan runs as Spark's own
    val (_, jobs) = excluded(jobsOf(frame().groupBy("g").agg(aggs.head, aggs.tail: _*).collect()))
    assert(jobs >= 1)
    val (byNull, _) = jobsOf(frame().groupBy("g").count().collect())
    assert(byNull.map(r => Option(r.getString(0)) -> r.getLong(1)).toMap ==
      Map(Some("a") -> 3L, Some("b") -> 2L, None -> 2L))
    // `first` of each type over one row per group
    assert(folds(() => frame(rows.take(3)).groupBy("g")
      .agg(first("d"), first("x"), first("s"))).size == 3)
  }

  test("a global aggregate over no rows is one row; a grouped one is none") {
    val global = folds(() => frame(Nil).agg(aggs.head, aggs.tail: _*))
    assert(global.size == 1 && global.head.getLong(0) == 0L && global.head.isNullAt(2))
    assert(folds(() => frame(Nil).groupBy("g").agg(aggs.head, aggs.tail: _*)).isEmpty)
    assert(folds(() => frame().agg(aggs.head, aggs.tail: _*)).size == 1)
  }

  test("floating grouping keys group as Spark's planner normalizes them") {
    import spark.implicits._
    val got = folds(() =>
      Seq(0.0, -0.0, Double.NaN, Double.NaN, 1.5).toDF("k").groupBy("k").count())
    assert(got.size == 3)
  }

  test("a key of a non-binary collation is not folded; a sort by one folds in its order") {
    val lcase = (xs: Seq[String]) => () => DriverEval.localFrame(spark, xs.map(Row(_)),
      StructType(Seq(StructField("s", StringType("UTF8_LCASE")))))
    // 'A' = 'a' and 'B' = 'b' under UTF8_LCASE, though their bytes differ
    val cased = lcase(Seq("A", "a", "B", "c", "b"))
    assert(staysDistributed(() => cased().groupBy("s").count())
      .map(_.getLong(1)).sorted == Seq(1L, 2L, 2L))
    assert(staysDistributed(() => cased().groupBy(struct(col("s"))).count()).size == 3)
    // binary order would put 'B' before 'a'
    val sorted = folds(() => lcase(Seq("c", "B", "a"))().orderBy("s"), ordered = true)
    assert(sorted.map(_.getString(0)) == Seq("a", "B", "c"))
  }

  test("ANSI on and off: an overflow folds to Spark's answer or fails at execution with Spark's error") {
    import spark.implicits._
    val longs = () => Seq(Long.MaxValue, 1L).toDF("x").agg(sum("x"))
    val decimals = () => Seq.fill(20)("9" * 37).toDF("d")
      .select(col("d").cast(DecimalType(38, 0)).as("d")).agg(sum("d"))
    withConf("spark.sql.ansi.enabled", "false") {
      assert(folds(longs).head.getLong(0) == Long.MinValue)
      assert(folds(decimals).head.isNullAt(0))
    }
    withConf("spark.sql.ansi.enabled", "true") {
      Seq(longs, decimals).foreach { build =>
        val df = build()
        val folded = overflowOf(df.collect())
        assert(!isFolded(df), "a fold that throws must leave the plan")
        assert(folded == overflowOf(excluded(build().collect())))
      }
    }
  }

  test("a multi-key sort, NULLs first and last, and a Limit after it") {
    val sorts = Seq(
      Seq(col("g").asc_nulls_first, col("x").desc_nulls_last),
      Seq(col("g").desc_nulls_last, col("s").asc_nulls_last, col("d").desc_nulls_first))
    sorts.foreach { order =>
      val all = folds(() => frame().orderBy(order: _*), ordered = true)
      assert(all.size == rows.size)
      assert(folds(() => frame().orderBy(order: _*).limit(3), ordered = true) == all.take(3))
    }
  }

  test("explode, posexplode and outer explode") {
    val arrays = StructType(Seq(StructField("id", IntegerType),
      StructField("xs", ArrayType(StringType))))
    val in = () => DriverEval.localFrame(spark, Seq(
      Row(1, Seq("a", "b")), Row(2, Seq.empty[String]), Row(3, null),
      Row(4, Seq("c", null))), arrays)
    assert(folds(() => in().select(col("id"), explode(col("xs")))).size == 4)
    assert(folds(() => in().select(col("id"), posexplode(col("xs")))).size == 4)
    val outer = folds(() => in().select(col("id"), explode_outer(col("xs"))))
    assert(outer.size == 6 && outer.count(_.isNullAt(1)) == 3)
  }

  test("what must not fold: rand(), DISTINCT, a Generate past the bound, a relation past it") {
    import spark.implicits._
    val ks = () => (0 until 40).map(i => (i % 4, i)).toDF("k", "v")
    // (Spark's own rule folds a Project of rand(); an Aggregate, a Sort
    // or a Generate that keeps one is never folded. A nondeterministic
    // UDF needs no per-partition initialization, as rand() does, so
    // only the determinism guard keeps it from folding.)
    val noisy = udf((k: Int) => k).asNondeterministic()
    Seq(rand(7), noisy(col("k"))).foreach { e =>
      val random = ks().select(col("k"), explode(array(e, e)))
      val (_, randJobs) = jobsOf(random.collect())
      assert(!isFolded(random) && randJobs >= 1, e)
    }
    staysDistributed(() => ks().groupBy("k").agg(countDistinct("v"), sum("v")))
    withConf("spark.sql.files.openCostInBytes", "1024") {
      // one input row (under the bound) exploding into 200 (past it)
      val wide = staysDistributed(() => Seq(1).toDF("n")
        .select(explode(sequence(lit(1), lit(200))).as("i")))
      assert(wide.size == 200)
      // 40 rows of two ints are 640 estimated bytes; 100 are past 1024
      folds(() => ks().groupBy("k").agg(sum("v")))
      staysDistributed(() => (0 until 100).map(i => (i % 4, i)).toDF("k", "v")
        .groupBy("k").agg(sum("v")))
    }
  }
}
