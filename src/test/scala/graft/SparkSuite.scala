package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; forked test JVM from build.sbt). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.LocalSession(8)

  /** Smoke fixtures (~6k lineitem rows). */
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` with the session conf `key` set to `value`, restored (or
    * unset) after. */
  def withConf[T](key: String, value: String)(f: => T): T =
    withConfs(key -> Some(value))(f)

  /** Run `f` with each session conf of `settings` set to its value, or
    * unset where it is None; each restored (or unset) after. */
  def withConfs[T](settings: (String, Option[String])*)(f: => T): T = {
    def put(key: String, value: Option[String]): Unit = value match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // getOption reads a default for a key that is not set
    val conf = spark.sessionState.conf
    val was = settings.map { case (k, _) =>
      k -> Option.when(conf.contains(k))(conf.getConfString(k)) }
    settings.foreach { case (k, v) => put(k, v) }
    try f finally was.foreach { case (k, v) => put(k, v) }
  }

  /** Spark jobs `f` starts, counted by an `onJobStart` listener on a
    * job group of its own. The listener bus is asynchronous, so a marker
    * job in a second group follows `f`: once its start is seen, every
    * earlier start has been delivered. */
  def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => n.incrementAndGet()
          case Some(g) if g == s"$group-marker" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
