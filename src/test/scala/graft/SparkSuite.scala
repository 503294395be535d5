package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; forked test JVM from build.sbt). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.LocalSession(8)

  /** Smoke fixtures (~6k lineitem rows). */
  val sf: String = "/root/testdata/sf0.001"
}
