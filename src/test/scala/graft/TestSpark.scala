package graft

import org.apache.spark.sql.SparkSession

/** Shared test SparkSession — one JVM-wide session for all suites (sbt
  * forks one test JVM; suites reuse the session via getOrCreate).
  */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(4)
  /** Smallest fixture dir — tests are correctness, not scale. */
  val sfDir = "/root/testdata/sf0.001"
}
