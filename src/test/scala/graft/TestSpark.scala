package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Test / fork := true keeps it
  * in the test JVM), built by the same [[GraftSession.localSession]] as
  * Verify and Bench, so tests see the same extensions and semantics
  * (UTC, nanos-as-long).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.localSession("4")
}
