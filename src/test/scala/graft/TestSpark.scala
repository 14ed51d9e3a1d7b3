package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Test / fork := true keeps it
  * in the test JVM), built by the same [[GraftSession.localSession]] as
  * Verify and Bench, so tests see the same extensions and semantics
  * (UTC, nanos-as-long).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.localSession("4")

  /** Runs `body` with AQE coalescing off and 7 shuffle partitions, so
    * every relation spans several partitions: the connected-components
    * operators then run their global phase, which any small relation
    * otherwise skips by coalescing to one partition.
    */
  def acrossPartitions[T](body: => T): T = {
    val confs = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "7")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
