package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._
import org.scalatest.concurrent.Eventually._

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

  /** `body`'s result and the number of jobs started while it runs. A
    * listener records every job start between two marker jobs; the
    * listener bus delivers events in order, so once the closing marker
    * is seen every job `body` started has been recorded.
    */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-open")
      val result = body
      marker("jobs-close")
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(starts.contains("jobs-close"))
      }
      val seen = starts.asScala.toSeq
      (result, seen.indexOf("jobs-close") - seen.indexOf("jobs-open") - 1)
    } finally sc.removeSparkListener(listener)
  }
}
