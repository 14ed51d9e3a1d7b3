package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs `body` with AQE coalescing off and 7 shuffle partitions, so
    * every relation spans several partitions and the global phase runs.
    */
  private def acrossPartitions[T](body: => T): T = {
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
  private def withJobCount[T](body: => T): (T, Int) = {
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
      marker("cc-open")
      val result = body
      marker("cc-close")
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(starts.contains("cc-close"))
      }
      val seen = starts.asScala.toSeq
      (result, seen.indexOf("cc-close") - seen.indexOf("cc-open") - 1)
    } finally sc.removeSparkListener(listener)
  }

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.label(
      nodes.toDF("id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain collapses to one component labeled by its min (diameter > 1 round)") {
    // 1-2-3-4-5-6-7 as a path: min label must propagate across 6 hops,
    // exercising the multi-round fixpoint, not just one join
    val labels = cc(1L to 7L, (1L to 6L).map(i => (i, i + 1)))
    assert(labels == (1L to 7L).map(_ -> 1L).toMap)
  }

  test("separate components keep separate labels; isolated node labels itself") {
    val labels = cc(Seq(1L, 2L, 3L, 10L, 11L, 99L), Seq((1L, 2L), (2L, 3L), (11L, 10L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("duplicate and reversed edges don't change the fixpoint") {
    val labels = cc(Seq(5L, 6L, 7L), Seq((6L, 5L), (5L, 6L), (6L, 5L), (7L, 6L)))
    assert(labels == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("labelWithinGroups matches the global fixpoint on group-confined graphs") {
    // group 1: chain 1-2-3 plus isolated 9; group 2: pair 10-11 and
    // isolated 12 — labels must equal the general operator's
    val members = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 9L),
      (2L, 10L), (2L, 11L), (2L, 12L)).toDF("grp", "id")
    val edges = Seq((1L, 2L, 1L), (1L, 2L, 3L), (2L, 11L, 10L))
      .toDF("grp", "src", "dst")
    val got = ConnectedComponents.labelWithinGroups(members, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = cc(Seq(1L, 2L, 3L, 9L, 10L, 11L, 12L),
      Seq((2L, 1L), (2L, 3L), (11L, 10L)))
    assert(got == want)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L,
      10L -> 10L, 11L -> 10L, 12L -> 12L))
  }

  test("labelWithinGroups: randomized agreement with the global fixpoint") {
    val rnd = new scala.util.Random(7)
    // 4 groups of 12 nodes, random intra-group edges — the invariant
    // the operator requires (no cross-group edges)
    val nodes = (0L until 48L)
    val grpOf = (id: Long) => id / 12L
    val edges = Seq.fill(60) {
      val g = rnd.nextInt(4).toLong
      (g, g * 12 + rnd.nextInt(12), g * 12 + rnd.nextInt(12))
    }.filter { case (_, a, b) => a != b }
    val got = ConnectedComponents.labelWithinGroups(
        nodes.map(id => (grpOf(id), id)).toDF("grp", "id"),
        edges.toDF("grp", "src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = cc(nodes, edges.map { case (_, a, b) => (a, b) })
    assert(got == want)
  }

  test("labelViaBuckets matches pair-graph components on shared-bucket chains") {
    // buckets: {1,2}, {2,3}, {4,5} — components {1,2,3} and {4,5};
    // node 9 only in a singleton bucket
    val members = Seq((1L, 100L), (2L, 100L), (2L, 200L), (3L, 200L),
      (4L, 300L), (5L, 300L), (9L, 400L)).toDF("id", "bucket")
    val labels = ConnectedComponents.labelViaBuckets(members)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("labelViaBuckets converges on a long bucket chain (path compression)") {
    // chain of 40 nodes linked pairwise through 39 buckets, spread over
    // 7 partitions so the global rounds (not phase 1 alone) must join it
    val members = (1L to 39L).flatMap(i => Seq((i, 1000L + i), (i + 1, 1000L + i)))
      .toDF("id", "bucket")
    val labels = acrossPartitions {
      ConnectedComponents.labelViaBuckets(members, maxRounds = 12)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("one-partition relations end after phase 1: no global-phase job") {
    // AQE coalesces these small relations to one partition, where the
    // union-find already saw every bucket / edge. The only job inside
    // each call is phase 1's keyed exchange (the repartition or the
    // distinct), which the lazy checkpoint runs to plan its RDD; the
    // seed round, the fixpoint and the convergence scalars never start.
    val members = Seq((1L, 100L), (2L, 100L), (2L, 200L), (3L, 200L),
      (4L, 300L), (5L, 300L), (9L, 400L)).toDF("id", "bucket")
    val (viaBuckets, bucketJobs) = withJobCount(ConnectedComponents.labelViaBuckets(members))
    assert(bucketJobs == 1)
    assert(viaBuckets.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))

    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 5L)).toDF("src", "dst")
    val (alternating, starJobs) =
      withJobCount(ConnectedComponents.labelAlternating(nodes, edges))
    assert(starJobs == 1)
    assert(alternating.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("maxRounds truncation throws instead of returning partial labels") {
    // 9-chain, maxRounds = 1: one iteration (two neighbor hops + one
    // compression hop) leaves the tail of the chain split, so the
    // operator must refuse to return its labels
    val e = intercept[IllegalStateException] {
      ConnectedComponents.label(
        (1L to 9L).toDF("id"), (1L to 8L).map(i => (i, i + 1)).toDF("src", "dst"),
        maxRounds = 1)
    }
    assert(e.getMessage.contains("maxRounds=1"))
  }
}
