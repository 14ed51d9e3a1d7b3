package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.TestSpark.{acrossPartitions, withJobCount}

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Labels by the pair-edge front-end at one partition, checked equal
    * to its labels across 7 partitions, where the star rounds run.
    */
  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    def labels = ConnectedComponents.labelAlternating(
        nodes.toDF("id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val one = labels
    assert(acrossPartitions(labels) == one, s"across partitions vs one: $edges")
    one
  }

  test("chain collapses to one component labeled by its min (diameter > 1 round)") {
    // 1-2-3-4-5-6-7 as a path: the min label must reach 6 hops away,
    // across partitions through the star rounds, not just one join
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

  test("labelViaBuckets converges on a long bucket chain") {
    // chain of 40 nodes linked pairwise through 39 buckets, spread over
    // 7 partitions so the star rounds (not phase 1 alone) must join it
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
    // star rounds and their signatures never start.
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
    // a 200-node chain over 7 partitions: phase 1 leaves many local
    // pieces, one star round cannot make the forest stable, so the
    // operator must refuse to return its labels
    val e = intercept[IllegalStateException] {
      acrossPartitions {
        ConnectedComponents.labelAlternating(
          (1L to 200L).toDF("id"), (1L until 200L).map(i => (i, i + 1)).toDF("src", "dst"),
          maxRounds = 1)
      }
    }
    assert(e.getMessage.contains("maxRounds=1"))
  }
}
