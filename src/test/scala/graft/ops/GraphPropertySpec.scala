package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.TestSpark.acrossPartitions

/** Property checks for the graph/layout operators against in-memory
  * reference implementations: both ConnectedComponents forms must match
  * a sequential union-find on random graphs, and the Morton key must be
  * invertible (no information loss across the interleave).
  */
class GraphPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Sequential union-find with min-id labels — the reference result. */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("labelViaBuckets matches union-find on random membership relations") {
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 10
      val nBuckets = 5 + trial * 2
      val members = (1L to n.toLong).flatMap { id =>
        Seq.fill(1 + rng.nextInt(2))((id, 100L + rng.nextInt(nBuckets)))
      }.distinct
      // reference: expand bucket co-membership to pair edges
      val pairEdges = members.groupBy(_._2).values.flatMap { ms =>
        val ids = ms.map(_._1).sorted
        ids.zip(ids.drop(1)) // chain suffices for connectivity
      }.toSeq
      val expected = unionFind(1L to n.toLong, pairEdges)
      val got = ConnectedComponents.labelViaBuckets(members.toDF("id", "bucket"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("labelAlternating matches union-find on deterministic random graphs") {
    val rng = new scala.util.Random(99)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 15
      val nodes = (1L to n.toLong)
      val edges = Seq.fill(n / 2)(
        (rng.nextInt(n).toLong + 1, rng.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      val expected = unionFind(nodes, edges)
      val got = ConnectedComponents.labelAlternating(
        nodes.toDF("id"), edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: $edges")
    }
  }

  test("labelAlternating handles the pathological long chain (its reason to exist)") {
    // a 200-node path over 7 partitions: min-label propagation needs
    // O(diameter) rounds; the star rounds must stay in O(log² n), for
    // both front-ends (the membership form gets one bucket per edge)
    val n = 200L
    val nodes = (1L to n)
    val edges = (1L until n).map(i => (i, i + 1))
    val members = edges.flatMap { case (a, b) => Seq((a, a), (b, a)) }
    val (got, viaBuckets) = acrossPartitions {
      (ConnectedComponents.labelAlternating(
        nodes.toDF("id"), edges.toDF("src", "dst"), maxRounds = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      ConnectedComponents.labelViaBuckets(members.toDF("id", "bucket"), maxRounds = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    assert(got == nodes.map(_ -> 1L).toMap)
    assert(viaBuckets == got)
  }

  test("labelAlternating: isolated nodes and empty edge sets label themselves") {
    // phase 1's union-find output is the node set: isolated nodes must
    // appear, nodes listed several times once, and an empty edge set
    // leaves every node its own label — whether that output is returned
    // directly (one partition) or feeds the star rounds (7 partitions)
    val cases = Seq(
      "isolated nodes" -> ((1L to 8L), Seq((2L, 1L), (3L, 2L), (5L, 6L))),
      "nodes listed several times" ->
        (Seq(7L, 1L, 3L, 1L, 3L, 3L, 4L, 7L, 2L), Seq((1L, 2L), (3L, 4L), (4L, 3L))),
      "empty edge set" -> (Seq(4L, 2L, 9L, 2L), Seq.empty[(Long, Long)]))
    for (across <- Seq(false, true); (name, (nodes, edges)) <- cases) {
      def labels = ConnectedComponents.labelAlternating(
          nodes.toDF("id"), edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val got = if (across) acrossPartitions(labels) else labels
      val width = if (across) "7 partitions" else "one partition"
      assert(got.map(_._1).sorted == nodes.distinct.sorted, s"$name, $width: $got")
      assert(got.toMap == unionFind(nodes.distinct, edges), s"$name, $width")
    }
  }

  test("two-phase forms match union-find when the relation spans many partitions") {
    // AQE coalesces every small test relation to one partition, where
    // phase 1 alone is the answer; pin 7 uncoalesced partitions so the
    // global phase has to join local components across partitions
    acrossPartitions {
      val rng = new scala.util.Random(2024)
      val graphs = Seq(300, 1000).map { n =>
        s"random n=$n" -> ((1L to n.toLong),
          Seq.fill(n * 3 / 4)((rng.nextInt(n).toLong + 1, rng.nextInt(n).toLong + 1))
            .filter { case (a, b) => a != b })
      } :+ ("chain n=300" -> ((1L to 300L), (1L until 300L).map(i => (i, i + 1))))
      for ((name, (nodes, edges)) <- graphs) {
        val expected = unionFind(nodes, edges)
        val alt = ConnectedComponents.labelAlternating(
          nodes.toDF("id"), edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(alt == expected, s"labelAlternating, $name")
        // membership form: every edge becomes a two-member bucket, and
        // every node its own singleton bucket so isolated nodes survive
        val members = edges.zipWithIndex.flatMap { case ((a, b), i) =>
          Seq((a, i.toLong), (b, i.toLong)) } ++ nodes.map(n => (n, -n))
        val viaBuckets = ConnectedComponents.labelViaBuckets(members.toDF("id", "bucket"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(viaBuckets == expected, s"labelViaBuckets, $name")
      }
    }
  }

  test("Morton keys are invertible: no collisions across 16-bit inputs") {
    val rng = new scala.util.Random(1)
    val pts = Seq.fill(300)((rng.nextInt(65536).toLong, rng.nextInt(65536).toLong)).distinct
    val zs = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def unspread(z: Long): Long = // inverse of part1by1: take even bits
      (0 until 16).map(i => ((z >> (2 * i)) & 1) << i).sum
    zs.foreach { case (x, y, z) =>
      assert(unspread(z) == x, s"x lost: ($x,$y) -> $z")
      assert(unspread(z >> 1) == y, s"y lost: ($x,$y) -> $z")
    }
    assert(zs.map(_._3).distinct.length == pts.length, "z collision")
  }
}
