package graft

import org.scalatest.funsuite.AnyFunSuite

/** The grid harness ([[Bench.run]]) on the shared session: cell keys,
  * per-cell sample counts, round-robin interleaving, conf restore, the
  * last rep's layer record with stages named by cell, and error
  * exclusion from the totals.
  */
class BenchSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("q1_pricing_summary", "q3_revenue_by_nation")
  private def queries = names.map(n => n -> SparkEntry.queries(n))

  test("a 2-query × 2-arm grid interleaves reps, records layers and restores the conf") {
    val spark = TestSpark.spark
    val before = spark.conf.getAll
    val axes = Bench.parseAxes(Seq("spark.sql.shuffle.partitions=2,3"))
    val cells = Bench.cells(queries, axes, Seq(dir))
    val keys = for (n <- names; p <- Seq("2", "3"))
      yield s"$n[spark.sql.shuffle.partitions=$p]"
    assert(cells.map(_.key) == keys)

    val reps = 2
    val r = Bench.run(spark, cells, reps, dir)
    keys.foreach(k => assert(r.series(k).size == reps, k))
    // every cell's rep 1 runs before any cell's rep 2
    assert(r.timeline.map(t => (t._1, t._2)) ==
      (for (rep <- 1 to reps; k <- keys) yield (rep, k)))
    assert(spark.conf.getAll == before)
    assert(r.errors.isEmpty)
    keys.foreach { k =>
      val l = r.layers(k)
      assert(l.jobs >= 1 && l.stages.size >= 1, s"$k: $l")
      // the per-stage table names each stage by its cell's key
      assert(l.stages.forall(_.name == k), s"$k: ${l.stages.map(_.name)}")
    }
  }

  test("a no-arm one-dir grid keys by query name; a throwing entry is left out of the totals") {
    val spark = TestSpark.spark
    val boom: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val cells = Bench.cells(queries.take(1) :+ ("x_boom" -> boom), Nil, Seq(dir))
    assert(cells.map(_.key) == Seq(names.head, "x_boom"))

    val r = Bench.run(spark, cells, 1, dir)
    assert(r.errors.keySet == Set("x_boom"))
    assert(r.errors("x_boom").contains("boom"))
    assert(r.ok == Seq(names.head))
    assert(r.medianSecs.map(_._1) == Seq(names.head))
    assert(r.minSecs.map(_._1) == Seq(names.head))
  }
}
