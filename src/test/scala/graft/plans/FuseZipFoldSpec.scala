package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.TestSpark

class FuseZipFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dotHof =
    "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
  private val sqHof =
    "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  // file-backed: ConvertToLocalRelation evaluates a projection over a
  // local relation before FuseZipFold could rewrite it; one file keeps
  // the row order
  private def frame(rows: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])]) = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("fuse-zip-fold")
      .resolve("frame").toString
    rows.toDF("a", "b").coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  private val data: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
    (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
    (Seq[java.lang.Double](0.1, -0.2), Seq[java.lang.Double](0.3, 0.7)),
    // length mismatch → zip_with pads with null → whole fold is null
    (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
    // null element → null result
    (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
    (Seq[java.lang.Double](), Seq[java.lang.Double]()))

  test("fused plans replace the HOF with zip_fold expressions") {
    // must be file-backed: local relations are eagerly folded away
    val df = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("cast(embedding AS array<double>) AS a",
        "cast(embedding AS array<double>) AS b")
      .selectExpr(s"$dotHof AS d", s"$sqHof AS s")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("zip_fold_product"), s"no fused product in:\n$opt")
    assert(opt.contains("zip_fold_sqdiff"), s"no fused sqdiff in:\n$opt")
    assert(!opt.contains("aggregate(zip_with"), s"HOF survived in:\n$opt")
  }

  test("fused results are bit-identical to the HOF, nulls included") {
    // compute the unfused reference with the rule excluded
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.FuseZipFold")
    val want =
      try frame(data).selectExpr(s"$dotHof AS d", s"$sqHof AS s").collect()
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    val got = frame(data).selectExpr(s"$dotHof AS d", s"$sqHof AS s").collect()
    assert(got.toSeq == want.toSeq)
    // spot-check semantics directly
    assert(got(0) == Row(32.0, 27.0))
    assert(got(2) == Row(null, null) && got(3) == Row(null, null))
    assert(got(4) == Row(0.0, 0.0))
  }

  test("non-matching folds are left alone") {
    // max-fold and non-zero seed must NOT be rewritten
    val df = frame(data.take(2)).selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(1 AS DOUBLE), (acc, v) -> acc + v) AS seeded",
      "aggregate(zip_with(a, b, (x, y) -> x + y), CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS sumzip")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("zip_fold"), s"over-eager fuse in:\n$opt")
  }

  test("q31 IVF assignment picks up the fused distance") {
    val df = graft.SparkEntry.queries("q31_ivf_cells")(spark, "/root/testdata/sf0.001")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("zip_fold_sqdiff"), s"q31 not fused:\n$opt")
  }
}
