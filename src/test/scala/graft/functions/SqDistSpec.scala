package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import graft.TestSpark

class SqDistSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // the declarative form sq_dist replaces; nothing rewrites it any more
  private val sqHof =
    "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  private val data: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
    (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
    (Seq[java.lang.Double](0.1, -0.2), Seq[java.lang.Double](0.3, 0.7)),
    // length mismatch → zip_with pads with null → whole fold is null
    (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
    // null element → null result
    (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
    (Seq[java.lang.Double](), Seq[java.lang.Double]()))

  // a local relation is folded by ConvertToLocalRelation, which runs the
  // interpreted eval; a file-backed frame runs the generated code. One
  // file keeps the row order.
  private def local: DataFrame = {
    import spark.implicits._
    data.toDF("a", "b")
  }
  private def fileBacked: DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("sq-dist")
      .resolve("frame").toString
    local.coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  private def bits(r: Row): Seq[Option[Long]] = (0 until r.length).map { i =>
    if (r.isNullAt(i)) None
    else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
  }

  Seq("interpreted" -> (() => local), "codegen" -> (() => fileBacked)).foreach {
    case (path, frame) =>
      test(s"sq_dist equals the HOF fold bit for bit, nulls included ($path)") {
        val rows = frame().selectExpr("sq_dist(a, b) AS got", s"$sqHof AS want").collect()
        assert(rows.length == data.length)
        rows.foreach { r => assert(bits(r).head == bits(r)(1), s"row $r") }
        assert(rows(0).getDouble(0) == 27.0 && rows(4).getDouble(0) == 0.0)
        assert(rows(2).isNullAt(0) && rows(3).isNullAt(0))
      }
  }

  test("q31 IVF assignment plans sq_dist, not the HOF fold") {
    val df = graft.SparkEntry.queries("q31_ivf_cells")(spark, "/root/testdata/sf0.001")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("sq_dist("), s"no sq_dist in:\n$opt")
    assert(!opt.contains("aggregate(zip_with"), s"HOF fold in:\n$opt")
  }
}
