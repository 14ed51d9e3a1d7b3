package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TestSpark

class GlobalIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dense index equals ROW_NUMBER over the same total order") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val viaOp = GlobalIndex.withDenseIndex(df, "idx",
        Seq(col("o_totalprice"), col("o_orderkey")))
      .collect().map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("idx")).toMap
    val viaWindow = df.withColumn("idx", row_number()
        .over(Window.orderBy(col("o_totalprice"), col("o_orderkey"))).cast("long"))
      .collect().map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("idx")).toMap
    assert(viaOp == viaWindow)
  }

  test("index is dense 1..n and stable across input partitioning") {
    import spark.implicits._
    val base = (1L to 1000L).map(i => (i, i % 7)).toDF("k", "grp")
    def ranks(parts: Int) = GlobalIndex.withDenseIndex(
        base.repartition(parts), "idx", Seq(col("grp"), col("k")))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("idx")).toMap
    val a = ranks(3)
    assert(a.values.toSeq.sorted == (1L to 1000L))
    assert(a == ranks(17)) // partitioning must not leak into the order
  }
}
