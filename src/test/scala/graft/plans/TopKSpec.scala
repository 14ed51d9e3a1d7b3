package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The custom top-k-per-group physical operator: row-identical to the
  * window + filter form, actually planned through `TopKPerGroupExec`
  * over the map-side partial prune, correct on ties, short groups, the
  * global (no-group) case and the prune's byte-budget overflow.
  */
class TopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  /** The window + filter form of `TopK.perGroup`: the reference. */
  private def windowTopK(df: DataFrame, group: String, order: Seq[org.apache.spark.sql.Column],
      k: Int, rank: String): DataFrame =
    df.withColumn(rank, row_number().over(
      Window.partitionBy(col(group)).orderBy(order: _*)).cast("long"))
      .filter(col(rank) <= k)

  test("q4 via the native operator is row-identical to the window form") {
    val orders = graft.Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val window = sorted(windowTopK(orders, "o_custkey",
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3, "rn"))
    val native = sorted(graft.SparkEntry.queries("q4_order_rank_per_customer")(spark, dir))
    assert(native.nonEmpty && native == window)
  }

  test("q4 plans the partial prune under TopKPerGroupExec, no window") {
    val df = graft.SparkEntry.queries("q4_order_rank_per_customer")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // plan strings drop the "Exec" suffix of node names
    assert(p.contains("TopKPerGroup ["), s"custom operator not planned:\n$p")
    assert(p.contains("TopKPerGroupPartial ["), s"partial prune not planned:\n$p")
    assert(!p.contains("Window"), s"window survived alongside the operator:\n$p")
  }

  test("ties, short groups, and rank values") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 9.0), ("a", 4L, 8.0),
      ("b", 5L, 1.0), // group smaller than k
      ("c", 6L, 5.0), ("c", 7L, 7.0))
      .toDF("g", "id", "v")
    val out = graft.ops.TopK.perGroup(df, Seq("g"),
      Seq(col("v").desc, col("id").asc), 2, "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sorted
    assert(out.toSeq == Seq(
      ("a", 1L, 1L), ("a", 2L, 2L), // tie broken by id
      ("b", 5L, 1L),
      ("c", 6L, 2L), ("c", 7L, 1L)))
  }

  test("both operators report their metrics in explain(\"formatted\")") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i % 7, i)).toDF("g", "id").repartition(4)
    val out = graft.ops.TopK.perGroup(df, Seq("g"), Seq(col("id").desc), 2, "r")
    assert(out.collect().length == 14)
    val text = out.queryExecution.explainString(FormattedMode)
    Seq("rows in: 100", "rows out: 14", "groups: 7", "groups tracked:",
      "over-budget pass-through rows: 0", "peak bytes held:").foreach { m =>
      assert(text.contains(m), s"'$m' missing from:\n$text")
    }
  }

  test("byte-budget overflow passes through and stays exact") {
    import spark.implicits._
    // 40 groups across 4 partitions; ordering total (tie-broken by id)
    val df = (1L to 400L).map(i => (i % 40, i % 13, i)).toDF("g", "v", "id")
      .repartition(4)
    val order = Seq(col("v").desc, col("id").asc)
    val reference = sorted(windowTopK(df, "g", order, 3, "r"))
    assert(reference.nonEmpty &&
      sorted(graft.ops.TopK.perGroup(df, Seq("g"), order, 3, "r")) == reference)

    // The partial prune over the planned input with a 64-byte budget:
    // one group key and a row or two fit, so most rows pass through.
    SparkSession.setActiveSession(spark)
    val child = df.queryExecution.executedPlan
    def attr(n: String) = child.output.find(_.name == n).get
    val partial = TopKPerGroupPartialExec(Seq(attr("g")),
      Seq(SortOrder(attr("v"), Descending), SortOrder(attr("id"), Ascending)),
      3, 64L, child)
    val survivors = partial.executeCollect()
      .map(r => Row(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val m = partial.metrics.map { case (k, v) => k -> v.value }
    assert(m("passThrough") > 0, m)
    assert(m("rowsIn") == 400 && m("numOutputRows") == survivors.size, m)
    assert(m("peakBytes") > 0 && m("peakBytes") <= 4 * 64, m)
    val pruned = spark.createDataFrame(
      java.util.Arrays.asList(survivors: _*), df.schema)
    assert(sorted(windowTopK(pruned, "g", order, 3, "r")) == reference)
  }

  test("empty group list = global top-k with ranks") {
    import spark.implicits._
    val df = (1L to 100L).toDF("id").repartition(4)
    val out = graft.ops.TopK.perGroup(df, Seq(), Seq(col("id").desc), 3, "r")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq((98L, 3L), (99L, 2L), (100L, 1L)))
  }
}
