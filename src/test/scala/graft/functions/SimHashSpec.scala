package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** [[SimHash60Expr]] — the fused per-row signature must equal the
  * superseded explode→groupBy(60 SUMs) pipeline value-for-value on the
  * real corpus, and match its row-drop semantics on the edges (null
  * text, empty-after-split docs, tie votes).
  */
class SimHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("fused signatures equal the exploded pipeline on real data") {
    val d = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect() // collect-scale: test assertion, sf0.001 corpus
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = keyed(graft.queries.TextOps.simhashOf(d))
    val exploded = keyed(graft.queries.TextOps.simhashOfExploded(d))
    assert(fused.nonEmpty && fused == exploded)
  }

  test("edge cases: occurrence multiset votes, ties unset, null text dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha"),                  // single token → sig == h60 bits
      (2L, "alpha alpha beta"),       // repetition shifts the vote
      (3L, "alpha beta"),             // 2 tokens → every differing bit ties → unset
      (4L, null.asInstanceOf[String]) // null text → dropped, like explode
    ).toDF("doc_id", "text")
    val out = graft.queries.TextOps.simhashOf(docs)
      .collect() // collect-scale: test assertion, 4 synthetic rows
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    val hA = spark.sql("SELECT h60('alpha')").head().getLong(0)
    val hB = spark.sql("SELECT h60('beta')").head().getLong(0)
    assert(out(1L) == hA) // majority of one voter is the voter
    // doc 2: alpha outvotes beta 2:1 on every bit they disagree on
    assert(out(2L) == hA)
    // doc 3: agreeing bits keep their value, disagreeing bits tie → 0
    assert(out(3L) == (hA & hB))
  }

  test("SQL registration: simhash60(words) is callable and agrees") {
    val viaSql = spark.sql(
      "SELECT simhash60(split('alpha alpha beta', ' ')) AS s").head().getLong(0)
    val hA = spark.sql("SELECT h60('alpha')").head().getLong(0)
    assert(viaSql == hA)
  }
}
