package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ShinglesExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def shingle(texts: Seq[String], n: Int): Seq[Seq[String]] = {
    import spark.implicits._
    texts.toDF("text")
      .selectExpr("split(text, ' ') AS w")
      .selectExpr(s"shingles(w, $n) AS sh")
      .collect()
      .toSeq
      .map(_.getSeq[String](0))
  }

  test("3-gram shingles match the declarative HOF form") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c d",
      "x y z",
      "rep rep rep rep rep")
    val got = shingle(texts, 3)
    val want = texts.toDF("text")
      .selectExpr("split(text, ' ') AS w")
      .where("size(w) >= 3")
      .selectExpr(
        "array_distinct(transform(sequence(0, size(w) - 3), " +
          "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh")
      .collect()
      .toSeq
      .map(_.getSeq[String](0))
    assert(got == want)
  }

  test("duplicates collapse to first occurrence, order preserved") {
    assert(shingle(Seq("a b a b a b"), 2) == Seq(Seq("a b", "b a")))
  }

  test("width 1 is the distinct word list; short input yields empty") {
    assert(shingle(Seq("a b b c"), 1) == Seq(Seq("a", "b", "c")))
    assert(shingle(Seq("a b"), 3) == Seq(Seq()))
  }

  test("non-literal width is rejected") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq("a b c").toDF("text")
        .selectExpr("split(text, ' ') AS w")
        .selectExpr("shingles(w, size(w)) AS sh")
        .collect()
    }
    assert(e.getMessage.contains("literal int"))
  }
}
