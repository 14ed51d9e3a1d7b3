package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class SubwordExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val trie = SubwordVocab.defaultTrie

  private def toks(s: String): Seq[String] =
    trie.tokenize(s).map(_.toString).toSeq

  test("greedy longest-match picks the longest vocab entry at each position") {
    // vocab has both 'tab' and 'table': greedy must take 'table'
    assert(toks("table") == Seq("table"))
    // 'va' and 'val' both present: 'value' = val + ue, not va + l + ue
    assert(toks("value") == Seq("val", "ue"))
    assert(toks("spark") == Seq("sp", "ark"))
    assert(toks("customer") == Seq("cust", "omer"))
  }

  test("characters outside the vocab fall back to single-char tokens") {
    assert(toks("dup") == Seq("d", "u", "p"))
    // 't' IS in the vocab: mixed fallback and match
    assert(toks("txz") == Seq("t", "x", "z"))
  }

  test("spaces separate words and are never tokens; empty words vanish") {
    assert(toks("the  table") == Seq("the", "table"))
    assert(toks("  ") == Seq.empty)
    assert(toks("") == Seq.empty)
    assert(trie.countTokens("the  table") == 2L)
  }

  test("matches never cross a space boundary") {
    // 'fast' is in the vocab, but 'fa st' must tokenize per word
    assert(toks("fa st") == toks("fa") ++ toks("st"))
  }

  test("count equals tokenize length on real documents") {
    val got = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(expr("subword_count(text)").as("n"),
        size(expr("subword_tokenize(text)")).cast("long").as("m"))
      .filter(col("n") =!= col("m"))
    assert(got.count() == 0)
  }

  test("codegen and interpreted paths agree; nulls propagate") {
    import spark.implicits._
    val df = Seq(Some("the table value dup"), None).toDF("t")
    val rows = df.select(expr("subword_count(t)").as("n"),
      expr("subword_tokenize(t)").as("toks")).collect()
    // the(1) table(1) val+ue(2) d+u+p(3)
    assert(rows(0).getLong(0) == 7L)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    // interpreted twin agrees with the codegen'd result
    assert(trie.countTokens("the table value dup") == rows(0).getLong(0))
  }
}
