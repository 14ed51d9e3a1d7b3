package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{FuseZipFold, TopKPerGroupStrategy}

/** The shared test session is built by [[GraftSession.localSession]],
  * like every other graft session, so everything [[GraftExtensions]]
  * installs must already be there — no imperative registration.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("injected functions resolve in SQL on an extensions-built session") {
    // one probe per function in GraftExtensions.functions
    val probes = Seq(
      "dot_product" ->
        "dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) = 32.0D",
      "vec_norm" -> "vec_norm(array(3.0D, 4.0D)) = 5.0D",
      // ((31*0+97)*31+98)*31+99 = 97*961 + 98*31 + 99
      "rolling_hash" -> s"rolling_hash('abc') = ${(97L * 961 + 98L * 31 + 99) % 1000000007L}",
      "h60" -> "h60('abc') = CAST(conv(substring(md5('abc'), 1, 15), 16, 10) AS BIGINT)",
      "shingles" ->
        "shingles(split('a b c d', ' '), 3) = array('a b c', 'b c d')",
      "count_in" -> "count_in(split('a b a c', ' '), 'a', 'c') = 3",
      "minhash_sigs" ->
        "minhash_sigs(split('alpha beta gamma delta', ' ')).n_shingles = 2",
      "simhash60" -> "simhash60(split('alpha alpha beta', ' ')) IS NOT NULL",
      "subword_count" ->
        "subword_count('the table') = size(subword_tokenize('the table'))",
      "subword_tokenize" -> "size(subword_tokenize('the table')) > 0")
    assert(probes.map(_._1).toSet == GraftExtensions.functions.map(_._1).toSet,
      "every registered function needs a probe here")
    probes.foreach { case (name, predicate) =>
      assert(spark.sql(s"SELECT $predicate").head().getBoolean(0), s"$name: $predicate")
    }
  }

  test("the optimizer rule and planner strategy are installed before any query") {
    // a fresh sibling session has run nothing yet; it shares the
    // extensions the shared session was built with
    val fresh = spark.newSession()
    val rules = fresh.sessionState.optimizer.batches.flatMap(_.rules)
    assert(rules.contains(FuseZipFold), "FuseZipFold missing from the optimizer batches")
    assert(fresh.sessionState.planner.strategies.contains(TopKPerGroupStrategy),
      "TopKPerGroupStrategy missing from the planner strategies")
  }
}
