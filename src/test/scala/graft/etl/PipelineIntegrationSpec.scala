package graft.etl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** End-to-end: raw JSONL → clean → enrich (offline model) → registered
  * view → the ad-hoc SQL the reference's dashboards run through Athena
  * ("sentiment trends, category distributions", reference README.md:81).
  */
class PipelineIntegrationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixture(): String = {
    val lines = (1 to 40).map { i =>
      val cat = Seq("BUSINESS", "TECH", "MONEY", "SPORTS")(i % 4)
      val day = (i % 28) + 1
      f"""{"link":"http://n/$i","headline":"Headline $i","category":"$cat","short_description":"Body $i","authors":"A","date":"2023-01-$day%02d"}"""
    }
    val dir = Files.createTempDirectory("pipeline_e2e")
    val f = dir.resolve("news.jsonl")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("clean → enrich → SQL analytics end-to-end") {
    val clean = Clean.run(spark, fixture())
    assert(clean.count() == 30) // SPORTS filtered out

    val enriched = Enrich.run(spark, clean,
      Enrich.Config(client = HashingStubClient))
    Catalog.registerView(enriched, "enriched_news_e2e")

    // the category-distribution dashboard query
    val dist = spark.sql(
      """SELECT category, sentiment_llm, COUNT(*) AS n
        |FROM enriched_news_e2e GROUP BY category, sentiment_llm""".stripMargin)
      .collect()
    assert(dist.map(_.getAs[Long]("n")).sum == 30)
    assert(dist.forall(r =>
      Set("Positive", "Negative", "Neutral")
        .contains(r.getAs[String]("sentiment_llm"))))

    // the sentiment-trend dashboard query (windowed over publish month)
    val trend = spark.sql(
      """SELECT DATE_TRUNC('month', publish_date) AS month, sentiment_llm,
        |  COUNT(*) AS n
        |FROM enriched_news_e2e GROUP BY 1, 2 ORDER BY month""".stripMargin)
      .collect()
    assert(trend.nonEmpty)

    // HLL cardinality sketch (approx_count_distinct) lands within 5% of
    // the exact distinct-link count
    val approx = spark.sql(
      "SELECT approx_count_distinct(link) FROM enriched_news_e2e")
      .head().getLong(0)
    assert(math.abs(approx - 30L) <= 2)
  }

  test("corpus-clean library entry (the CLI dedup verb) works on an arbitrary frame") {
    import spark.implicits._
    // two exact copies, one unique doc — the verdict must canonicalize
    val d = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),
      (2L, "completely different text here")).toDF("doc_id", "text")
    val v = graft.queries.TextOps.corpusClean(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(v(0L) == "kept")
    assert(v(1L) == "exact_dup") // non-min copy of identical content
    assert(v(2L) == "kept")
  }

  test("corpusClean's exact branch needs no fingerprint exchange on a small corpus") {
    import spark.implicits._
    // five distinct bodies; three exact copies and two near copies (a
    // body written twice doubles every SimHash vote, so its signature
    // is the body's own while its md5 differs)
    val base = (0 until 5).map(i =>
      (0 until 40).map(j => s"w${(i * 7919 + j * 104729) % 100003}").mkString(" "))
    val d = (base.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++ Seq(
      (10L, base(0)), (11L, base(0)), (12L, base(1)),
      (20L, base(2) + " " + base(2)),
      (21L, base(3) + " " + base(3)))).toDF("doc_id", "text")
    val plan = graft.queries.TextOps.exactDuplicates(d).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(fp"), plan)
    val verdicts = graft.queries.TextOps.corpusClean(d).groupBy("reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // collect-scale: 3 reasons
    assert(verdicts == Map("kept" -> 5L, "exact_dup" -> 3L, "near_dup" -> 2L))
  }
}
