package graft.etl

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.withJobCount

/** Stage-3 semantics: SQL view surface (S6) and MSCK partition repair
  * (S5) against a real partitioned external table — the reference's
  * Athena submit-and-poll loop reduced to synchronous Spark commands —
  * and the one-partition plan of a small registered table: dashboard
  * statements without an exchange, one job per aggregate.
  */
class CatalogSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def enrichedDf() = {
    import spark.implicits._
    Seq(
      (1L, "T1", "C1", "l1", Timestamp.valueOf("2021-06-01 00:00:00"), "TECH"),
      (2L, "T2", "C2", "l2", Timestamp.valueOf("2022-06-01 00:00:00"), "MONEY"),
      (3L, "T3", "C3", "l3", Timestamp.valueOf("2022-07-01 00:00:00"), "TECH"))
      .toDF("id_news", "title", "content", "link", "publish_date", "category")
  }

  test("registered view serves ad-hoc SQL (the Athena replacement)") {
    Catalog.registerView(enrichedDf(), "enriched_news_test")
    val n = spark.sql(
      "SELECT COUNT(*) FROM enriched_news_test WHERE category = 'TECH'")
      .head().getLong(0)
    assert(n == 2L)
  }

  test("partitioned write + MSCK REPAIR discovers partitions") {
    val dir = Files.createTempDirectory("catalog_part").toString
    Catalog.writePartitioned(enrichedDf(), dir)
    spark.sql("DROP TABLE IF EXISTS news_part_test")
    spark.sql(
      s"""CREATE TABLE news_part_test (id_news BIGINT, title STRING,
         |content STRING, link STRING, publish_date TIMESTAMP,
         |category STRING) USING PARQUET
         |PARTITIONED BY (publish_year INT)
         |LOCATION '$dir'""".stripMargin)
    // before repair the catalog knows no partitions
    assert(spark.sql("SELECT * FROM news_part_test").count() == 0L)
    Catalog.repairTable(spark, "news_part_test")
    assert(spark.sql("SELECT * FROM news_part_test").count() == 3L)
    val years = spark.sql("SHOW PARTITIONS news_part_test").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(years == Seq("publish_year=2021", "publish_year=2022"))
    spark.sql("DROP TABLE news_part_test")
  }

  /** A small published table, written by [[Catalog.writePartitioned]]
    * into four year partitions and read back, as the CLI and the news
    * pipeline read theirs: registered once through [[Catalog.registerView]]
    * (`dash_news`) and once as a plain view (`dash_news_plain`).
    */
  private lazy val published: Unit = {
    import spark.implicits._
    val rows = (1 to 48).map { i =>
      (i.toLong, s"T$i", s"C$i", s"l$i",
        Timestamp.valueOf(f"${2019 + i % 4}-${1 + i % 12}%02d-${1 + i % 27}%02d 00:00:00"),
        Seq("TECH", "MONEY", "POLITICS")(i % 5 % 3),
        Seq("Positive", "Negative", "Neutral")(i % 3),
        Seq("TECH", "MONEY", "BUSINESS", "WORLD NEWS")(i % 7 % 4),
        s"S$i")
    }
    val dir = Files.createTempDirectory("catalog_dash").toString
    Catalog.writePartitioned(rows.toDF("id_news", "title", "content", "link",
      "publish_date", "category", "sentiment_llm", "category_llm",
      "market_impact_summary"), dir)
    Catalog.registerView(spark.read.parquet(dir), "dash_news")
    spark.read.parquet(dir).createOrReplaceTempView("dash_news_plain")
  }

  /** The dashboard's statement kinds over `table`, by kind. */
  private def statements(table: String): Seq[(String, String)] = Seq(
    "sentiment_trend" ->
      s"""SELECT publish_year, month(publish_date) AS month, sentiment_llm,
         |COUNT(*) AS n FROM $table WHERE publish_year BETWEEN 2020 AND 2021
         |GROUP BY publish_year, month(publish_date), sentiment_llm""".stripMargin,
    "category_mix" ->
      s"""SELECT category_llm, COUNT(*) AS n FROM $table
         |WHERE publish_year = 2021 GROUP BY category_llm""".stripMargin,
    "sentiment_by_category" ->
      s"""SELECT category, sentiment_llm, COUNT(*) AS n FROM $table
         |WHERE publish_year BETWEEN 2020 AND 2022
         |GROUP BY category, sentiment_llm""".stripMargin,
    "latest_negative" ->
      s"""SELECT id_news, title, market_impact_summary FROM $table
         |WHERE sentiment_llm = 'Negative' AND category = 'TECH'
         |AND publish_year >= 2020
         |ORDER BY publish_date DESC, id_news DESC LIMIT 10""".stripMargin)

  private val aggregates = Set("sentiment_trend", "category_mix", "sentiment_by_category")

  private def exchanges(p: SparkPlan): Seq[Exchange] = collect(p) { case e: Exchange => e }

  test("dashboard statements over a small table plan no exchange and keep partition pruning") {
    published
    statements("dash_news").foreach { case (kind, sql) =>
      val df = spark.sql(sql)
      df.collect() // collect-scale: test assertion, at most 48 rows
      val plan = df.queryExecution.executedPlan
      assert(exchanges(plan).isEmpty, s"$kind plans an exchange:\n$plan")
      val scans = collect(plan) { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
        s"$kind lost its partition filters:\n$plan")
    }
  }

  test("an aggregate statement over a small table runs one job") {
    published
    statements("dash_news").filter(s => aggregates(s._1)).foreach { case (kind, sql) =>
      // collect-scale: test assertion, at most 48 rows
      val (_, jobs) = withJobCount(spark.sql(sql).collect())
      assert(jobs == 1, s"$kind ran $jobs jobs")
    }
    // the plain view pays a partial aggregate, a shuffle and a final one
    val (_, plainJobs) = withJobCount(
      spark.sql(statements("dash_news_plain").head._2).collect())
    assert(plainJobs > 1, s"plain view ran $plainJobs jobs")
  }

  test("the one-partition view answers as the plain view does") {
    published
    statements("dash_news").zip(statements("dash_news_plain")).foreach {
      case ((kind, sql), (_, plainSql)) =>
        // collect-scale: test assertion, at most 48 rows
        def rows(q: String) = spark.sql(q).collect().map(_.toString).toSeq
        val got = rows(sql)
        assert(got.nonEmpty, s"$kind answers nothing on the fixture")
        if (kind == "latest_negative") assert(got == rows(plainSql), kind)
        else assert(got.sorted == rows(plainSql).sorted, kind)
    }
  }

  test("a frame planned above the bound keeps its exchange") {
    val wide = spark.range(4L << 20).toDF()
    assert(wide.queryExecution.optimizedPlan.stats.sizeInBytes > graft.ops.OnePartition.Bytes)
    Catalog.registerView(wide, "wide_range")
    val plan = spark.sql("SELECT id % 7 AS k, COUNT(*) AS n FROM wide_range GROUP BY id % 7")
      .queryExecution.executedPlan
    assert(exchanges(plan).nonEmpty, s"no exchange in:\n$plan")
    assert(collect(plan) { case c: CoalesceExec => c }.isEmpty, s"coalesced:\n$plan")
  }

  test("a shuffle join with a larger relation does not narrow that relation") {
    published
    Catalog.registerView(spark.range(4L << 20).toDF(), "wide_range")
    val plan = spark.sql(
        """SELECT /*+ SHUFFLE_MERGE(d) */ d.title, w.id
          |FROM dash_news d JOIN wide_range w ON d.id_news = w.id""".stripMargin)
      .queryExecution.executedPlan
    assert(collect(plan) { case j: SortMergeJoinExec => j }.nonEmpty, s"no merge join:\n$plan")
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 2 && shuffles.forall(_.outputPartitioning.numPartitions == width),
      s"both sides should shuffle $width wide:\n$plan")
    val narrowed = collect(plan) {
      case c: CoalesceExec if collect(c) { case r: RangeExec => r }.nonEmpty => c
    }
    assert(narrowed.isEmpty, s"the larger relation was coalesced:\n$plan")
  }
}
