package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.withJobCount
import graft.ops.OnePartition
import graft.schema.Schemas

/** Stage-1 semantics pinned against the reference's observed behavior
  * (SURVEY.md §2.2-§2.4, FIXTURES.md §1.1): null drops, IN-list filter,
  * coerced date cast, deterministic dense id assignment, column contract,
  * and the dense-id window's plan: one partition with no exchange for a
  * small input, one `SinglePartition` exchange above the bound.
  */
class CleanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def fixture(): String = {
    val lines = Seq(
      // kept rows — note duplicate dates (tie broken by link)
      """{"link":"http://a/1","headline":"Markets rally","category":"BUSINESS","short_description":"Stocks up","authors":"A","date":"2022-01-02"}""",
      """{"link":"http://a/2","headline":"Tech layoffs","category":"TECH","short_description":"Cuts deepen","authors":"B","date":"2022-01-01"}""",
      """{"link":"http://a/3","headline":"Rates rise","category":"MONEY","short_description":"Fed hikes","authors":"C","date":"2022-01-02"}""",
      """{"link":"http://a/0","headline":"Polls open","category":"POLITICS","short_description":"Election day","authors":"D","date":"2022-01-02"}""",
      // dropped: null title
      """{"link":"http://a/4","headline":null,"category":"BUSINESS","short_description":"x","authors":"E","date":"2022-01-03"}""",
      // dropped: null content
      """{"link":"http://a/5","headline":"H","category":"BUSINESS","short_description":null,"authors":"F","date":"2022-01-03"}""",
      // dropped: off-list category
      """{"link":"http://a/6","headline":"Olympics","category":"SPORTS","short_description":"Gold","authors":"G","date":"2022-01-03"}""",
      // dropped: unparseable date (pandas errors="coerce" parity)
      """{"link":"http://a/7","headline":"Bad date","category":"TECH","short_description":"x","authors":"H","date":"not-a-date"}""",
      // dropped: corrupt JSON line (PERMISSIVE mode, not a job failure)
      """{"link":"http://a/8","headline":"Broken"""",
      // kept: empty strings are NOT nulls (dropna keeps them, Main.py:156)
      """{"link":"http://a/9","headline":"","category":"WORLD NEWS","short_description":"","authors":"I","date":"2022-01-04"}""")
    val dir = Files.createTempDirectory("clean_fixture")
    val f = dir.resolve("news.jsonl")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long]) // collect-scale: fixture

  test("clean keeps valid rows, drops nulls/off-list/bad dates/corrupt lines") {
    val out = Clean.run(spark, fixture()).collect()
    assert(out.length == 5)
  }

  test("ids are dense 1..N in (publish_date, link) order") {
    val out = Clean.run(spark, fixture())
      .select("id_news", "link", "publish_date").collect()
      .sortBy(_.getLong(0))
    assert(out.map(_.getLong(0)).toSeq == (1L to 5L))
    // 2022-01-01 first; the three 2022-01-02 rows tie-break by link
    assert(out.map(_.getString(1)).toSeq == Seq(
      "http://a/2", "http://a/0", "http://a/1", "http://a/3", "http://a/9"))
  }

  test("output schema matches the clean contract") {
    val got = Clean.run(spark, fixture()).schema
    assert(got.fieldNames.toSeq == Schemas.clean.fieldNames.toSeq)
    assert(got("publish_date").dataType.typeName == "timestamp")
    assert(got("id_news").dataType.typeName == "long")
  }

  test("empty strings survive the null filter (pandas dropna parity)") {
    val out = Clean.run(spark, fixture()).collect()
    assert(out.exists(r => r.getAs[String]("title") == ""))
  }

  test("observe() metrics report selectivity without a second scan") {
        val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var metrics: Map[String, Any] = Map.empty
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        qe.observedMetrics.get("clean_metrics").foreach { row =>
          metrics = row.schema.fieldNames.zip(row.toSeq).toMap
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Clean.run(spark, fixture()).collect()
      // allow the async listener a beat
      var tries = 0
      while (listener.metrics.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(listener.metrics.get("rows_kept").contains(5L), s"got ${listener.metrics}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("quarantine routes the corrupt line to the side sink; clean frame unchanged") {
    val path = fixture()
    val qdir = Files.createTempDirectory("quarantine").resolve("bad").toString
    val (clean, nBad) = Clean.preparedWithQuarantine(spark, path, qdir)
    assert(nBad == 1L) // the one broken JSON line in the fixture
    val quarantined = spark.read.parquet(qdir).collect()
    assert(quarantined.length == 1)
    assert(quarantined.head.getAs[String]("raw_line").contains("Broken"))
    assert(quarantined.head.getAs[String]("source_path") == path)
    // the clean side must equal the silent-drop path exactly
    val silent = Clean.prepared(spark, path).collect().map(_.toSeq).toSet
    assert(clean.collect().map(_.toSeq).toSet == silent)
    // a second ingest run APPENDS to the audit (no errorifexists crash)
    // but reports ITS OWN batch count — not the accumulated trail
    val (_, nBad2) = Clean.preparedWithQuarantine(spark, path, qdir)
    assert(nBad2 == 1L)
    assert(spark.read.parquet(qdir).count() == 2L) // audit shows both runs
  }

  test("runScalable produces byte-identical output to run") {
    val path = fixture()
    val a = rows(Clean.run(spark, path))
    assert(a == rows(Clean.runScalable(spark, path)))
    // and to the window over a gathered input, the plan a large input gets
    val w = Window.orderBy(col("publish_date").asc, col("link").asc)
    val gathered = Clean.prepared(spark, path).repartition(1)
      .withColumn("id_news", row_number().over(w).cast("long"))
      .select("id_news", "title", "content", "link", "publish_date", "category")
    assert(a == rows(gathered))
  }

  test("two writes in the same second do not collide (sub-second uniquifier)") {
    // second-granularity names (the reference's `Main.py:175` pattern)
    // + errorifexists made the second same-second write fail; the
    // nano-derived suffix keeps no-overwrite semantics without that
    val df = Clean.run(spark, fixture())
    val dir = Files.createTempDirectory("clean-double-write").toString
    val p1 = Clean.write(df, dir)
    val p2 = Clean.write(df, dir) // same wall second, must not throw
    assert(p1 != p2)
    assert(spark.read.parquet(p1).count() == spark.read.parquet(p2).count())
    val p3 = Enrich.write(df.limit(1), dir)
    val p4 = Enrich.write(df.limit(1), dir)
    assert(p3 != p4)
    // the CLI's dedup verb names its output through the same helper
    val p5 = Clean.writeStamped(df.limit(1), dir, "corpus_clean")
    val p6 = Clean.writeStamped(df.limit(1), dir, "corpus_clean")
    assert(p5 != p6)
    assert(Seq(p5, p6).forall(_.startsWith(s"$dir/corpus_clean_")))
  }

  test("a small input runs the dense-id window with no exchange, in one job") {
    val df = Clean.run(spark, fixture())
    df.collect() // collect-scale: five rows
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e }.isEmpty, s"exchange in:\n$plan")
    val dir = Files.createTempDirectory("clean-one-job").toString
    val (path, jobs) = withJobCount(Clean.write(Clean.run(spark, fixture()), dir))
    assert(jobs == 1, s"Clean.run → write ran $jobs jobs")
    assert(spark.read.parquet(path).inputFiles.length == 1)
  }

  test("an input planned above the bound keeps its SinglePartition exchange") {
    val dir = Files.createTempDirectory("clean_wide")
    val line = (i: Int) =>
      f"""{"link":"http://w/$i","headline":"Headline $i","category":"TECH","short_description":"${"x" * 200}","authors":"A","date":"2022-01-${i % 28 + 1}%02d"}"""
    val f = dir.resolve("news.jsonl")
    val out = Files.newBufferedWriter(f)
    try (0 until 90000).foreach { i => out.write(line(i)); out.newLine() } finally out.close()
    try {
      val prepared = Clean.prepared(spark, f.toString)
      assert(prepared.queryExecution.optimizedPlan.stats.sizeInBytes > OnePartition.Bytes)
      val plan = Clean.run(spark, f.toString).queryExecution.executedPlan
      val gathers = collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(gathers.size == 1, s"no SinglePartition exchange in:\n$plan")
    } finally Files.delete(f)
  }
}
