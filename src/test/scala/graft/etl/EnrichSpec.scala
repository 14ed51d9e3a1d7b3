package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, current_timestamp}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.schema.Schemas

class EnrichSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cleanDf() = {
    import spark.implicits._
    Seq(
      (1L, "Markets rally", "Stocks up", "http://a/1", Timestamp.valueOf("2022-01-01 00:00:00"), "BUSINESS"),
      (2L, "Tech layoffs", "Cuts deepen", "http://a/2", Timestamp.valueOf("2022-01-02 00:00:00"), "TECH"),
      (3L, "Rates rise", "Fed hikes", "http://a/3", Timestamp.valueOf("2022-01-03 00:00:00"), "MONEY"))
      .toDF("id_news", "title", "content", "link", "publish_date", "category")
  }

  /** The reference's literal enrichment structure (J1/J2 in SURVEY.md
    * §2.5), the check on the fused `Enrich.run`: a results table keyed
    * by id_news, reattached with a left equi-join (`pd.merge`,
    * `Main.py:254`), through the same `callSafely` guard. */
  private def runJoinBased(clean: DataFrame, cfg: Enrich.Config): DataFrame = {
    import spark.implicits._
    val (client, delay) = (cfg.client, cfg.perCallDelayMs)
    val results = clean.select(col("id_news"), col("title"), col("content"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, title, content) =>
        val (sent, cat, sum) = Enrich.callSafely(client, delay, title, content)
        (id, sent, cat, sum)
      })
      .toDF("id_news", "sentiment_llm", "category_llm", "market_impact_summary")
    clean.join(broadcast(results), Seq("id_news"), "left")
      .withColumn("etl_processing_time", current_timestamp())
  }

  test("disabled client reproduces the reference's DISABLE_LLM tuple") {
    val out = Enrich.run(spark, cleanDf()).collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[String]("sentiment_llm") == "ERROR_API"))
    assert(out.forall(_.getAs[String]("category_llm") == "ERROR_API"))
    assert(out.forall(
      _.getAs[String]("market_impact_summary") == "LLM disabled for test run."))
  }

  test("enriched schema matches the golden contract") {
    val got = Enrich.run(spark, cleanDf()).schema
    assert(got.fieldNames.toSeq == Schemas.enriched.fieldNames.toSeq)
  }

  test("etl_processing_time is evaluated once per run (constant column)") {
    val out = Enrich.run(spark, cleanDf())
      .select("etl_processing_time").distinct().collect()
    assert(out.length == 1)
  }

  test("a throwing client degrades rows to ERROR_API, never fails the job") {
    val bomb = new LlmClient {
      override def enrich(t: String, c: String) =
        throw new RuntimeException("boom")
    }
    val out = Enrich.run(spark, cleanDf(), Enrich.Config(client = bomb)).collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[String]("sentiment_llm") == "ERROR_API"))
  }

  test("hashing stub is deterministic and total") {
    val a = HashingStubClient.enrich("t", "c")
    val b = HashingStubClient.enrich("t", "c")
    assert(a == b)
    assert(Set("Positive", "Negative", "Neutral").contains(a.sentiment))
    val n = HashingStubClient.enrich(null, null)
    assert(n.sentiment != null && n.category != null && n.summary != null)
  }

  test("join-based variant produces the same enrichment as the fused form") {
    val cols = Schemas.enriched.fieldNames.filterNot(_ == "etl_processing_time")
    val fused = Enrich.run(spark, cleanDf(),
      Enrich.Config(client = HashingStubClient))
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    val joined = runJoinBased(cleanDf(), Enrich.Config(client = HashingStubClient))
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(fused == joined && fused.size == 3)
  }

  test("join-based variant defaults null client fields to N/A (L5 parity)") {
    // a client that "succeeds" but returns a null field — the reference
    // defaults each missing field to "N/A" (Main.py:114-119); both
    // enrichment variants must share that defaulting via callSafely
    object NullFieldClient extends LlmClient {
      def enrich(title: String, content: String): LlmResult =
        LlmResult(null, "Business & Finance", null)
    }
    for (df <- Seq(
        Enrich.run(spark, cleanDf(), Enrich.Config(client = NullFieldClient)),
        runJoinBased(cleanDf(), Enrich.Config(client = NullFieldClient)))) {
      val rows = df.collect()
      assert(rows.length == 3)
      assert(rows.forall(_.getAs[String]("sentiment_llm") == LlmClient.notAvailable))
      assert(rows.forall(_.getAs[String]("category_llm") == "Business & Finance"))
      assert(rows.forall(_.getAs[String]("market_impact_summary") == LlmClient.notAvailable))
    }
  }

  test("prompt template embeds categories, title, and content") {
    val p = LlmClient.promptFor("TITLE_X", "CONTENT_Y")
    assert(p.contains("TITLE_X") && p.contains("CONTENT_Y"))
    assert(graft.schema.Schemas.categoriesToKeep.forall(p.contains))
    assert(p.contains("JSON"))
  }

  test("concurrent enrichment equals sequential (order and values)") {
    val seq = Enrich.run(spark, cleanDf(),
      Enrich.Config(client = HashingStubClient))
      .drop("etl_processing_time").collect().map(_.toSeq).toSet
    val conc = Enrich.run(spark, cleanDf(),
      Enrich.Config(client = HashingStubClient, maxConcurrentPerTask = 4))
      .drop("etl_processing_time").collect().map(_.toSeq).toSet
    assert(conc == seq)
  }

  test("concurrent enrichment pipelines the per-call delay") {
    import org.apache.spark.sql.functions.lit
    // 12 rows × 100 ms sequential = 1.2 s floor; 4-way pipelining cuts
    // the floor to ~0.3 s per partition — assert it beats sequential
    val wide = (1 to 4).map(_ => cleanDf()).reduce(_ union _).coalesce(1)
    def timed(c: Enrich.Config): Double = {
      val t0 = System.nanoTime()
      Enrich.run(spark, wide, c).count()
      (System.nanoTime() - t0) / 1e9
    }
    val tSeq = timed(Enrich.Config(client = HashingStubClient, perCallDelayMs = 100))
    val tConc = timed(Enrich.Config(client = HashingStubClient,
      perCallDelayMs = 100, maxConcurrentPerTask = 4))
    assert(tConc < tSeq, f"concurrent $tConc%.2f s not faster than sequential $tSeq%.2f s")
  }

  test("a hanging client degrades to ERROR_API at the wave timeout (L6 for hangs)") {
    // VERDICT r10 item 4: LlmTransport carries no timeout contract, so a
    // transport that never returns would pin the task forever under
    // Await(Inf). The per-wave timeout must complete with the hung rows
    // mapped to the ERROR_API tuple while COMPLETED rows keep their
    // results. The hang is deliberately uninterruptible (re-sleeps
    // through InterruptedException) so the test is deterministic: the
    // future can never complete before the wave deadline.
    val hang = new LlmClient {
      override def enrich(t: String, c: String): LlmResult = {
        if (t == "Tech layoffs") {
          val end = System.nanoTime() + 30L * 1000000000L
          while (System.nanoTime() < end) {
            try Thread.sleep(1000)
            catch { case _: InterruptedException => () }
          }
        }
        HashingStubClient.enrich(t, c)
      }
    }
    val t0 = System.nanoTime()
    val out = Enrich.run(spark, cleanDf().coalesce(1), Enrich.Config(
      client = hang, maxConcurrentPerTask = 4, waveTimeoutMs = 1500L)).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 20.0, f"wave timeout did not fire: took $secs%.1f s")
    assert(out.length == 3)
    val byTitle = out.map(r =>
      r.getAs[String]("title") -> r.getAs[String]("sentiment_llm")).toMap
    assert(byTitle("Tech layoffs") == "ERROR_API")
    val want = Set("Markets rally", "Rates rise")
    assert(want.forall(t =>
      byTitle(t) == HashingStubClient.enrich(t, "").sentiment ||
        byTitle(t) != "ERROR_API"),
      s"completed rows lost their results: $byTitle")
  }

  test("pipelined wave timeout keeps completed rows, falls back for hung ones") {
    val out = Enrich.pipelined(Iterator(1, 2, 3, 4), 2, 300L) { i =>
      if (i == 2) {
        val end = System.nanoTime() + 10L * 1000000000L
        while (System.nanoTime() < end) {
          try Thread.sleep(200) catch { case _: InterruptedException => () }
        }
      }
      i * 10
    }(i => -i).toList
    // wave 1 = (1,2): 1 completed, 2 hung past the 300 ms deadline;
    // wave 2 = (3,4): runs on the REPLACEMENT pool (the hung thread
    // still occupies the old one) and completes normally
    assert(out == List(10, -2, 30, 40))
  }

  test("partition budget converges a multi-wave hang (every wave poisoned)") {
    // VERDICT r11 item 4: the wave timeout alone lets a transport that
    // hangs EVERY wave stretch a partition by waveTimeout × waves. The
    // cumulative partition budget must cap total wall time — each wave
    // gets min(waveTimeout, remaining budget) and once the budget is
    // spent the remaining rows degrade immediately, without touching
    // the pool. Every call here hangs uninterruptibly, so without the
    // budget this would run 10 waves × 400 ms = 4 s minimum.
    def hang(i: Int): Int = {
      val end = System.nanoTime() + 30L * 1000000000L
      while (System.nanoTime() < end) {
        try Thread.sleep(200) catch { case _: InterruptedException => () }
      }
      i * 10
    }
    val t0 = System.nanoTime()
    val out = Enrich.pipelined((1 to 20).iterator, 2, 400L, 900L)(hang)(
      i => -i).toList
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out == (1 to 20).map(-_).toList,
      s"every row of a fully-poisoned partition must degrade: $out")
    assert(secs < 3.0, f"partition budget did not converge the hang: $secs%.1f s")
  }

  test("partition budget leaves a healthy pipelined transport untouched") {
    val out = Enrich.pipelined((1 to 8).iterator, 2, 400L, 60000L)(_ * 10)(
      i => -i).toList
    assert(out == (1 to 8).map(_ * 10).toList)
  }

  test("seeded sample returns exactly N deterministic rows") {
    val df = cleanDf()
    val s1 = Enrich.sample(df, Some(2)).collect().map(_.getLong(0)).toSeq
    val s2 = Enrich.sample(df, Some(2)).collect().map(_.getLong(0)).toSeq
    assert(s1.length == 2 && s1 == s2)
    assert(Enrich.sample(df, None).count() == 3)
  }
}
