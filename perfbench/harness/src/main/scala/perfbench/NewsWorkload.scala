package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.etl.{Catalog, Clean, Enrich, HttpLlmClient, LlmTransport}
import Main.Run

/** Deterministic model endpoint for [[HttpLlmClient]]. The outcome of a
  * call is a function of the article title and the seed (CRC32 of the
  * title's UTF-8 bytes, mixed with the seed, into 10,000 buckets; the
  * input generator computes the same function to know the planted
  * counts). Planted outcomes: JSON with keys missing, malformed JSON, or
  * a thrown exception; every other call returns a well-formed answer.
  * No call sleeps.
  */
final class PlantedTransport(seed: Long, cuts: Array[Int]) extends LlmTransport {
  import PlantedTransport._

  override def complete(model: String, prompt: String, temperature: Double): String = {
    val from = prompt.indexOf("\nTitle: ") + "\nTitle: ".length
    val title = prompt.substring(from, prompt.indexOf("\nContent: ", from))
    val crc = new CRC32()
    crc.update(title.getBytes(UTF_8))
    val h = crc.getValue
    val bucket = (((h + seed * 2654435761L) & 0xFFFFFFFFL) % 10000).toInt
    val outcome = cuts.indexWhere(bucket < _) match {
      case -1 => Outcomes.length - 1
      case i => i
    }
    calls(outcome).incrementAndGet()
    val sentiment = Sentiments((h % 3).toInt)
    Outcomes(outcome) match {
      case "missing_keys" => s"""{"sentiment": "$sentiment"}"""
      case "malformed" => s"""{"sentiment": "$sentiment", "category": """
      case "thrown" => throw new RuntimeException("planted transport failure")
      case _ =>
        val category = Categories(((h >> 8) % Categories.length).toInt)
        s"""{"sentiment": "$sentiment", "category": "$category", """ +
          s""""summary": "Impact note ${h % 100000} for $category."}"""
    }
  }
}

object PlantedTransport {
  val Outcomes: Array[String] = Array("missing_keys", "malformed", "thrown", "ok")
  val Sentiments: Array[String] = Array("Positive", "Negative", "Neutral")
  val Categories: Array[String] = Array("WORLD NEWS", "POLITICS", "BUSINESS", "TECH", "MONEY")
  /** Calls per outcome in this JVM (local mode: executors share it). */
  val calls: Array[AtomicLong] = Array.fill(Outcomes.length)(new AtomicLong(0L))

  def reset(): Unit = calls.foreach(_.set(0L))
  def counts: Map[String, Long] = Outcomes.zip(calls.map(_.get)).toMap
}

/** The news pipeline workload: the reference's product, batch writes
  * beside dashboard reads.
  *
  *  1. set-up: session start;
  *  2. `batch_passes` timed batch passes (`Clean.run`→`write`,
  *     `Enrich.run`→`write`, `TextOps.corpusClean` verdicts written,
  *     `Catalog.writePartitioned`). The first runs in the fresh JVM, as a
  *     batch job does once per process, so it carries the codegen and JIT
  *     warm-up; when traced, the passes after it run untraced, traced,
  *     untraced;
  *  3. set-up: `warm_statements` untimed dashboard statements, so that no
  *     timed statement holds a statement kind's first execution;
  *  4. timed dashboard statements (`spark.sql` + `collect`) against
  *     `enriched_news` until `seconds` have elapsed since the phase
  *     started, at least `min_statements`, one in flight at a time;
  *  5. untimed: the last batch pass's output counts and the first answer
  *     of each statement, for the checks.
  */
object NewsWorkload {

  final case class Pass(clean: String, enriched: String, verdicts: String,
      published: String, stages: Map[String, Double], transport: Map[String, Long])

  def batchPass(run: Run, jsonl: String, out: String, cuts: Array[Int]): Pass = {
    val spark = run.spark
    val tracer = run.tracer
    val seed = run.seed
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    def stage[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tracer.span("stage", name, settle = true)(body) finally times(name) = run.elapsed(t0)
    }
    PlantedTransport.reset()
    val cleanPath = stage("clean")(Clean.write(Clean.run(spark, jsonl), s"$out/clean"))
    val enrichedPath = stage("enrich") {
      val cfg = Enrich.Config(
        client = new HttpLlmClient(() => new PlantedTransport(seed, cuts)))
      Enrich.write(Enrich.run(spark, spark.read.parquet(cleanPath), cfg), s"$out/enriched")
    }
    val verdictsPath = s"$out/verdicts"
    stage("dedup") {
      val enriched = spark.read.parquet(enrichedPath)
      graft.queries.TextOps.corpusClean(
          enriched.select(col("id_news").as("doc_id"), col("content").as("text")))
        .write.parquet(verdictsPath)
    }
    val publishedPath = s"$out/published"
    stage("publish") {
      Catalog.writePartitioned(spark.read.parquet(enrichedPath), publishedPath)
      Catalog.registerView(spark.read.parquet(publishedPath))
    }
    Pass(cleanPath, enrichedPath, verdictsPath, publishedPath, times.toMap,
      PlantedTransport.counts)
  }

  def plain(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case null => null
      case v: java.math.BigDecimal => v.toPlainString
      case v => v
    })

  def countBy(df: DataFrame, key: org.apache.spark.sql.Column): Map[String, Long] =
    df.groupBy(key.as("k")).count().collect()
      .map((r: Row) => String.valueOf(r.get(0)) -> r.getLong(1)).toMap

  def apply(run: Run): Map[String, Any] = {
    val news = run.plan.sub("news")
    val cuts = news.node.get("cuts").elements().asScala.map(_.asInt()).toArray
    val statements = news.list("statements")
    val traced = run.plan.bool("trace")

    run.startSession()
    val spark = run.spark
    val tracer = run.tracer

    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    var last: Pass = null
    for (i <- 0 until news.int("batch_passes")) {
      tracer.detailedNow = traced && Main.tracedTurn(i)
      val p0 = System.nanoTime()
      val pass = try tracer.span("pass", s"pass$i", fine = false) {
        Some(batchPass(run, news.str("jsonl"), s"${run.work}/pass$i", cuts))
      } catch { case e: Throwable => run.fail("batch", s"pass$i", e); None }
      passes += Map("pass" -> i, "traced" -> tracer.detailedNow, "wall_s" -> run.elapsed(p0),
        "ok" -> pass.isDefined) ++
        pass.map(p => Map("stages" -> p.stages, "transport" -> p.transport)).getOrElse(Map())
      pass.foreach(last = _)
      run.cleanup()
      run.readHeap()
    }

    val warm0 = System.nanoTime()
    if (last != null) tracer.span("setup", "warmup", fine = false) {
      statements.take(news.int("warm_statements")).foreach { s =>
        try spark.sql(s.str("sql")).collect()
        catch { case e: Throwable => run.fail("warmup", s.str("id"), e) }
      }
    }
    val warmupS = run.elapsed(warm0)

    val samples = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val answers = scala.collection.mutable.LinkedHashMap[String, Seq[Seq[Any]]]()
    tracer.span("dashboard", "dashboard", fine = false) {
      val t0 = System.nanoTime()
      var i = 0
      while (last != null && (i < news.int("min_statements") || run.elapsed(t0) < run.seconds)) {
        val s = statements(i % statements.size)
        tracer.detailedNow = traced && i % 2 == 1
        val q0 = System.nanoTime()
        val rows = try {
          Some(tracer.span("statement", s.str("kind"), settle = true)(
            spark.sql(s.str("sql")).collect()))
        } catch { case e: Throwable => run.fail("dashboard", s.str("id"), e); None }
        samples += Map("id" -> s.str("id"), "kind" -> s.str("kind"),
          "traced" -> tracer.detailedNow, "ms" -> run.elapsed(q0) * 1e3, "ok" -> rows.isDefined)
        rows.foreach(r => answers.getOrElseUpdate(s.str("id"), plain(r)))
        i += 1
      }
    }
    tracer.detailedNow = false
    run.readHeap()

    // untimed: the last pass's output counts and each statement's answer
    val outputs: Map[String, Any] = if (last == null) Map() else {
      val enriched = spark.read.parquet(last.enriched)
      val published = spark.read.parquet(last.published)
      val verdicts = spark.read.parquet(last.verdicts)
      Map(
        "clean_rows" -> spark.read.parquet(last.clean).count(),
        "enriched_rows" -> enriched.count(),
        "enrich_outcomes" -> countBy(enriched,
          when(col("market_impact_summary") === "Error generating summary.", "error")
            .when(col("sentiment_llm") === "N/A" || col("category_llm") === "N/A" ||
              col("market_impact_summary") === "N/A", "na")
            .otherwise("ok")),
        "transport" -> last.transport,
        "verdicts" -> countBy(verdicts, col("reason")),
        "published_per_year" -> countBy(published, col("publish_year")),
        "published_partitions" -> published.select("publish_year").distinct().count(),
        "published_dir" -> last.published,
        "answers" -> answers.map { case (id, rows) => Map("id" -> id, "rows" -> rows) }.toSeq)
    }
    Map("warmup_s" -> warmupS, "passes" -> passes.toSeq,
      "samples" -> samples.toSeq, "outputs" -> outputs)
  }
}
