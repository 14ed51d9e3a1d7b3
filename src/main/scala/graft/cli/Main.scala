package graft.cli

import org.apache.spark.sql.SparkSession
import graft.etl.{Catalog, Clean, DisabledLlmClient, Enrich}

/** CLI mirroring the reference's stage dispatch (`Main.py:345-406`):
  *
  *   graft clean  <jsonl_in> <out_dir>
  *   graft enrich <clean_parquet> <out_dir> [--sample N] [--rate SECONDS]
  *   graft load   <table>
  *
  * Unknown stage → exit 1, same as the reference. The reference's
  * dual positional/flag parsing gymnastics (`Main.py:382-397`) reduce to
  * a small config case class.
  */
object Main {

  // the master is a deployment setting, so SPARK_MASTER picks it
  private def session(): SparkSession = graft.GraftSession.localSession(
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
    master = Some(sys.env.getOrElse("SPARK_MASTER", "local[*]")))

  def main(args: Array[String]): Unit = args.toList match {
    case "clean" :: in :: out :: Nil =>
      val spark = session()
      val path = Clean.write(Clean.run(spark, in), out)
      println(s"[clean] wrote $path")
      spark.stop()

    case "enrich" :: in :: out :: rest =>
      val spark = session()
      // dual positional/flag parsing, reference parity (`Main.py:382-397`):
      //   enrich <in> <out> [sampleN] [rateSec]   or
      //   enrich <in> <out> --sample N --rate S
      val positional = rest.takeWhile(a => !a.startsWith("--"))
      val sampleN = flagValue(rest, "--sample").map(_.toInt)
        .orElse(positional.headOption.map(_.toInt))
      val rateSec = flagValue(rest, "--rate").map(_.toDouble)
        .orElse(positional.lift(1).map(_.toDouble)).getOrElse(0.0)
      val clean = Enrich.sample(spark.read.parquet(in), sampleN)
      val cfg = Enrich.Config(
        client = DisabledLlmClient,
        perCallDelayMs = (rateSec * 1000).toLong)
      val path = Enrich.write(Enrich.run(spark, clean, cfg), out)
      println(s"[enrich] wrote $path")
      spark.stop()

    case "load" :: table :: Nil =>
      val spark = session()
      Catalog.repairTable(spark, table)
      println(s"[load] repaired $table")
      spark.stop()

    // extension verb (not in the reference): corpus-clean verdicts for a
    // (doc_id, text) parquet — exact + near-dup dedup in one pass
    // (graft.queries.TextOps.corpusClean), written as a timestamped dir
    // like the other stages
    case "dedup" :: in :: out :: Nil =>
      val spark = session()
      val docsDf = spark.read.parquet(in)
      val verdicts = dedupVerdicts(
        docsDf.select(docsDf("doc_id"), docsDf("text")), tag = "dedup")
      val path = Clean.writeStamped(verdicts, out, "corpus_clean")
      println(s"[dedup] wrote $path")
      spark.stop()

    // flagship (VERDICT r06 item 8): the whole reference pipeline as ONE
    // demonstrable command — clean → enrich (offline-deterministic LLM
    // stub) → dedup verdicts → partitioned publish + SQL surface — with
    // the clean stage's observe() metrics printed (the selectivity
    // accounting the reference logs by re-counting frames).
    case "flagship" :: in :: work :: Nil =>
      val spark = session()
      val observed = scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.Row]()
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (k, v) => observed.put(k, v) }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })
      val cleanPath = Clean.write(Clean.run(spark, in), s"$work/clean")
      // the observe() metrics arrive on the async listener bus; bounded wait
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!observed.contains("clean_metrics") && System.nanoTime() < deadline)
        Thread.sleep(50)
      observed.get("clean_metrics").foreach { m =>
        println(s"[flagship] clean: rows_kept=${m.getAs[Long]("rows_kept")} " +
          s"categories=${m.getAs[Long]("categories_kept")} " +
          s"dates=[${m.getAs[java.sql.Timestamp]("earliest")} .. " +
          s"${m.getAs[java.sql.Timestamp]("latest")}] -> $cleanPath")
      }
      val clean = spark.read.parquet(cleanPath)
      val cfg = Enrich.Config(client = DisabledLlmClient, perCallDelayMs = 0L)
      val enrichedPath = Enrich.write(Enrich.run(spark, clean, cfg), s"$work/enriched")
      val enriched = spark.read.parquet(enrichedPath)
      println(s"[flagship] enrich: ${enriched.count()} rows -> $enrichedPath")
      // verdicts are WRITTEN, not just printed (the dedup verb's
      // contract): the publish below stays reference-faithful (all
      // enriched rows — the reference pipeline has no dedup stage),
      // and $work/dedup_verdicts carries the kept/duplicate audit a
      // downstream consumer filters by
      val verdicts = dedupVerdicts(
        enriched.select(enriched("id_news").as("doc_id"),
          enriched("content").as("text")), tag = "flagship")
      verdicts.write.mode("errorifexists").parquet(s"$work/dedup_verdicts")
      println(s"[flagship] dedup verdicts -> $work/dedup_verdicts")
      // release the cache dedupVerdicts pinned before the publish stage
      verdicts.unpersist()
      Catalog.writePartitioned(enriched, s"$work/published")
      Catalog.registerView(spark.read.parquet(s"$work/published"))
      val byCat = spark.sql(
        """SELECT category, COUNT(*) AS n FROM enriched_news
          |GROUP BY category ORDER BY n DESC""".stripMargin)
        // collect-scale: metadata — per-category counts for a CLI print
        .collect()
      println("[flagship] published by category: " +
        byCat.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
      println(s"[flagship] SQL surface ready: enriched_news over $work/published")
      spark.stop()

    // continuous clean: drain whatever JSONL files are in the directory
    // now through the checkpointed streaming stage and exit — re-running
    // picks up only NEW files (the checkpoint remembers processed ones),
    // so a cron'd `clean-stream` is incremental ingest with no
    // bookkeeping. Leave the process running instead by replacing the
    // drain with awaitTermination.
    case "clean-stream" :: in :: out :: ckpt :: Nil =>
      val spark = session()
      val q = Clean.runStream(spark, in, s"$out/clean_stream", ckpt)
      q.processAllAvailable()
      q.stop()
      println(s"[clean-stream] drained $in -> $out/clean_stream " +
        s"(checkpoint $ckpt; re-run to pick up new files)")
      spark.stop()

    // continuous enrichment over clean-stream output (offline
    // deterministic client — the reference's DISABLE_LLM path); same
    // drain-and-exit incremental semantics as clean-stream
    case "enrich-stream" :: in :: out :: ckpt :: Nil =>
      val spark = session()
      val q = Enrich.runStream(spark, in, s"$out/enrich_stream", ckpt,
        Enrich.Config(client = DisabledLlmClient, perCallDelayMs = 0L))
      q.processAllAvailable()
      q.stop()
      println(s"[enrich-stream] drained $in -> $out/enrich_stream " +
        s"(checkpoint $ckpt; re-run to pick up new files)")
      spark.stop()

    // one-command reproduction of the correctness table (VERDICT r07
    // item 8): dump every catalog query's result over <sfDir> via
    // graft.Verify, then replay each oracle SQL in DuckDB and compare
    // (tools/local_verify.py — needs the driver-side python3+duckdb;
    // the dump alone still runs without them). Exit code = the gate's.
    case "verify-local" :: sfDir :: outDir :: rest =>
      graft.Verify.main((sfDir :: outDir :: rest).toArray)
      val gate = new java.io.File("tools/local_verify.py")
      if (!gate.exists()) {
        System.err.println(
          s"[verify-local] dumped results to $outDir; ${gate.getPath} not " +
            "found — run the DuckDB compare from the repo root")
        sys.exit(1)
      }
      val cmd = List("python3", gate.getPath, sfDir, outDir) ++ rest
      val rc =
        try new ProcessBuilder(cmd: _*).inheritIO().start().waitFor()
        catch {
          case e: java.io.IOException =>
            System.err.println(
              s"[verify-local] dumped results to $outDir; could not launch " +
                s"python3 (${e.getMessage}) — the DuckDB oracle compare " +
                "needs a python3 with the duckdb package")
            1
        }
      sys.exit(rc)

    case other =>
      System.err.println(
        s"unknown or malformed stage: ${other.mkString(" ")}\n" +
          "usage: clean <jsonl> <outdir> | enrich <parquet> <outdir> " +
          "[--sample N] [--rate S] | load <table> | dedup <parquet> <outdir> " +
          "| flagship <jsonl> <workdir> | clean-stream <jsonlDir> <outdir> <ckptDir> " +
          "| enrich-stream <cleanDir> <outdir> <ckptDir> " +
          "| verify-local <sfDir> <outdir> [query ...]")
      sys.exit(1)
  }

  private def flagValue(args: List[String], flag: String): Option[String] =
    args.sliding(2).collectFirst { case `flag` :: v :: Nil => v }

  /** Shared by the dedup and flagship verbs: corpus-clean verdicts
    * (exact + near-dup, [[graft.queries.TextOps.corpusClean]]) for a
    * (doc_id, text) frame, cached, with doc/kept counts printed.
    */
  private def dedupVerdicts(
      docs: org.apache.spark.sql.DataFrame, tag: String): org.apache.spark.sql.DataFrame = {
    val verdicts = graft.queries.TextOps.corpusClean(docs).cache()
    val kept = verdicts.filter(verdicts("kept")).count()
    println(s"[$tag] dedup verdicts: ${verdicts.count()} docs, $kept kept")
    verdicts
  }
}
