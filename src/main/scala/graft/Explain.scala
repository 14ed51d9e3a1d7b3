package graft

/** Plan inspector: `runMain graft.Explain <query> [query ...]` — executes
  * each named catalog query on `SPARK_GRAFT_SF_DIR` (default sf0.001) and
  * prints the final (post-AQE) physical plan. The "is this the plan you'd
  * want at 100 TB" feedback loop, as a command.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.localSession(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // untruncated metadata strings (`DataFilters`, `PushedFilters`):
    // Spark cuts them at 100 characters, and a cut that lands at
    // different points when expression ids differ in digit count makes
    // identical plans read as different under tools/plan_diff.py
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    // trailing k=v args set session confs (the convention Bench uses),
    // so conf-armed plan variants can be dumped for the evidence files;
    // applied after the default above, so an explicit arg wins
    val (confs, queryArgs) = args.partition(_.contains("="))
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    val names = if (queryArgs.nonEmpty) queryArgs.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // collect-scale: debug-tool — Explain is a plan-dump CLI, not a query path
      df.collect() // finalize AQE so the printed plan is the executed one
      println(s"===== $n =====")
      // both renderings: the tree (executed, post-AQE) and the numbered
      // formatted mode (PushedFilters/ReadSchema/codegen ids) — the
      // round-14 plan-evidence files commit the latter
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(df.queryExecution.executedPlan.toString)
      // as Bench and Verify do: a query's plan must not read storage a
      // query dumped before it left behind
      Bench.cleanup(spark)
    }
    spark.stop()
  }
}
