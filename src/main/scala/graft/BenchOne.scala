package graft

import org.apache.spark.sql.SparkSession

/** Single-query bench harness: `runMain graft.BenchOne <name> [reps]` —
  * same session config as Bench, one query, repeated, per-rep seconds to
  * stderr. For isolating per-query regressions from whole-run effects.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    // optional trailing k=v args become runtime confs — the same-boot
    // A/B lever for a Spark conf or a `spark.graft.*` switch (topk.*,
    // ppjoin.positional). Explicit args rather than env so the
    // invocation line IS the record of which arm was measured.
    val confs = args.drop(2).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value conf arg, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // includes Bench.benchConfs: "same session config as Bench" was
    // previously asserted by this comment but not by the code (the
    // codegen-cache sizing was missing here)
    val spark = GraftSession.localSession(cpus, Bench.benchConfs)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir) // untimed: memoized fixture writes (q201/q202) land here
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      // the SHARED bench action (noop sink, not count() — count lets
      // Catalyst prune computed columns and under-measure)
      Bench.exhaust(fn(spark, sfDir))
      System.err.println(
        f"[bench-one] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
      // same rep hygiene as Bench (r12): raw RDD persists (GlobalIndex
      // sorted pass, CC localCheckpoints) are invisible to clearCache
      // and otherwise accumulate until a GC-driven ContextCleaner sweep
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
