package graft

import org.apache.spark.sql.SparkSession

/** Prints each catalog query's ANALYZED/OPTIMIZED plan string sizes at
  * sf0.001 — the "is planning itself the cost" scan (the q146 r14
  * lesson: a 2.1 MB plan re-planned+re-codegen'd per invocation
  * dominated the query). Driver-only for lazy builders; queries whose
  * builder runs eager actions (CC fixpoints, eager checkpoints) pay
  * them once here — use the smallest SF.
  *
  * Usage: runMain graft.PlanSizes [minKB]
  */
object PlanSizes {
  def main(args: Array[String]): Unit = {
    val minKb = if (args.nonEmpty) args(0).toInt else 20
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.localSession(GraftSession.cpus, Bench.benchConfs)
    val out = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val qe = fn(spark, sfDir).queryExecution
        val a = qe.analyzed.toString.length
        val o = qe.optimizedPlan.toString.length
        Bench.cleanup(spark)
        if (o >= minKb * 1024 || a >= 4 * minKb * 1024) Some((name, a, o)) else None
      } catch { case e: Throwable =>
        System.err.println(s"[plan-sizes] $name failed: ${e.getMessage}"); None
      }
    }
    out.sortBy(-_._3).foreach { case (n, a, o) =>
      System.err.println(f"[plan-sizes] $n%-35s analyzed=${a / 1024}%6dK optimized=${o / 1024}%6dK")
    }
    spark.stop()
  }
}
