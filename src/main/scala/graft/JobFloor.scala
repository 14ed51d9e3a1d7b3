package graft

import org.apache.spark.sql.functions._

/** Micro-benchmark of the session's fixed per-action / per-exchange
  * driver cost: times (a) a 1-task no-shuffle job, (b) a one-exchange
  * aggregate, (c) a three-exchange join+agg chain, each through the
  * shared bench action, after warm-up. The numbers bound how much of a
  * fixed-overhead-dominated query is harness floor vs plan shape
  * (guide §1.1's "know the floor" napkin math, for the driver side).
  *
  * Usage: runMain graft.JobFloor [iters]
  */
object JobFloor {
  def main(args: Array[String]): Unit = {
    val iters = if (args.nonEmpty) args(0).toInt else 30
    val spark = GraftSession.localSession(GraftSession.cpus, Bench.benchConfs)
    import spark.implicits._

    def job0() = Bench.exhaust(
      spark.range(0L, 1000L, 1L, 1).select(sum($"id")))
    def job1x() = Bench.exhaust(
      spark.range(0L, 100000L, 1L, 4)
        .groupBy(($"id" % 97L).as("k")).agg(sum($"id").as("s"))
        .select(sum($"s")))
    def job3x() = {
      val base = spark.range(0L, 100000L, 1L, 4)
        .select($"id", ($"id" % 97L).as("k"))
      val agg = base.groupBy($"k").agg(count(lit(1)).as("c"))
      Bench.exhaust(base.join(agg, "k")
        .groupBy(($"k" % 7L).as("g")).agg(sum($"c").as("s"))
        .orderBy($"g"))
    }
    // the median action, not the mean: one host stall inside the loop
    // would otherwise move the floor
    def time(name: String, f: () => Unit): Unit = {
      (1 to 5).foreach(_ => f()) // warm-up: codegen + page cache
      val ms = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        f()
        (System.nanoTime() - t0) / 1e6
      }
      System.err.println(f"[job-floor] $name: ${Bench.median(ms)}%.1f ms/action")
    }
    time("0-exchange 1-task", () => job0())
    time("1-exchange agg   ", () => job1x())
    time("3-exchange join  ", () => job3x())
    spark.stop()
  }
}
