package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import Main.Run

/** A catalog workload: one closed-loop client running the workload's
  * queries through `QueryDef.fn`, one query in flight at a time.
  *
  *  1. set-up: session start;
  *  2. the timed first pass, in the fixed order the queries are listed:
  *     each query's first execution in the fresh JVM, as a driver program
  *     runs a report once per process, so it carries the codegen and JIT
  *     warm-up. Each result is written as parquet for the fingerprint
  *     check (a few hundred rows), so this pass is also the check pass;
  *  3. traced runs only: a second, untimed check pass in the reverse of
  *     the seed's order, so a result that depends on which query ran
  *     earlier shows;
  *  4. timed later passes, executed through `graft.Bench.exhaust` (the
  *     noop sink), started until `seconds` have elapsed, at least
  *     `min_passes` (exactly `min_passes` when traced). Pass `p` runs the
  *     seed's permutation when `p` is even and its reverse when `p` is
  *     odd, so every query follows a different predecessor in consecutive
  *     passes; when traced, the passes run untraced, traced, untraced.
  *
  * Cache and persisted-RDD cleanup runs between queries, outside the
  * samples, as `graft.Bench` does.
  */
object CatalogWorkload {

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] = {
    val base = new scala.util.Random(seed * 1000003L).shuffle(names)
    if (pass % 2 == 0) base else base.reverse
  }

  def apply(run: Run): Map[String, Any] = {
    val cat = run.plan.sub("catalog")
    val names = cat.strs("queries")
    val all = graft.SparkEntry.queries
    def fn(n: String): (SparkSession, String) => DataFrame = all(n)
    val data = cat.str("data")

    run.startSession()
    val spark = run.spark
    val tracer = run.tracer
    val traced = run.plan.bool("trace")
    val samples = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()

    /** One timed query: build through `fn`, then `sink`; recorded as a
      * sample of pass `p`.
      */
    def timed(p: Int, n: String)(sink: DataFrame => Unit): Unit = {
      var buildS = 0.0
      var error: String = null
      val q0 = System.nanoTime()
      try tracer.span("query", n) {
        val df = tracer.span("build", n, settle = true)(fn(n)(spark, data))
        buildS = run.elapsed(q0)
        tracer.span("execute", n, settle = true)(sink(df))
      } catch { case e: Throwable => run.fail(s"pass$p", n, e); error = e.toString }
      val wallS = run.elapsed(q0)
      samples += Map("pass" -> p, "order" -> p % 2, "traced" -> tracer.detailedNow,
        "name" -> n, "wall_s" -> wallS, "build_s" -> buildS, "exec_s" -> (wallS - buildS),
        "ok" -> (error == null))
      run.cleanup()
    }

    def writeTo(dir: String, n: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$n")

    tracer.span("pass", "pass0", fine = false) {
      names.foreach(n => timed(0, n)(writeTo(s"${run.work}/check0", n)))
    }
    val checks = Seq(Map("order" -> names, "dir" -> s"${run.work}/check0")) ++
      (if (!traced) Nil else {
        val dir = s"${run.work}/check1"
        val checkOrder = order(names, run.seed, 1)
        tracer.span("check", "check1", fine = false) {
          checkOrder.foreach { n =>
            try writeTo(dir, n)(fn(n)(spark, data))
            catch { case e: Throwable => run.fail("check1", n, e) }
            run.cleanup()
          }
        }
        Seq(Map("order" -> checkOrder, "dir" -> dir))
      })
    run.readHeap()

    val t0 = System.nanoTime()
    val minPasses = run.plan.int("min_passes")
    var pass = 1
    while (pass <= minPasses || (!traced && run.elapsed(t0) < run.seconds)) {
      tracer.detailedNow = traced && Main.tracedTurn(pass)
      val p = pass
      tracer.span("pass", s"pass$p", fine = false) {
        order(names, run.seed, p).foreach(n => timed(p, n)(graft.Bench.exhaust))
      }
      pass += 1
    }
    tracer.detailedNow = false
    run.readHeap()

    val oracle = graft.SparkEntry.oracleSql
    Map("warmup_s" -> 0.0, "passes" -> pass,
      "samples" -> samples.toSeq, "checks" -> checks, "catalog_queries" -> names,
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }
}
