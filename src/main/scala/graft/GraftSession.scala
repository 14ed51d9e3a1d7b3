package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Every entry point — the
  * Bench family, Verify, Explain, StreamBench, the CLI, the benchmark
  * harness and the test suite — calls [[localSession]], so each gets
  * the same [[GraftExtensions]] (native functions, optimizer rule,
  * planner strategy) and the same [[sharedConfs]]: UTC session time,
  * nanos-as-long for TIMESTAMP(NANOS) parquet, and shuffle parallelism
  * sized to the cores rather than the 200-partition default. AQE stays
  * at Spark's default (on): its runtime re-planning — post-shuffle
  * coalescing and skew-join splitting — is the engine's second skew
  * answer after salting (q63/q88), pinned by AdaptiveSpec.
  */
object GraftSession {

  /** Cores for every entry point but the CLI (whose master is a
    * deployment setting): `SPARK_GRAFT_CPUS`, else every core of this
    * machine. Read once, so an Explain dump plans with the shuffle width
    * Bench times.
    */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Session confs every graft session carries. */
  val sharedConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // if an upstream writer ships TIMESTAMP(NANOS) parquet, read it as
    // long rather than erroring; graft.Tables.normalizeEventTs rebuilds
    // µs timestamps (part of the flavor-proof load boundary — NTZ and
    // µs-UTC flavors are handled there too)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // ObjectHashAggregate (collect_list / typed Aggregators, e.g. q57's
    // BoundedCollectAggregator) falls back to SORT-based aggregation
    // after 128 distinct keys per partition — a full sort of the
    // pre-shuffle frame. The hash map is the right plan whenever
    // per-key state is bounded, which holds for every object agg in
    // this engine.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "10000000",
    "spark.ui.enabled" -> "false")

  /** A session with [[GraftExtensions]], [[sharedConfs]], `cpus` shuffle
    * partitions and `extra` on top — ONE definition so a conf added for
    * one entry point cannot silently miss another (the round-5
    * codegen-cache lesson: Bench and Verify sized the cache differently
    * until the split was found by measurement). The master defaults to
    * `local[cpus]`; the CLI passes its deployment master instead.
    */
  def localSession(
      cpus: String,
      extra: Seq[(String, String)] = Nil,
      master: Option[String] = None): SparkSession = {
    val spark = (sharedConfs ++ extra).foldLeft(
        SparkSession.builder()
          .master(master.getOrElse(s"local[$cpus]"))
          .withExtensions(new GraftExtensions)
          .config("spark.sql.shuffle.partitions", cpus)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
