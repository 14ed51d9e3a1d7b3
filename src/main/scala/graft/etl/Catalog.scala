package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 3 — catalog indexing + the SQL query surface.
  *
  * The reference's "load" stage submits `MSCK REPAIR TABLE` to Athena and
  * polls a boto3 client once per second until the query finishes
  * (`Main.py:277-339`). Spark executes the same command natively and
  * synchronously, so the entire submit/poll machinery reduces to one
  * call. The reference's whole ad-hoc query capability — Athena SQL over
  * the enriched parquet (`README.md:37,49`) — becomes `spark.sql` over a
  * registered view, with Catalyst supplying the ANSI surface.
  */
object Catalog {

  /** The largest planned size, in bytes, at which [[registerView]] plans
    * the view as one partition. Measured on 4 cores over the published
    * news table copied 1, 4, 16 and 64 times, median ms of the
    * dashboard's aggregate statements, plain view → one partition:
    * 3.9 MB 72 → 55, 15.6 MB 76 → 68, 61 MB 82 → 83, 243 MB 111 → 187.
    * Aggregates win below the bound and stop winning by 61 MB. A top-k
    * statement (`ORDER BY … LIMIT`) needs no exchange either way and
    * loses at every size, because one task reads what several read:
    * 55 → 64 at 3.9 MB, 66 → 112 at 15.6 MB.
    */
  val SinglePartitionBytes: Long = 16L << 20

  /** Register the enriched table for ad-hoc SQL (S6 in SURVEY.md §2.1).
    *
    * A frame whose planned size (the optimized plan's statistics, which
    * start no job) is at most [[SinglePartitionBytes]] is registered as
    * `df.coalesce(1)`. That moves no row, but it plans the view as
    * `SinglePartition`, which satisfies every aggregate's distribution:
    * a dashboard aggregate then runs as one job of one stage and one
    * task, with no exchange, where the plain view runs a partial
    * aggregate, a shuffle and a final aggregate in two jobs. At this size
    * that fixed per-statement cost is the latency. Filters, partition
    * filters included, still push below the `Coalesce` to the scan, and
    * a join that needs a shuffle still shuffles both sides to the
    * session's width. Larger frames keep their parallel plan.
    */
  def registerView(df: DataFrame, name: String = "enriched_news"): Unit = {
    val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <= SinglePartitionBytes
    (if (small) df.coalesce(1) else df).createOrReplaceTempView(name)
  }

  /** Partition-discovery refresh (S5): the Spark-native equivalent of the
    * reference's Athena `MSCK REPAIR TABLE` round-trip (`Main.py:324-339`).
    * Synchronous — the 1 s poll loop (`Main.py:315-319`) has no analogue.
    */
  def repairTable(spark: SparkSession, table: String): Unit =
    spark.sql(s"MSCK REPAIR TABLE $table")

  /** Write the enriched table partitioned by publish year — the layout
    * that makes partition pruning (and MSCK-style discovery) real. At
    * 100 TB the partition column choice bounds both file counts and the
    * pruning win for time-ranged dashboards.
    */
  def writePartitioned(df: DataFrame, outDir: String): Unit =
    df.withColumn("publish_year", year(col("publish_date")))
      .write.mode("overwrite")
      .partitionBy("publish_year")
      .parquet(outDir)
}
