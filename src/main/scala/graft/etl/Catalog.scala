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

  /** Register the enriched table for ad-hoc SQL (S6 in SURVEY.md §2.1).
    *
    * A small frame is registered through [[graft.ops.OnePartition.ifSmall]]
    * (at most `OnePartition.Bytes` planned), so a dashboard aggregate
    * runs as one job of one stage and one task, with no exchange, where
    * the plain view runs a partial aggregate, a shuffle and a final
    * aggregate in two jobs. At this size that fixed per-statement cost
    * is the latency. Filters, partition filters included, still push
    * below the `Coalesce` to the scan, and a join that needs a shuffle
    * still shuffles both sides to the session's width. Larger frames
    * keep their parallel plan.
    */
  def registerView(df: DataFrame, name: String = "enriched_news"): Unit =
    graft.ops.OnePartition.ifSmall(df).createOrReplaceTempView(name)

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
