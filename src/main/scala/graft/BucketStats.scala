package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured hyperplane-bucket occupancy per corpus — the receipt behind
  * q205/q207's scale claim (VERDICT r12 item 2).
  *
  * The ⌈log₂(n/25)⌉ plane formula holds EXPECTED occupancy inside a
  * ±2× band, but plane count is integral, so occupancy stairsteps: it
  * climbs toward ~2× the target as n approaches the next power-of-two
  * threshold, then halves when the increment lands. The r12 decade-3
  * wall read for q205 (6.6× at 3.33× rows) was ATTRIBUTED to the
  * 15→24 occupancy step — this tool replaces that assertion with a
  * measurement: for each corpus dir it prints one JSON line with the
  * plane count and the realized bucket-size distribution (count, mean,
  * p50, p95, max), so slope artifacts can cite occupancy instead of
  * assuming it.
  *
  * Usage: BucketStats <dir> [<dir> ...] — each dir holding
  * embeddings.parquet (the driver fixture layout).
  */
object BucketStats {
  // q205's constants (SimilarityOps keeps them private; the contract —
  // min 4 planes, depth target 25, 64 dims — is pinned by q205Sql and
  // ScaleInvariantsSpec, so duplicating the literals here cannot drift
  // silently past the gate)
  private val MinPlanes = 4
  private val TargetDepth = 25L
  private val Dims = 64

  // q208/q209's cap parameters (same drift-cannot-hide argument: pinned
  // by the capped queries' oracle SQL and CappedBucketSpec)
  private val BucketCap = 25L
  private val MaxExtraPlanes = 6

  def main(args: Array[String]): Unit = {
    val (capped, dirs) = args.partition(_ == "--capped")
    require(dirs.nonEmpty,
      "usage: BucketStats [--capped] <sfDir> [<sfDir> ...]")
    val spark: SparkSession = GraftSession.localSession(GraftSession.cpus, Bench.benchConfs)
    try dirs.foreach { dir =>
      println(statsJson(spark, dir, capped = capped.nonEmpty))
    }
    finally spark.stop()
  }

  def statsJson(spark: SparkSession, dir: String, capped: Boolean = false): String = {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = e.count()
    val planes = ops.AnnIndex.scaledPlaneCount(n, MinPlanes, TargetDepth)
    val bucketed =
      if (capped) ops.AnnIndex.withCappedBucket(
        e, "v", planes, Dims, BucketCap, 20, MaxExtraPlanes)
      else ops.AnnIndex.withBucket(e, "v", planes, Dims)
    val sizes = bucketed
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val row = sizes.agg(
      count(lit(1)).as("n_buckets"),
      expr("percentile_approx(c, 0.5, 10000)").as("p50"),
      expr("percentile_approx(c, 0.95, 10000)").as("p95"),
      max(col("c")).as("max"),
      avg(col("c")).as("mean"),
      // Σc² is the bucket-join's pair-volume core: q205's candidate
      // count is ≈ (planes+1)·Σc² (each vector probes its own bucket
      // plus one per flipped plane), so cross-decade wall ratios should
      // track (planes+1)·Σc² ratios — if wall grows FASTER than that,
      // the algorithm (not the data's bucket skew) is super-linear
      sum(col("c") * col("c")).as("sum_c2")).collect()(0) // collect-scale: 1-row agg
    f"""{"dir":"$dir","capped":$capped,"n_vecs":$n,"planes":$planes,""" +
      f""""expected_occ":${n.toDouble / (1L << planes)}%.1f,""" +
      f""""n_buckets":${row.getAs[Long]("n_buckets")},""" +
      f""""mean":${row.getAs[Double]("mean")}%.1f,""" +
      f""""p50":${row.getAs[Long]("p50")},"p95":${row.getAs[Long]("p95")},""" +
      f""""max":${row.getAs[Long]("max")},"sum_c2":${row.getAs[Long]("sum_c2")}}"""
  }
}
