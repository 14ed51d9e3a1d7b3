package graft

import org.scalatest.funsuite.AnyFunSuite

/** Storage pins for the hot queries whose storage was settled by
  * same-boot A/B (ARCHITECTURE §8.5, §8.7): q147, q171 and q194 store
  * nothing, q192's ntile sorted pass stores nothing, and q196 caches its
  * shingle frame. A row compare can never catch a silent flip between
  * storing and recomputing, so each pin is structural.
  */
class HotQueryStorageVariantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def dropStorage(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("q147, q171 and q194 store nothing: no InMemoryRelation") {
    def planOf(name: String): String = {
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan.toString
    }
    try Seq("q147_split_leakage", "q171_training_funnel", "q194_mrr_eval").foreach { n =>
      assert(!planOf(n).contains("InMemoryRelation"),
        s"$n cached a frame — its A/B-chosen storage is none")
    } finally spark.catalog.clearCache()
  }

  test("q196 caches its shingle frame where the pair audit consumes it") {
    // the cached frame is read only inside Overlap.frames' eager pair-
    // audit checkpoint job, so the pin is on the storage that job leaves
    // behind, not on the final plan (which no longer reads the frame)
    dropStorage()
    try {
      SparkEntry.queries("q196_cluster_separation")(spark, dir)
      assert(!spark.sharedState.cacheManager.isEmpty,
        "q196's A/B-chosen storage is cache")
      assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
          i.name.contains("shingles(") && i.numCachedPartitions > 0),
        "q196's shingle frame was not materialized in the cache")
    } finally dropStorage()
  }

  test("ntile default is pinned structurally: no persisted RDD remains") {
    // q192's sorted pass is RDD-level storage (invisible to the SQL
    // plan), so the pin is on the session's persistent-RDD registry: it
    // must be empty after a full evaluation. (q192's lineage has no
    // other persist/localCheckpoint site.)
    dropStorage()
    assert(SparkEntry.queries("q192_hilbert_layout")(spark, dir).collect().nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "q192's ntile sorted pass must not be persisted")
  }
}
