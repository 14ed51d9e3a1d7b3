package graft

import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite

/** Storage pins for the hot queries whose storage was settled by
  * same-boot A/B (ARCHITECTURE §8.5, §8.7): q147, q171 and q194 store
  * nothing, q192's ntile sorted pass stores nothing, and q196 caches its
  * shingle frame while its pair audit runs. A row compare can never
  * catch a silent flip between storing and recomputing, so each pin is
  * structural.
  */
class HotQueryStorageVariantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** No cached frame is left: the cache manager is empty, and no
    * persisted RDD carries a name (a cached frame names its RDD after its
    * plan; the local checkpoints the build leaves behind are unnamed).
    */
  private def assertNothingCached(query: String): Unit = {
    assert(spark.sharedState.cacheManager.isEmpty, s"$query left a cached frame")
    val named = spark.sparkContext.getPersistentRDDs.values.flatMap(r => Option(r.name))
    assert(named.isEmpty, s"$query left cached RDDs: ${named.mkString("; ")}")
  }

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
    // audit checkpoint job, so the pin watches that job's stages: one of
    // them must read the shingle frame from storage. The query releases
    // the cache once the audit has run, so nothing stays cached after.
    dropStorage()
    val cachedRead = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(i =>
            i.name.contains("shingles(") && i.storageLevel != StorageLevel.NONE))
          cachedRead.set(true)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("q196_cluster_separation")(spark, dir)
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(cachedRead.get, "q196's A/B-chosen storage is cache")
      }
      assertNothingCached("q196")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      dropStorage()
    }
  }

  test("q91 releases its cached band frame once the frame is built") {
    // the band frame feeds both sides of the candidate self-join, whose
    // only reader (phase 1's distinct exchange) runs inside the build
    dropStorage()
    try {
      SparkEntry.queries("q91_clusters_altcc")(spark, dir)
      assertNothingCached("q91")
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
