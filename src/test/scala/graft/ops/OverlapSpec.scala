package graft.ops

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Overlap.frames]] leaves no job running behind a failed branch. */
class OverlapSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("a failing branch cancels its sibling's running job and the first error is rethrown") {
    val sc = spark.sparkContext
    val slowStarted = new CountDownLatch(1)
    val slowJobs = ConcurrentHashMap.newKeySet[Int]()
    val ends = new ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "overlap-slow")) {
          slowJobs.add(e.jobId)
          slowStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, if (e.jobResult == JobSucceeded) "succeeded" else e.jobResult.toString)
    }
    // a task that runs for a minute unless it is killed
    val slow = udf { (x: Long) =>
      val ctx = TaskContext.get()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
      x
    }
    val boom = new IllegalStateException("the first branch failed")
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](Overlap.frames(Seq(
        () => {
          sc.setJobDescription("overlap-slow")
          spark.range(0, 4, 1, 4).select(slow(col("id"))).localCheckpoint(eager = true)
        },
        () => {
          assert(slowStarted.await(60, TimeUnit.SECONDS), "the slow job never started")
          throw boom
        })))
      assert(e eq boom)
      assert(System.nanoTime() - t0 < TimeUnit.SECONDS.toNanos(45),
        "frames waited for the slow job instead of cancelling it")
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!slowJobs.asScala.forall(ends.containsKey) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(!slowJobs.isEmpty)
      slowJobs.asScala.foreach { id =>
        val end = Option(ends.get(id))
        assert(end.exists(_.toLowerCase.contains("cancel")), s"job $id ended as $end")
      }
    } finally sc.removeSparkListener(listener)
  }
}
