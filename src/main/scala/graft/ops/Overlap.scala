package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build several independent DataFrames CONCURRENTLY on driver threads
  * (guide §2.6 — overlap independent jobs). Spark's scheduler happily
  * runs several jobs at once inside one application; queries whose
  * pipelines contain driver-blocking phases (a GlobalIndex partition-
  * count collect, the CC fixpoint's per-round convergence scalar, an
  * eager cache materialization) otherwise run those phases strictly
  * serially while most cores idle. FIFO scheduling back-fills the tail
  * of one pipeline's stage with the next one's tasks.
  *
  * Results are unchanged: each frame's lineage is independent, and
  * Spark job submission is thread-safe by design. Callers pass thunks
  * whose evaluation FORCES the frame (an eager localCheckpoint, a
  * cache-populating action, or an action-driven fixpoint) — a thunk
  * that merely composes a lazy plan gains nothing from the pool.
  *
  * Extracted from ScaleOps' r15 layout-audit overlap (q163/q192: the
  * three distributedNtile pipelines occupied ~1.7 s of strictly serial
  * wall at sf0.1) so the CC-consumer and audit-family queries share one
  * definition.
  *
  * Each branch's jobs carry their own job tag. When a branch fails,
  * the siblings' jobs are cancelled by tag until every branch has
  * ended, and then the first error is rethrown, so no job outlives the
  * call.
  */
object Overlap {
  def frames(parts: Seq[() => DataFrame]): Seq[DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = SparkSession.active.sparkContext
    val tags = parts.indices.map(i => s"graft-overlap-${java.util.UUID.randomUUID()}-$i")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parts.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val branches = parts.zip(tags).map { case (p, tag) =>
      Future { sc.addJobTag(tag); try p() finally sc.removeJobTag(tag) }
    }
    // Future.sequence fails as soon as any branch fails
    try Await.result(Future.sequence(branches), Duration.Inf)
    catch { case e: Throwable =>
      // a sibling between two jobs submits its next one after a cancel,
      // so cancel again until it has ended too
      while (!branches.forall(_.isCompleted)) {
        tags.foreach(sc.cancelJobsWithTag(_, "a sibling Overlap branch failed"))
        Thread.sleep(50)
      }
      throw e
    } finally pool.shutdown()
  }
}
