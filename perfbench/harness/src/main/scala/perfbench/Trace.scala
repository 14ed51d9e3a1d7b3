package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters gathered for one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, outputBytes = 0L
  var planMs = 0.0
  var scanRows, partitionsRead = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
    "spill" -> spill, "output_bytes" -> outputBytes, "plan_ms" -> planMs,
    "scan_rows" -> scanRows,
    "partitions_read" -> partitionsRead)
}

final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, var end: Long = -1L)

/** Spans opened by the benchmark around its calls into the engine, and
  * the Spark listeners that attach counters to them.
  *
  * Every job carries the id of the innermost span open on the thread that
  * submitted it (a Spark local property, which threads the engine starts
  * inherit), so its stages and tasks land on that span however late the
  * listener bus delivers them. Query-execution events carry no
  * properties; they go to the span open when they arrive, so a fine span
  * that `settle`s waits for both listener buses to drain before it
  * closes.
  *
  * While `detailedNow` is false only the coarse spans a run always needs
  * (set-up, passes, checks) are opened; while it is true the benchmark
  * also opens one span per query, build, execute, pipeline stage and
  * dashboard statement, and scan metrics are read from each executed
  * plan.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer.Prop

  @volatile var detailedNow = false
  private val ids = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.HashMap[Long, Counters]()
  private val stageSpan = mutable.HashMap[Int, Long]()
  @volatile private var current = 0L
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val markerSeen = new AtomicLong(0L)
  private val qeMarkerSeen = new AtomicLong(0L)

  private def countersOf(span: Long): Counters =
    counters.getOrElseUpdate(span, new Counters)

  /** Run `body` inside a new span. Coarse spans are always recorded;
    * fine ones only while the tracer is detailed.
    */
  def span[T](kind: String, name: String, fine: Boolean = true, settle: Boolean = false)(
      body: => T): T =
    if (fine && !detailedNow) body
    else {
      val parent = stack.get.headOption.getOrElse(0L)
      val s = Span(ids.incrementAndGet(), parent, kind, name, System.nanoTime())
      synchronized(spans += s)
      val sc = spark.sparkContext
      val saved = sc.getLocalProperty(Prop)
      stack.set(s.id :: stack.get)
      sc.setLocalProperty(Prop, s.id.toString)
      current = s.id
      try {
        val r = body
        if (settle) flush()
        r
      } finally {
        s.end = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Prop, saved)
        current = stack.get.headOption.getOrElse(0L)
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val marker = props.exists(_.getProperty(Tracer.MarkerProp) != null)
      val span = if (marker) Tracer.Uncounted else props
        .flatMap(p => Option(p.getProperty(Prop))).map(_.toLong).getOrElse(current)
      countersOf(span).jobs += 1
      e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
      if (marker) markerSeen.set(e.jobId.toLong + 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        countersOf(stageSpan.getOrElse(e.stageInfo.stageId, current)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = countersOf(stageSpan.getOrElse(e.stageId, current))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private object Scans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (qe.analyzed.output.exists(_.name == Tracer.MarkerColumn)) {
        qeMarkerSeen.incrementAndGet()
        return
      }
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val scans =
        if (!detailedNow) Nil
        else Scans.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      val span = current
      Tracer.this.synchronized {
        val c = countersOf(span)
        c.planMs += planMs
        scans.foreach { s =>
          c.scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          c.partitionsRead += s.metrics.get("numPartitions").map(_.value).getOrElse(0L)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Wait until both listener buses have delivered every event posted so
    * far: submit a marker job and a marker query and wait for each to be
    * seen (the buses deliver in order).
    */
  def flush(): Unit = {
    val sc = spark.sparkContext
    val before = qeMarkerSeen.get
    sc.setLocalProperty(Tracer.MarkerProp, "1")
    val jobsBefore = markerSeen.get
    try spark.range(0, 1, 1, 1).toDF(Tracer.MarkerColumn).collect()
    finally sc.setLocalProperty(Tracer.MarkerProp, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((markerSeen.get == jobsBefore || qeMarkerSeen.get == before) &&
        System.nanoTime() < deadline) Thread.sleep(5)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Every span with its own counters, for the trace artifact. */
  def dump(): Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "run" -> runId, "kind" -> s.kind,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "counters" -> countersOf(s.id).toMap)
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"
  val MarkerProp = "perfbench.marker"
  val MarkerColumn = "perfbench_flush_marker"
  /** Pseudo-span that takes the flush marker's own job, stage and task. */
  val Uncounted: Long = -1L
}
