package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload as described by a plan
  * file and writes raw samples, counters, spans and output-check material
  * to a result file. `perfbench/run.py` writes the plan, launches this,
  * checks the outputs and prints the metrics.
  *
  * Usage: perfbench.Main <plan.json> <result.json>
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Plan(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def bool(k: String): Boolean = node.get(k).asBoolean()
    def strs(k: String): Seq[String] = node.get(k).elements().asScala.map(_.asText()).toSeq
    def sub(k: String): Plan = Plan(node.get(k))
    def list(k: String): Seq[Plan] = node.get(k).elements().asScala.map(Plan(_)).toSeq
  }

  /** What every workload shares: the session, the tracer, the clock,
    * failures and heap readings.
    */
  final class Run(val plan: Plan) {
    val seed: Long = plan.node.get("seed").asLong()
    val seconds: Double = plan.node.get("seconds").asDouble()
    val work: String = plan.str("work")
    val failures = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val heapMb = scala.collection.mutable.ArrayBuffer[Double]()
    var spark: SparkSession = _
    var tracer: Tracer = _
    var sessionStartS = 0.0

    /** Start the session, timed, and register the tracer. */
    def startSession(): Unit = {
      val t0 = System.nanoTime()
      spark = graft.GraftSession.localSession(plan.str("cpus"),
        graft.Bench.benchConfs ++ Seq(
          "spark.local.dir" -> s"$work/spark-local",
          "spark.sql.warehouse.dir" -> s"$work/warehouse"))
      sessionStartS = elapsed(t0)
      tracer = new Tracer(spark, s"${plan.str("workload")}-$seed")
    }

    def fail(phase: String, name: String, e: Throwable): Unit = {
      val msg = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
      System.err.println(s"[perfbench] $phase $name failed: $msg")
      failures += Map("phase" -> phase, "name" -> name, "error" -> msg)
    }

    /** Drop the SQL cache and every persisted RDD, as graft.Bench does
      * between queries.
      */
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** Record the driver heap still in use after a full GC. */
    def readHeap(): Unit = heapMb += liveHeapMb()

    def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  }

  /** Whether the i-th pass of a traced run is traced. Pass 0, the first
    * pass in the fresh JVM, is untraced and the overhead reading skips it.
    * The passes after it still get faster as the JIT compiles, so they run
    * untraced, traced, untraced (U T U): a steady speed-up does not skew
    * the overhead read as T minus the mean of the two U passes.
    */
  def tracedTurn(i: Int): Boolean = i == 2

  def liveHeapMb(): Double = {
    // the second collection frees what the first only made unreachable:
    // Spark's ContextCleaner releases shuffle and broadcast state
    // asynchronously once their handles are collected
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def provenance(spark: SparkSession): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "jvm_args" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
      "jdk" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
  }

  def main(args: Array[String]): Unit = {
    val booted = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val plan = Plan(json.readTree(new File(args(0))))
    val run = new Run(plan)
    val body: Map[String, Any] = plan.str("workload") match {
      case "catalog_driver" => CatalogWorkload(run)
      case "news_pipeline" => NewsWorkload(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.tracer.flush()
    val result = body ++ Map(
      "provenance" -> provenance(run.spark),
      "jvm_boot_s" -> booted,
      "session_start_s" -> run.sessionStartS,
      "failures" -> run.failures.toSeq,
      "heap_mb" -> run.heapMb.toSeq,
      "spans" -> run.tracer.dump())
    json.writeValue(new File(args(1)), result)
    run.tracer.close()
    run.spark.stop()
  }
}
