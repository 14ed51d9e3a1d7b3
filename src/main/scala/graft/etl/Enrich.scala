package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.{CleanNews, EnrichedNews, StreamCleanNews, StreamEnrichedNews}

/** Stage 2 — LLM enrichment (reference `enrich_data_to_s3`,
  * `Main.py:188-271`).
  *
  * The reference iterates rows one at a time (`iterrows`, `Main.py:239`)
  * with a sleep between calls, in manual 100-row batches whose results are
  * merged back by a pandas join (`Main.py:254`) and concatenated
  * (`Main.py:255`). In Spark all of that structure collapses into one
  * typed `mapPartitions`: partitions ARE the batches, the join/concat
  * disappear (each row carries its enrichment out of the iterator), and
  * client setup amortizes once per partition instead of once per run.
  *
  * Rate limiting (`Main.py:249-250`): per-row delay inside each task.
  * Distributed semantics differ from the reference by design — N parallel
  * tasks × (1/delay) calls/s; size `maxPartitions` × `perCallDelayMs` to
  * meet a global QPS budget (SURVEY.md §7.5.6). The defaults reproduce
  * the reference's effective 5 calls/s only at parallelism 1.
  *
  * Fault tolerance (`Main.py:99-101,122-124` parity): every client call is
  * wrapped in Try → error tuple; a poison row degrades to ERROR_API
  * values, never a task retry storm.
  */
object Enrich {

  final case class Config(
      client: LlmClient = DisabledLlmClient,
      perCallDelayMs: Long = 0L,
      maxPartitions: Option[Int] = None,
      /** >1 enables bounded-concurrency calls WITHIN each task: an LLM
        * endpoint is latency-bound, not CPU-bound, so per-task pipelining
        * multiplies throughput beyond task parallelism. Aggregate QPS ≈
        * tasks × maxConcurrentPerTask / latency — size both against the
        * provider budget.
        */
      maxConcurrentPerTask: Int = 1,
      /** Per-wave wall timeout for the pipelined path (VERDICT r10 item
        * 4): the `LlmTransport` contract carries no timeout, so one hung
        * call would otherwise pin the whole task forever — violating the
        * spirit of L6's row-level fault isolation (`Main.py:122-124`).
        * Rows still in flight when the wave times out degrade to
        * ERROR_API values (the same tuple a thrown call produces) and
        * the hung threads are interrupted. Only effective with
        * `maxConcurrentPerTask > 1`; the sequential path keeps the
        * reference's blocking semantics.
        */
      waveTimeoutMs: Long = 600000L,
      /** CUMULATIVE wall budget per partition (VERDICT r11 residual nit):
        * `waveTimeoutMs` bounds each wave, but a transport that hangs
        * EVERY wave still stretches a partition by waveTimeout × waves.
        * This bounds the partition's total pipelined wall time: each
        * wave's effective timeout is min(waveTimeoutMs, remaining
        * budget), and once the budget is exhausted every remaining row
        * degrades immediately to the ERROR_API tuple without being
        * submitted — the run converges no matter how the transport
        * misbehaves. 1 h default: generous against any legitimate
        * rate-limited batch (a 600 s wave budget already marks a wave
        * degenerate), tight enough that a poisoned partition cannot pin
        * an executor for a day. Like the wave timeout, only effective
        * with `maxConcurrentPerTask > 1`.
        */
      partitionTimeoutMs: Long = 3600000L)

  /** Optional seeded exact-N sample (reference `Main.py:218-223`,
    * `--sample` knob). Deterministic given a fixed input; NOT bit-equal
    * to pandas' RNG (documented semantic freedom, SURVEY.md §7.5.4).
    */
  def sample(df: DataFrame, n: Option[Int], seed: Long = 42L): DataFrame =
    n match {
      case Some(k) => df.orderBy(rand(seed)).limit(k)
      case None => df
    }

  /** One guarded client call: rate delay, Try → error tuple, field-wise
    * `N/A` defaulting — the reference's per-row semantics
    * (`Main.py:99-101,122-124,249-250`), shared by the batch stage and
    * the streaming twin.
    */
  private[etl] def callSafely(client: LlmClient, delayMs: Long,
      title: String, content: String): (String, String, String) = {
    if (delayMs > 0) Thread.sleep(delayMs)
    val res = scala.util.Try(client.enrich(title, content))
      .getOrElse(LlmClient.errorResult)
    (Option(res.sentiment).getOrElse(LlmClient.notAvailable),
      Option(res.category).getOrElse(LlmClient.notAvailable),
      Option(res.summary).getOrElse(LlmClient.notAvailable))
  }

  /** Bounded in-task pipelining: process `conc`-sized waves through a
    * task-local pool; partition row order is preserved. `conc == 1`
    * degrades to a plain map (no pool, no timeout — the reference's
    * sequential blocking semantics). Shared by batch and stream.
    *
    * `timeoutMs` bounds each WAVE's wall time: when it expires, rows
    * whose futures completed keep their results, rows still in flight
    * degrade to `onTimeout` (the callers map it to the ERROR_API tuple —
    * the same value a thrown call produces, completing L6's row-level
    * fault-isolation contract for hangs, not just exceptions). The hung
    * threads are interrupted via `shutdownNow` and the pool is replaced,
    * so one poisoned wave cannot starve the waves behind it of pool
    * slots. A future that FAILED (rather than hung) also maps to
    * `onTimeout` — callers' `one` is already Try-guarded, so that path
    * only fires for pool-level errors, and the error tuple is the right
    * degradation there too.
    *
    * `partitionBudgetMs` bounds the CUMULATIVE pipelined wall time of
    * this iterator: each wave runs with min(timeoutMs, remaining
    * budget), and once the budget is spent all remaining rows degrade
    * straight to `onTimeout` without touching the pool — so total wall
    * time is ≤ budget + one wave's drain, independent of how many waves
    * a flaky transport can poison (Config.partitionTimeoutMs rationale).
    */
  private[etl] def pipelined[A, B](rows: Iterator[A], conc: Int,
      timeoutMs: Long = Long.MaxValue,
      partitionBudgetMs: Long = Long.MaxValue)(one: A => B)(
      onTimeout: A => B): Iterator[B] =
    if (conc <= 1) rows.map(one)
    else {
      import java.util.concurrent.{Executors, TimeoutException}
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      // daemon threads + a task-completion hook: an UNDRAINED iterator
      // (task kill, interrupt, a downstream limit) must neither leak
      // non-daemon threads per occurrence nor pin a local-mode JVM open
      // after spark.stop(); normal exhaustion still shuts the pool down
      def mkPool() = Executors.newFixedThreadPool(conc,
        (r: Runnable) => {
          val t = new Thread(r, "graft-enrich-pipeline")
          t.setDaemon(true)
          t
        })
      var pool = mkPool()
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))
      // the partition's budget clock starts at the first wave, not at
      // iterator construction — mapPartitions builds the iterator before
      // upstream rows exist, and setup time is not transport time
      var budgetStart = -1L
      val out = rows.grouped(conc).flatMap { wave =>
        if (budgetStart < 0) budgetStart = System.nanoTime()
        val remainingMs =
          if (partitionBudgetMs == Long.MaxValue) Long.MaxValue
          else partitionBudgetMs - (System.nanoTime() - budgetStart) / 1000000L
        if (remainingMs <= 0) {
          // budget exhausted: degrade the whole wave without submitting
          // — convergence must not depend on the transport at all
          wave.map(onTimeout)
        } else {
          val effectiveMs = math.min(timeoutMs, remainingMs)
          val waveTimeout =
            if (effectiveMs == Long.MaxValue) Duration.Inf
            else Duration.fromNanos(effectiveMs * 1000000L)
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          val futs = wave.toSeq.map(r => r -> Future(one(r)))
          try Await.ready(Future.sequence(futs.map(_._2)), waveTimeout)
          catch {
            case _: TimeoutException =>
              // interrupt the hung calls and hand the next wave a fresh
              // pool — the abandoned threads are daemons, so a transport
              // that ignores interrupts delays nothing but JVM exit
              pool.shutdownNow()
              pool = mkPool()
          }
          futs.map { case (r, f) =>
            f.value match {
              case Some(scala.util.Success(b)) => b
              case _ => onTimeout(r)
            }
          }
        }
      }
      new Iterator[B] {
        override def hasNext: Boolean = {
          val h = out.hasNext
          if (!h) pool.shutdown()
          h
        }
        override def next(): B = out.next()
      }
    }

  def run(spark: SparkSession, clean: DataFrame, cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val ds: Dataset[CleanNews] = clean.as[CleanNews]
    val sized = cfg.maxPartitions match {
      case Some(p) => ds.coalesce(p)
      case None => ds
    }
    val client = cfg.client
    val delay = cfg.perCallDelayMs
    val conc = math.max(1, cfg.maxConcurrentPerTask)
    val waveMs = cfg.waveTimeoutMs
    val budgetMs = cfg.partitionTimeoutMs
    val enriched = sized.mapPartitions { rows =>
      pipelined(rows, conc, waveMs, budgetMs) { r: CleanNews =>
        val (sent, cat, sum) = callSafely(client, delay, r.title, r.content)
        EnrichedNews(
          r.id_news, r.title, r.content, r.link, r.publish_date, r.category,
          sent, cat, sum)
      } { r: CleanNews =>
        // wave timeout: the hung row degrades to the ERROR_API tuple,
        // exactly as a thrown call would (L6 parity for hangs)
        val e = LlmClient.errorResult
        EnrichedNews(
          r.id_news, r.title, r.content, r.link, r.publish_date, r.category,
          e.sentiment, e.category, e.summary)
      }
    }
    // current_timestamp() is fixed per query — matches the reference's
    // evaluate-once `datetime.now()` column (`Main.py:259`).
    enriched.toDF().withColumn("etl_processing_time", current_timestamp())
  }

  /** Stage 2 as a CONTINUOUS query over [[Clean.runStream]]'s output
    * (fingerprint identity instead of the batch dense id): the SAME
    * per-row call semantics ([[callSafely]]) and the SAME in-task
    * pipelining ([[pipelined]]) run inside a typed mapPartitions on the
    * stream; micro-batches are the reference's "manual 100-row batches",
    * for free. Batch-only operators are absent by design: the seeded
    * sample and positional slicing need a FINISHED dataset.
    * `etl_processing_time` is evaluate-once per micro-batch — the
    * streaming analogue of the reference's per-run `datetime.now()`.
    * Checkpointed parquet sink = exactly-once; a crashed batch replays
    * with the same rows (the stub clients are deterministic per content,
    * so replays are idempotent; a live client re-bills, which is the
    * standard at-least-once LLM-call caveat and belongs to the
    * transport's idempotency key, not the engine).
    */
  def runStream(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, cfg: Config = Config()):
      org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val client = cfg.client
    val delay = cfg.perCallDelayMs
    val conc = math.max(1, cfg.maxConcurrentPerTask)
    val waveMs = cfg.waveTimeoutMs
    val budgetMs = cfg.partitionTimeoutMs
    val src = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[StreamCleanNews].schema)
      .parquet(inDir)
      .as[StreamCleanNews]
    // the QPS-bounding knob works in both modes: tasks × conc / latency
    // is the aggregate call rate, and maxPartitions caps tasks here
    // exactly as it does in the batch stage
    val sized = cfg.maxPartitions match {
      case Some(p) => src.coalesce(p)
      case None => src
    }
    val enriched = sized.mapPartitions { rows =>
      pipelined(rows, conc, waveMs, budgetMs) { r: StreamCleanNews =>
        val (sent, cat, sum) = callSafely(client, delay, r.title, r.content)
        StreamEnrichedNews(
          r.fingerprint, r.title, r.content, r.link, r.publish_date,
          r.category, sent, cat, sum)
      } { r: StreamCleanNews =>
        val e = LlmClient.errorResult
        StreamEnrichedNews(
          r.fingerprint, r.title, r.content, r.link, r.publish_date,
          r.category, e.sentiment, e.category, e.summary)
      }
    }
    enriched.toDF().withColumn("etl_processing_time", current_timestamp())
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Stage-2 sink, same timestamped-directory semantics as Stage 1
    * (`Main.py:261-266`).
    */
  def write(df: DataFrame, outDir: String): String =
    Clean.writeStamped(df, outDir, "final_enriched_data")
}
