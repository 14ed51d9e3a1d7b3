package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Streaming-throughput benchmark for the document-ingest paths — the
  * measured half of the "bounded state" claim (VERDICT r09 item 5).
  * The batch catalog has 5-rep medians and a drift gate; this gives the
  * stateful ingest operators their own recorded rows/s and
  * state-size-vs-TTL numbers.
  *
  * Method: split `documents` into SPARK_GRAFT_STREAM_CHUNKS part files
  * (default 10), feed them through a file source at
  * `maxFilesPerTrigger=1` (one micro-batch per file — the periodic-
  * sweep arrival pattern DocStreamsSpec pins), and drive each config
  * through the noop streaming sink:
  *
  *   fp_ttl_none   dedupByFingerprint            (infinite horizon)
  *   fp_ttl_1h     dedupByFingerprintTtl(1h)     (TTL'd ValueState)
  *   nd_ttl_none   nearDupCandidates(cap=256)    (infinite horizon)
  *   nd_ttl_1h     nearDupCandidates(cap=256, 1h)(TTL'd ListState)
  *
  * A 1 h TTL never EXPIRES anything inside a seconds-long run — by
  * design: the pair measures the TTL machinery's overhead (per-key
  * expiry bookkeeping, the hot-bucket refresh re-puts) at identical
  * admitted-state size, not eviction itself (eviction semantics are
  * DocStreamsSpec's job; `numValuesRemovedDueToTTLExpiry` is still
  * recorded and should read 0 here).
  *
  * Per config it records wall-clock from query start to source drain,
  * rows/s over the documents consumed, micro-batch count, and the
  * final state-operator snapshot (state rows, state memory, TTL
  * removals) from the progress events; near-dup configs also record
  * emitted candidate pairs and the overflow-accumulator reading —
  * at sf1 this is the band-bucket-depth probe VERDICT item 6 asks for
  * (fixed-cardinality defects hide exactly in capped champion lists).
  *
  * TTL'd (processing-time) queries never reach an idle point under
  * `processAllAvailable` (housekeeping micro-batches schedule
  * continuously — the r09 gotcha), so ALL configs are driven the same
  * way: watch progress events until the source has consumed the
  * expected row count, then stop.
  *
  * Output: one JSON line to stdout (compact) and
  * SPARK_GRAFT_BENCH_OUT (default STREAM_BENCH_LOCAL.json, full).
  */
object StreamBench {

  private final case class ConfigResult(
      name: String,
      rows: Long,
      secs: Double,
      batches: Long,
      outputRows: Long,
      stateRows: Long,
      stateBytes: Long,
      ttlRemoved: Long,
      overflows: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val chunks = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHUNKS", "10").toInt
    val spark = GraftSession.localSession(cpus)
    import org.apache.spark.sql.functions.col

    // Arrival directory: the corpus as `chunks` equal part files, each
    // one micro-batch. Chunk by doc_id range so the split is
    // deterministic run-to-run (repartition round-robin is not).
    val docs = Tables.load(spark, sfDir, "documents")
    val nDocs = docs.count()
    val arrivals = java.nio.file.Files.createTempDirectory("stream_bench_src")
    val perChunk = (nDocs + chunks - 1) / chunks
    docs.withColumn("chunk", (col("doc_id") / perChunk).cast("int"))
      .repartition(col("chunk"))
      .sortWithinPartitions("doc_id")
      .write.partitionBy("chunk").mode("overwrite")
      .parquet(arrivals.toString)
    // flatten the partition dirs into plain files (the file source does
    // read partitioned layouts, but partition-column recovery would
    // change the schema; DocStreams expects the documents schema)
    // Sort the partition dirs by their NUMERIC chunk value (and files
    // by name) before renaming: Files.list's iteration order is
    // filesystem-dependent, and the whole point of range-chunking is a
    // deterministic arrival sequence — unsorted renaming would assign
    // chunk0000.. in readdir order and silently break it.
    val flat = java.nio.file.Files.createTempDirectory("stream_bench_flat")
    def listSorted(p: java.nio.file.Path,
        key: java.nio.file.Path => String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toSeq.sortBy(key)
      finally s.close()
    }
    var ci = 0
    val byChunk = listSorted(arrivals, p => {
      val n = p.getFileName.toString
      f"${n.dropWhile(_ != '=').drop(1).toIntOption.getOrElse(Int.MaxValue)}%010d"
    })
    for (d <- byChunk if java.nio.file.Files.isDirectory(d);
         f <- listSorted(d, _.getFileName.toString)
         if f.toString.endsWith(".parquet")) {
      java.nio.file.Files.copy(f, flat.resolve(f"chunk$ci%04d.parquet"))
      ci += 1
    }

    def source(): DataFrame = spark.readStream
      .schema(graft.schema.Schemas.documents)
      .option("maxFilesPerTrigger", "1")
      .parquet(flat.toString)

    val oneHour = java.time.Duration.ofHours(1)

    def run(name: String,
        mk: DataFrame => (DataFrame, Option[org.apache.spark.util.LongAccumulator]))
        : ConfigResult = {
      val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
      val outRows = new java.util.concurrent.atomic.AtomicLong(0L)
      val batches = new java.util.concurrent.atomic.AtomicLong(0L)
      @volatile var stateRows = 0L
      @volatile var stateBytes = 0L
      @volatile var ttlRemoved = 0L
      val qname = s"stream_bench_$name"
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.name == qname) {
            consumed.addAndGet(e.progress.numInputRows)
            outRows.addAndGet(e.progress.sink.numOutputRows)
            if (e.progress.numInputRows > 0) batches.incrementAndGet()
            e.progress.stateOperators.foreach { so =>
              stateRows = math.max(stateRows, so.numRowsTotal)
              stateBytes = math.max(stateBytes, so.memoryUsedBytes)
              val removed = so.customMetrics
                .getOrDefault("numValuesRemovedDueToTTLExpiry", 0L)
              ttlRemoved = math.max(ttlRemoved, removed)
            }
          }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val (frame, acc) = mk(source())
      val ckpt = java.nio.file.Files.createTempDirectory(s"sb_ckpt_$name")
      val t0 = System.nanoTime()
      val q = frame.writeStream.format("noop").queryName(qname)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      // secs measures start → source-drained, NOT teardown: q.stop()
      // blocks on the streaming thread (TTL'd queries may be mid-
      // housekeeping-batch), which would bias rows/s low by a per-config
      // stop-latency term — and differently between the TTL'd and
      // untimed twins.
      var t1 = 0L
      try {
        val deadline = System.currentTimeMillis() + 30L * 60 * 1000
        while (consumed.get() < nDocs && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        t1 = System.nanoTime()
        require(consumed.get() >= nDocs,
          s"$name drained ${consumed.get()} of $nDocs rows within the deadline")
      } finally {
        q.stop()
        spark.streams.removeListener(listener)
      }
      val secs = (t1 - t0) / 1e9
      ConfigResult(name, consumed.get(), secs, batches.get(), outRows.get(),
        stateRows, stateBytes, ttlRemoved,
        acc.map(_.value.longValue()).getOrElse(-1L))
    }

    val results = Seq[ConfigResult](
      run("fp_ttl_none", d =>
        (streaming.DocStreams.dedupByFingerprint(spark, d), None)),
      run("fp_ttl_1h", d =>
        (streaming.DocStreams.dedupByFingerprintTtl(spark, d, oneHour), None)),
      run("nd_ttl_none", { d =>
        val acc = streaming.DocStreams.overflowCounter(spark)
        (streaming.DocStreams.nearDupCandidates(spark, d, cap = 256,
          overflows = Some(acc)), Some(acc))
      }),
      run("nd_ttl_1h", { d =>
        val acc = streaming.DocStreams.overflowCounter(spark)
        (streaming.DocStreams.nearDupCandidates(spark, d, cap = 256,
          overflows = Some(acc), ttl = Some(oneHour)), Some(acc))
      }))

    // Opt-in parity pass (SPARK_GRAFT_STREAM_PARITY=1): re-drive the two
    // ingest operators into a REAL parquet sink and prove the streamed
    // result SET equals the batch truth at this corpus scale — the
    // correctness half the throughput table can't show. The spec pins
    // this at sf0.001; this pass extends the same gate to whatever
    // corpus the bench is pointed at (sf0.1 / derived sf1). Compares are
    // distributed (except() both ways + counts), no driver-side collect.
    val parityJson: Option[String] =
      if (!sys.env.get("SPARK_GRAFT_STREAM_PARITY").contains("1")) None
      else {
        import org.apache.spark.sql.functions.{array, concat_ws, explode, lit}
        def drainTo(name: String, frame: DataFrame, path: String): Unit = {
          val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
          val qname = s"stream_parity_$name"
          val listener = new StreamingQueryListener {
            override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
            override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
              if (e.progress.name == qname) consumed.addAndGet(e.progress.numInputRows)
            override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          }
          spark.streams.addListener(listener)
          val ckpt = java.nio.file.Files.createTempDirectory(s"sbp_ckpt_$name")
          val q = frame.writeStream.format("parquet").option("path", path)
            .queryName(qname).option("checkpointLocation", ckpt.toString)
            .outputMode("append").start()
          try {
            val deadline = System.currentTimeMillis() + 30L * 60 * 1000
            while (consumed.get() < nDocs && System.currentTimeMillis() < deadline)
              Thread.sleep(50)
            require(consumed.get() >= nDocs,
              s"parity $name drained ${consumed.get()} of $nDocs rows within the deadline")
          } finally {
            q.stop()
            spark.streams.removeListener(listener)
          }
        }
        // fingerprint: streamed kept SET == batch q58 kept set (ids may
        // differ — first-arrival vs min-id — the documented delta; the
        // SET is the contract, same as the spec)
        val fpDir = java.nio.file.Files.createTempDirectory("sbp_fp").toString
        drainTo("fp", streaming.DocStreams.dedupByFingerprint(spark, source()), fpDir)
        val streamedFp = spark.read.parquet(fpDir).select(col("fingerprint")).distinct()
        val batchFp = SparkEntry.queries("q58_dedup_fingerprint")(spark, sfDir)
          .select(col("fingerprint")).distinct()
        val fpStream = streamedFp.count(); val fpBatch = batchFp.count()
        val fpMiss = batchFp.except(streamedFp).count()
        val fpExtra = streamedFp.except(batchFp).count()
        // near-dup: streamed distinct candidate pairs == the batch
        // band-join candidate set (q17's banding over the same
        // MinHash.withBands signatures); cap high enough that no bucket
        // truncates — the capped twin is the throughput configs' job
        val ndDir = java.nio.file.Files.createTempDirectory("sbp_nd").toString
        drainTo("nd", streaming.DocStreams.nearDupCandidates(
          spark, source(), cap = 1000000), ndDir)
        val streamedNd = spark.read.parquet(ndDir)
          .select(col("doc_a"), col("doc_b")).distinct()
        val ex = graft.ops.MinHash.withBands(
            Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text")))
          .select(col("doc_id"), explode(array((0 until graft.ops.MinHash.NumBands)
            .map(i => concat_ws(":", lit(i), col(s"band$i"))): _*)).as("bk"))
        val batchNd = ex.as("a").join(ex.as("b"),
            col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
        val ndStream = streamedNd.count(); val ndBatch = batchNd.count()
        val ndMiss = batchNd.except(streamedNd).count()
        val ndExtra = streamedNd.except(batchNd).count()
        Some(
          s""""parity":{"fp_streamed":$fpStream,"fp_batch":$fpBatch,""" +
            s""""fp_equal":${fpMiss == 0 && fpExtra == 0 && fpStream == fpBatch},""" +
            s""""nd_streamed_distinct":$ndStream,"nd_batch":$ndBatch,""" +
            s""""nd_equal":${ndMiss == 0 && ndExtra == 0 && ndStream == ndBatch}}""")
      }

    def j(r: ConfigResult): String =
      f"""{"rows":${r.rows},"secs":${r.secs}%.3f,""" +
        f""""rows_per_sec":${r.rows / r.secs}%.1f,"batches":${r.batches},""" +
        s""""output_rows":${r.outputRows},"state_rows":${r.stateRows},""" +
        s""""state_bytes":${r.stateBytes},"ttl_removed":${r.ttlRemoved}""" +
        (if (r.overflows >= 0) s""","band_overflows":${r.overflows}}""" else "}")
    val body = (results.map(r => s""""${r.name}":${j(r)}""") ++ parityJson).mkString(",")
    val line =
      s"""{"metric":"stream_bench","unit":"rows_per_sec","sf":"$sfDir",""" +
        s""""n_docs":$nDocs,"chunks":$chunks,"cpus":"$cpus",$body}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "STREAM_BENCH_LOCAL.json")
    try {
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(line) finally w.close()
    } catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
