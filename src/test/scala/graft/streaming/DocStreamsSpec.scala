package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Streaming/batch parity for document-ingest dedup: the admitted
  * fingerprint set must equal q58's distinct-content set exactly; the
  * representative id may differ (first-arrival vs min-id — the inherent
  * streaming delta, documented on [[DocStreams.dedupByFingerprint]]).
  */
class DocStreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("part-00000.parquet"))
    d.toString
  }

  test("streaming fingerprint dedup admits exactly the batch-distinct content set") {
    val stream = DocStreams.readDocs(spark, streamDir)
    val q = DocStreams.dedupByFingerprint(spark, stream)
      .writeStream.format("memory").queryName("kept_docs")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val batch = graft.SparkEntry.queries("q58_dedup_fingerprint")(spark, dir)
      .select("fingerprint").collect().map(_.getString(0)).toSet
    val streamed = spark.sql("select fingerprint, doc_id from kept_docs").collect()
    assert(streamed.map(_.getString(0)).toSet == batch)
    assert(streamed.length == batch.size) // exactly one admit per content
    // single-file single-batch source: every claimant shares the batch,
    // so first-arrival == min doc_id == the batch canonical id too
    val batchIds = graft.SparkEntry.queries("q58_dedup_fingerprint")(spark, dir)
      .select("fingerprint", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    streamed.foreach(r => assert(r.getLong(1) == batchIds(r.getString(0))))
  }

  test("a replayed second file of identical content admits nothing new") {
    val d2 = java.nio.file.Files.createTempDirectory("docs_stream2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("a.parquet"))
    val stream = DocStreams.readDocs(spark, d2.toString)
    val q = DocStreams.dedupByFingerprint(spark, stream)
      .writeStream.format("memory").queryName("kept_docs_replay")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("docs_ckpt").toString)
      .start()
    q.processAllAvailable()
    // replay: drop the same content in again as a new file
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("b.parquet"))
    q.processAllAvailable()
    q.stop()
    val total = spark.read.parquet(s"$dir/documents.parquet")
      .select(md5(col("text"))).distinct().count()
    assert(spark.sql("select count(*) from kept_docs_replay").head().getLong(0) == total)
  }

  /** Batch truth for the streaming detector: distinct pairs sharing ≥ 1
    * MinHash band (q17's band-join candidate set, built from the same
    * [[graft.ops.MinHash.withBands]] signatures).
    */
  private def bandJoinTruth: Set[(Long, Long)] = {
    val ex = graft.ops.MinHash.withBands(
        graft.Tables.load(spark, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(array((0 until graft.ops.MinHash.NumBands)
        .map(i => concat_ws(":", lit(i), col(s"band$i"))): _*)).as("bk"))
    ex.as("a").join(ex.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect() // collect-scale: test assertion, sf0.001 pair set
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("streaming near-dup candidates equal the batch band-join candidate set") {
    val stream = DocStreams.readDocs(spark, streamDir)
    val q = DocStreams.nearDupCandidates(spark, stream, cap = 100000)
      .writeStream.format("memory").queryName("neardup_cands")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("select doc_a, doc_b from neardup_cands")
      .distinct().collect() // collect-scale: test assertion, sf0.001 pair set
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = bandJoinTruth
    assert(truth.nonEmpty, "fixture must contain at least one banded pair")
    assert(streamed == truth)
    // every emitted pair is ordered and non-reflexive
    assert(streamed.forall { case (a, b) => a < b })
  }

  test("multi-batch arrival still yields the exact batch candidate set (state crosses batches)") {
    // split the corpus into three files and force one micro-batch per
    // file: pairs now form across batches through the band-bucket state,
    // not within one batch's shuffle
    val d3 = java.nio.file.Files.createTempDirectory("neardup_stream3")
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    (0 until 3).foreach { i =>
      val part = docs.filter(col("doc_id") % 3 === i)
      val tmp = java.nio.file.Files.createTempDirectory(s"neardup_part$i")
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (f.hasNext && !moved) {
        val p = f.next()
        if (p.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p, d3.resolve(f"chunk$i%02d.parquet"))
          moved = true
        }
      }
      assert(moved, s"no parquet part written for chunk $i")
    }
    val stream = spark.readStream
      .schema(graft.schema.Schemas.documents)
      .option("maxFilesPerTrigger", "1")
      .parquet(d3.toString)
    val q = DocStreams.nearDupCandidates(spark, stream, cap = 100000)
      .writeStream.format("memory").queryName("neardup_multibatch")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("neardup_mb_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("select doc_a, doc_b from neardup_multibatch")
      .distinct().collect() // collect-scale: test assertion, sf0.001 pair set
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == bandJoinTruth)
  }

  test("replayed near-dup content emits no new candidates; cap bounds state") {
    val d2 = java.nio.file.Files.createTempDirectory("neardup_stream2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("a.parquet"))
    val stream = DocStreams.readDocs(spark, d2.toString)
    val q = DocStreams.nearDupCandidates(spark, stream, cap = 100000)
      .writeStream.format("memory").queryName("neardup_replay")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("neardup_ckpt").toString)
      .start()
    q.processAllAvailable()
    val first = spark.sql("select count(*) from neardup_replay").head().getLong(0)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("b.parquet"))
    q.processAllAvailable()
    q.stop()
    // identical doc_ids are already bucket members → dropped at the door
    assert(spark.sql("select count(*) from neardup_replay").head().getLong(0) == first)
  }

  /** One sweep of the TTL'd dedup over `srcDir`, resumed from `ckpt`
    * (state and its TTL clocks carry across sweeps through the
    * checkpoint — exactly how a production TTL'd ingest runs as
    * periodic jobs). A processing-time-TTL query schedules housekeeping
    * micro-batches continuously, so neither `processAllAvailable` nor
    * `Trigger.AvailableNow` ever reaches an idle point; instead, watch
    * query progress until the source's `expectRows` input rows have
    * been consumed (progress events fire AFTER the batch commits its
    * sink output), then stop. The sink is an exactly-once parquet file
    * sink shared across sweeps (the memory sink refuses checkpoint
    * recovery); each sweep's admits are the part-files it added, read
    * back via [[newPartFiles]].
    */
  private def ttlSweep(srcDir: String, ckpt: String, outDir: String,
      ttl: java.time.Duration, name: String, expectRows: Long,
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = null): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val mk = Option(build).getOrElse(
      (d: org.apache.spark.sql.DataFrame) =>
        DocStreams.dedupByFingerprintTtl(spark, d, ttl))
    val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name) {
          consumed.addAndGet(e.progress.numInputRows); ()
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val q = mk(DocStreams.readDocs(spark, srcDir))
        .writeStream.format("parquet").queryName(name)
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      val deadline = System.currentTimeMillis() + 120000L
      while (consumed.get() < expectRows &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      q.stop()
      assert(consumed.get() >= expectRows,
        s"sweep consumed ${consumed.get()} of $expectRows rows within timeout")
    } finally spark.streams.removeListener(listener)
  }

  private def partFiles(outDir: String): Set[String] = {
    val d = java.nio.file.Paths.get(outDir)
    if (!java.nio.file.Files.exists(d)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
  }

  /** (fingerprint, doc_id) rows in `files` — one sweep's admits. */
  private def newPartFiles(files: Set[String]): Array[(String, Long)] =
    if (files.isEmpty) Array.empty
    else spark.read.parquet(files.toSeq: _*)
      .select("fingerprint", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      // collect-scale: test assertion, sf0.001

  test("TTL evicts fingerprint state; batch reconcile re-converges the kept set") {
    // the documented 100 TB posture as a tested contract: finite TTL →
    // content past the horizon is re-admitted by the stream alone →
    // the q86-style batch reconcile (delta anti-join corpus index)
    // drops the re-admits, restoring exactly the batch-dedup kept set
    val d2 = java.nio.file.Files.createTempDirectory("ttl_stream")
    val ckpt = java.nio.file.Files.createTempDirectory("ttl_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ttl_out")
      .resolve("kept").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("a.parquet"))
    val docRows = spark.read.parquet(s"$dir/documents.parquet").count()
    ttlSweep(d2.toString, ckpt, out,
      java.time.Duration.ofSeconds(2), "kept_ttl_w1", docRows)
    val files1 = partFiles(out)
    val window1 = newPartFiles(files1)
    val distinctFps = spark.read.parquet(s"$dir/documents.parquet")
      .select(md5(col("text"))).distinct().count()
    assert(window1.length.toLong == distinctFps)
    // let every fingerprint's state expire past the horizon, then
    // replay the identical content as a new file into sweep 2
    // (5× the TTL: processing-time TTL sweeps on a loaded host can lag;
    // a 2× margin flaked in review — ADVICE r09)
    Thread.sleep(10000)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("b.parquet"))
    ttlSweep(d2.toString, ckpt, out,
      java.time.Duration.ofSeconds(2), "kept_ttl_w2", docRows)
    val window2 = newPartFiles(partFiles(out) -- files1)
    // evicted state has genuinely reopened the door: everything re-admits
    assert(window2.length.toLong == distinctFps,
      s"expected full re-admission after TTL eviction, got ${window2.length} of $distinctFps")
    // reconcile: sweep 1's admits ARE the corpus index; sweep 2's
    // admits are the delta — the anti-join must drop every re-admit
    import spark.implicits._
    val corpusIndex = window1.map(_._1).toSeq.toDF("fingerprint")
    val delta = window2.toSeq.toDF("fingerprint", "doc_id")
    assert(DocStreams.reconcileAdmits(delta, corpusIndex).count() == 0L)
    // a genuinely-new fingerprint must SURVIVE the same reconcile —
    // the anti-join drops only horizon re-admits, not fresh content
    val fresh = Seq(("not-in-corpus-fp", 999999L)).toDF("fingerprint", "doc_id")
    assert(DocStreams.reconcileAdmits(delta.union(fresh), corpusIndex)
      .collect().map(_.getString(0)).toSeq == Seq("not-in-corpus-fp"))
    // and the corpus index alone equals the batch q58 kept set
    val batch = graft.SparkEntry.queries("q58_dedup_fingerprint")(spark, dir)
      .select("fingerprint").collect().map(_.getString(0)).toSet
    assert(window1.map(_._1).toSet == batch)
  }

  test("TTL'd dedup within the horizon still suppresses replays") {
    val d2 = java.nio.file.Files.createTempDirectory("ttl_stream_live")
    val ckpt = java.nio.file.Files.createTempDirectory("ttl_live_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ttl_live_out")
      .resolve("kept").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("a.parquet"))
    val docRows = spark.read.parquet(s"$dir/documents.parquet").count()
    ttlSweep(d2.toString, ckpt, out,
      java.time.Duration.ofMinutes(10), "kept_ttl_live_w1", docRows)
    val files1 = partFiles(out)
    assert(newPartFiles(files1).nonEmpty)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("b.parquet"))
    ttlSweep(d2.toString, ckpt, out,
      java.time.Duration.ofMinutes(10), "kept_ttl_live_w2", docRows)
    // within the horizon the TTL'd form behaves exactly like the
    // infinite form: nothing re-admits
    assert(newPartFiles(partFiles(out) -- files1).isEmpty)
  }

  test("band-bucket TTL evicts idle champion lists; a past-horizon replay re-pairs from scratch") {
    // the band-state half of the TTL posture: past the horizon the
    // bucket's champion list is gone, so a replayed corpus re-seeds
    // every bucket and re-pairs WITHIN ITSELF — emitting exactly the
    // sweep-1 distinct candidate set again (the infinite-horizon
    // replay test above pins the contrast: within horizon, nothing)
    val d2 = java.nio.file.Files.createTempDirectory("band_ttl_stream")
    val ckpt = java.nio.file.Files.createTempDirectory("band_ttl_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("band_ttl_out")
      .resolve("cands").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("a.parquet"))
    val docRows = spark.read.parquet(s"$dir/documents.parquet").count()
    val ttl = java.time.Duration.ofSeconds(2)
    def mk(d: org.apache.spark.sql.DataFrame) =
      DocStreams.nearDupCandidates(spark, d, cap = 100000, ttl = Some(ttl))
    ttlSweep(d2.toString, ckpt, out, ttl, "band_ttl_w1", docRows, mk)
    val files1 = partFiles(out)
    def pairs(files: Set[String]): Set[(Long, Long)] =
      if (files.isEmpty) Set.empty
      else spark.read.parquet(files.toSeq: _*)
        .select("doc_a", "doc_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        // collect-scale: test assertion, sf0.001 pair set
    val w1 = pairs(files1)
    assert(w1.nonEmpty)
    // 5× the TTL — same margin rationale as the fingerprint test above
    Thread.sleep(10000)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("b.parquet"))
    ttlSweep(d2.toString, ckpt, out, ttl, "band_ttl_w2", docRows, mk)
    val w2 = pairs(partFiles(out) -- files1)
    assert(w2 == w1,
      s"evicted buckets must re-pair the replay from scratch: sweep1 ${w1.size} pairs, sweep2 ${w2.size}")
  }

  test("a hot band bucket's champions survive past their admission age (refresh-on-sighting)") {
    // ListState element TTLs are fixed at append — without the
    // processor's re-put-on-arrival, champions in a continuously-active
    // bucket would expire `ttl` after their OWN admission even while the
    // bucket keeps seeing traffic. Pin the refresh: admit at t0, sight
    // (a suppressed replay) at ~t0+24s, read again at ~t0+48s. With
    // TTL=40s the admission clock HAS lapsed by sweep 3 (24+24 > 40),
    // but the sweep-2 sighting restarted it — so sweep 3 must re-admit
    // NOTHING. On the pre-fix code (append-time clocks only) sweep 3
    // re-pairs from scratch and this test fails.
    //
    // Margin note: this test is constrained on BOTH sides — the sighting
    // must land within the admission horizon (sleep1 < TTL) AND sweep 3
    // within the refreshed one (sleep2 < TTL) while their SUM must
    // exceed TTL to discriminate pre-fix behavior — so the 5x one-sided
    // margins of the eviction tests are unreachable. sleep = 0.6*TTL
    // maximizes the symmetric slack: ~16s on each side for
    // checkpoint-resumed query startup (observed: single-digit seconds
    // on a loaded host).
    val d2 = java.nio.file.Files.createTempDirectory("band_hot_stream")
    val ckpt = java.nio.file.Files.createTempDirectory("band_hot_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("band_hot_out")
      .resolve("cands").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("a.parquet"))
    val docRows = spark.read.parquet(s"$dir/documents.parquet").count()
    val ttl = java.time.Duration.ofSeconds(40)
    def mk(d: org.apache.spark.sql.DataFrame) =
      DocStreams.nearDupCandidates(spark, d, cap = 100000, ttl = Some(ttl))
    ttlSweep(d2.toString, ckpt, out, ttl, "band_hot_w1", docRows, mk)
    val files1 = partFiles(out)
    def pairCount(files: Set[String]): Long =
      if (files.isEmpty) 0L
      else spark.read.parquet(files.toSeq: _*).count()
    assert(pairCount(files1) > 0L)
    Thread.sleep(24000) // within the horizon: the replay is a SIGHTING
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("b.parquet"))
    ttlSweep(d2.toString, ckpt, out, ttl, "band_hot_w2", docRows, mk)
    val files2 = partFiles(out)
    // a replay of existing members emits nothing — but its sighting
    // must have refreshed every champion's clock
    assert(pairCount(files2 -- files1) == 0L,
      "within-horizon replay must be suppressed")
    Thread.sleep(24000) // past the ADMISSION clock, within the refreshed one
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d2.resolve("c.parquet"))
    ttlSweep(d2.toString, ckpt, out, ttl, "band_hot_w3", docRows, mk)
    assert(pairCount(partFiles(out) -- files2) == 0L,
      "hot bucket evicted: sweep-2 sighting failed to refresh champion clocks")
  }

  test("band-bucket overflow is an observable signal, not an assumption") {
    // cap=1 forces every band bucket past saturation on a corpus with
    // shared bands: the second member of any bucket must be declined
    // AND counted; with the default unbounded cap the counter reads 0
    val acc = DocStreams.overflowCounter(spark)
    val stream = DocStreams.readDocs(spark, streamDir)
    val q = DocStreams.nearDupCandidates(spark, stream, cap = 1,
        overflows = Some(acc))
      .writeStream.format("memory").queryName("neardup_overflow")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("overflow_ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    assert(acc.value > 0L,
      "saturated buckets must register on the overflow counter")
    // saturated-but-still-flagging: pairs are still emitted against the
    // admitted champion even past the cap
    assert(spark.sql("select count(*) from neardup_overflow").head().getLong(0) > 0L)

    // control: a cap the corpus never reaches reads zero — the parity
    // precondition of the earlier tests is certified, not assumed
    val acc2 = DocStreams.overflowCounter(spark)
    val q2 = DocStreams.nearDupCandidates(spark,
        DocStreams.readDocs(spark, streamDir), cap = 100000,
        overflows = Some(acc2))
      .writeStream.format("memory").queryName("neardup_no_overflow")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("no_overflow_ckpt").toString)
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(acc2.value == 0L)
  }
}
