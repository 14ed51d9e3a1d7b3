package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming DOCUMENT ingest — the streaming twin of the batch corpus
  * operators: content-fingerprint dedup at ingest time (q58's
  * fingerprint-first shape as a continuous query). An arriving document
  * is admitted iff its md5 content fingerprint has never been seen;
  * replays and re-crawls of identical content are dropped at the door
  * instead of accumulating for the next batch dedup pass.
  *
  * Semantics vs the batch q58: batch canonicalizes to min doc_id per
  * fingerprint; a stream admits the FIRST ARRIVAL (within a single
  * micro-batch, the min doc_id of the batch's claimants — deterministic
  * under replay). The kept fingerprint SET is identical either way;
  * which id represents it can differ — that is the inherent
  * streaming/batch delta, and the parity spec pins exactly the part
  * that must agree.
  *
  * State design at 100 TB: fingerprint state can NEVER be
  * watermark-evicted without silently reopening the dedup window — so
  * it is keyed ValueState on the RocksDB provider (native memory +
  * changelog checkpoints, not executor heap), sized ~40 B/distinct doc.
  * Operationally you bound it with a TTL equal to your re-dedup
  * horizon and let the periodic batch pass (incremental q86: delta
  * fingerprints anti-joined against the corpus index) reconcile
  * anything past the horizon. TTLConfig.NONE here = infinite horizon.
  */
object DocStreams {

  final case class FpDoc(fingerprint: String, doc_id: Long)
  final case class KeptDoc(doc_id: Long, fingerprint: String)

  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.schema.Schemas.documents)
      .parquet(dir)

  /** Admit only never-seen-before content fingerprints. */
  def dedupByFingerprint(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    EventStreams.withRocksDBStateStore(spark)
    docs
      .select(md5(col("text")).as("fingerprint"), col("doc_id"))
      .as[FpDoc]
      .groupByKey(_.fingerprint)
      .transformWithState(
        new FingerprintDedupProcessor(
          org.apache.spark.sql.streaming.TTLConfig.NONE),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append)
      .toDF()
  }

  /** [[dedupByFingerprint]] with a FINITE state horizon — the documented
    * 100 TB operating posture made concrete: fingerprint state expires
    * `ttl` after its last sighting (processing-time TTL on the RocksDB
    * provider), bounding state to the re-dedup horizon instead of the
    * corpus lifetime. The contract this buys and what it costs:
    *
    *   - WITHIN the horizon, semantics are identical to the infinite
    *     form: replays are dropped at the door.
    *   - PAST the horizon, a re-crawl of evicted content is re-admitted
    *     (the stream alone can no longer know) — which is exactly why
    *     the posture pairs TTL with the periodic batch reconcile: the
    *     incremental q86 pass (delta fingerprints anti-joined against
    *     the corpus fingerprint index) drops those re-admits before
    *     they enter the corpus. DocStreamsSpec pins the full cycle:
    *     evict → re-admit → reconcile re-converges the kept set.
    *
    * Each TTL'd sighting of a fingerprint REFRESHES its horizon (state
    * is re-upserted on arrival even when the row is suppressed), so
    * continuously re-crawled content never falls out while it is live.
    *
    * Operational note: under the default (ASAP) trigger a
    * processing-time-TTL query schedules housekeeping micro-batches
    * continuously (state eviction is batch-driven), so
    * `processAllAvailable` never reaches an idle point — run it with a
    * processing-time trigger interval, or as periodic
    * `Trigger.AvailableNow` sweeps resuming from the checkpoint (the
    * form DocStreamsSpec pins; state and its TTL clocks persist across
    * sweeps).
    */
  def dedupByFingerprintTtl(spark: SparkSession, docs: DataFrame,
      ttl: java.time.Duration): DataFrame = {
    import spark.implicits._
    EventStreams.withRocksDBStateStore(spark)
    docs
      .select(md5(col("text")).as("fingerprint"), col("doc_id"))
      .as[FpDoc]
      .groupByKey(_.fingerprint)
      .transformWithState(
        new FingerprintDedupProcessor(
          org.apache.spark.sql.streaming.TTLConfig(ttl)),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append)
      .toDF()
  }

  /** The batch-side half of the TTL posture: reconcile a window of
    * streamed admits against the corpus fingerprint index (the
    * incremental-dedup shape — q86's delta-vs-index anti-join). Rows the
    * TTL'd stream re-admitted because their state had expired are
    * exactly the rows whose fingerprint already exists in the index;
    * the anti-join drops them, re-converging the kept set. The delta is
    * a horizon's worth of admits (small); the corpus index is the big
    * side — Spark's anti-join builds only the RIGHT side for broadcast,
    * so the scale play is keeping the index bucketed by fingerprint
    * (the delta alone shuffles to it) or Bloom-pruning the index scan
    * with the delta's fingerprints (ops/BloomPrune), exactly the gated
    * q86 economics. The join is left declarative here so AQE picks the
    * strategy the actual sizes warrant.
    */
  def reconcileAdmits(admits: DataFrame, corpusIndex: DataFrame): DataFrame =
    admits.join(corpusIndex.select("fingerprint").distinct(),
      Seq("fingerprint"), "left_anti")

  final case class BandDoc(band_key: String, doc_id: Long)
  final case class CandidatePair(doc_a: Long, doc_b: Long, band_key: String)

  /** Streaming NEAR-dup candidate detection at ingest — the LSH twin of
    * [[dedupByFingerprint]]: re-crawls that are similar but not
    * byte-identical are flagged as they arrive, instead of waiting for
    * the next batch near-dup pass (q17/q61's band join). An arriving
    * document is MinHash-banded ([[graft.ops.MinHash.withBands]] — the
    * per-row, shuffle-free signature form) and checked against every
    * document previously seen in any of its 4 band buckets; each such
    * (earlier, later) pair is emitted once per shared band the moment
    * the later one arrives. DISTINCT (doc_a, doc_b) over the output
    * equals the batch band-join candidate set on the same corpus
    * (pinned in DocStreamsSpec), assuming no bucket overflows `cap` —
    * an assumption made observable by [[overflowCounter]]: pass one as
    * `overflows` and a zero reading certifies the parity precondition
    * for the traffic actually seen.
    *
    * State design at 100 TB: one ListState of doc ids per band bucket,
    * capped at `cap` members — the champion-list bound the batch df-cap
    * (q57) uses for the same reason: a viral band (boilerplate shingle
    * mass) would otherwise accumulate unbounded state AND emit O(n²)
    * pairs. Past the cap, new arrivals still emit pairs against the
    * admitted champions (the detector keeps flagging) but are not
    * appended. RocksDB-backed, ~8 B per admitted member; eviction
    * beyond a re-dedup horizon belongs to TTL + the periodic batch
    * reconcile, exactly as [[dedupByFingerprint]] documents.
    */
  def nearDupCandidates(spark: SparkSession, docs: DataFrame,
      cap: Int = 256,
      overflows: Option[org.apache.spark.util.LongAccumulator] = None,
      /** Finite horizon for band-bucket state — the same TTL + periodic
        * batch-reconcile posture as [[dedupByFingerprintTtl]] (and the
        * same operational note: a processing-time-TTL query needs a
        * trigger interval or checkpoint-resumed sweeps). `None` =
        * infinite horizon. Every sighting of a bucket REFRESHES its
        * whole champion list's clocks (ListState element TTLs are fixed
        * at append, so the processor re-puts the list on arrival —
        * mirroring the fingerprint processor's re-upsert), so only a
        * bucket idle for a full `ttl` evicts; a re-crawl then re-seeds
        * it and pairs against post-eviction arrivals only — candidates
        * that straddled the horizon belong to the periodic batch
        * band-join (q17), exactly like fingerprint re-admits belong to
        * the q86 reconcile.
        */
      ttl: Option[java.time.Duration] = None): DataFrame = {
    import spark.implicits._
    EventStreams.withRocksDBStateStore(spark)
    val banded = graft.ops.MinHash.withBands(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(array(
        (0 until graft.ops.MinHash.NumBands).map(i => col(s"band$i")): _*))
        .as(Seq("band_idx", "band_val")))
      .select(concat_ws(":", col("band_idx"), col("band_val")).as("band_key"),
        col("doc_id"))
      .as[BandDoc]
    val (ttlConf, timeMode) = ttl match {
      case Some(d) => (org.apache.spark.sql.streaming.TTLConfig(d),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
      case None => (org.apache.spark.sql.streaming.TTLConfig.NONE,
        org.apache.spark.sql.streaming.TimeMode.None())
    }
    banded.groupByKey(_.band_key)
      .transformWithState(
        new BandCandidateProcessor(cap, overflows, ttlConf),
        timeMode,
        OutputMode.Append)
      .toDF()
  }

  /** The observable overflow signal for [[nearDupCandidates]]: one named
    * accumulator counting every arrival a saturated band bucket declined
    * to admit. The batch-parity contract is conditioned on "no bucket
    * overflows cap" — this makes that precondition a MONITORED fact
    * (Spark-UI-visible, driver-readable) instead of an assumption: zero
    * means the parity condition held; nonzero quantifies how much of
    * the candidate space a viral band is suppressing. Accumulator
    * semantics are at-least-once under micro-batch replay (a retried
    * task re-counts) — a monitoring signal, not an exact ledger, which
    * is the standard Spark accumulator caveat and the right tool for a
    * saturation alarm.
    */
  def overflowCounter(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    spark.sparkContext.longAccumulator("neardup_band_overflows")

  /** Keyed by band bucket; state = capped champion list of member ids.
    * `overflows` counts declined admissions ([[overflowCounter]]);
    * `ttl` bounds the bucket's state lifetime (see [[nearDupCandidates]]).
    */
  class BandCandidateProcessor(cap: Int,
      overflows: Option[org.apache.spark.util.LongAccumulator] = None,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, BandDoc, CandidatePair] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var members: org.apache.spark.sql.streaming.ListState[Long] = _
    // ListState element TTLs are fixed at APPEND time — without a
    // refresh, a hot bucket's champions would expire ttl after their own
    // admission even while the bucket keeps matching. Mirror the
    // fingerprint processor's refresh-on-sighting: any arrival proves
    // the bucket is live, so re-put the whole list to restart every
    // member's clock. O(cap) writes per ACTIVE bucket per batch — paid
    // only on the TTL'd path and only for buckets that saw traffic.
    private val refreshOnSighting =
      ttl != org.apache.spark.sql.streaming.TTLConfig.NONE

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      members = getHandle.getListState("members", E.scalaLong, ttl)
    }

    override def handleInputRows(
        key: String,
        inputRows: Iterator[BandDoc],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CandidatePair] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
      members.get().foreach(seen += _)
      var admitted = seen.size
      // ascending arrival order within the micro-batch: replay-
      // deterministic, and (earlier, later) matches cross-batch order
      val arrivals = inputRows.map(_.doc_id).toArray.distinct.sorted
      val out = Array.newBuilder[CandidatePair]
      for (id <- arrivals if !seen.contains(id)) {
        for (m <- seen)
          out += CandidatePair(math.min(m, id), math.max(m, id), key)
        if (admitted < cap) {
          if (!refreshOnSighting) members.appendValue(id)
          admitted += 1
          seen += id
        } else overflows.foreach(_.add(1L))
      }
      // TTL'd path: one put() covers both the new admits and the clock
      // refresh of every existing member (put overwrites the list, so
      // each element gets a fresh expiry). handleInputRows only runs
      // for keys WITH arrivals, so every invocation is a sighting — a
      // suppressed duplicate included. The untimed path keeps the
      // cheaper appendValue.
      if (refreshOnSighting && seen.nonEmpty)
        members.put(seen.toArray)
      out.result().iterator
    }
  }

  /** Keyed by fingerprint; one boolean of state per distinct content.
    * `ttl` bounds the state's lifetime ([[dedupByFingerprintTtl]]);
    * [[dedupByFingerprint]] passes `TTLConfig.NONE` = infinite horizon.
    */
  class FingerprintDedupProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, FpDoc, KeptDoc] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _
    private val refreshOnSighting =
      ttl != org.apache.spark.sql.streaming.TTLConfig.NONE

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      seen = getHandle.getValueState("seen", E.scalaBoolean, ttl)
    }

    override def handleInputRows(
        key: String,
        inputRows: Iterator[FpDoc],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[KeptDoc] = {
      if (seen.exists()) {
        inputRows.foreach(_ => ())
        // finite horizon: a suppressed sighting still proves the content
        // is live — re-upsert so the TTL clock restarts and continuously
        // re-crawled content never silently falls out of the window
        if (refreshOnSighting) seen.update(true)
        Iterator.empty
      }
      else {
        // several claimants of the same new fingerprint can share a
        // micro-batch: admit the min doc_id for replay determinism
        var minId = Long.MaxValue
        inputRows.foreach(r => if (r.doc_id < minId) minId = r.doc_id)
        seen.update(true)
        Iterator(KeptDoc(minId, key))
      }
    }
  }
}
