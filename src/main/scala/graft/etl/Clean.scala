package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.schema.Schemas

/** Stage 1 — extract & clean (reference `extract_and_clean_to_s3`,
  * `Main.py:130-182`), as ONE lazy Catalyst plan instead of nine eagerly
  * materialized pandas frames:
  *
  *   read JSONL → rename → dropna(title,content,category) → category
  *   IN-list → try_to_timestamp(date) → drop unparseable → global sort →
  *   dense 1-based id → project 6 columns.
  *
  * Semantics pinned per SURVEY.md §7.5:
  *  - `try_to_timestamp` (not CAST) reproduces pandas'
  *    `errors="coerce"` under Spark 4 ANSI mode (`Main.py:160`);
  *  - id assignment orders by (publish_date, link) — the reference's
  *    unstable quicksort leaves tie order undefined, so we pin a unique
  *    total order both engines can agree on (`Main.py:164-165`);
  *  - `authors` is declared in the schema but pruned by Catalyst before
  *    the scan ever materializes it (the reference reads it and drops it
  *    at `Main.py:169`).
  *
  * Scale: everything up to the sort is a narrow, whole-stage-codegen'd
  * pipeline with the filters pushed into the scan. The unpartitioned
  * `row_number` window needs all rows in one partition: an input planned
  * at most `OnePartition.Bytes` is read as one partition, so the window
  * sorts it in the reading task with no exchange; a larger one is parsed
  * in parallel and gathered through one `SinglePartition` exchange. That
  * gather is the 100 TB bottleneck; `runScalable` keeps ids dense
  * without it via per-partition counts (sort → zipWithIndex-style
  * two-pass), at the cost of leaving the DataFrame lineage briefly.
  */
object Clean {

  private val renames = Map(
    "headline" -> "title",
    "short_description" -> "content",
    "date" -> "publish_date")

  /** The one JSONL read contract (batch and streaming): malformed lines
    * are kept as `_corrupt_record` rows, which [[transform]] drops and
    * the quarantine paths route to their side sink.
    */
  private val jsonOptions = Map(
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt_record")

  /** The stateless clean TRANSFORM (corrupt-drop → rename → dropna →
    * IN-list → coercing cast → drop unparseable): one definition shared
    * verbatim by the batch stage and the streaming twin ([[runStream]])
    * — same filters, same coercions, two execution modes.
    */
  def transform(raw: DataFrame): DataFrame =
    raw
      .filter(col("_corrupt_record").isNull)
      .withColumnsRenamed(renames)
      .na.drop(Seq("title", "content", "category"))
      .filter(col("category").isin(Schemas.categoriesToKeep: _*))
      .withColumn("publish_date", try_to_timestamp(col("publish_date")))
      .filter(col("publish_date").isNotNull)

  /** The pre-id portion of the pipeline: cleaned, filtered, typed. */
  def prepared(spark: SparkSession, jsonlPath: String): DataFrame =
    transform(spark.read.schema(Schemas.raw).options(jsonOptions).json(jsonlPath))

  /** Reference-faithful Stage 1: dense 1..N ids via one global window.
    *
    * The plan carries an `observe("clean_metrics", ...)` node: row count
    * and distinct-category count are collected as accumulator-style
    * metrics DURING the write (no second scan) — the selectivity
    * accounting the reference logs by re-counting frames
    * (`Main.py:150-170` prints len(df) at each step). Read them back via
    * an `org.apache.spark.sql.Observation` or a QueryExecutionListener.
    */
  def run(spark: SparkSession, jsonlPath: String): DataFrame = {
    // window-scale: twinned — runScalable is the byte-equal distributed
    // form (ops/GlobalIndex); this window form is the reference-parity path
    val w = Window.orderBy(col("publish_date").asc, col("link").asc)
    // a small input is read as one partition, which already satisfies the
    // window's AllTuples: no SinglePartition exchange, one job
    graft.ops.OnePartition.ifSmall(prepared(spark, jsonlPath))
      .observe("clean_metrics",
        count(lit(1)).as("rows_kept"),
        approx_count_distinct(col("category")).as("categories_kept"),
        min(col("publish_date")).as("earliest"),
        max(col("publish_date")).as("latest"))
      .withColumn("id_news", row_number().over(w).cast("long"))
      .select("id_news", "title", "content", "link", "publish_date", "category")
  }

  /** Scale-path Stage 1: identical output contract (dense 1-based ids in
    * (publish_date, link) order) without the single-partition window.
    * Range-partitions by the sort key, counts rows per partition, and
    * offsets each partition's local index — the classic distributed
    * zipWithIndex. Two narrow passes over sorted data, no global gather.
    */
  def runScalable(spark: SparkSession, jsonlPath: String): DataFrame =
    graft.ops.GlobalIndex.withDenseIndex(
        prepared(spark, jsonlPath)
          .select("title", "content", "link", "publish_date", "category"),
        "id_news", Seq(col("publish_date"), col("link")))
      .select("id_news", "title", "content", "link", "publish_date", "category")

  /** The streaming row identity: md5 over title/content/link,
    * `\u0001`-joined. link is NOT covered by transform's na.drop, and
    * concat_ws silently SKIPS null fields — which would let a null-link
    * doc collide with a distinct doc whose content happens to carry the
    * separator; coalesce to "" keeps the three-field frame intact (an
    * empty link still contributes its separator). ONE definition for
    * both streaming variants.
    */
  private def withFingerprint(df: DataFrame): DataFrame =
    df.withColumn("fingerprint", md5(concat_ws("\u0001",
      col("title"), col("content"), coalesce(col("link"), lit("")))))

  /** Stage 1 as a CONTINUOUS query: the reference's batch clean stage
    * over a JSONL directory stream (news drops arriving as files), with
    * an exactly-once parquet sink. [[transform]] is shared verbatim —
    * every filter and coercion is the gated batch semantics. The one
    * batch-only operator is the dense 1..N id: a total order over a
    * FINISHED dataset is meaningless mid-stream, so the streaming row
    * identity is the content fingerprint (md5 over title·content·link,
    * `\u0001`-joined so ("ab","") and ("a","b") cannot collide — the
    * q58/DocStreams identity style), which is stable,
    * arrival-order-independent, and exactly what the downstream
    * streaming dedup keys on; the periodic batch run still assigns the
    * reference-faithful ids. Checkpointed file sink = exactly-once
    * (the EventSinks.startParquetFileSink contract).
    */
  def runStream(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream.schema(Schemas.raw).options(jsonOptions).json(inDir)
    withFingerprint(transform(raw))
      .select("fingerprint", "title", "content", "link", "publish_date",
        "category")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** [[runStream]] with a corrupt-line QUARANTINE side sink — the
    * streaming twin of [[preparedWithQuarantine]]: one read, two sinks.
    * [[runStream]]'s plain file sink cannot serve two outputs, so this
    * variant goes through `foreachBatch` with BOTH writes
    * idempotent-by-batch (each batch overwrites only its own
    * `batch_id=<id>` partition — the
    * [[graft.streaming.EventSinks.startIdempotentBatchSink]] contract),
    * so a replayed micro-batch converges in both outputs instead of
    * duplicating in either. The micro-batch is cached across its two
    * consumers, mirroring the batch variant's note. Readers see a
    * `batch_id` partition column on both outputs.
    */
  def runStreamWithQuarantine(spark: SparkSession, inDir: String,
      outDir: String, quarantineDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream.schema(Schemas.raw).options(jsonOptions).json(inDir)
      // provenance BEFORE the sink split: the batch twin records which
      // input file each quarantined line came from; the stream must too
      .withColumn("source_path", input_file_name())
    raw.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.cache()
        try {
          graft.streaming.EventSinks.writeIdempotentPartition(
            b.filter(col("_corrupt_record").isNotNull)
              .select(col("_corrupt_record").as("raw_line"),
                current_timestamp().as("quarantined_at"),
                col("source_path")),
            id, quarantineDir, checkpointDir)
          graft.streaming.EventSinks.writeIdempotentPartition(
            withFingerprint(transform(b))
              .select("fingerprint", "title", "content", "link",
                "publish_date", "category"),
            id, outDir, checkpointDir)
        } finally { b.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Schema-stable reader for [[runStreamWithQuarantine]]'s side sink:
    * a healthy stream writes EMPTY quarantine batches, and partitioned
    * writes of empty frames emit no parquet footers — a naive
    * `spark.read.parquet` then fails schema inference. Declaring the
    * schema (batch_id included, as BIGINT — partition-value inference
    * would wobble between INT and LONG) makes zero-corruption the
    * readable, boring case; a missing directory reads as empty too.
    */
  def readQuarantine(spark: SparkSession, quarantineDir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("raw_line",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("quarantined_at",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("source_path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    val path = new org.apache.hadoop.fs.Path(quarantineDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(quarantineDir)
  }

  /** Corrupt-line QUARANTINE: same tolerant read as [[prepared]], but
    * instead of silently dropping unparseable lines, route them to a
    * side parquet sink (raw line + ingest timestamp) and return the
    * clean frame. The reference has no quarantine (bad rows vanish in
    * `pd.read_json`); at 100 TB silently-dropped input is an
    * unauditable data loss, so production ingest splits the stream:
    * one read, two sinks. The parsed frame is cached for the duration
    * of the two consumers (quarantine write + returned frame) —
    * without it each sink would re-read and re-parse the JSONL.
    *
    * Returns (cleanFrame, quarantinedCount). The quarantine sink is
    * append-mode: repeated ingest runs accumulate an audit trail
    * rather than failing on an existing directory. The returned count
    * is THIS batch's own quarantined rows — observed as a metric
    * during the quarantine write itself (no second scan, and no
    * read-back of the accumulated audit, which would over-report on
    * re-ingest of the same path).
    */
  def preparedWithQuarantine(
      spark: SparkSession, jsonlPath: String, quarantineDir: String): (DataFrame, Long) = {
    val raw = spark.read.schema(Schemas.raw).options(jsonOptions).json(jsonlPath).cache()
    val obs = org.apache.spark.sql.Observation()
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"),
        current_timestamp().as("quarantined_at"),
        lit(jsonlPath).as("source_path"))
      .observe(obs, count(lit(1)).as("n_quarantined"))
    bad.write.mode("append").parquet(quarantineDir)
    val nBad = obs.get("n_quarantined").asInstanceOf[Long]
    (transform(raw), nBad)
  }

  /** Stage-1 sink: timestamped directory keeps the reference's
    * no-overwrite naming (`Main.py:172-177`) — Spark writes a directory
    * of part files, so the timestamp moves from filename to dirname.
    */
  def write(df: DataFrame, outDir: String): String =
    writeStamped(df, outDir, "clean_data")

  /** Writes `df` as parquet to a new `<outDir>/<prefix>_<yyyyMMdd_HHmmss>_<nnnnnn>`
    * directory under errorifexists and returns the path: the one
    * no-overwrite sink of the clean and enrich stages and the CLI's dedup
    * verb. The reference's names carry only second granularity
    * (`Main.py:175`), so two writes in the same second would collide;
    * the nano-derived suffix keeps no-overwrite semantics without that
    * false failure.
    */
  def writeStamped(df: DataFrame, outDir: String, prefix: String): String = {
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val path = f"$outDir/${prefix}_${stamp}_${System.nanoTime() % 1000000L}%06d"
    df.write.mode("errorifexists").parquet(path)
    path
  }
}
