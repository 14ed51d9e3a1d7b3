package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.load
import graft.QueryDef

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline extensions (BASELINE.json north star):
  * exact dedup, document fingerprinting, token statistics, n-gram Jaccard
  * near-dup, MinHash signatures, SimHash, and stopword language-ID.
  *
  * Cross-engine determinism: every hash is derived from md5 (identical
  * lowercase hex in Spark and DuckDB) reduced to a 60-bit integer —
  * `conv(substring(md5(x),1,15),16,10)` in Spark ≡
  * `CAST('0x'||substring(md5(x),1,15) AS BIGINT)` in DuckDB — so
  * MinHash/SimHash signatures hash-match bit-for-bit. All scores that
  * reach the output are ratios of exact integers (identical doubles).
  *
  * Scale design (100 TB):
  *  - tokenization/shingling/hashing are per-row narrow ops (no shuffle);
  *  - exact dedup and token counts are partial-aggregatable groupBys;
  *  - the Jaccard candidate join shuffles on the shingle key — at scale
  *    you'd pre-filter hot shingles (document frequency cap) to bound the
  *    per-key fan-out, and MinHash banding (q17) is exactly the
  *    sub-quadratic path that replaces the all-pairs join;
  *  - SimHash reduces each doc to one i64, so near-dup lookup becomes a
  *    cheap self-join on band prefixes rather than on content.
  */
object TextOps {

  /** 60-bit portable hash of a string column (Spark side) — the native
    * [[graft.functions.H60Expr]] (top 60 digest bits straight from the
    * md5 bytes), bit-identical to the declarative
    * `conv(substring(md5(c),1,15),16,10)` chain it replaced (pinned by
    * a PropertySpec equivalence check + every oracle hash in the gate)
    * without materializing the 32-char hex string per row.
    */
  private def h60(c: Column): Column =
    graft.functions.H60Expr.column(c)

  /** DuckDB rendering of [[h60]]. */
  private def h60Sql(e: String): String =
    s"CAST('0x' || SUBSTRING(MD5($e), 1, 15) AS BIGINT)"

  private def words(c: Column): Column = split(c, " ")

  /** documents arrives as a single parquet file → one input partition,
    * which serializes all per-row shingle/hash work onto one task.
    * Spread it across the session's shuffle parallelism first — one
    * narrow-input shuffle of raw text buys full-width tokenize/hash
    * stages. (At 100 TB the input is many files and this is a no-op
    * decision; the knob that matters there is maxPartitionBytes.)
    */
  private def docs(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "documents")
      .repartition(s.sessionState.conf.numShufflePartitions)
  }

  // q13 — exact dedup + md5 content fingerprint: canonical row = min doc_id
  // per distinct text. On all-distinct data this is an identity with
  // n_copies=1 — the operator is the groupBy, not the data.
  private def q13(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), md5(col("text")).as("fingerprint"), col("n_copies"))
  private val q13Sql =
    """SELECT MIN(doc_id) AS doc_id, MD5(text) AS fingerprint, COUNT(*) AS n_copies
      |FROM documents GROUP BY text""".stripMargin

  // q58 — q13's 100 TB form: fingerprint-FIRST exact dedup. q13 groups
  // on raw `text`, so the dedup shuffle carries every document body to a
  // reducer; here the narrow map side reduces each row to its 32-byte
  // md5 before the exchange, and the shuffle moves (fingerprint, doc_id)
  // only — at 100 TB that is the difference between shuffling the corpus
  // and shuffling ~40 bytes/doc. Same canonical-row semantics
  // (min doc_id per distinct content, md5 collision-freedom assumed —
  // the standard exact-dedup contract).
  private def q58(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fingerprint"), col("n_copies"))
  private val q58Sql =
    """SELECT MIN(doc_id) AS doc_id, MD5(text) AS fingerprint, COUNT(*) AS n_copies
      |FROM documents GROUP BY MD5(text)""".stripMargin

  // q14 — per-document text statistics: token counts, distinct ratio,
  // average word length, stopword ratio, naive token-budget estimate.
  // Pure narrow transformation — no shuffle, fully codegen'd HOFs.
  private def q14(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("w", words(col("text")))
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct_words"),
        expr("aggregate(transform(w, x -> length(x)), 0L, (acc, x) -> acc + x)")
          .as("n_word_chars"),
        // native count_in: the HOF filter pays an interpreted lambda
        // frame per token (see functions/CountInExpr)
        expr("count_in(w, 'the', 'a')").as("n_stopwords"))
      .withColumn("avg_word_len",
        col("n_word_chars").cast("double") / col("n_words"))
      .withColumn("distinct_ratio",
        col("n_distinct_words").cast("double") / col("n_words"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_words"))
      .withColumn("est_tokens", floor(col("n_chars_calc") / 4).cast("long"))
  private val q14Sql =
    """SELECT doc_id, lang, n_chars,
      |  CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
      |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_distinct_words,
      |  LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), LIST_TRANSFORM(STRING_SPLIT(text, ' '), x -> CAST(LENGTH(x) AS BIGINT))), (acc, x) -> acc + x) AS n_word_chars,
      |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ('the', 'a'))) AS BIGINT) AS n_stopwords,
      |  CAST(LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), LIST_TRANSFORM(STRING_SPLIT(text, ' '), x -> CAST(LENGTH(x) AS BIGINT))), (acc, x) -> acc + x) AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')) AS avg_word_len,
      |  CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS distinct_ratio,
      |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ('the', 'a'))) AS BIGINT) / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS stopword_ratio,
      |  CAST(FLOOR(LENGTH(text) / 4) AS BIGINT) AS est_tokens
      |FROM documents""".stripMargin

  // q15 — corpus token frequency: explode + partial-aggregated count,
  // global top-20 with deterministic tie-break.
  private def q15(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(words(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)
  private val q15Sql =
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents) t
      |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin

  /** doc_id + distinct 3-word shingles, docs with ≥3 words. Uses the
    * native [[graft.functions.ShinglesExpr]] — the equivalent
    * `array_distinct(transform(sequence…))` HOF chain evaluates an
    * interpreted lambda per shingle and dominated the MinHash query
    * (~3 s of its ~4.6 s at sf0.1).
    */
  private def shingled(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr("shingles(w, 3)").as("shingles"))
  }

  private val shingledSql =
    """SELECT doc_id,
      |  LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      |FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents) t
      |WHERE LEN(w) >= 3""".stripMargin

  // q57 — q16's 100 TB form: document-frequency-capped Jaccard. The
  // all-pairs join's cost is Σ df(shingle)², so one viral shingle in k
  // docs spawns k² candidate pairs in a single reducer. Capping df
  // bounds every key's fan-out; the jaccard is then defined over the
  // capped shingle universe (n_a/n_b count surviving shingles), which
  // keeps the score a true set-similarity on what was joined.
  //
  // Cap choice: df ≤ 10 — the web-dedup convention of dropping
  // boilerplate shingles, and sized to THIS corpus's duplication
  // profile (sf0.1: df ≤ 25 everywhere, with 62% of the pair mass in
  // the df∈(10,25] band — a cap above max df would demonstrate
  // nothing). The cap is the operator's tuning knob, like LSH band
  // width.
  //
  // Shape: ONE shuffle of the exploded shingles — a groupBy(shingle)
  // with [[graft.functions.BoundedCollectAggregator]] (cap'd state, so a
  // viral key can never OOM a reducer) — then pairs are generated IN
  // PLACE from each ≤cap-element id list. This replaces q16's self-join
  // + pair-count, whose shuffled volume carries the FULL uncapped Σ df²
  // pair stream. Fewer shuffles, bounded skew, and a 2.8× smaller pair
  // shuffle at sf0.1.
  //
  // Measured crossover vs q16 (ARCHITECTURE §7): on the duplication-free
  // bench corpus (df ≤ 25) q57 pays a ~0.05 s constant and q16 wins by a
  // hair; duplicating the corpus k× (df ×k, pair volume ×k²) flips it —
  // at max df ≈ 200 q57 is 1.5× faster, at df ≈ 400 2.4× faster and
  // still flat while q16 grows superlinearly. The cap is the 100 TB
  // plan; q16 is the small-clean-corpus special case.
  private def q57(s: SparkSession, dir: String): DataFrame =
    q57Impl(s, dir, materialize = false)

  /** A/B seam: `materialize` caches the branch-point pair table instead
    * of recomputing the post-shuffle aggregate per reader (see bench
    * notes in ARCHITECTURE §6c). Public only for the bench harness.
    */
  def q57Variant(s: SparkSession, dir: String, materialize: Boolean): DataFrame =
    q57Impl(s, dir, materialize)

  private def q57Impl(s: SparkSession, dir: String, materialize: Boolean): DataFrame = {
    // ObjectHashAggregate (which executes typed Aggregators) falls back
    // to sort-based aggregation after 128 distinct keys per partition —
    // a full sort of the exploded shingle frame. The hash map is the
    // right plan at any shingle cardinality (values are ≤51-long
    // arrays); every graft session builder raises the fallback threshold
    // (see GraftSession) — session scope, because the conf is read at
    // EXECUTION time (a set/restore around this lazy builder would be a
    // no-op, and a permanent set here mutated the caller's session).
    val bounded = udaf(new graft.functions.BoundedCollectAggregator(10),
      org.apache.spark.sql.Encoders.scalaLong)
    // (At 100 TB you'd hash shingles to fixed-width longs before this
    // shuffle — q17 does exactly that; at bench scale the md5 pass costs
    // more than the string keys save, measured both ways.)
    val ex0 = shingled(s, dir)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // one shuffle: per-shingle doc lists, hot shingles (df > cap) → null
    // inside the aggregator (state never exceeds cap+1 ids) and dropped.
    // Pair emission includes SELF-pairs (position i ≤ j via posexplode +
    // codegen'd slice — no n² blow-up-then-filter): common(a,a) =
    // |a's kept shingles| = n_sh(a), so ONE aggregation yields both pair
    // intersections and per-doc set sizes, and no separate n_sh pipeline
    // exists. The shingle-key exchange is reused across the two readers
    // (pairs / self-rows); re-running the post-shuffle aggregate +
    // generate chain per reader measures FASTER than materializing the
    // object-array lists into the block cache (A/B'd at sf0.1), so no
    // explicit cache. least/greatest canonicalizes each pair instead of
    // sorting lists (an interpreted object-array sort at the
    // ObjectHashAggregate boundary).
    val pairsRaw = ex0.groupBy(col("shingle"))
      .agg(bounded(col("doc_id")).as("ds"))
      .filter(col("ds").isNotNull)
      .select(posexplode(col("ds")).as(Seq("i", "x")), col("ds"))
      .select(col("x"), explode(expr("slice(ds, i + 1, size(ds))")).as("y"))
      .groupBy(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"))
      .agg(count(lit(1)).as("common"))
    val pairsAll = if (materialize) pairsRaw.cache() else pairsRaw
    val nsh = pairsAll.filter(col("doc_a") === col("doc_b"))
      .select(col("doc_a").as("doc_id"), col("common").as("n_sh"))
    pairsAll.filter(col("doc_a") < col("doc_b"))
      .join(nsh.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(nsh.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"), col("n_b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(20)
  }
  private val q57Sql =
    s"""WITH sh AS ($shingledSql),
      |ex0 AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
      |keep AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING COUNT(*) <= 10),
      |ex AS (SELECT doc_id, ex0.shingle FROM ex0 JOIN keep ON ex0.shingle = keep.shingle),
      |nsh AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, common, na.n_sh AS n_a, nb.n_sh AS n_b,
      |  CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) AS jaccard
      |FROM pairs
      |JOIN nsh na ON na.doc_id = doc_a
      |JOIN nsh nb ON nb.doc_id = doc_b
      |ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 20""".stripMargin

  // q16 — n-gram Jaccard near-dup: all-pairs via shingle-key join, top-20
  // most similar pairs. Scores are ratios of exact shingle counts.
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(s, dir).cache()
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val nsh = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
    val pairs = ex.as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(nsh.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(nsh.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"), col("n_b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(20)
  }
  private val q16Sql =
    s"""WITH sh AS ($shingledSql),
      |ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
      |nsh AS (SELECT doc_id, CAST(LEN(shingles) AS BIGINT) AS n_sh FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, common, na.n_sh AS n_a, nb.n_sh AS n_b,
      |  CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) AS jaccard
      |FROM pairs
      |JOIN nsh na ON na.doc_id = doc_a
      |JOIN nsh nb ON nb.doc_id = doc_b
      |ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 20""".stripMargin

  // MinHash permutation constants: h_i(x) = (a_i*x + b_i) mod P, P = 2^31-1.
  // Single source of truth is ops/MinHash (shared with the streaming
  // ingest detector); aliased here so every gated query keeps its form.
  private val P = graft.ops.MinHash.P
  private val As = graft.ops.MinHash.As
  private val Bs = graft.ops.MinHash.Bs

  // q17 — MinHash signatures (8 permutations) per document: the
  // sub-quadratic near-dup path. Banding the signature pairs (sig0,sig1),
  // (sig2,sig3)… turns near-dup search into an equi-join on band keys —
  // the 100 TB replacement for q16's all-pairs join.
  private def q17(s: SparkSession, dir: String): DataFrame = {
    // permutations are projected BEFORE the aggregate so the generated
    // HashAggregate update is 8 trivial min-compares, not 8 inlined
    // hash pipelines — smaller codegen, faster Janino compile
    val permCols = As.indices.map { i =>
      ((col("h") * As(i) + Bs(i)) % P).as(s"h$i")
    }
    val ex = shingled(s, dir)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .withColumn("h", h60(col("shingle")) % P)
      .select(col("doc_id") +: permCols: _*)
    val sigs = As.indices.map(i => min(col(s"h$i")).as(s"sig$i"))
    ex.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shingles"), sigs: _*)
      .withColumn("band0", col("sig0") * P + col("sig1"))
      .withColumn("band1", col("sig2") * P + col("sig3"))
      .withColumn("band2", col("sig4") * P + col("sig5"))
      .withColumn("band3", col("sig6") * P + col("sig7"))
  }
  private val q17Sql = {
    val sigCols = As.indices.map { i =>
      s"MIN((${As(i)} * h + ${Bs(i)}) % $P) AS sig$i"
    }.mkString(",\n      |  ")
    s"""WITH sh AS ($shingledSql),
      |ex AS (SELECT doc_id, ${h60Sql("shingle")} % $P AS h
      |       FROM (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh) t),
      |sigs AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  $sigCols
      |  FROM ex GROUP BY doc_id)
      |SELECT doc_id, n_shingles, sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7,
      |  sig0 * $P + sig1 AS band0,
      |  sig2 * $P + sig3 AS band1,
      |  sig4 * $P + sig5 AS band2,
      |  sig6 * $P + sig7 AS band3
      |FROM sigs""".stripMargin
  }

  // q204 — the PER-ROW MinHash form (ops/MinHash.withBands): identical
  // values to q17 computed as array_min(transform(…)) per document —
  // no explode, no shuffle — which is what the STREAMING ingest
  // detector (DocStreams.nearDupCandidates) runs per arriving row.
  // Gated INDEPENDENTLY of q17: the oracle recomputes the signatures
  // through DuckDB's list HOFs (LIST_MIN/LIST_TRANSFORM) rather than
  // q17's unnest+GROUP BY — same truth, two derivations in each
  // engine, so agreement is a four-way pin (Spark agg form = Spark
  // row form = DuckDB agg form = DuckDB list form).
  // Shape at 100 TB: per-row state is one shingle array (bounded by
  // doc length); the narrow map emits 12 longs/doc. The agg form (q17)
  // stays preferable in batch only because its downstream band join
  // shuffles anyway; this form is the one a stream must use.
  private def q204(s: SparkSession, dir: String): DataFrame =
    graft.ops.MinHash.withBands(
      docs(s, dir).select(col("doc_id"), col("text")))
  private lazy val q204Sql = {
    val sigCols = As.indices.map { i =>
      s"LIST_MIN(LIST_TRANSFORM(hs, h -> (${As(i)} * h + ${Bs(i)}) % $P)) AS sig$i"
    }.mkString(",\n      |    ")
    s"""WITH sh AS ($shingledSql),
      |hv AS (
      |  SELECT doc_id, CAST(LEN(shingles) AS BIGINT) AS n_shingles,
      |    LIST_TRANSFORM(shingles,
      |      x -> CAST('0x' || SUBSTRING(MD5(x), 1, 15) AS BIGINT) % $P) AS hs
      |  FROM sh),
      |sigs AS (
      |  SELECT doc_id, n_shingles,
      |    $sigCols
      |  FROM hv)
      |SELECT doc_id, n_shingles, sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7,
      |  sig0 * $P + sig1 AS band0,
      |  sig2 * $P + sig3 AS band1,
      |  sig4 * $P + sig5 AS band2,
      |  sig6 * $P + sig7 AS band3
      |FROM sigs""".stripMargin
  }

  // q18 — SimHash (60-bit) per document over token occurrences: each token
  // hash votes ±1 per bit position; the signature packs the majority bits.
  private def simhashed(s: SparkSession, dir: String): DataFrame =
    simhashOf(docs(s, dir))

  /** SimHash signatures for any one-row-per-document (doc_id, text)
    * frame (q18's pipeline).
    *
    * A document's signature depends only on its own tokens, so the
    * whole pipeline — tokenize, per-occurrence h60, 60 ±1 bit votes,
    * majority pack — runs as ONE per-row native codegen expression
    * ([[graft.functions.SimHash60Expr]]): no explode, no 60-column
    * partial aggregate, no exchange at all. (That groupBy form was
    * itself the tuned variant over a per-bit unnest; this removes the
    * remaining docs×60-long shuffle entirely — at 100 TB the signature
    * step becomes a pure map stage that fuses into the scan.) The
    * isNotNull filter is the per-row analog of explode dropping
    * null/empty token arrays. Bit-parity with the exploded form is
    * pinned in SimHashSpec; value-parity with DuckDB by every q18-family
    * oracle.
    */
  def simhashOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        graft.functions.SimHash60Expr.column(words(col("text"))).as("simhash"))
      .where(col("simhash").isNotNull)

  /** The superseded explode→groupBy(60 SUMs) formulation, kept ONLY as
    * the parity twin SimHashSpec checks the fused expression against
    * (same role as q17's gated chain for minhash_sigs).
    */
  private[graft] def simhashOfExploded(d: DataFrame): DataFrame = {
    val tok = d.select(col("doc_id"), explode(words(col("text"))).as("token"))
      .withColumn("h", h60(col("token")))
    val votes = (0 to 59).map { b =>
      sum(when(expr(s"(shiftright(h, $b) & 1)") === 1, 1L).otherwise(-1L))
        .as(s"v$b")
    }
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 to 59).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }
  private def q18(s: SparkSession, dir: String): DataFrame = simhashed(s, dir)
  private val simhashSql =
    s"""tok AS (
      |  SELECT doc_id, ${h60Sql("token")} AS h
      |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents) t),
      |bits AS (
      |  SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM tok CROSS JOIN GENERATE_SERIES(0, 59) g(bit)
      |  GROUP BY doc_id, bit),
      |sigs AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin
  private val q18Sql =
    s"""WITH $simhashSql
      |SELECT doc_id, simhash FROM sigs""".stripMargin

  // q61 — SimHash near-dup PAIRS: the lookup q18's signatures exist for.
  // 60-bit signatures band into 4×15-bit keys; candidates come from an
  // equi-join on (band_idx, band_val) — sub-quadratic, like MinHash
  // banding — then exact hamming distance ranks them. Pigeonhole gives
  // PROVABLE recall in the near-dup regime: ≤3 differing bits can touch
  // at most 3 of the 4 bands, so every pair within hamming 3 shares at
  // least one band and is guaranteed to be a candidate. Output keeps all
  // candidates ranked by hamming (the synthetic corpus has no true
  // near-dups, so a hard ≤3 filter would select nothing — the operator,
  // not the data, is under test).
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val banded = simhashed(s, dir)
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 to 3).map(i =>
          shiftright(col("simhash"), i * 15).bitwiseAND(lit(32767L))): _*))
          .as(Seq("band_idx", "band_val")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      // a pair can share several bands — the groupBy is the dedup AND
      // counts band agreement (a free extra similarity signal)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    cand
      .withColumn("hamming", expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"), col("hamming"))
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)
  }
  private val q61Sql =
    s"""WITH $simhashSql,
      |banded AS (
      |  SELECT doc_id, simhash, i AS band_idx, (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM sigs CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.simhash AS sig_a, b.simhash AS sig_b, COUNT(*) AS n_shared_bands
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT doc_a, doc_b, n_shared_bands,
      |  CAST(BIT_COUNT(XOR(sig_a, sig_b)) AS BIGINT) AS hamming
      |FROM cand
      |ORDER BY hamming ASC, doc_a ASC, doc_b ASC LIMIT 50""".stripMargin

  // q125 — INCREMENTAL near-dup: the near-dup twin of q86's exact
  // incremental dedup, closing the incremental family. A 10% delta
  // (doc_id % 10 == 0 — the CDC arrivals) is SimHash-banded and probed
  // against the corpus band index; the corpus NEVER re-pairs with
  // itself — candidate volume is ∝ |delta|·bandload, not |corpus|².
  // Each delta doc reports its best corpus match (min hamming, tie to
  // the smallest corpus id, via the native TopKPerGroup operator) or
  // NULLs when no band collides; is_neardup applies the q61 pigeonhole
  // bound (hamming ≤ 3 ⇒ guaranteed band collision, so the flag has
  // provable recall over the candidate set).
  // Shape at 100 TB: the corpus band table is the persisted index
  // (build once, maintain by appending each admitted delta's bands —
  // the q80 merge-upsert shape); per delta batch the only wide ops are
  // the band equi-join and the per-pair partial agg.
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val sigs = simhashed(s, dir)
    def bands(df: DataFrame) =
      df.select(col("doc_id"), col("simhash"),
        posexplode(array((0 to 3).map(i =>
          shiftright(col("simhash"), i * 15).bitwiseAND(lit(32767L))): _*))
          .as(Seq("band_idx", "band_val")))
    val delta = sigs.filter(col("doc_id") % 10 === 0)
    val corpus = sigs.filter(col("doc_id") % 10 =!= 0)
    val cand = bands(delta).as("d")
      .join(bands(corpus).as("c"),
        col("d.band_idx") === col("c.band_idx") &&
        col("d.band_val") === col("c.band_val"))
      .groupBy(col("d.doc_id").as("delta_doc"), col("c.doc_id").as("corpus_doc"),
        col("d.simhash").as("sd"), col("c.simhash").as("sc"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .withColumn("hamming", expr("CAST(bit_count(sd ^ sc) AS BIGINT)"))
    val best = graft.ops.TopK.perGroup(
        cand, Seq("delta_doc"), Seq(col("hamming"), col("corpus_doc")), k = 1)
      .select(col("delta_doc"), col("corpus_doc").as("match_doc"),
        col("hamming"), col("n_shared_bands"))
    delta.select(col("doc_id").as("delta_doc"))
      .join(best, Seq("delta_doc"), "left")
      .select(col("delta_doc"), col("match_doc"), col("hamming"),
        col("n_shared_bands"),
        coalesce(col("hamming") <= 3, lit(false)).as("is_neardup"))
  }
  private lazy val q125Sql =
    s"""WITH $simhashSql,
      |delta AS (SELECT * FROM sigs WHERE doc_id % 10 = 0),
      |corpus AS (SELECT * FROM sigs WHERE doc_id % 10 <> 0),
      |db AS (
      |  SELECT doc_id, simhash, i AS band_idx,
      |         (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM delta CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |cb AS (
      |  SELECT doc_id, simhash, i AS band_idx,
      |         (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM corpus CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |cand AS (
      |  SELECT d.doc_id AS delta_doc, c.doc_id AS corpus_doc,
      |    d.simhash AS sd, c.simhash AS sc, COUNT(*) AS n_shared_bands
      |  FROM db d JOIN cb c
      |    ON d.band_idx = c.band_idx AND d.band_val = c.band_val
      |  GROUP BY 1, 2, 3, 4),
      |scored AS (
      |  SELECT delta_doc, corpus_doc,
      |    CAST(BIT_COUNT(XOR(sd, sc)) AS BIGINT) AS hamming,
      |    CAST(n_shared_bands AS BIGINT) AS n_shared_bands,
      |    ROW_NUMBER() OVER (PARTITION BY delta_doc
      |      ORDER BY BIT_COUNT(XOR(sd, sc)), corpus_doc) AS rn
      |  FROM cand)
      |SELECT d.doc_id AS delta_doc, s.corpus_doc AS match_doc,
      |       s.hamming, s.n_shared_bands,
      |       COALESCE(s.hamming <= 3, false) AS is_neardup
      |FROM delta d LEFT JOIN scored s
      |  ON s.delta_doc = d.doc_id AND s.rn = 1""".stripMargin

  // q126 — the corpus-clean DECISION: one row per document with the
  // final keep/drop verdict and its reason, composing the dedup
  // modalities a cleaning pass actually runs in sequence — exact
  // (q58's fingerprint canonicalization: drop every non-min copy of
  // identical content) then near-dup (q67's SimHash-band clustering:
  // drop every non-min member of a near-dup cluster). This is the
  // query a corpus owner materializes as the training-set filter; the
  // per-modality queries are its instrumentation. Precedence: exact
  // beats near (identical text is always also band-identical, so the
  // reason column reports the strongest cause). Shape at 100 TB: the
  // union of q58's and q67's shapes — one fingerprint partial agg +
  // the membership CC (per-partition union-find, then global rounds
  // only when the relation spans partitions — at one partition the
  // union-find is the answer); the final verdict join is on doc_id,
  // co-partitioned with both inputs.
  private def q126(s: SparkSession, dir: String): DataFrame =
    corpusClean(docs(s, dir))

  /** LIBRARY entry point behind q126 (and the CLI `dedup` verb): the
    * corpus-clean verdict for ANY (doc_id: long, text: string) frame —
    * exact fingerprint canonicalization + SimHash-band near-dup
    * clustering, one verdict row per document.
    */
  def corpusClean(d: DataFrame): DataFrame = {
    val fp = d.select(col("doc_id"), md5(col("text")).as("fp"))
    val memberships = simhashOf(d)
      .select(col("doc_id"), posexplode(array((0 to 3).map(i =>
        shiftright(col("simhash"), i * 15).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band_idx", "band_val")))
      .select(col("doc_id").as("id"),
        (col("band_idx").cast("long") * 32768L + col("band_val")).as("bucket"))
    // r15 (guide §2.6): the exact-fingerprint branch and the near-dup CC
    // are independent until the verdict join — the CC's global phase
    // (when the relation spans partitions) is a serial driver loop that
    // would otherwise leave the md5 canonicalization waiting behind it.
    // Two narrow columns checkpoint per side.
    val Seq(exact, near) = graft.ops.Overlap.frames(Seq(
      () => fp
        .join(fp.groupBy(col("fp")).agg(min(col("doc_id")).as("canon_id")), Seq("fp"))
        .select(col("doc_id"), (col("doc_id") =!= col("canon_id")).as("is_exact_dup"))
        .localCheckpoint(eager = true),
      () => graft.ops.ConnectedComponents.labelViaBuckets(memberships)
        .select(col("id").as("doc_id"), (col("id") =!= col("label")).as("is_near_dup"))))
    exact.join(near, Seq("doc_id"))
      .select(col("doc_id"), col("is_exact_dup"), col("is_near_dup"),
        (!col("is_exact_dup") && !col("is_near_dup")).as("kept"),
        when(col("is_exact_dup"), lit("exact_dup"))
          .when(col("is_near_dup"), lit("near_dup"))
          .otherwise(lit("kept")).as("reason"))
  }
  private lazy val q126Sql =
    s"""WITH RECURSIVE $simhashSql,
      |banded AS (
      |  SELECT doc_id, i AS band_idx, (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM sigs CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |    AND a.doc_id < b.doc_id),
      |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
      |${OracleCc.cc("SELECT doc_id AS id, doc_id AS label FROM sigs", "und")},
      |fp AS (SELECT doc_id, MD5(text) AS f FROM documents),
      |canon AS (SELECT f, MIN(doc_id) AS canon_id FROM fp GROUP BY f),
      |ex AS (SELECT doc_id, doc_id <> canon_id AS is_exact_dup
      |       FROM fp JOIN canon USING (f)),
      |nr AS (SELECT id AS doc_id, id <> cluster_id AS is_near_dup FROM comp)
      |SELECT doc_id, is_exact_dup, is_near_dup,
      |       (NOT is_exact_dup AND NOT is_near_dup) AS kept,
      |       CASE WHEN is_exact_dup THEN 'exact_dup'
      |            WHEN is_near_dup THEN 'near_dup'
      |            ELSE 'kept' END AS reason
      |FROM ex JOIN nr USING (doc_id)""".stripMargin

  // q129 — BM25 ranking: the retrieval scorer the inverted index (q115)
  // feeds, completing index → rank → top-k. Query = the corpus's top-3
  // tokens (deterministic: count desc, token asc). The whole
  // computation is EXACT INTEGER arithmetic by absorbing BM25's
  // constants into rationals: with k1 = 6/5 and b = 3/4,
  //   tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
  //     = 22·tf·avgdl / (10·tf·avgdl + 3·avgdl + 9·dl),
  // and the ±0.5 in Robertson idf absorbs into ×2:
  //   idf_s = ((2(N−df)+1)·1000) div (2·df+1)  — monotone in the real
  // idf like q68's integer idf. Each term's contribution floors once
  // (documented proxy; ranking-equivalent at this resolution).
  // Magnitudes: idf_s ≤ 2000·N; with avgdl ≤ 10³ and tf ≤ 10³ the
  // numerator stays < 2^63 up to N ≈ 10⁸ docs per ranking scope — at
  // corpus scales beyond that, drop the ×1000 idf scale a decade.
  // Shape at 100 TB: tf/dl/df are partial-agg shuffles on (doc, term)/
  // doc/term; the 3-term query table and the scalar (N, avgdl) frame
  // broadcast; top-20 is a TakeOrdered heap.
  /** Shared BM25 core (q129, q135): per-doc exact-integer BM25 for the
    * deterministic 3-term query — (doc_id, bm25_scaled, n_terms).
    */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    // r14: dl and the query-term counts are derivable from tf (sum of
    // per-doc term counts ≡ token count), so the raw exploded token
    // stream has ONE consumer (the tf build) and no longer needs to be
    // cached/materialized at all — every downstream read runs over the
    // ~|doc × distinct-term| tf table instead of the corpus token
    // stream. Identical integers, fewer bytes through every pass.
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf")).cache()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) div count(1)").as("avgdl"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val query = tf.groupBy(col("w")).agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(3).select(col("w"))
    tf.join(broadcast(query), Seq("w"))
      .join(broadcast(dfreq.join(broadcast(query), Seq("w"))), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr("(((2 * (n_docs - df) + 1) * 1000) div (2 * df + 1)) " +
          "* 22 * tf * avgdl div (10 * tf * avgdl + 3 * avgdl + 9 * dl)")
          .as("contrib"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("bm25_scaled"), count(lit(1)).as("n_terms"))
  }
  private def q129(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir)
      .orderBy(col("bm25_scaled").desc, col("doc_id"))
      .limit(20)
  /** Shared BM25 CTE chain (q129Sql, q135Sql) — ends with
    * `lex(doc_id, bm25_scaled, n_terms)`. */
  private val bm25CtesSql =
    """toks AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY doc_id, w),
      |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      |       FROM toks GROUP BY doc_id),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |                 CAST(SUM(dl) AS BIGINT) // COUNT(*) AS avgdl FROM dl),
      |dfreq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
      |query AS (SELECT w FROM (
      |  SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
      |  ORDER BY cnt DESC, w ASC LIMIT 3)),
      |scored AS (
      |  SELECT t.doc_id,
      |    (((2 * (s.n_docs - f.df) + 1) * 1000) // (2 * f.df + 1))
      |      * 22 * t.tf * s.avgdl
      |      // (10 * t.tf * s.avgdl + 3 * s.avgdl + 9 * d.dl) AS contrib
      |  FROM tf t
      |  JOIN query q USING (w)
      |  JOIN dfreq f USING (w)
      |  JOIN dl d USING (doc_id)
      |  CROSS JOIN stats s),
      |lex AS (
      |  SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS bm25_scaled,
      |         CAST(COUNT(*) AS BIGINT) AS n_terms
      |  FROM scored GROUP BY doc_id)""".stripMargin
  private lazy val q129Sql =
    s"""WITH $bm25CtesSql
      |SELECT doc_id, bm25_scaled, n_terms FROM lex
      |ORDER BY bm25_scaled DESC, doc_id LIMIT 20""".stripMargin

  /** PPJoin positional-filter switch for the exact-join family
    * (q132/q136). `on` prunes each prefix-collision row whose colliding
    * ranks make the overlap threshold unreachable; `off` is the r11
    * prefix-only shape, kept as the A/B arm. The DEFAULT is per-query,
    * decided by same-boot interleaved A/B plus an old-vs-new BenchOne
    * pair (tools/bench_ab_r12_ppjoin.txt, ARCHITECTURE §8.9): q132
    * defaults ON (its symmetric threshold binds both prefix sides:
    * −50%/−52% mins at sf1/sf3-organic, −29% in-suite at sf0.1);
    * q136 defaults OFF (its filter needs ranks on the INDEX side,
    * whose window+cache materialization costs ~2× at sf0.1 — old-shape
    * min 3.75 s vs 7.21 s same boot — while buying only −14% mins on
    * the saturated sf3 corpus; `on` is the documented arm for corpora
    * dense enough that the collision stream dominates the index pass).
    * PpJoinPositionalSpec pins on == off row sets and both defaults. */
  private def ppjoinPositionalOn(s: SparkSession, default: String): Boolean = {
    val v = s.conf.get("spark.graft.ppjoin.positional", default)
    require(Set("on", "off").contains(v),
      s"spark.graft.ppjoin.positional must be on|off, got '$v'")
    v == "on"
  }

  /** Rarity-ranked df≥2 token stream shared by the exact-join family:
    * one row per (doc, df≥2 shingle) with `r` = the shingle's 1-based
    * rank in the doc under the GLOBAL (df asc, shingle asc) order and
    * `m` = the doc's df≥2 token count. Both window functions share the
    * doc_id partitioning (one exchange). The (df, shingle) sort key is
    * unique per doc (shingles() dedups), so ranks are deterministic. */
  private def rankedDfTokens(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val dfreq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    ex.join(dfreq, Seq("shingle"))
      .filter(col("df") >= 2)
      .withColumn("r", row_number().over(
        byDoc.orderBy(col("df"), col("shingle"))).cast("long"))
      .withColumn("m", count(lit(1)).over(byDoc).cast("long"))
  }

  // q132 — PREFIX-FILTERED exact similarity join (the PPJoin/AllPairs
  // prefix principle, Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08):
  // all document pairs with Jaccard ≥ 0.5, found WITHOUT the all-pairs
  // token join. Tokens get a global rarity order (df asc, shingle asc);
  // a pair with |∩| ≥ α must collide within the first |d|−α+1 tokens
  // of that order, and Jaccard ≥ t ⇒ |∩| ≥ ⌈t·|d|⌉ — so joining only
  // each doc's first ⌊|d|/2⌋+1 RAREST tokens (t = 0.5) is a provably
  // LOSSLESS candidate generator. The oracle computes the same answer
  // with NO prefix filter (full token join), so the gate itself proves
  // losslessness on real data. The threshold predicate is exact
  // integers: jaccard ≥ 1/2 ⟺ 3·common ≥ n_a + n_b.
  // Contrast with the family: q16 = unfiltered baseline (every
  // colliding token generates the pair), q57 = df-CAP (drops viral
  // tokens, approximate by design), q17/q61 = LSH (probabilistic);
  // this is the exact sub-quadratic member. Shape at 100 TB: prefix
  // tokens are each doc's rarest → candidate fan-out per token is
  // tiny by construction (a high-df token never lands in a prefix
  // unless the doc is short); the verification join touches only
  // candidates. PPJoin positional filter: default ON here (symmetric
  // threshold binds both prefix sides; −50%/−52% organic mins, §8.9)
  // — q136 defaults OFF; switch: spark.graft.ppjoin.positional.
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(s, dir).cache()
    val nsh = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
    // df = 1 shingles exist in exactly one doc — they can never
    // collide, and since every df=1 shingle of a doc is missing from
    // its partner, ranking the prefix among df≥2 shingles leaves the
    // pigeonhole argument intact (missing-among-df≥2 shrinks by
    // exactly the dropped count; the oracle still proves the
    // composed filter lossless on real data)
    val ordered = rankedDfTokens(sh).join(nsh, Seq("doc_id"))
    val prefix = ordered.filter(col("r") <= expr("n_sh div 2 + 1"))
      .select(col("doc_id"), col("shingle"), col("n_sh"), col("r"), col("m"))
    // POSITIONAL filter (PPJoin proper, Xiao et al. WWW'08 §3.2):
    // common tokens of a pair appear at increasing ranks in BOTH docs
    // under the shared global order, so after colliding at ranks
    // (r_a, r_b) at most min(m_a−r_a, m_b−r_b) further matches exist:
    // overlap ≤ 1 + min(m_a−r_a, m_b−r_b) at the pair's FIRST common
    // token. Jaccard ≥ 1/2 needs overlap ≥ ⌈(n_a+n_b)/3⌉, and the
    // first common token is provably inside both prefixes (it precedes
    // ≥ overlap−1 matches, so its rank ≤ m−overlap+1), so a qualifying
    // pair always keeps its first-collision row — dropping rows where
    // even the bound can't reach the threshold is LOSSLESS per row.
    // Integer-exact: bound ≥ ⌈x/3⌉ ⟺ 3·bound ≥ x.
    val positional =
      if (ppjoinPositionalOn(s, default = "on"))
        (least(col("a.m") - col("a.r"), col("b.m") - col("b.r")) + 1) * 3 >=
          col("a.n_sh") + col("b.n_sh")
      else lit(true)
    // PPJoin length filter, exact for t = 1/2: jaccard >= 1/2 and
    // common <= min imply 2*min(|a|,|b|) >= max(|a|,|b|)
    // r15: the dedup exchange doubles as the verification stage's width.
    // The verify pass downstream is COMPUTE-dense per row (two array
    // probes + a set intersection) over byte-tiny pair rows, so AQE's
    // byte-targeted coalescing collapsed the distinct's exchange to ONE
    // partition and serialized the whole verify pass onto a single core
    // (profiled: 2.0-2.1 s of q132's ~3.9 s wall in that one task at
    // sf0.1). An explicit-width repartition on the pair key IS the
    // distinct's required distribution, so it replaces that exchange
    // (no extra shuffle) — and a REPARTITION_BY_NUM shuffle is
    // user-specified, which AQE's coalescer leaves alone. The width is
    // the session's configured parallelism: the cluster-sized conf, not
    // a local constant.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n_sh"), col("b.n_sh")) * 2 >= greatest(col("a.n_sh"), col("b.n_sh")) &&
        positional)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("doc_a"), col("doc_b"))
      .distinct()
    // Verification: the shingle arrays are DISTINCT per doc (shingles()
    // dedups), so |∩| is size(array_intersect) computed per candidate
    // pair — two doc_id equi-joins against the cached shingle frame and
    // a narrow per-row set intersection. The earlier form re-exploded
    // the whole corpus and shuffled it by shingle a second time for the
    // verification count; candidates are orders of magnitude fewer than
    // corpus tokens, so the work belongs on the candidate side.
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .filter(col("common") * 3 >= col("n_a") + col("n_b"))
  }
  private lazy val q132Sql =
    s"""WITH sh AS ($shingledSql),
      |ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
      |nsh AS (SELECT doc_id, CAST(LEN(shingles) AS BIGINT) AS n_sh FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(COUNT(*) AS BIGINT) AS common
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, common, na.n_sh AS n_a, nb.n_sh AS n_b
      |FROM pairs
      |JOIN nsh na ON na.doc_id = doc_a
      |JOIN nsh nb ON nb.doc_id = doc_b
      |WHERE common * 3 >= na.n_sh + nb.n_sh""".stripMargin

  // q133 — dedup rates BY SOURCE: q126's verdicts rolled up per source
  // — the observability view that tells a corpus owner WHICH feeds are
  // duplicate factories (the number that drives crawl-dedup priorities
  // and source-mixture reweighting, q81). Permille rates in exact
  // integers. Shape: q126's shapes + one broadcast-sized rollup.
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val verdicts = q126(s, dir)
    docs(s, dir).select(col("doc_id"), col("source"))
      .join(verdicts, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_exact_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("is_near_dup"), 1L).otherwise(0L)).as("n_near_dup"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_exact_dup"),
        col("n_near_dup"), col("n_kept"),
        expr("(n_kept * 1000) div n_docs").as("kept_permille"))
  }
  private lazy val q133Sql =
    s"""WITH RECURSIVE $simhashSql,
      |banded AS (
      |  SELECT doc_id, i AS band_idx, (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM sigs CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |    AND a.doc_id < b.doc_id),
      |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
      |${OracleCc.cc("SELECT doc_id AS id, doc_id AS label FROM sigs", "und")},
      |fp AS (SELECT doc_id, MD5(text) AS f FROM documents),
      |canon AS (SELECT f, MIN(doc_id) AS canon_id FROM fp GROUP BY f),
      |ex AS (SELECT doc_id, doc_id <> canon_id AS is_exact_dup
      |       FROM fp JOIN canon USING (f)),
      |nr AS (SELECT id AS doc_id, id <> cluster_id AS is_near_dup FROM comp),
      |verdict AS (
      |  SELECT doc_id, is_exact_dup, is_near_dup,
      |         (NOT is_exact_dup AND NOT is_near_dup) AS kept
      |  FROM ex JOIN nr USING (doc_id))
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN v.is_exact_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
      |  CAST(SUM(CASE WHEN v.is_near_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
      |  CAST(SUM(CASE WHEN v.kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  (CAST(SUM(CASE WHEN v.kept THEN 1 ELSE 0 END) AS BIGINT) * 1000)
      |    // COUNT(*) AS kept_permille
      |FROM documents d JOIN verdict v USING (doc_id)
      |GROUP BY d.source""".stripMargin

  // q134 — near-dup CLUSTER-SIZE histogram: how much of the corpus sits
  // in how-big duplicate clusters (the long-tail-vs-megacluster view
  // that decides whether dedup needs the q88 salted-join treatment —
  // one viral cluster = one hot key downstream). From q67's components:
  // per cluster size, how many clusters and how many docs.
  private def q134(s: SparkSession, dir: String): DataFrame = {
    val memberships = simhashed(s, dir)
      .select(col("doc_id"), posexplode(array((0 to 3).map(i =>
        shiftright(col("simhash"), i * 15).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band_idx", "band_val")))
      .select(col("doc_id").as("id"),
        (col("band_idx").cast("long") * 32768L + col("band_val")).as("bucket"))
    graft.ops.ConnectedComponents.labelViaBuckets(memberships)
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"))
  }
  private lazy val q134Sql =
    s"""WITH RECURSIVE $simhashSql,
      |banded AS (
      |  SELECT doc_id, i AS band_idx, (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM sigs CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |    AND a.doc_id < b.doc_id),
      |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
      |${OracleCc.cc("SELECT doc_id AS id, doc_id AS label FROM sigs", "und")},
      |sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |          FROM comp GROUP BY cluster_id)
      |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
      |FROM sizes GROUP BY cluster_size""".stripMargin

  // q135 — reciprocal-rank fusion (hybrid retrieval): the standard way
  // a RAG/search stack combines a LEXICAL ranking (q129's BM25) with a
  // VECTOR ranking (q20's cosine) — rank-based, so the two scores never
  // need a common scale. Each side produces its top-50 by its own
  // deterministic order; fusion scores rrf = Σ 1/(60+rank) over the
  // lists a doc appears in, here in exact integers (1000000 div
  // (60+rank), floored per list — the documented proxy, ranking-
  // equivalent at this resolution and bit-identical cross-engine).
  // Query terms: q129's corpus-top-3 tokens; query vector: the min
  // vec_id's embedding (both deterministic). Shape at 100 TB: each
  // side ends in a TakeOrdered heap (orderBy+limit — never a global
  // sort), the two 50-row lists broadcast into a full-outer fusion
  // join, and the corpus-side work is q129's partial-agg shuffles plus
  // one narrow O(n·d) scoring pass over the vectors.
  private def q135(s: SparkSession, dir: String): DataFrame = {
    // lexical top-50: TakeOrdered first, then rank the 50 survivors
    // (row_number over a 50-row frame, not a global window)
    val lex50 = bm25Scores(s, dir)
      .orderBy(col("bm25_scaled").desc, col("doc_id")).limit(50)
      .withColumn("rank_lex", row_number().over(
        // window-scale: bounded-frame — 50 rows post-limit (TakeOrdered-then-rank)
        Window.orderBy(col("bm25_scaled").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_lex"))
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", expr("vec_norm(v)"))
    val qvec = e.join(broadcast(e.agg(min(col("vec_id")).as("qid"))),
        col("vec_id") === col("qid"))
      .select(col("qid"), col("v").as("qv"), col("norm").as("qn"))
    val vec50 = e.crossJoin(broadcast(qvec))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("dot_product(v, qv)") / (col("norm") * col("qn")))
      .orderBy(col("cos").desc, col("vec_id")).limit(50)
      .withColumn("rank_vec", row_number().over(
        // window-scale: bounded-frame — 50 rows post-limit (TakeOrdered-then-rank)
        Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id"), col("rank_vec"))
    lex50.join(vec50, col("doc_id") === col("vec_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        col("rank_lex"), col("rank_vec"))
      .withColumn("rrf_scaled",
        coalesce(expr("1000000 div (60 + rank_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rank_vec)"), lit(0L)))
      .orderBy(col("rrf_scaled").desc, col("doc_id"))
      .limit(20)
  }
  private lazy val q135Sql =
    s"""WITH $bm25CtesSql,
      |lex50 AS (
      |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
      |    ORDER BY bm25_scaled DESC, doc_id) AS BIGINT) AS rank_lex
      |  FROM (SELECT * FROM lex ORDER BY bm25_scaled DESC, doc_id LIMIT 50) t),
      |e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
      |                          CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |qv AS (SELECT vec_id AS qid, v AS qv, norm AS qn FROM e
      |       WHERE vec_id = (SELECT MIN(vec_id) FROM e)),
      |vecs AS (
      |  SELECT e.vec_id,
      |    LIST_DOT_PRODUCT(e.v, qv.qv) / (e.norm * qv.qn) AS cos
      |  FROM e CROSS JOIN qv WHERE e.vec_id <> qv.qid),
      |vec50 AS (
      |  SELECT vec_id, CAST(ROW_NUMBER() OVER (
      |    ORDER BY cos DESC, vec_id) AS BIGINT) AS rank_vec
      |  FROM (SELECT * FROM vecs ORDER BY cos DESC, vec_id LIMIT 50) t)
      |SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id, l.rank_lex, v.rank_vec,
      |  COALESCE(1000000 // (60 + l.rank_lex), 0)
      |    + COALESCE(1000000 // (60 + v.rank_vec), 0) AS rrf_scaled
      |FROM lex50 l FULL OUTER JOIN vec50 v ON l.doc_id = v.vec_id
      |ORDER BY rrf_scaled DESC, doc_id LIMIT 20""".stripMargin

  // q136 — directed CONTAINMENT join: pairs where ≥80% of A's shingles
  // appear in B (containment C(A→B) = |S(A)∩S(B)| / |S(A)|) — the
  // asymmetric near-dup relation Jaccard misses: a quote, an excerpt,
  // or boilerplate-plus-payload scores high containment but low
  // Jaccard when |B| ≫ |A|. Candidate generation is the asymmetric
  // prefix filter: C ≥ 4/5 means A has at most n_a div 5 shingles
  // missing from B, so A's (n_a div 5 + 1) RAREST shingles (global df
  // order — same order as q132) must collide with B's FULL index at
  // least once (pigeonhole) — provably lossless, and the oracle
  // computes the unfiltered token join so the gate proves it on real
  // data. Both sides additionally drop df=1 shingles BEFORE ranking:
  // a df=1 shingle exists in exactly one doc, so it can never collide
  // — and every df=1 shingle of A is by definition missing from B, so
  // among A's df≥2 shingles at most (n_a div 5 − #df1) are missing,
  // and the (n_a div 5 + 1)-length prefix of the df≥2 ranking still
  // pigeonholes a collision. (Losslessness of exactly this composed
  // filter is what the unfiltered oracle checks.) Plus the containment length filter: common ≤ n_b and
  // 5·common ≥ 4·n_a force 5·n_b ≥ 4·n_a. Verification is per-pair
  // array_intersect on the candidates (shingle arrays are distinct by
  // construction), like q132. Shape at 100 TB: probe side carries only
  // prefix tokens (rare by construction → tiny fan-out), index side is
  // the full exploded corpus partitioned by shingle — the standard
  // asymmetric similarity-join layout. PPJoin positional filter:
  // default OFF here (unlike q132's ON — the index-side rank window
  // costs ~2× at sf0.1 for −14% at saturation, §8.9); switch:
  // spark.graft.ppjoin.positional.
  private def q136(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(s, dir).cache()
    val nsh = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
    // POSITIONAL arm (conf on; losslessness argument at q132):
    // containment ≥ 0.8 needs overlap ≥ ⌈4·n_a/5⌉, a collision at
    // ranks (r_a, r_b) bounds overlap by 1 + min(m_a−r_a, m_b−r_b),
    // and a qualifying pair's first common token is inside a's prefix
    // AND (trivially) in b's full index, so its row always survives.
    // On b's side this acts as a DYNAMIC prefix: late-rank index
    // tokens only survive for small partners — the asymmetric-
    // containment case where no static index prefix exists (a tiny
    // doc can be contained in a huge one, forcing the index to keep
    // every token). Integer-exact: bound ≥ ⌈4·n_a/5⌉ ⟺ 5·bound ≥ 4·n_a.
    // The arm's PRICE is structural, which is why the arms are two
    // lineages and off is the default: the index side must carry
    // ranks, i.e. the whole df≥2 stream flows through the per-doc
    // window and a cache materializes it — ~2× q136's sf0.1 wall for
    // a −14% min at the saturated sf3 corpus (ARCHITECTURE §8.9).
    val cand = if (ppjoinPositionalOn(s, default = "off")) {
      // Cache lifetime: the result is lazy, so there is no sound place
      // to unpersist inside the builder — like every per-query cache
      // in this file, cleanup is the harness's catalog.clearCache()
      // between queries (Bench/Verify/BenchOne/BenchAB); tests that
      // run both arms in one session must clearCache() between them.
      val ranked = rankedDfTokens(sh).join(nsh, Seq("doc_id")).cache()
      val prefixA = ranked
        .filter(col("r") <= expr("n_sh div 5 + 1"))
        .select(col("doc_id").as("doc_a"), col("shingle"),
          col("n_sh").as("pn_a"), col("r").as("r_a"), col("m").as("m_a"))
      val indexB = ranked
        .select(col("doc_id").as("doc_b"), col("shingle"),
          col("n_sh").as("pn_b"), col("r").as("r_b"), col("m").as("m_b"))
      prefixA.join(indexB, Seq("shingle"))
        .filter(col("doc_a") =!= col("doc_b") &&
          col("pn_b") * 5 >= col("pn_a") * 4 &&
          (least(col("m_a") - col("r_a"), col("m_b") - col("r_b")) + 1) * 5 >=
            col("pn_a") * 4)
        .select(col("doc_a"), col("doc_b"))
        // r15: explicit-width dedup exchange = verify-stage width (the
        // q132 AQE-coalescing fix; rationale there)
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("doc_a"), col("doc_b"))
        .distinct()
    } else {
      // default arm — the r11 shape: the exploded token stream is read
      // three times (df count, prefix ranking, index side) — cache it
      // once; the index side never touches a window
      val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle")).cache()
      val dfreq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      val prefixA = ex.join(dfreq, Seq("shingle"))
        // df = 1 means only one doc carries the shingle — it cannot
        // produce a cross-doc collision on either side of the join
        .filter(col("df") >= 2)
        .withColumn("r", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))).cast("long"))
        .join(nsh, Seq("doc_id"))
        .filter(col("r") <= expr("n_sh div 5 + 1"))
        .select(col("doc_id").as("doc_a"), col("shingle"), col("n_sh").as("pn_a"))
      val indexB = ex.join(dfreq.filter(col("df") >= 2), Seq("shingle"))
        .join(nsh, Seq("doc_id"))
        .select(col("doc_id").as("doc_b"), col("shingle"), col("n_sh").as("pn_b"))
      prefixA.join(indexB, Seq("shingle"))
        .filter(col("doc_a") =!= col("doc_b") && col("pn_b") * 5 >= col("pn_a") * 4)
        .select(col("doc_a"), col("doc_b"))
        // r15: explicit-width dedup exchange = verify-stage width (the
        // q132 AQE-coalescing fix; rationale there)
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("doc_a"), col("doc_b"))
        .distinct()
    }
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .filter(col("common") * 5 >= col("n_a") * 4)
      .withColumn("containment_permille", expr("(common * 1000) div n_a"))
  }
  private lazy val q136Sql =
    s"""WITH sh AS ($shingledSql),
      |ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
      |nsh AS (SELECT doc_id, CAST(LEN(shingles) AS BIGINT) AS n_sh FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(COUNT(*) AS BIGINT) AS common
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, common, na.n_sh AS n_a, nb.n_sh AS n_b,
      |       (common * 1000) // na.n_sh AS containment_permille
      |FROM pairs
      |JOIN nsh na ON na.doc_id = doc_a
      |JOIN nsh nb ON nb.doc_id = doc_b
      |WHERE common * 5 >= na.n_sh * 4""".stripMargin

  // KMV (k-minimum-values) sketch parameters (q137, q138). k = 256 →
  // relative error ~1/√k ≈ 6%. Hashes live in 50-bit space (top 60 md5
  // bits shifted right 10) so the estimator's (k−1)·2^50 numerator
  // stays far under 2^63 (255·2^50 ≈ 2^58).
  private val KmvK = 256
  private val KmvMax = 1L << 50

  /** (source, w) shingle stream for the KMV queries. */
  private def srcShingles(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(expr("shingles(w, 3)")).as("w"))
  private val srcShinglesSql =
    """SELECT source, UNNEST(shingles) AS w FROM (
      |    SELECT source, LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      |    FROM (SELECT source, STRING_SPLIT(text, ' ') AS w FROM documents) t
      |    WHERE LEN(w) >= 3) sh""".stripMargin

  // q137 — KMV distinct-count sketch, audited per source: the k
  // smallest distinct hash values of a set determine the estimate
  // (k−1)·H div h_k (or the exact count when fewer than k values
  // exist). Unlike HLL (q72 — implementation-specific estimates, gated
  // via exact twins + tolerance booleans), KMV on the portable h60
  // hash is FULLY DETERMINISTIC:
  // both engines compute the identical sketch and the identical
  // estimate, so the sketch family gets an oracle-checked member and
  // the estimator's error is measured in the output (err_permille vs
  // the exact distinct count), not asserted in a comment. Shape at
  // 100 TB: per-source k-smallest is the native TopKPerGroup group-scan
  // over a partial-agg'd distinct — fixed k-row state per source, one
  // small shuffle; this is why KMV/theta sketches are the cardinality
  // workhorse of warehouse engines. Sketched universe: 3-gram SHINGLES
  // (the corpus's whitespace vocabulary is ~31 tokens — too small to
  // ever fill a k=256 sketch; shingles run ~1.4k per source at sf0.01,
  // so the kth-value estimator branch is genuinely exercised and its
  // error genuinely measured).
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val st = srcShingles(s, dir)
    val exact = st.groupBy(col("source"))
      .agg(countDistinct(col("w")).as("n_exact"))
    val hashes = st.select(col("source"), shiftright(h60(col("w")), 10).as("h"))
      .distinct()
    val sk = graft.ops.TopK.perGroup(
      hashes, Seq("source"), Seq(col("h").asc), KmvK, "rnk")
    val est = sk.groupBy(col("source"))
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("kth"))
      .select(col("source"),
        when(col("n_seen") < KmvK, col("n_seen"))
          .otherwise(expr(s"(${KmvK - 1}L * ${KmvMax}L) div kth")).as("kmv_est"))
    exact.join(est, Seq("source"))
      .select(col("source"), col("n_exact"), col("kmv_est"),
        expr("abs(kmv_est - n_exact) * 1000 div n_exact").as("err_permille"))
  }
  private lazy val q137Sql =
    s"""WITH st AS ($srcShinglesSql),
      |ex AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact
      |       FROM st GROUP BY source),
      |hs AS (SELECT DISTINCT source, ${h60Sql("w")} >> 10 AS h FROM st),
      |rk AS (SELECT source, h,
      |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rnk
      |       FROM hs),
      |sk AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_seen, MAX(h) AS kth
      |       FROM rk WHERE rnk <= $KmvK GROUP BY source),
      |est AS (SELECT source,
      |          CASE WHEN n_seen < $KmvK THEN n_seen
      |               ELSE (${KmvK - 1} * $KmvMax) // kth END AS kmv_est
      |        FROM sk)
      |SELECT e.source, e.n_exact, s.kmv_est,
      |       ABS(s.kmv_est - e.n_exact) * 1000 // e.n_exact AS err_permille
      |FROM ex e JOIN est s USING (source)""".stripMargin

  // q138 — KMV sketch MERGE: pairwise source-vocabulary overlap among
  // the 5 largest sources via inclusion-exclusion on merged sketches —
  // the "how much does crawl A overlap crawl B" number that decides
  // whether cross-source dedup is worth scheduling. The union sketch
  // of two KMV sketches is exactly the k smallest of the union of
  // their hash sets (dedup'd) — the mergeability that makes KMV a
  // distributed-friendly sketch (partial sketches per shard, one
  // k-row merge); inter_est = est_a + est_b − union_est can go
  // negative for near-disjoint sets (documented estimator property,
  // kept as computed). Exact twins computed alongside so the gate
  // measures the estimator. Shape at 100 TB: sketches are k rows per
  // source — the pairwise merge touches 10·2k rows regardless of
  // corpus size; only the exact-twin audit (dropped in production)
  // scans tokens.
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val st = srcShingles(s, dir)
    val top5 = docs(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("source").asc).limit(5)
      .select(col("source"))
    // r15: caching tok was tried (it has five downstream readers) and
    // REVERTED on measurement — same-boot A/B min 1.98 -> 3.45 s: the
    // readers' subtrees already dedup through AQE exchange reuse inside
    // the one final plan, so the cache only added a full extra
    // materialization pass and storage pressure.
    val tok = st.join(broadcast(top5), Seq("source")).distinct()
    val hashes = tok.select(col("source"), shiftright(h60(col("w")), 10).as("h"))
      .distinct()
    val sk = graft.ops.TopK.perGroup(
        hashes, Seq("source"), Seq(col("h").asc), KmvK, "rnk")
      .select(col("source"), col("h"))
    // over (n_seen, kth) aggregate columns; integer div, like q137
    val estCol = when(col("n_seen") < KmvK, col("n_seen"))
      .otherwise(expr(s"(${KmvK - 1}L * ${KmvMax}L) div kth"))
    val pairs = top5.select(col("source").as("src_a"))
      .join(top5.select(col("source").as("src_b")), col("src_a") < col("src_b"))
    val perSrc = sk.groupBy(col("source"))
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("kth"))
      .select(col("source"), estCol.as("e"))
    val merged = graft.ops.TopK.perGroup(
      broadcast(pairs).join(sk.withColumnRenamed("source", "src_a"), Seq("src_a"))
        .select(col("src_a"), col("src_b"), col("h"))
        .union(broadcast(pairs)
          .join(sk.withColumnRenamed("source", "src_b"), Seq("src_b"))
          .select(col("src_a"), col("src_b"), col("h")))
        .distinct(),
      Seq("src_a", "src_b"), Seq(col("h").asc), KmvK, "rnk")
    val unionEst = merged.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("kth"))
      .select(col("src_a"), col("src_b"), estCol.as("union_est"))
    val tokA = tok.select(col("source").as("src_a"), col("w"))
    val tokB = tok.select(col("source").as("src_b"), col("w"))
    val unionExact = broadcast(pairs).join(tokA, Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("w"))
      .union(broadcast(pairs).join(tokB, Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("w")))
      .distinct()
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("union_exact"))
    val interExact = tokA.join(tokB, Seq("w"))
      .join(broadcast(pairs), Seq("src_a", "src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("inter_exact"))
    unionExact.join(unionEst, Seq("src_a", "src_b"))
      .join(perSrc.withColumnRenamed("source", "src_a")
        .withColumnRenamed("e", "est_a"), Seq("src_a"))
      .join(perSrc.withColumnRenamed("source", "src_b")
        .withColumnRenamed("e", "est_b"), Seq("src_b"))
      .join(interExact, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("union_exact"), col("union_est"),
        col("inter_exact"),
        (col("est_a") + col("est_b") - col("union_est")).as("inter_est"))
  }
  private lazy val q138Sql =
    s"""WITH st AS ($srcShinglesSql),
      |top5 AS (
      |  SELECT source FROM (
      |    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
      |    ORDER BY n_docs DESC, source ASC LIMIT 5)),
      |tok AS (SELECT DISTINCT source, w FROM st JOIN top5 USING (source)),
      |hs AS (SELECT DISTINCT source, ${h60Sql("w")} >> 10 AS h FROM tok),
      |sk AS (SELECT source, h FROM (
      |  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rnk
      |  FROM hs) r WHERE rnk <= $KmvK),
      |per_src AS (
      |  SELECT source,
      |    CASE WHEN COUNT(*) < $KmvK THEN CAST(COUNT(*) AS BIGINT)
      |         ELSE (${KmvK - 1} * $KmvMax) // MAX(h) END AS e
      |  FROM sk GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b
      |  FROM top5 a JOIN top5 b ON a.source < b.source),
      |merged AS (
      |  SELECT DISTINCT src_a, src_b, h FROM (
      |    SELECT p.src_a, p.src_b, s.h FROM pairs p JOIN sk s ON s.source = p.src_a
      |    UNION ALL
      |    SELECT p.src_a, p.src_b, s.h FROM pairs p JOIN sk s ON s.source = p.src_b) u),
      |mrk AS (SELECT src_a, src_b, h, ROW_NUMBER() OVER (
      |          PARTITION BY src_a, src_b ORDER BY h) AS rnk FROM merged),
      |union_est AS (
      |  SELECT src_a, src_b,
      |    CASE WHEN COUNT(*) < $KmvK THEN CAST(COUNT(*) AS BIGINT)
      |         ELSE (${KmvK - 1} * $KmvMax) // MAX(h) END AS union_est
      |  FROM mrk WHERE rnk <= $KmvK GROUP BY src_a, src_b),
      |union_exact AS (
      |  SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS union_exact FROM (
      |    SELECT DISTINCT src_a, src_b, w FROM (
      |      SELECT p.src_a, p.src_b, t.w FROM pairs p JOIN tok t ON t.source = p.src_a
      |      UNION ALL
      |      SELECT p.src_a, p.src_b, t.w FROM pairs p JOIN tok t ON t.source = p.src_b) u) d
      |  GROUP BY src_a, src_b),
      |inter_exact AS (
      |  SELECT p.src_a, p.src_b, CAST(COUNT(*) AS BIGINT) AS inter_exact
      |  FROM pairs p
      |  JOIN tok a ON a.source = p.src_a
      |  JOIN tok b ON b.source = p.src_b AND b.w = a.w
      |  GROUP BY p.src_a, p.src_b)
      |SELECT ue.src_a, ue.src_b, ux.union_exact, ue.union_est,
      |       ix.inter_exact, pa.e + pb.e - ue.union_est AS inter_est
      |FROM union_est ue
      |JOIN union_exact ux USING (src_a, src_b)
      |JOIN inter_exact ix USING (src_a, src_b)
      |JOIN per_src pa ON pa.source = ue.src_a
      |JOIN per_src pb ON pb.source = ue.src_b""".stripMargin

  // Count-min sketch parameters (q140): d=4 hash rows × w=1024 buckets.
  private val CmD = 4
  private val CmW = 1024

  // q140 — count-min frequency sketch, audited on the exact top-20
  // word BIGRAMS: counters[i][h_i(x)] += 1 per occurrence, estimate =
  // min_i counters[i][h_i(x)]. Like q137's KMV, the fixed seeded
  // hashes (h60 of "cm<i>:"+x) make the sketch FULLY DETERMINISTIC —
  // both engines build byte-identical counter tables — so frequency
  // estimation joins the oracle-checked sketch family, and CM's
  // one-sided guarantee (estimates never undercount) is pinned in the
  // gate output itself (overestimate ≥ 0 on every row). Shape at
  // 100 TB: the counter build is a partial-agg groupBy on (row,
  // bucket) — map-side combine bounds every partition's exchange
  // contribution to d·w rows regardless of input size, which is
  // exactly the fixed-size-mergeable-state property sketches exist
  // for; probes broadcast the 20-token query list against the d·w-row
  // counter table.
  // ~27k bigram occurrences over 916 distinct at sf0.01 (top count 48):
  // real heavy hitters, so min-of-4 is mostly collision-free at w=1024
  // and the occasional colliding row shows the one-sided error the
  // sketch contract promises — unlike shingles (near-uniform df <= 7),
  // where collision mass would swamp the signal.
  private def q140(s: SparkSession, dir: String): DataFrame = {
    val st = docs(s, dir)
      .select(words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("w"))
    val exact = st.groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
    val top20 = exact.orderBy(col("n_exact").desc, col("w").asc).limit(20)
    val counters = st
      .select(posexplode(array((0 until CmD).map(i =>
        pmod(h60(concat(lit(s"cm$i:"), col("w"))), lit(CmW.toLong))): _*))
        .as(Seq("row_idx", "bucket")))
      .groupBy(col("row_idx"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val probes = top20.select(col("w"), col("n_exact"),
      posexplode(array((0 until CmD).map(i =>
        pmod(h60(concat(lit(s"cm$i:"), col("w"))), lit(CmW.toLong))): _*))
        .as(Seq("row_idx", "bucket")))
    probes.join(counters, Seq("row_idx", "bucket"))
      .groupBy(col("w"), col("n_exact"))
      .agg(min(col("cnt")).as("cm_est"))
      .select(col("w").as("token"), col("n_exact"), col("cm_est"),
        (col("cm_est") - col("n_exact")).as("overestimate"),
        expr("(cm_est - n_exact) * 1000 div n_exact").as("err_permille"))
  }
  private lazy val q140Sql = {
    def bucketSql(i: Int, e: String) =
      s"${h60Sql(s"'cm$i:' || $e")} % $CmW"
    val probeArms = (0 until CmD).map(i =>
      s"SELECT w, n_exact, $i AS row_idx, ${bucketSql(i, "w")} AS bucket FROM top20")
      .mkString("\n      |  UNION ALL ")
    val counterArms = (0 until CmD).map(i =>
      s"SELECT $i AS row_idx, ${bucketSql(i, "w")} AS bucket FROM st")
      .mkString("\n      |  UNION ALL ")
    s"""WITH st AS (
      |  SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1])) AS w
      |  FROM (SELECT STRING_SPLIT(text, ' ') AS ws FROM documents) t
      |  WHERE LEN(ws) >= 2),
      |exact AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_exact FROM st GROUP BY w),
      |top20 AS (SELECT w, n_exact FROM exact
      |          ORDER BY n_exact DESC, w ASC LIMIT 20),
      |counters AS (
      |  SELECT row_idx, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |  $counterArms) c
      |  GROUP BY row_idx, bucket),
      |probes AS (
      |  $probeArms)
      |SELECT p.w AS token, p.n_exact, MIN(c.cnt) AS cm_est,
      |  MIN(c.cnt) - p.n_exact AS overestimate,
      |  (MIN(c.cnt) - p.n_exact) * 1000 // p.n_exact AS err_permille
      |FROM probes p JOIN counters c USING (row_idx, bucket)
      |GROUP BY p.w, p.n_exact""".stripMargin
  }

  // q141 — vocabulary-growth (Heaps-law) curve: per ingest batch, how
  // many shingles are NEW vs ever seen before — the saturation signal
  // that tells a corpus owner when additional crawl stops adding
  // content (new-vocab rate → 0 long before volume does, and a
  // mid-curve jump flags a genuinely novel source coming online).
  // Batch = decile of the doc_id range (the ingest-order proxy; with
  // real ingest timestamps the same query groups by date). Shape at
  // 100 TB: first-seen is ONE partial-agg min keyed on shingle (the
  // only wide shuffle), per-batch stats are partial-agg counts, and
  // the cumulative sum runs over 10 rows on the driver-side window —
  // never over the corpus.
  private def q141(s: SparkSession, dir: String): DataFrame = {
    val bounds = docs(s, dir)
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val ex = shingled(s, dir)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .crossJoin(broadcast(bounds))
      .select(expr("(doc_id - mn) * 10 div (mx - mn + 1)").as("batch"),
        col("shingle"))
    val firstSeen = ex.groupBy(col("shingle")).agg(min(col("batch")).as("batch"))
    val perBatch = ex.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("shingle")).as("n_distinct_in_batch"))
    val newPer = firstSeen.groupBy(col("batch")).agg(count(lit(1)).as("n_new"))
    perBatch.join(newPer, Seq("batch"), "left")
      .na.fill(0L, Seq("n_new"))
      .withColumn("cum_vocab", sum(col("n_new")).over(
        // window-scale: tiny-frame — one row per ingest batch (post-agg)
        Window.orderBy(col("batch"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }
  private lazy val q141Sql =
    s"""WITH sh AS ($shingledSql),
      |b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
      |ex AS (
      |  SELECT (doc_id - (SELECT mn FROM b)) * 10
      |           // ((SELECT mx FROM b) - (SELECT mn FROM b) + 1) AS batch,
      |         UNNEST(shingles) AS shingle
      |  FROM sh),
      |fs AS (SELECT shingle, MIN(batch) AS batch FROM ex GROUP BY shingle),
      |pb AS (SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |         CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_distinct_in_batch
      |       FROM ex GROUP BY batch),
      |np AS (SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_new FROM fs GROUP BY batch)
      |SELECT pb.batch, pb.n_occurrences, pb.n_distinct_in_batch,
      |  COALESCE(np.n_new, 0) AS n_new,
      |  CAST(SUM(COALESCE(np.n_new, 0)) OVER (ORDER BY pb.batch
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
      |FROM pb LEFT JOIN np USING (batch)""".stripMargin

  // q142 — deterministic HyperLogLog, closing the sketch family's last
  // gap: q72's HLL is Spark's approx_count_distinct (implementation-
  // specific, so q72 gates claims, not estimates); this one is HLL from first
  // principles on the portable h60 hash, so BOTH engines compute the
  // identical 64 registers and the identical estimate — the same move
  // that made KMV (q137) and count-min (q140) oracle-checkable. p=6
  // (64 registers) keeps the sketch legible in SQL; production uses
  // p≈14, same algebra. Register math: bucket = top 6 hash bits,
  // rho = leading-zeros-plus-one of the remaining 54 bits (via
  // 55 - bitlen, bin() being the portable bitlen in both engines),
  // register = MAX(rho). The raw estimator α·m²/Σ2^(−M[j]) runs in
  // exact integers: Z scaled by 2^55 stays under 2^61, and α (the
  // canonical 0.7213/(1+1.079/m), micro-scaled) folds into one
  // 27-digit DECIMAL(38,0) numerator. The small-range linear-counting
  // correction m·ln(m/V) is a pure function of the empty-register
  // count V with m fixed, so it ships as a 63-entry integer lookup —
  // no libm ln ever crosses the engine boundary. Two sketched
  // universes exercise both branches: 3-gram shingles (~1.3k/source)
  // saturate all 64 registers → raw path; whitespace words
  // (~31/source vocabulary) leave most registers empty → LC path.
  // Shape at 100 TB: HLL is THE mergeable cardinality sketch — unlike
  // KMV it is duplicate-insensitive, so there is NO pre-distinct:
  // just two partial-agg levels (MAX per register, then a 64-row SUM
  // per group), fixed 64-row state per group end to end.
  private val HllRestMask = (1L << 54) - 1
  private val HllNum = "104680255103913656422760448" // round(α_64·1e6)·64²·2^55
  private val HllLc: Seq[Int] = Seq( // round(64·ln(64/V)), V = 1..63
    266, 222, 196, 177, 163, 151, 142, 133, 126, 119, 113, 107, 102,
    97, 93, 89, 85, 81, 78, 74, 71, 68, 65, 63, 60, 58, 55, 53, 51,
    48, 46, 44, 42, 40, 39, 37, 35, 33, 32, 30, 28, 27, 25, 24, 23,
    21, 20, 18, 17, 16, 15, 13, 12, 11, 10, 9, 7, 6, 5, 4, 3, 2, 1)
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val st = srcShingles(s, dir).select(col("source"), lit("shingle").as("universe"), col("w"))
      .unionByName(docs(s, dir)
        .select(col("source"), lit("word").as("universe"),
          explode(split(col("text"), " ")).as("w")))
    val exact = st.groupBy(col("source"), col("universe"))
      .agg(countDistinct(col("w")).as("n_exact"))
    val regs = st
      .select(col("source"), col("universe"), h60(col("w")).as("h"))
      .select(col("source"), col("universe"),
        shiftright(col("h"), 54).as("bucket"),
        expr(s"h & $HllRestMask").as("rest"))
      .select(col("source"), col("universe"), col("bucket"),
        when(col("rest") === 0, lit(55))
          .otherwise(lit(55) - length(expr("bin(rest)"))).as("rho"))
      .groupBy(col("source"), col("universe"), col("bucket"))
      .agg(max(col("rho")).as("mj"))
    val per = regs.groupBy(col("source"), col("universe"))
      .agg(count(lit(1)).as("n_seen"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - mj)")).as("zsum"))
      .select(col("source"), col("universe"),
        (lit(64L) - col("n_seen")).as("v_empty"),
        (col("zsum") + (lit(64L) - col("n_seen")) * lit(1L << 55)).as("z"))
      .withColumn("raw_est",
        expr(s"CAST('$HllNum' AS DECIMAL(38,0)) div (CAST(1000000 AS DECIMAL(38,0)) * z)"))
      .withColumn("hll_est",
        when(col("v_empty") > 0 && col("raw_est") <= 160,
          expr(s"CAST(element_at(${HllLc.mkString("array(", ", ", ")")}, " +
            "CAST(v_empty AS INT)) AS BIGINT)"))
          .otherwise(col("raw_est")))
    exact.join(per, Seq("source", "universe"))
      .select(col("source"), col("universe"), col("n_exact"), col("hll_est"),
        col("v_empty"),
        expr("abs(hll_est - n_exact) * 1000 div n_exact").as("err_permille"))
  }
  private lazy val q142Sql =
    s"""WITH st AS (
      |  SELECT source, 'shingle' AS universe, w FROM ($srcShinglesSql) s1
      |  UNION ALL
      |  SELECT source, 'word' AS universe, UNNEST(STRING_SPLIT(text, ' ')) AS w
      |  FROM documents),
      |ex AS (SELECT source, universe, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact
      |       FROM st GROUP BY 1, 2),
      |rr AS (SELECT source, universe, h >> 54 AS bucket,
      |         CASE WHEN (h & $HllRestMask) = 0 THEN 55
      |              ELSE 55 - LENGTH(bin(h & $HllRestMask)) END AS rho
      |       FROM (SELECT source, universe, ${h60Sql("w")} AS h FROM st) hh),
      |rg AS (SELECT source, universe, bucket, MAX(rho) AS mj FROM rr GROUP BY 1, 2, 3),
      |pe AS (SELECT source, universe,
      |         CAST(64 - COUNT(*) AS BIGINT) AS v_empty,
      |         CAST(SUM(1::BIGINT << (55 - mj)) AS BIGINT)
      |           + (64 - COUNT(*)) * (1::BIGINT << 55) AS z
      |       FROM rg GROUP BY 1, 2),
      |es AS (SELECT source, universe, v_empty,
      |         CAST('$HllNum'::HUGEINT // (1000000::HUGEINT * z) AS BIGINT) AS raw_est
      |       FROM pe),
      |fi AS (SELECT source, universe, v_empty,
      |         CASE WHEN v_empty > 0 AND raw_est <= 160
      |              THEN CAST(LIST_EXTRACT(${HllLc.mkString("[", ", ", "]")},
      |                CAST(v_empty AS INT)) AS BIGINT)
      |              ELSE raw_est END AS hll_est
      |       FROM es)
      |SELECT e.source, e.universe, e.n_exact, f.hll_est, f.v_empty,
      |       ABS(f.hll_est - e.n_exact) * 1000 // e.n_exact AS err_permille
      |FROM ex e JOIN fi f USING (source, universe)""".stripMargin

  // q146 — LSH banding PARAMETER SWEEP: the measured recall/precision
  // tradeoff across every (bands b × rows r) split of the 8-permutation
  // MinHash signature — b8r1 (loosest) through b1r8 (strictest) — each
  // audited against the exact-Jaccard truth set (J ≥ 0.8). This is the
  // tuning artifact an index owner reads before fixing (b, r) at 100 TB:
  // the S-curve P(candidate) = 1−(1−J^r)^b is theory; these are the
  // corpus's actual numbers. Candidate sets are provably NESTED
  // (matching an r-row band implies matching both r/2-row halves), so
  // recall and candidate volume are monotone in r — pinned in the spec.
  // Shape at 100 TB: signatures are one partial-agg min pass (fixed
  // 8-value state/doc); per config, candidates come from band equi-joins
  // — never all-pairs; ONLY the truth set is quadratic, so the audit is
  // probe-sampled (the q87 pattern): the smaller endpoint of every
  // audited pair is a deterministic 1-in-5 of the docs (doc_id%5=0),
  // turning the exact-Jaccard side into (n/5)·n and shrinking the
  // candidate measurement the same way. Truth, hits, candidates,
  // recall, and precision are all over the SAME probe subset, so the
  // columns stay internally consistent; the sweep's shape (nested
  // candidate sets, monotone recall) is sampling-invariant.
  private val LshConfigs = Seq((8, 1), (4, 2), (2, 4), (1, 8))
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(s, dir).cache()
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val nsh = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
    val truth = ex.filter(col("doc_id") % 5 === 0).as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(nsh.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(nsh.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .filter(col("common") * 10 >= (col("n_a") + col("n_b") - col("common")) * 8)
      .select(col("doc_a"), col("doc_b")).cache()
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    // sigs stay in the agg form here deliberately: the per-row fused
    // minhash_sigs was A/B'd (r10) and measured 1.3× SLOWER for this
    // query — the truth side already pays for (and caches) the
    // exploded shingle stream, so the agg form's marginal cost is one
    // docs×8-long exchange, cheaper than re-shingling every doc
    val permCols = As.indices.map(i => ((col("h") * As(i) + Bs(i)) % P).as(s"h$i"))
    val sigs = ex
      .withColumn("h", h60(col("shingle")) % P)
      .select(col("doc_id") +: permCols: _*)
      .groupBy(col("doc_id"))
      .agg(min(col("h0")).as("sig0"), As.indices.drop(1).map(i =>
        min(col(s"h$i")).as(s"sig$i")): _*)
      .cache()
    // ONE stacked frame across every (config, band): a single inline()
    // projection over the cached sigs replaces the former per-config
    // union pyramid (Σb = 15 unionByName branches feeding 4 separate
    // self-joins — a 2.1 MB physical plan whose planning/codegen cost
    // rivaled its data work at bench scale, guide §3.3 "very wide
    // unions produce enormous plans"). Same 15n stacked rows, but one
    // self-join keyed (config, band, key), one distinct, one cache —
    // the r14 plan is ~40× smaller and carries 2 exchanges where the
    // union form carried one per config. Row-set identical (the meta
    // left-join + COALESCE mirrors the oracle's own shape, including
    // the n_candidates=0 row a config with no collisions publishes).
    val bandStructs = LshConfigs.flatMap { case (b, r) =>
      (0 until b).map { j =>
        val key = (0 until r).map(i => s"sig${j * r + i}").mkString(", ")
        s"named_struct('config', 'b${b}r$r', 'band', $j, " +
          s"'key', concat_ws('|', $key))"
      }
    }.mkString(", ")
    val stacked = sigs.select(col("doc_id"),
      expr(s"inline(array($bandStructs))"))
    val cand = stacked.filter(col("doc_id") % 5 === 0).as("x")
      .join(stacked.as("y"),
        col("x.config") === col("y.config") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.config").as("config"),
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct().cache()
    val nCand = cand.groupBy(col("config")).agg(count(lit(1)).as("n_candidates"))
    val nHits = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy(col("config")).agg(count(lit(1)).as("n_hits"))
    import s.implicits._
    val meta = LshConfigs
      .map { case (b, r) => (s"b${b}r$r", b.toLong, r.toLong) }
      .toDF("config", "n_bands", "rows_per_band")
    meta
      .join(nCand, Seq("config"), "left")
      .join(nHits, Seq("config"), "left")
      .crossJoin(broadcast(nTruth))
      .select(col("config"), col("n_bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .select(col("config"), col("n_bands"), col("rows_per_band"),
        col("n_candidates"), col("n_truth"), col("n_hits"),
        expr("n_hits * 1000 div NULLIF(n_truth, 0)").as("recall_permille"),
        expr("n_hits * 1000 div NULLIF(n_candidates, 0)").as("precision_permille"))
  }
  private lazy val q146Sql = {
    val sigCols = As.indices.map { i =>
      s"MIN((${As(i)} * h + ${Bs(i)}) % $P) AS sig$i"
    }.mkString(", ")
    val stacked = LshConfigs.flatMap { case (b, r) =>
      (0 until b).map { j =>
        val key = (0 until r).map(i => s"sig${j * r + i}").mkString("CONCAT_WS('|', ", ", ", ")")
        s"SELECT 'b${b}r$r' AS config, doc_id, $j AS band, $key AS key FROM sigs"
      }
    }.mkString("\n      |  UNION ALL ")
    val meta = LshConfigs.map { case (b, r) =>
      s"('b${b}r$r', CAST($b AS BIGINT), CAST($r AS BIGINT))"
    }.mkString(", ")
    s"""WITH sh AS ($shingledSql),
      |ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
      |ns AS (SELECT doc_id, CAST(LEN(shingles) AS BIGINT) AS n_sh FROM sh),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common
      |       FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |       WHERE a.doc_id % 5 = 0
      |       GROUP BY 1, 2),
      |truth AS (SELECT doc_a, doc_b
      |          FROM pr JOIN ns na ON pr.doc_a = na.doc_id
      |                  JOIN ns nb ON pr.doc_b = nb.doc_id
      |          WHERE common * 10 >= (na.n_sh + nb.n_sh - common) * 8),
      |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
      |hx AS (SELECT doc_id, ${h60Sql("shingle")} % $P AS h FROM ex),
      |sigs AS (SELECT doc_id, $sigCols FROM hx GROUP BY doc_id),
      |st AS (
      |  $stacked),
      |cand AS (SELECT DISTINCT x.config, x.doc_id AS doc_a, y.doc_id AS doc_b
      |         FROM st x JOIN st y ON x.config = y.config AND x.band = y.band
      |           AND x.key = y.key AND x.doc_id < y.doc_id
      |         WHERE x.doc_id % 5 = 0),
      |ag AS (SELECT config, CAST(COUNT(*) AS BIGINT) AS n_candidates,
      |         CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM truth t
      |             WHERE t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      |       FROM cand c GROUP BY config),
      |meta AS (SELECT * FROM (VALUES $meta) m(config, n_bands, rows_per_band))
      |SELECT m.config, m.n_bands, m.rows_per_band,
      |  COALESCE(a.n_candidates, 0) AS n_candidates, nt.n_truth,
      |  COALESCE(a.n_hits, 0) AS n_hits,
      |  COALESCE(a.n_hits, 0) * 1000 // NULLIF(nt.n_truth, 0) AS recall_permille,
      |  COALESCE(a.n_hits, 0) * 1000 // NULLIF(COALESCE(a.n_candidates, 0), 0) AS precision_permille
      |FROM meta m LEFT JOIN ag a USING (config), nt""".stripMargin
  }

  // q147 — dedup-aware split LEAKAGE audit: the reason q65's per-doc
  // hash split is NOT enough for training data. A naive content-hash
  // split assigns each doc independently, so two near-duplicates can
  // land one in train and one in test — the eval set then scores
  // memorization. The fix assigns each q67 near-dup CLUSTER atomically:
  // every doc inherits the split of its cluster representative
  // (cluster_id = min doc_id), so singleton clusters keep exactly their
  // naive assignment and near-dup groups move together. The query
  // MEASURES both policies on the same corpus: clusters whose members
  // straddle ≥2 splits under each scheme (grouped is 0 by construction
  // — computed, not asserted).
  // Scale shape: one extra equi-join on cluster_id over q67's output
  // (the representative table is |clusters| rows — joined, not
  // broadcast: at 100 TB it is corpus-sized because most clusters are
  // singletons) plus two partial-agg rollups. All counts are exact
  // integers.
  // Measured at sf0.01: naive straddles 5 clusters; grouped straddles
  // 0 — but the corpus's band-collision mega-component (~440 of 500
  // docs, see q134's histogram) lands atomically in ONE split, skewing
  // proportions to 452/45/3. Both numbers are the point: naive leaks,
  // cluster-atomic inherits cluster-size pathology — which is why a
  // production split breaks mega-components first (verified-edge
  // clustering, q61's hamming filter) or dedups them outright.
  private def q147(s: SparkSession, dir: String): DataFrame = {
    def splitOf(b: Column): Column =
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    // r15 (guide §2.6): the naive-split hash scan is independent of the
    // CC fixpoint's serial driver rounds — overlap them (2 narrow
    // columns checkpoint; text never leaves the scan stage).
    val Seq(clusters, naive) = graft.ops.Overlap.frames(Seq(
      () => q67(s, dir),
      () => docs(s, dir)
        .select(col("doc_id"), splitOf(h60(col("text")) % 100).as("naive_split"))
        .localCheckpoint(eager = true)))
    val base = clusters.join(naive, "doc_id")
    val reps = base.filter(col("doc_id") === col("cluster_id"))
      .select(col("cluster_id"), col("naive_split").as("group_split"))
    // consumed twice (straddle agg + split rollup) and stored nowhere:
    // the r12 7-vs-7 interleaved A/B against caching it read a dead heat
    // on per-rep mins (cache 3.214 s vs none 3.218 s, medians 3.48 vs
    // 3.42 — the CC labels both consumers share are already
    // localCheckpointed, so the recompute is join-cheap), and zero
    // storage cannot thrash under suite memory pressure (ARCHITECTURE
    // §8.7).
    val a = base.join(reps, "cluster_id")
    val strad = a.groupBy(col("cluster_id"))
      .agg(countDistinct(col("naive_split")).as("ns"),
        countDistinct(col("group_split")).as("gs"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L))
          .as("naive_straddling_clusters"),
        sum(when(col("gs") > 1, 1L).otherwise(0L))
          .as("grouped_straddling_clusters"))
    a.groupBy(col("group_split").as("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(when(col("cluster_size") > 1, 1L).otherwise(0L))
          .as("n_neardup_docs"))
      .crossJoin(broadcast(strad))
      .orderBy(col("split"))
  }
  private lazy val q147Sql = {
    val splitCase =
      s"""CASE WHEN ${h60Sql("d.text")} % 100 < 80 THEN 'train'
         |      WHEN ${h60Sql("d.text")} % 100 < 90 THEN 'val'
         |      ELSE 'test' END""".stripMargin
    s"""WITH RECURSIVE $simhashSql,
      |banded AS (
      |  SELECT doc_id, i AS band_idx, (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM sigs CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |    AND a.doc_id < b.doc_id),
      |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
      |${OracleCc.cc("SELECT doc_id AS id, doc_id AS label FROM sigs", "und")},
      |cc AS (
      |  SELECT c.id AS doc_id, c.cluster_id, s.cluster_size
      |  FROM comp c JOIN (
      |    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |    FROM comp GROUP BY 1) s USING (cluster_id)),
      |b AS (
      |  SELECT cc.doc_id, cc.cluster_id, cc.cluster_size,
      |    $splitCase AS naive_split
      |  FROM cc JOIN documents d ON cc.doc_id = d.doc_id),
      |reps AS (SELECT cluster_id, naive_split AS group_split
      |         FROM b WHERE doc_id = cluster_id),
      |a AS (
      |  SELECT b.doc_id, b.cluster_id, b.cluster_size, b.naive_split,
      |    r.group_split
      |  FROM b JOIN reps r ON b.cluster_id = r.cluster_id),
      |strad AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS naive_straddling_clusters,
      |    CAST(SUM(CASE WHEN gs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS grouped_straddling_clusters
      |  FROM (SELECT cluster_id, COUNT(DISTINCT naive_split) AS ns,
      |          COUNT(DISTINCT group_split) AS gs
      |        FROM a GROUP BY 1) t)
      |SELECT a.group_split AS split, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters,
      |  CAST(SUM(CASE WHEN a.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_neardup_docs,
      |  s.naive_straddling_clusters, s.grouped_straddling_clusters
      |FROM a CROSS JOIN strad s
      |GROUP BY 1, 5, 6
      |ORDER BY 1""".stripMargin
  }

  // q149 — SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo '95): the
  // third candidate-generation strategy in the dedup family, next to
  // LSH banding (q61: probabilistic, any-similarity) and prefix
  // filtering (q132: exact-threshold). Docs sort by a normalized
  // content key; each doc pairs only with its w−1 = 3 sort successors
  // — candidates are O(n·w) regardless of cluster structure, the
  // property banding loses on a viral key. Every candidate is verified
  // with SimHash hamming distance (cheap, already-built signatures).
  // Distributed form: a global sort window would serialize on one
  // task, so docs first BLOCK on their leading word (hash-bucketed)
  // and the neighborhood window runs per block — the standard
  // multi-pass SNM compromise: boundary pairs across blocks are missed
  // by this pass and covered by passes with different keys (here, the
  // q61/q132 passes play that role). Shape at 100 TB: one shuffle on
  // block, per-block sort, narrow rank self-join; no pair explosion.
  private def q149(s: SparkSession, dir: String): DataFrame = {
    val keyed = docs(s, dir).select(col("doc_id"),
        lower(substring(col("text"), 1, 24)).as("skey"),
        expr("split(text, ' ')[0]").as("w0"))
      .withColumn("block", h60(col("w0")) % 8)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("block")).orderBy(col("skey"), col("doc_id"))))
    val a = keyed.select(col("block"), col("rn"),
      col("doc_id").as("doc_a"), col("skey").as("key_a"))
    val b = keyed.select(col("block").as("block_b"), col("rn").as("rn_b"),
      col("doc_id").as("doc_b"))
    val sigs = simhashed(s, dir)
    val pairs = a.join(b, col("block") === col("block_b") &&
        col("rn_b").between(col("rn") + 1, col("rn") + 3))
      .select(col("doc_a"), col("doc_b"), col("block"),
        (col("rn_b") - col("rn")).cast("long").as("gap"))
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("block"), col("gap"),
        expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)").as("hamming"))
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(100)
  }
  private lazy val q149Sql =
    s"""WITH $simhashSql,
      |keyed AS (
      |  SELECT doc_id, LOWER(SUBSTRING(text, 1, 24)) AS skey,
      |    ${h60Sql("SPLIT_PART(text, ' ', 1)")} % 8 AS block
      |  FROM documents),
      |rn AS (
      |  SELECT doc_id, skey, block,
      |    ROW_NUMBER() OVER (PARTITION BY block ORDER BY skey, doc_id) AS rn
      |  FROM keyed),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.block,
      |    CAST(b.rn - a.rn AS BIGINT) AS gap
      |  FROM rn a JOIN rn b ON a.block = b.block
      |    AND b.rn BETWEEN a.rn + 1 AND a.rn + 3)
      |SELECT p.doc_a, p.doc_b, p.block, p.gap,
      |  CAST(BIT_COUNT(XOR(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
      |FROM pairs p
      |  JOIN sigs sa ON p.doc_a = sa.doc_id
      |  JOIN sigs sb ON p.doc_b = sb.doc_id
      |ORDER BY hamming ASC, doc_a ASC, doc_b ASC LIMIT 100""".stripMargin

  // q150 — SPAN CORRUPTION (T5 denoising objective): the step that
  // turns a clean corpus into encoder-decoder training examples. ~15%
  // of tokens are masked via a deterministic per-(doc, position) hash
  // (reproducible across engines, re-runs, and re-partitioning — the
  // same property q65 leans on), consecutive masked tokens merge into
  // ONE span (gaps-and-islands over the token index), span k is
  // replaced by sentinel <extra_id_k> in the input, and the target is
  // the sentinel-delimited sequence of removed spans. Shape at 100 TB:
  // one shuffle on doc_id for the token-order windows (lag + running
  // span count), everything else narrow; reassembly is a per-doc
  // ordered aggregation, never a driver-side loop.
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    val toks = docs(s, dir)
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("idx", "tok")))
      .withColumn("idx", col("idx").cast("long"))
      .withColumn("m", h60(concat(col("doc_id").cast("string"), lit(":"),
        col("idx").cast("string"))) % 100 < 15)
    val spans = toks
      .withColumn("is_first", col("m") && !lag(col("m"), 1, false).over(wDoc))
      .withColumn("s_no",
        sum(when(col("is_first"), 1L).otherwise(0L)).over(
          wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .withColumn("sentinel",
        concat(lit("<extra_id_"), col("s_no").cast("string"), lit(">")))
    spans
      .withColumn("in_tok",
        when(!col("m"), col("tok")).when(col("is_first"), col("sentinel")))
      .withColumn("tgt_tok",
        when(col("m") && col("is_first"),
          concat(col("sentinel"), lit(" "), col("tok")))
          .when(col("m"), col("tok")))
      .groupBy(col("doc_id"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(idx, in_tok)))," +
          " x -> x.in_tok), ' ')").as("input_text"),
        expr("array_join(transform(array_sort(collect_list(struct(idx, tgt_tok)))," +
          " x -> x.tgt_tok), ' ')").as("target_text"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_spans"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"))
  }
  private lazy val q150Sql =
    s"""WITH toks AS (
      |  SELECT doc_id, UNNEST(range(len(l))) AS idx, UNNEST(l) AS tok
      |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents)),
      |mk AS (
      |  SELECT doc_id, idx, tok,
      |    (${h60Sql("CAST(doc_id AS VARCHAR) || ':' || CAST(idx AS VARCHAR)")} % 100 < 15) AS m
      |  FROM toks),
      |sp AS (
      |  SELECT *, m AND NOT COALESCE(
      |      LAG(m) OVER (PARTITION BY doc_id ORDER BY idx), FALSE) AS is_first
      |  FROM mk),
      |sn AS (
      |  SELECT *,
      |    SUM(CASE WHEN is_first THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY doc_id ORDER BY idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS s_no
      |  FROM sp),
      |o AS (
      |  SELECT doc_id, idx, m, is_first, tok,
      |    '<extra_id_' || CAST(s_no AS VARCHAR) || '>' AS sentinel
      |  FROM sn)
      |SELECT doc_id,
      |  COALESCE(STRING_AGG(CASE WHEN NOT m THEN tok WHEN is_first THEN sentinel END,
      |    ' ' ORDER BY idx), '') AS input_text,
      |  COALESCE(STRING_AGG(
      |    CASE WHEN m AND is_first THEN sentinel || ' ' || tok
      |         WHEN m THEN tok END, ' ' ORDER BY idx), '') AS target_text,
      |  CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
      |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
      |FROM o GROUP BY doc_id""".stripMargin

  // q151 — chat-template RENDERING with loss-mask offsets: the SFT
  // assembly step — each doc becomes one templated training example
  // (user turn = instruction + excerpt, assistant turn = the doc's
  // tail as a stand-in completion), and the output carries the exact
  // [mask_start, mask_end] character span of the assistant text so the
  // trainer can zero the loss everywhere else. Offsets are computed
  // from prefix lengths IN the engine (no re-tokenization downstream,
  // no off-by-one drift between renderer and masker — the bug class
  // this operator exists to kill). Entirely narrow: per-row string
  // assembly + integer lengths, streams at scan speed; the template
  // lives in the plan, not in driver code.
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val nl = lit("\n")
    val resp = expr(
      "array_join(slice(split(text, ' '), cast(greatest(1, size(split(text, ' ')) - 19) as int), 20), ' ')")
    docs(s, dir)
      .withColumn("resp", resp)
      .withColumn("prefix", concat(
        lit("<|user|>"), nl,
        lit("Summarize the "), col("lang"), lit(" document from "),
        col("source"), lit(":"), nl,
        substring(col("text"), 1, 160), nl,
        lit("<|assistant|>"), nl))
      .select(col("doc_id"),
        concat(col("prefix"), col("resp"), lit("<|end|>")).as("rendered"),
        (length(col("prefix")) + 1).cast("long").as("mask_start"),
        (length(col("prefix")) + length(col("resp"))).cast("long").as("mask_end"),
        (length(col("prefix")) + length(col("resp")) + lit(7)).cast("long")
          .as("n_render_chars"))
  }
  private val q151Sql =
    """WITH r AS (
      |  SELECT doc_id,
      |    ARRAY_TO_STRING(l[GREATEST(1, LEN(l) - 19):], ' ') AS resp,
      |    '<|user|>' || CHR(10) ||
      |      'Summarize the ' || lang || ' document from ' || source || ':' ||
      |      CHR(10) || SUBSTRING(text, 1, 160) || CHR(10) ||
      |      '<|assistant|>' || CHR(10) AS prefix
      |  FROM (SELECT doc_id, lang, source, text,
      |          STRING_SPLIT(text, ' ') AS l FROM documents))
      |SELECT doc_id, prefix || resp || '<|end|>' AS rendered,
      |  CAST(LENGTH(prefix) + 1 AS BIGINT) AS mask_start,
      |  CAST(LENGTH(prefix) + LENGTH(resp) AS BIGINT) AS mask_end,
      |  CAST(LENGTH(prefix) + LENGTH(resp) + 7 AS BIGINT) AS n_render_chars
      |FROM r""".stripMargin

  // q152 — CURRICULUM ordering with source interleaving: the data-order
  // step between curation and packing. Docs rank within their source by
  // a quality signal (type-token ratio in exact permille — narrow:
  // array_distinct/size per row, no token shuffle), then sources
  // round-robin: pos = (rank−1)·n_sources + source_index, so training
  // sees the best of EVERY source early instead of one source's entire
  // archive first — the ordering failure that makes early checkpoints
  // source-biased. pos has gaps once a source exhausts (it is an
  // ordering key, not a dense index — densifying is the one
  // zipWithIndex pass the sink already does, Clean.runScalable shape).
  // Shape at 100 TB: one shuffle on source for the rank window; the
  // source-index table is |sources| rows, broadcast.
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val ttr = expr("(CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000)" +
      " div CAST(size(split(text, ' ')) AS BIGINT)")
    val base = docs(s, dir)
      .select(col("doc_id"), col("source"), ttr.as("ttr_permille"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("ttr_permille").desc, col("doc_id").asc)).cast("long"))
    val srcIdx = base.select(col("source")).distinct()
      .withColumn("src_idx",
        // window-scale: tiny-frame — one row per distinct source
        (row_number().over(Window.orderBy(col("source"))) - 1).cast("long"))
    val n = srcIdx.agg(count(lit(1)).as("n_sources"))
    base.join(broadcast(srcIdx), "source")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("source"), col("ttr_permille"), col("rn"),
        ((col("rn") - 1) * col("n_sources") + col("src_idx")).as("pos"))
  }
  private val q152Sql =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    (CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) * 1000)
      |      // CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ttr_permille
      |  FROM documents),
      |r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY ttr_permille DESC, doc_id ASC) AS BIGINT) AS rn
      |  FROM b),
      |s AS (
      |  SELECT source,
      |    CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx
      |  FROM (SELECT DISTINCT source FROM documents)),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM s)
      |SELECT r.doc_id, r.source, r.ttr_permille, r.rn,
      |  (r.rn - 1) * n.n_sources + s.src_idx AS pos
      |FROM r JOIN s USING (source) CROSS JOIN n""".stripMargin

  // q153 — span-cut REWRITE: q94 scores duplicated spans; this operator
  // REMOVES them — the actual Lee et al. exact-substring dedup action
  // (cut the repeated text, keep the document). A token is cut iff some
  // corpus-duplicated 8-word window covers it: duplicated window STARTS
  // (q94's hash-frequency pass, ~12 B/window on the wire) flag their
  // position, and coverage is a per-doc ordered window max over the 8
  // preceding start flags — positional extent is exact, not the
  // approximate per-doc ratio q94 settles for. Shape at 100 TB: one
  // shuffle on the window hash for corpus-wide frequency, one
  // (doc, position) join of integer flags, one doc-keyed ordered window
  // + reassembly agg; full text moves only scan→final-agg, never
  // through the frequency exchange.
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), words(col("text")).as("w"))
    val toks = base.select(col("doc_id"),
        posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("j"), col("tok"))
    val win = base.filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 7)," +
          " i -> struct(CAST(i AS BIGINT) AS i, h60(array_join(slice(w, i, 8), ' ')) AS k))"))
        .as("s"))
      .select(col("doc_id"), col("s.i").as("i"), col("s.k").as("k"))
    val dupStarts = win
      .withColumn("freq", count(lit(1)).over(Window.partitionBy(col("k"))))
      .filter(col("freq") >= 2)
      .select(col("doc_id"), col("i"), lit(1).as("flag"))
    val cov = toks
      .join(dupStarts, toks("doc_id") === dupStarts("doc_id") &&
        col("j") === col("i"), "left")
      .select(toks("doc_id"), col("j"), col("tok"),
        coalesce(col("flag"), lit(0)).as("flag"))
      .withColumn("c", max(col("flag")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("j"))
          .rowsBetween(-7, Window.currentRow)))
    cov.groupBy(col("doc_id"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(j, CASE WHEN c = 0 THEN tok END AS t))), x -> x.t), ' ')")
          .as("clean_text"),
        count(lit(1)).as("n_tokens"),
        sum(col("c")).cast("long").as("n_removed"))
  }
  private lazy val q153Sql =
    s"""WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
      |toks AS (
      |  SELECT doc_id, UNNEST(GENERATE_SERIES(1, LEN(ws))) AS j, ws FROM w),
      |tok2 AS (SELECT doc_id, CAST(j AS BIGINT) AS j, ws[j] AS tok FROM toks),
      |pos AS (
      |  SELECT doc_id, ws,
      |    UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 7, 0))) AS i FROM w),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    ${h60Sql("ARRAY_TO_STRING(ws[i:i+7], ' ')")} AS k
      |  FROM pos),
      |f AS (SELECT doc_id, i, COUNT(*) OVER (PARTITION BY k) AS freq FROM win),
      |ds AS (SELECT doc_id, i FROM f WHERE freq >= 2),
      |fl AS (
      |  SELECT t.doc_id, t.j, t.tok,
      |    CASE WHEN ds.i IS NULL THEN 0 ELSE 1 END AS flag
      |  FROM tok2 t LEFT JOIN ds ON t.doc_id = ds.doc_id AND t.j = ds.i),
      |cov AS (
      |  SELECT *, MAX(flag) OVER (PARTITION BY doc_id ORDER BY j
      |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS c
      |  FROM fl)
      |SELECT doc_id,
      |  COALESCE(STRING_AGG(CASE WHEN c = 0 THEN tok END, ' ' ORDER BY j), '')
      |    AS clean_text,
      |  COUNT(*) AS n_tokens,
      |  CAST(SUM(c) AS BIGINT) AS n_removed
      |FROM cov GROUP BY doc_id""".stripMargin

  // q155 — cross-source QUANTILE NORMALIZATION of quality scores: a
  // fixed quality threshold means different things in different sources
  // (one source's median is another's top decile), so mixture curation
  // first maps every doc's score onto the POOLED distribution: doc at
  // within-source rank r of n_src gets the pooled value at quantile
  // r/n_src. All integer: target position = ceil(r·N/n_src) by
  // (r·N + n_src − 1) div n_src, and the pooled lookup needs NO global
  // sort — scores live in the bounded permille domain, so the pooled
  // distribution is a ≤1001-row cumulative histogram (broadcast), and
  // the quantile lookup is a min-over-threshold join against it. Shape
  // at 100 TB: one per-source rank window (the partition-wide window
  // every per-source statistic pays), one tiny broadcast; the corpus
  // never globally sorts.
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val ttr = expr("(CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000)" +
      " div CAST(size(split(text, ' ')) AS BIGINT)")
    val base = docs(s, dir)
      .select(col("doc_id"), col("source"), ttr.as("ttr_permille"))
    val wSrc = Window.partitionBy(col("source"))
    val ranked = base
      .withColumn("src_rank", row_number().over(
        wSrc.orderBy(col("ttr_permille").asc, col("doc_id").asc)).cast("long"))
      .withColumn("n_src", count(lit(1)).over(wSrc))
    val nTotal = base.agg(count(lit(1)).as("n_total"))
    val pooled = base.groupBy(col("ttr_permille").as("pv"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        // window-scale: bounded-frame — one row per ttr_permille bucket (≤1001)
        Window.orderBy(col("pv"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("pv"), col("cum"))
    ranked.crossJoin(broadcast(nTotal))
      .withColumn("idx",
        expr("(src_rank * n_total + n_src - 1) div n_src"))
      .join(broadcast(pooled), col("cum") >= col("idx"))
      .groupBy(col("doc_id"), col("source"), col("ttr_permille"), col("src_rank"))
      .agg(min(col("pv")).as("norm_ttr"))
  }
  private val q155Sql =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    (CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) * 1000)
      |      // CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ttr_permille
      |  FROM documents),
      |r AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY ttr_permille, doc_id) AS BIGINT) AS src_rank,
      |    COUNT(*) OVER (PARTITION BY source) AS n_src
      |  FROM b),
      |n AS (SELECT COUNT(*) AS n_total FROM b),
      |p AS (SELECT ttr_permille AS pv, COUNT(*) AS c FROM b GROUP BY 1),
      |pc AS (
      |  SELECT pv, SUM(c) OVER (ORDER BY pv
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM p)
      |SELECT r.doc_id, r.source, r.ttr_permille, r.src_rank,
      |  MIN(pc.pv) AS norm_ttr
      |FROM r CROSS JOIN n
      |  JOIN pc ON pc.cum >= (r.src_rank * n.n_total + r.n_src - 1) // r.n_src
      |GROUP BY 1, 2, 3, 4""".stripMargin

  // q156 — GRADED decontamination: q71 flags any-overlap; real
  // decontamination wants a RATIO and a decision per doc — what
  // fraction of THIS doc's distinct 3-shingles also appear in the eval
  // side, then keep (<10%), flag (10–50%), or drop (≥50%). The ratio is
  // what separates "quotes one eval sentence" from "is an eval doc".
  // Same scale shape as q71: the eval shingle set broadcasts (a
  // benchmark is tiny next to a 100 TB corpus), the train stream takes
  // one per-doc partial agg, and every train doc appears in the output
  // (the keep rows are the receipts a removal audit needs).
  private def q156(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir)
      .select(col("doc_id"), (h60(col("text")) % 100).as("bucket"),
        words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("bucket"),
        explode(expr("array_distinct(shingles(w, 3))")).as("shingle"))
      .cache()
    val test = sh.filter(col("bucket") >= 90)
      .select(col("shingle")).distinct().withColumn("hit", lit(1L))
    sh.filter(col("bucket") < 80)
      .join(broadcast(test), Seq("shingle"), "left")
      .groupBy(col("doc_id").as("train_doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .withColumn("ratio_permille",
        expr("n_shared * 1000 div n_shingles"))
      .withColumn("decision",
        when(col("ratio_permille") >= 500, "drop")
          .when(col("ratio_permille") >= 100, "flag")
          .otherwise("keep"))
  }
  private val q156Sql =
    s"""WITH sh AS (
      |  SELECT doc_id, ${h60Sql("text")} % 100 AS bucket,
      |    UNNEST(LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      |  FROM (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS w FROM documents) t
      |  WHERE LEN(w) >= 3),
      |te AS (SELECT DISTINCT shingle FROM sh WHERE bucket >= 90),
      |j AS (
      |  SELECT tr.doc_id, CASE WHEN te.shingle IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM (SELECT doc_id, shingle FROM sh WHERE bucket < 80) tr
      |  LEFT JOIN te USING (shingle)),
      |ag AS (
      |  SELECT doc_id AS train_doc, COUNT(*) AS n_shingles,
      |    CAST(SUM(hit) AS BIGINT) AS n_shared
      |  FROM j GROUP BY 1)
      |SELECT train_doc, n_shingles, n_shared,
      |  n_shared * 1000 // n_shingles AS ratio_permille,
      |  CASE WHEN n_shared * 1000 // n_shingles >= 500 THEN 'drop'
      |       WHEN n_shared * 1000 // n_shingles >= 100 THEN 'flag'
      |       ELSE 'keep' END AS decision
      |FROM ag""".stripMargin

  // q157 — tokenizer FERTILITY audit per source: subword tokens per
  // whitespace word and chars per subword token — the two numbers that
  // tell you a tokenizer is mis-fit for a source (fertility spikes on
  // OCR noise, code, or out-of-vocab languages, and directly multiplies
  // training cost). Uses the real greedy tokenizer (q89's native
  // subword_count expression — narrow, codegen'd, streams at scan
  // speed); the rollup is one tiny per-source partial agg. Exact
  // permille ratios of exact integer sums.
  private def q157(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        expr("subword_count(text)").as("t"),
        size(words(col("text"))).cast("long").as("ws"),
        col("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("n_subword"),
        sum(col("ws")).as("n_words"),
        sum(col("n_chars")).as("n_chars_total"))
      .withColumn("fertility_permille",
        expr("n_subword * 1000 div nullif(n_words, 0)"))
      .withColumn("chars_per_token_permille",
        expr("n_chars_total * 1000 div nullif(n_subword, 0)"))
  private lazy val q157Sql =
    s"""WITH RECURSIVE $subwordCte,
      |per AS (
      |  SELECT d.source, d.n_chars,
      |    CAST(COALESCE(LEN(dt.toks), 0) AS BIGINT) AS t,
      |    CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS ws
      |  FROM documents d LEFT JOIN doc_toks dt ON dt.doc_id = d.doc_id)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(t) AS BIGINT) AS n_subword,
      |  CAST(SUM(ws) AS BIGINT) AS n_words,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
      |  CAST(SUM(t) AS BIGINT) * 1000 // NULLIF(CAST(SUM(ws) AS BIGINT), 0)
      |    AS fertility_permille,
      |  CAST(SUM(n_chars) AS BIGINT) * 1000 // NULLIF(CAST(SUM(t) AS BIGINT), 0)
      |    AS chars_per_token_permille
      |FROM per GROUP BY source""".stripMargin

  // q161 — dedup KEEPER SELECTION: the canonicalization policy between
  // clustering (q67) and rewriting. min-doc_id (q67's representative)
  // is arbitrary; a curation pass keeps the BEST member of each
  // near-dup cluster — here argmax of (quality, then longest, then
  // lowest id) with quality = type-token ratio in exact permille. One
  // row per cluster: the kept doc, the dropped count, and the keeper's
  // margin over the cluster's worst member (0 for singletons — the
  // audit trail a deletion needs). Deterministic total order ⇒ the
  // argmax is engine-stable. Shape: q67's components + one narrow
  // quality column + a single per-cluster partial-agg argmax (struct
  // max) — no extra shuffle beyond the cluster key.
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val ttr = expr("(CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000)" +
      " div CAST(size(split(text, ' ')) AS BIGINT)")
    // r15 (guide §2.6): the CC fixpoint (serial driver rounds) and the
    // per-doc quality scan are independent until this join — overlap
    // them; the quality side checkpoints 3 narrow columns.
    val Seq(clusters, quality) = graft.ops.Overlap.frames(Seq(
      () => q67(s, dir),
      () => docs(s, dir).select(col("doc_id"), col("n_chars"),
          ttr.as("quality"))
        .localCheckpoint(eager = true)))
    val scored = clusters.join(quality, "doc_id")
    scored.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        // argmax by (quality, n_chars, -doc_id): struct max with the id
        // negated so lower ids win ties — a total, engine-stable order
        max(struct(col("quality"), col("n_chars"), (-col("doc_id")).as("nid")))
          .as("best"),
        min(col("quality")).as("min_quality"))
      .select(col("cluster_id"),
        (-col("best.nid")).as("kept_doc"),
        col("best.quality").as("kept_quality"),
        (col("n_members") - 1).as("n_dropped"),
        (col("best.quality") - col("min_quality")).as("quality_margin"))
  }
  // Oracle edges: STAR CONTRACTION, not the pairwise clique (VERDICT
  // r12 item 3). A band bucket's members are all mutually reachable
  // through the bucket, so linking each member to the bucket's MIN
  // member yields identical components at O(Σk) edges instead of
  // O(Σk²) clique pairs — at sf3-organic that is 569k rows vs 245M,
  // the difference between a 40 s oracle and an 80 GB spill death
  // inside the 24-round materialized CC. Star paths are at most 2×
  // the clique paths, so the propagation gets 48 rounds (cheap at
  // linear edge count; OracleCc still hard-errors if unconverged).
  // The clique-closure formulation REMAINS the gate's independence
  // check where it is affordable (q67/q126/q86's own oracles at
  // sf≤0.1); this restructuring is only for the funnel composites
  // whose oracle must also survive decade-2 corpora.
  // MATERIALIZED on `und` is as load-bearing as on OracleCc's rounds:
  // every one of the 48 propagation rounds references `und`, and DuckDB
  // inlines plain CTEs per reference — un-materialized, each round
  // re-expands und → banded → sigs → the 495M-row simhash bit
  // aggregation, which is how the first r13 attempt spilled 33 GB on
  // LINEAR edges. `sigs` is marked MATERIALIZED in simhashSql for the
  // same reason (referenced by both the bands and the CC seed).
  private val starUndSql =
    """banded AS MATERIALIZED (
      |  SELECT doc_id, i AS band_idx, (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM sigs CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |bmin AS (
      |  SELECT band_idx, band_val, MIN(doc_id) AS mdoc
      |  FROM banded GROUP BY 1, 2),
      |edges AS (
      |  SELECT DISTINCT b.doc_id AS src, m.mdoc AS dst
      |  FROM banded b JOIN bmin m USING (band_idx, band_val)
      |  WHERE b.doc_id <> m.mdoc),
      |und AS MATERIALIZED (
      |  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)""".stripMargin
  private lazy val q161Sql =
    s"""WITH RECURSIVE $simhashSql,
      |$starUndSql,
      |${OracleCc.cc("SELECT doc_id AS id, doc_id AS label FROM sigs", "und", idAlias = "doc_id", rounds = 48)},
      |scored AS (
      |  SELECT c.doc_id, c.cluster_id, d.n_chars,
      |    (CAST(LEN(LIST_DISTINCT(STRING_SPLIT(d.text, ' '))) AS BIGINT) * 1000)
      |      // CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS quality
      |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
      |    ORDER BY quality DESC, n_chars DESC, doc_id ASC) AS rn
      |  FROM scored),
      |st AS (SELECT cluster_id, COUNT(*) AS n_members,
      |         MIN(quality) AS min_q
      |       FROM scored GROUP BY 1)
      |SELECT r.cluster_id, r.doc_id AS kept_doc, r.quality AS kept_quality,
      |  st.n_members - 1 AS n_dropped, r.quality - st.min_q AS quality_margin
      |FROM ranked r JOIN st USING (cluster_id) WHERE r.rn = 1""".stripMargin

  // q162 — NEYMAN allocation for stratified sampling: q66 samples
  // proportionally; the variance-optimal split allocates a budget of
  // B = 100 docs ∝ n_h·σ_h per stratum (high-variance sources deserve
  // more sample). Exactness: n_h·σ_h = √(n_h·Σx² − (Σx)²) — the
  // variance numerator is an exact integer, and IEEE sqrt is correctly
  // rounded, so floor(sqrt) is engine-identical below 2^53 (above it,
  // shift the numerator down first — the ranking survives). The
  // integer allocation uses Hamilton apportionment: floor shares, then
  // the deficit goes to the largest remainders (rem desc, source asc —
  // a total order), so Σ alloc == B EXACTLY, spec-pinned. Shape: one
  // per-stratum partial agg; everything after runs on the |sources|-row
  // frame (broadcast scalars, one tiny window).
  private def q162(s: SparkSession, dir: String): DataFrame = {
    val st = docs(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      .withColumn("var_num", expr("n_docs * sxx - sx * sx"))
      .withColumn("w", expr("CAST(FLOOR(SQRT(CAST(var_num AS DOUBLE))) AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("var_num"), col("w"))
    val tot = st.agg(sum(col("w")).as("wsum"))
    val withFloor = st.crossJoin(broadcast(tot))
      .withColumn("alloc_floor", expr("100 * w div wsum"))
      .withColumn("rem", expr("(100 * w) % wsum"))
    val deficit = withFloor.agg((lit(100) - sum(col("alloc_floor"))).as("deficit"))
    withFloor.crossJoin(broadcast(deficit))
      .withColumn("rk", row_number().over(
        // window-scale: tiny-frame — one row per distinct source
        Window.orderBy(col("rem").desc, col("source").asc)).cast("long"))
      .select(col("source"), col("n_docs"), col("var_num"), col("w"),
        col("alloc_floor"),
        (col("alloc_floor") +
          when(col("rk") <= col("deficit"), 1L).otherwise(0L)).as("alloc"))
  }
  private val q162Sql =
    """WITH st AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS sx,
      |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
      |  FROM documents GROUP BY 1),
      |v AS (
      |  SELECT source, n_docs, n_docs * sxx - sx * sx AS var_num,
      |    CAST(FLOOR(SQRT(CAST(n_docs * sxx - sx * sx AS DOUBLE))) AS BIGINT) AS w
      |  FROM st),
      |t AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM v),
      |f AS (
      |  SELECT v.*, 100 * w // wsum AS alloc_floor, (100 * w) % wsum AS rem
      |  FROM v CROSS JOIN t),
      |d AS (SELECT 100 - CAST(SUM(alloc_floor) AS BIGINT) AS deficit FROM f),
      |r AS (
      |  SELECT f.*, CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
      |    AS BIGINT) AS rk
      |  FROM f)
      |SELECT source, n_docs, var_num, w, alloc_floor,
      |  alloc_floor + CASE WHEN rk <= d.deficit THEN 1 ELSE 0 END AS alloc
      |FROM r CROSS JOIN d""".stripMargin

  // q168 — SimHash CALIBRATION curve: q146 measured banding configs for
  // MinHash; this measures what a SimHash hamming THRESHOLD means in
  // ground-truth Jaccard — per hamming distance over the banded
  // candidate pairs (q61's generation), the pair count plus exact
  // 3-shingle Jaccard statistics. The monotone curve is how an operator
  // picks the hamming cutoff for a target similarity floor — measured
  // on the corpus, not assumed from the cos-angle formula.
  // Cost shape: the candidate set is band-join-bounded (never
  // all-pairs), but on a vocab-skewed corpus SimHash bands collide
  // densely (sf0.1: 272k candidates over 5k docs), and the exact-
  // Jaccard side ships both shingle arrays per pair — so ONLY the
  // per-hamming n_pairs runs over the full candidate set (narrow rows,
  // no arrays), while the Jaccard statistics run on a deterministic
  // 1-in-4 probe (smaller endpoint doc_a % 4 = 0 — the q146/q87
  // pattern). n_probe is published so the stats' support is explicit;
  // the curve's monotone shape is sampling-invariant.
  //
  // Pair dedup is MAP-SIDE (r14): a pair colliding in k of the 4 bands
  // used to be deduped by a groupBy(doc_a, doc_b) — at sf10-organic
  // that exchange is ~2.2B joined rows (~90 GB shuffle write) and
  // filled the sandbox disk where the banded JOIN itself is tiny (the
  // exchange is n·4 rows; the blow-up happens in-stage). Both sides
  // carry the full signature, so "is band_idx the FIRST band this pair
  // collides in" is a per-row bit test on the XOR — each pair survives
  // from exactly one band and the pair-level exchange (and the cache
  // that existed to avoid recomputing it) disappears. The two
  // consumers re-run the band join instead: each pass is pipelined
  // scan→join→filter→partial-agg with zero pair-level spill, the right
  // trade at any corpus size (q61 keeps its groupBy form deliberately:
  // it publishes n_shared_bands, which needs the multi-band rows).
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val banded = simhashed(s, dir)
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 to 3).map(i =>
          shiftright(col("simhash"), i * 15).bitwiseAND(lit(32767L))): _*))
          .as(Seq("band_idx", "band_val")))
    val x = col("a.simhash").bitwiseXOR(col("b.simhash"))
    val firstCollidingBand = (0 to 3).map { i =>
      (col("a.band_idx") === i) &&
        (0 until i).map(j =>
          shiftright(x, j * 15).bitwiseAND(lit(32767L)) =!= lit(0L))
          .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(firstCollidingBand)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)")
          .as("hamming"))
    val shs = docs(s, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr("array_distinct(shingles(w, 3))").as("sh"))
    val counts = cand.groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"))
    // broadcast the shingle side: the probe stream (pairs/4 rows) must
    // NOT exchange — a sort-merge join sorts it, and at sf10-organic
    // that sort alone spilled ~40 GB (measured r14; the probe stream is
    // ~550M rows there). The dictionary side is n_docs × ~60 ints
    // (~150 MB at 500k docs) — broadcast keeps every probe row
    // in-stage, so the only exchanges left in q168 are the n×4 banded
    // rows and the 61-key hamming aggs. Past O(10M) docs the broadcast
    // no longer fits and the join reverts to shuffle — at that scale
    // the right form is bucketing both sides on doc id, not a sort of
    // the pair stream.
    val stats = cand.filter(col("doc_a") % 4 === 0)
      .join(broadcast(
        shs.select(col("doc_id").as("doc_a"), col("sh").as("sa"))), "doc_a")
      .join(broadcast(
        shs.select(col("doc_id").as("doc_b"), col("sh").as("sb"))), "doc_b")
      .withColumn("common", expr("CAST(size(array_intersect(sa, sb)) AS BIGINT)"))
      .withColumn("jac_permille",
        expr("common * 1000 div (size(sa) + size(sb) - common)"))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_probe"),
        expr("CAST(sum(jac_permille) AS BIGINT) div count(1)")
          .as("avg_jac_permille"),
        min(col("jac_permille")).as("min_jac"),
        max(col("jac_permille")).as("max_jac"))
    counts.join(stats, Seq("hamming"), "left")
      .orderBy(col("hamming"))
  }
  // Oracle's exact-Jaccard side is SPILL-LEAN, v3 (VERDICT r12 item 3).
  // Two prior forms died at sf3-organic: (v1) a per-pair LIST_INTERSECT
  // over STRING shingle lists — ~57 µs/pair × 60.7M probe pairs ≈ the
  // 5400 s timeout; (v2) an exploded (doc, shingle) co-occurrence join
  // — no row carried a list, but the probe × exploded-shingle stream
  // (60.7M pairs × ~60 common rows each) plus the 242M-row candidate
  // materialization spilled past the sandbox's ~75 GB free disk even
  // at 28 threads / 80 GB memory (measured twice, r13). v3 keeps the
  // per-pair intersect shape but on DENSE INTEGER ids: `dict` numbers
  // the ~29k distinct shingles once (ROW_NUMBER over a sorted scan —
  // a bijection, so intersect cardinalities are bit-identical), and
  // each doc ships one ~60-element INT list instead of a string list.
  // Int-list LIST_INTERSECT measures ~25× cheaper than string-list
  // (no per-element string compare/alloc), so the probe stream is
  // pure CPU with zero join fan-out and zero spill beyond `cand`'s
  // own materialization. The inner `ilist` joins reproduce the
  // original's exclusion of <3-word endpoints. The multi-referenced
  // CTEs (cand, shd, probe, dict, ilist) are MATERIALIZED — DuckDB
  // inlines plain CTEs per reference, so without it `counts` and
  // `probe` would each recompute the 53 s / 242M-row candidate build.
  private lazy val q168Sql =
    s"""WITH $simhashSql,
      |banded AS (
      |  SELECT doc_id, simhash, i AS band_idx,
      |    (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM sigs CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |cand AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(BIT_COUNT(XOR(MIN(a.simhash), MIN(b.simhash))) AS BIGINT)
      |      AS hamming
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |shd AS MATERIALIZED (
      |  SELECT doc_id,
      |    LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents) t
      |  WHERE LEN(w) >= 3),
      |counts AS (
      |  SELECT hamming, COUNT(*) AS n_pairs FROM cand GROUP BY hamming),
      |probe AS MATERIALIZED (SELECT doc_a, doc_b, hamming FROM cand WHERE doc_a % 4 = 0),
      |dict AS MATERIALIZED (
      |  SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS sid
      |  FROM (SELECT DISTINCT UNNEST(sh) AS s FROM shd)),
      |ilist AS MATERIALIZED (
      |  SELECT e.doc_id, LIST(d.sid) AS l
      |  FROM (SELECT doc_id, UNNEST(sh) AS s FROM shd) e
      |  JOIN dict d USING (s)
      |  GROUP BY e.doc_id),
      |jc AS (
      |  SELECT hamming,
      |    common * 1000 // (la + lb - common) AS jac_permille
      |  FROM (
      |    SELECT p.hamming,
      |      CAST(LEN(LIST_INTERSECT(x.l, y.l)) AS BIGINT) AS common,
      |      CAST(LEN(x.l) AS BIGINT) AS la, CAST(LEN(y.l) AS BIGINT) AS lb
      |    FROM probe p JOIN ilist x ON p.doc_a = x.doc_id
      |                 JOIN ilist y ON p.doc_b = y.doc_id)),
      |stats AS (
      |  SELECT hamming, COUNT(*) AS n_probe,
      |    CAST(SUM(jac_permille) AS BIGINT) // COUNT(*) AS avg_jac_permille,
      |    CAST(MIN(jac_permille) AS BIGINT) AS min_jac,
      |    CAST(MAX(jac_permille) AS BIGINT) AS max_jac
      |  FROM jc GROUP BY hamming)
      |SELECT c.hamming, c.n_pairs,
      |  s.n_probe, s.avg_jac_permille, s.min_jac, s.max_jac
      |FROM counts c LEFT JOIN stats s USING (hamming)
      |ORDER BY c.hamming""".stripMargin

  // q169 — corpus TEMPLATE-SAFETY lint: before q151 renders documents
  // into chat templates, scan for content that would corrupt the
  // template or the loss mask — literal template markup ('<|'),
  // double-brace placeholders ('{{'), sentinel-pattern collisions
  // ('extra_id'), and non-ASCII bytes (octet length ≠ char length — an
  // engine-portable check that needs no regex class). Per source:
  // counts + a clean rate in permille — the data-safety receipt a
  // rendering pipeline gates on. Entirely narrow + one tiny rollup.
  private def q169(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        (instr(col("text"), "<|") > 0).as("markup"),
        (instr(col("text"), "{{") > 0).as("braces"),
        (instr(col("text"), "extra_id") > 0).as("sentinel"),
        (octet_length(col("text")) =!= length(col("text"))).as("nonascii"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("markup"), 1L).otherwise(0L)).as("n_markup"),
        sum(when(col("braces"), 1L).otherwise(0L)).as("n_braces"),
        sum(when(col("sentinel"), 1L).otherwise(0L)).as("n_sentinel"),
        sum(when(col("nonascii"), 1L).otherwise(0L)).as("n_nonascii"))
      .withColumn("clean_permille", expr(
        "(n_docs - n_markup - n_braces - n_sentinel - n_nonascii) * 1000" +
          " div n_docs"))
  private val q169Sql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN POSITION('<|' IN text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_markup,
      |  CAST(SUM(CASE WHEN POSITION('{{' IN text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_braces,
      |  CAST(SUM(CASE WHEN POSITION('extra_id' IN text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sentinel,
      |  CAST(SUM(CASE WHEN STRLEN(text) <> LENGTH(text) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_nonascii,
      |  (COUNT(*)
      |    - CAST(SUM(CASE WHEN POSITION('<|' IN text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    - CAST(SUM(CASE WHEN POSITION('{{' IN text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    - CAST(SUM(CASE WHEN POSITION('extra_id' IN text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    - CAST(SUM(CASE WHEN STRLEN(text) <> LENGTH(text) THEN 1 ELSE 0 END) AS BIGINT))
      |    * 1000 // COUNT(*) AS clean_permille
      |FROM documents GROUP BY source""".stripMargin

  // q170 — PACKING EFFICIENCY audit: q82 assigns docs to packs; this
  // measures what the budget choice costs — per shard: packs, docs,
  // token utilization of the 2048 budget in permille (min/avg/max),
  // and how many packs OVERFLOW (greedy boundary-spanning docs spill
  // past the budget — the count a loader either truncates or pads,
  // so it is the number to tune budget against). Pure rollup over
  // q82's pinned (shard, pack) assignment; adds no new shuffle shape.
  private def q170(s: SparkSession, dir: String): DataFrame =
    q82(s, dir)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("used"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("n_docs")).as("n_docs"),
        min(expr("used * 1000 div 2048")).as("min_util_permille"),
        expr("CAST(sum(used) AS BIGINT) * 1000 div (count(1) * 2048)")
          .as("avg_util_permille"),
        max(expr("used * 1000 div 2048")).as("max_util_permille"),
        sum(when(col("used") > 2048L, 1L).otherwise(0L)).as("n_overfull"))
      .orderBy(col("shard"))
  private lazy val q170Sql =
    s"""WITH packs AS ($q82Sql),
      |pp AS (
      |  SELECT shard, pack_id, COUNT(*) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS used
      |  FROM packs GROUP BY 1, 2)
      |SELECT shard, COUNT(*) AS n_packs,
      |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      |  CAST(MIN(used * 1000 // 2048) AS BIGINT) AS min_util_permille,
      |  CAST(SUM(used) AS BIGINT) * 1000 // (COUNT(*) * 2048)
      |    AS avg_util_permille,
      |  CAST(MAX(used * 1000 // 2048) AS BIGINT) AS max_util_permille,
      |  CAST(SUM(CASE WHEN used > 2048 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_overfull
      |FROM pp GROUP BY shard ORDER BY shard""".stripMargin

  // q171 — the TRAINING-SET FUNNEL: the capstone composition a corpus
  // owner materializes — every curation stage in execution order with
  // survivor receipts: (0) ingest, (1) quality gate (length band +
  // TTR ≥ 0.4), (2) exact dedup (min-id per md5), (3) near-dup keeper
  // (q161's quality-argmax per q67 cluster, applied among survivors),
  // (4) decontamination (q156's ratio ≥ 500 ⇒ drop, vs the full-corpus
  // eval side), then (5) leakage-safe split sizes under q147's
  // cluster-atomic policy. The per-stage numbers are the funnel chart
  // every data card publishes; each stage's operator is independently
  // gate-checked by its own query — this one proves the COMPOSITION.
  // Shape at 100 TB: union of the component shapes (one md5 window,
  // the membership CC, one broadcast eval join); stages are narrow
  // filters between them.
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val ttrE = expr(
      "(CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000)" +
        " div CAST(size(split(text, ' ')) AS BIGINT)")
    val base = docs(s, dir).select(col("doc_id"), col("text"), col("n_chars"))
      .withColumn("ttr", ttrE)
    val s1 = base.filter(col("n_chars").between(150, 20000) && col("ttr") >= 400)
    // text is consumed by the md5 window and the ttr/quality columns
    // upstream of here; every downstream consumer re-reads bodies from
    // `docs` by doc_id — drop it so the union's repeated s2 subtree (and
    // the r15 checkpoint below) carries 3 narrow columns, not the corpus.
    val s2 = s1.withColumn("mk",
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("mk"))
      .select(col("doc_id"), col("n_chars"), col("ttr"))
    // r14, join-before-explode (guide §3.3): the old form shingled and
    // EXPLODED the full corpus, shuffled that ~60×-wider stream into the
    // keep3 join, and only then dropped non-survivors. Each consumer
    // shingles only the docs it needs — the held-out bucket (te, ~10%)
    // and the keep3 survivors (ratios) — so no shuffle ever carries a
    // non-survivor's shingles and ShinglesExpr runs on a fraction of the
    // corpus. Result-identical: an inner join on doc_id commutes with
    // the per-row shingle explode.
    def shingleStream(d: DataFrame): DataFrame =
      d.select(col("doc_id"), words(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"),
          explode(expr("array_distinct(shingles(w, 3))")).as("shingle"))
    // r15 (guide §2.6): the q67 CC fixpoint, the exact-dedup window
    // chain (s2), and the held-out shingle dictionary (te) are three
    // independent pipelines that ran strictly serially — the fixpoint
    // is a driver loop with idle cores between rounds. Materialize all
    // three concurrently; downstream stages join them (and the funnel's
    // repeated s2 consumers read the checkpointed blocks instead of
    // re-deriving the window chain per union branch).
    val Seq(clusters, s2m, te) = graft.ops.Overlap.frames(Seq(
      () => q67(s, dir).select(col("doc_id"), col("cluster_id")),
      () => s2.localCheckpoint(eager = true),
      () => shingleStream(docs(s, dir).filter((h60(col("text")) % 100) >= 90))
        .select(col("shingle")).distinct().withColumn("hit", lit(1L))
        .localCheckpoint(eager = true)))
    val cl = s2m.join(clusters, "doc_id")
    // the funnel's most expensive intermediate (downstream of the CC
    // fixpoint), consumed by the decontamination join, the s4 filter,
    // and its own stage count; historically uncached (the CC labels are
    // already localCheckpointed, so recompute is join-cheap). The r12
    // 7-vs-7 interleaved A/B confirms: none 4.237 s vs cache 4.362 s on
    // per-rep mins, −5% on medians — it stays uncached (ARCHITECTURE
    // §8.7).
    val keep3 = cl.withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("ttr").desc, col("n_chars").desc, col("doc_id").asc)))
      .filter(col("rn") === 1).drop("rn")
    val ratios = shingleStream(
        docs(s, dir).join(keep3.select(col("doc_id")), "doc_id"))
      .join(broadcast(te), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(expr("sum(coalesce(hit, 0L)) * 1000 div count(1)").as("ratio"))
    val s4 = keep3.join(ratios, Seq("doc_id"), "left")
      .filter(coalesce(col("ratio"), lit(0L)) < 500)
    val repSplit = docs(s, dir)
      .select(col("doc_id").as("cluster_id"), (h60(col("text")) % 100).as("b"))
      .select(col("cluster_id"),
        when(col("b") < 80, "train").when(col("b") < 90, "val")
          .otherwise("test").as("group_split"))
    val split = s4.join(repSplit, "cluster_id")
    def cnt(df: DataFrame, stage: String) =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(stage).as("stage"), col("n_docs"))
    cnt(base, "0_ingest")
      .unionByName(cnt(s1, "1_quality"))
      .unionByName(cnt(s2m, "2_exact"))
      .unionByName(cnt(keep3, "3_neardup"))
      .unionByName(cnt(s4, "4_decontam"))
      .unionByName(split
        .groupBy(concat(lit("5_"), col("group_split")).as("stage"))
        .agg(count(lit(1)).as("n_docs")))
      .orderBy(col("stage"))
  }
  // Star-contracted CC edges, like q161Sql (rationale at starUndSql).
  private lazy val q171Sql =
    s"""WITH RECURSIVE $simhashSql,
      |$starUndSql,
      |${OracleCc.cc("SELECT doc_id AS id, doc_id AS label FROM sigs", "und", idAlias = "doc_id", rounds = 48)},
      |q AS (
      |  SELECT doc_id, text, n_chars,
      |    (CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) * 1000)
      |      // CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ttr
      |  FROM documents),
      |s1 AS (SELECT * FROM q
      |       WHERE n_chars BETWEEN 150 AND 20000 AND ttr >= 400),
      |s2 AS (SELECT doc_id, text, n_chars, ttr FROM (
      |         SELECT s1.*, MIN(doc_id) OVER (PARTITION BY MD5(text)) AS mk
      |         FROM s1) x
      |       WHERE doc_id = mk),
      |cl AS (SELECT s2.*, c.cluster_id FROM s2 JOIN comp c USING (doc_id)),
      |keep3 AS (SELECT doc_id, text, n_chars, ttr, cluster_id FROM (
      |            SELECT cl.*, ROW_NUMBER() OVER (PARTITION BY cluster_id
      |              ORDER BY ttr DESC, n_chars DESC, doc_id ASC) AS rn
      |            FROM cl) x
      |          WHERE rn = 1),
      |shx AS (
      |  SELECT doc_id, ${h60Sql("text")} % 100 AS bucket,
      |    UNNEST(LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      |  FROM (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS w FROM documents) t
      |  WHERE LEN(w) >= 3),
      |te AS (SELECT DISTINCT shingle FROM shx WHERE bucket >= 90),
      |ratios AS (
      |  SELECT s.doc_id,
      |    CAST(SUM(CASE WHEN te.shingle IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |      * 1000 // COUNT(*) AS ratio
      |  FROM shx s JOIN keep3 k ON s.doc_id = k.doc_id
      |  LEFT JOIN te ON s.shingle = te.shingle
      |  GROUP BY 1),
      |s4 AS (
      |  SELECT k.* FROM keep3 k LEFT JOIN ratios r USING (doc_id)
      |  WHERE COALESCE(r.ratio, 0) < 500),
      |reps AS (
      |  SELECT doc_id AS cluster_id,
      |    CASE WHEN ${h60Sql("text")} % 100 < 80 THEN 'train'
      |         WHEN ${h60Sql("text")} % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS group_split
      |  FROM documents),
      |sp AS (SELECT s4.doc_id, r.group_split
      |       FROM s4 JOIN reps r USING (cluster_id))
      |SELECT '0_ingest' AS stage, COUNT(*) AS n_docs FROM q
      |UNION ALL SELECT '1_quality', COUNT(*) FROM s1
      |UNION ALL SELECT '2_exact', COUNT(*) FROM s2
      |UNION ALL SELECT '3_neardup', COUNT(*) FROM keep3
      |UNION ALL SELECT '4_decontam', COUNT(*) FROM s4
      |UNION ALL SELECT '5_' || group_split, COUNT(*) FROM sp GROUP BY 1
      |ORDER BY stage""".stripMargin

  // Stopword lists per language for the n-gram/stopword language-ID
  // heuristic. (The synthetic corpus is English-ish regardless of its
  // `lang` label — the operator, not the accuracy, is under test.)
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "que"),
    "fr" -> Seq("le", "les", "et", "ou", "avec"),
    "zh" -> Seq("de_zh", "shi", "bu", "le_zh", "wo"))

  // q19 — language-ID: stopword hit counts per language, argmax with a
  // fixed precedence tie-break. Integer counts → deterministic.
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .withColumn("w", words(col("text")))
    val withHits = stopwords.foldLeft(base) { case (df, (l, ws)) =>
      val inList = ws.map(x => s"'$x'").mkString(", ")
      // native count_in — five interpreted HOF filters per row was the
      // dominant cost of this query
      df.withColumn(s"hits_$l", expr(s"count_in(w, $inList)"))
    }
    val m = greatest(stopwords.map { case (l, _) => col(s"hits_$l") }: _*)
    val predicted = stopwords.foldRight(lit("unknown"): Column) {
      case ((l, _), acc) => when(col(s"hits_$l") === m && m > 0, l).otherwise(acc)
    }
    withHits
      .withColumn("predicted_lang", predicted)
      .select(col("doc_id") +: col("lang") +:
        stopwords.map { case (l, _) => col(s"hits_$l") } :+ col("predicted_lang"): _*)
  }
  private val q19Sql = {
    val hitCols = stopwords.map { case (l, ws) =>
      val inList = ws.map(x => s"'$x'").mkString(", ")
      s"CAST(LEN(LIST_FILTER(w, x -> x IN ($inList))) AS BIGINT) AS hits_$l"
    }.mkString(",\n      |  ")
    val m = "GREATEST(" + stopwords.map { case (l, _) => s"hits_$l" }.mkString(", ") + ")"
    val cases = stopwords.map { case (l, _) =>
      s"WHEN hits_$l = $m AND $m > 0 THEN '$l'"
    }.mkString("\n      |    ")
    s"""SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr, hits_zh,
      |  CASE
      |    $cases
      |    ELSE 'unknown' END AS predicted_lang
      |FROM (
      |  SELECT doc_id, lang,
      |  $hitCols
      |  FROM (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS w FROM documents) t) h""".stripMargin
  }

  // q26 — content fingerprints + regex token counting: the native
  // rolling_hash expression (Rabin-Karp recurrence, codegen'd) replayed
  // in DuckDB via a character fold, plus a BPE-ish regex token count
  // alongside the whitespace count (the two tokenizer baselines).
  private def q26(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir).select(
      col("doc_id"),
      expr("rolling_hash(text)").as("fingerprint"),
      size(words(col("text"))).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).cast("long")
        .as("regex_tokens"))
  }
  private val q26Sql =
    """SELECT doc_id,
      |  LIST_REDUCE(
      |    LIST_PREPEND(CAST(0 AS BIGINT),
      |      LIST_TRANSFORM(STRING_SPLIT(text, ''), ch -> CAST(ASCII(ch) AS BIGINT))),
      |    (acc, c) -> (31 * acc + c) % 1000000007) AS fingerprint,
      |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+')) AS BIGINT) AS regex_tokens
      |FROM documents""".stripMargin

  // q67 — near-dup CLUSTERS: the transitive-closure step after candidate
  // generation. q61 emits near-dup PAIRS; dedup needs per-doc cluster
  // ids — pair (a,b) + pair (b,c) must collapse a,b,c into ONE group
  // even though (a,c) never collided in any band. Components come from
  // graft.ops.ConnectedComponents (an exact union-find per partition
  // of the bucket-partitioned relation, then min-label propagation —
  // partial-agg shuffles per round, driver sees only a convergence
  // scalar — for clusters that span partitions; at one partition that
  // phase is skipped); cluster_id = min doc_id in the component is
  // the canonical representative a dedup pass would keep.
  //
  // Scale-critical shape: the propagation runs on the MEMBERSHIP
  // (doc, band-bucket) relation via ConnectedComponents.labelViaBuckets
  // — never on the materialized band-collision pair graph. A bucket's
  // members are all mutually reachable through the bucket, so the
  // components are identical, but a hot bucket of k docs costs k
  // membership rows instead of k²/2 pairs (sf0.1: 20k memberships vs
  // 272k pairs, and the banded self-join vanishes from the plan). The
  // pair expansion is exactly the thing that melts down on a viral
  // near-dup cluster at 100 TB; the membership form never creates it.
  // (The DuckDB oracle DOES use the pair-closure formulation — the
  // equivalence of the two is part of what the gate checks.)
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val memberships = simhashed(s, dir)
      .select(col("doc_id"), posexplode(array((0 to 3).map(i =>
        shiftright(col("simhash"), i * 15).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band_idx", "band_val")))
      .select(col("doc_id").as("id"),
        (col("band_idx").cast("long") * 32768L + col("band_val")).as("bucket"))
    val labeled = graft.ops.ConnectedComponents.labelViaBuckets(memberships)
    val sizes = labeled.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
  }
  // Oracle: the same fixpoint via a recursive CTE — DuckDB's recursive
  // UNION dedups against all prior rows, so label propagation
  // terminates; MIN over every label that ever reached a node = the
  // component min (edges are mirrored into both directions).
  private val q67Sql =
    s"""WITH RECURSIVE $simhashSql,
      |banded AS (
      |  SELECT doc_id, i AS band_idx, (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM sigs CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |    AND a.doc_id < b.doc_id),
      |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
      |${OracleCc.cc("SELECT doc_id AS id, doc_id AS label FROM sigs", "und")}
      |SELECT c.id AS doc_id, c.cluster_id, s.cluster_size
      |FROM comp c JOIN (
      |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |  FROM comp GROUP BY 1) s USING (cluster_id)""".stripMargin

  // q91 — q67's clusters via the ALTERNATING large-star/small-star CC
  // ([[graft.ops.ConnectedComponents.labelAlternating]]): same near-dup
  // clustering contract, different fixpoint algorithm — each partition
  // of the distinct pair list contracts to a star forest by a local
  // union-find, then edge-list star rounds (O(log² n), independent of
  // graph diameter) join the forests across partitions, instead of
  // label propagation bounded by the diameter; at one partition the
  // single forest is final and no star round runs. Shares q67's oracle
  // verbatim, so the gate proves THREE formulations agree: membership
  // propagation (q67 Spark), pair-closure recursive CTE (oracle), and
  // star contraction (here). This form takes the materialized pair
  // graph — the right input when edges arrive as pairs anyway (CDC
  // identity edges, explicit link tables) or when the graph has long
  // chains; for LSH band candidates at 100 TB, q67's membership form
  // (no pair expansion) stays the default.
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val banded = simhashed(s, dir)
      .select(col("doc_id"), posexplode(array((0 to 3).map(i =>
        shiftright(col("simhash"), i * 15).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band_idx", "band_val")))
      .select(col("doc_id"),
        (col("band_idx").cast("long") * 32768L + col("band_val")).as("bucket"))
      .cache() // both sides of the candidate self-join
    val edges = banded.as("a")
      .join(banded.as("b"), col("a.bucket") === col("b.bucket")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
    val nodes = simhashed(s, dir).select(col("doc_id").as("id"))
    val labeled = graft.ops.ConnectedComponents.labelAlternating(nodes, edges)
    // the self-join's only reader, phase 1's distinct exchange, ran
    // inside labelAlternating: nothing reads the cache after this
    banded.unpersist()
    val sizes = labeled.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
  }

  // q68 — TF-IDF top-k terms per document, the classic relevance /
  // keyword-extraction signal. The idf is INTEGER-exact on both
  // engines — weight = tf * ((N*1000) div df), all BIGINT arithmetic —
  // because ln() differs in final ulps across libm implementations and
  // would break the bitwise oracle hash; the ranking it induces is the
  // same (x -> (N*1000) div x is monotone-decreasing like -ln). Shape:
  // tf and df are partial-aggregatable groupBys, N is a broadcast
  // scalar, and the per-doc top-5 runs on the native TopKPerGroup
  // group-scan (no window machinery).
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("weight", expr("tf * ((n_docs * 1000) div df)"))
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("weight"))
    graft.ops.TopK.perGroup(scored, Seq("doc_id"),
      Seq(col("weight").desc, col("token").asc), 5, "rnk")
  }
  private val q68Sql =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, token, tf, df, weight, rnk FROM (
      |  SELECT doc_id, token, tf, df, tf * ((n_docs * 1000) // df) AS weight,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY tf * ((n_docs * 1000) // df) DESC, token ASC) AS BIGINT) AS rnk
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN n) t
      |WHERE rnk <= 5""".stripMargin

  // q69 — sliding-window token chunking: documents → overlapping
  // fixed-size chunks (32 tokens, stride 24 → 8-token overlap), the
  // tokenize-and-chunk step every LLM training pipeline runs before
  // batching. Entirely narrow — per-row sequence + slice, no shuffle —
  // so at 100 TB it streams at scan speed; the chunk text itself stays
  // out of the output (chunks are handed off as (doc, idx, hash) keys,
  // the hash doubling as the chunk-level exact-dedup fingerprint).
  private def q69(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, size(w) - 1, 24)")).as("st"))
      .select(col("doc_id"), expr("st div 24").as("chunk_idx"),
        expr("slice(w, st + 1, 32)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        h60(array_join(col("chunk"), " ")).as("chunk_hash"))
  private val q69Sql =
    s"""WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
      |st AS (
      |  SELECT doc_id, w, UNNEST(GENERATE_SERIES(0, LEN(w) - 1, 24)) AS st
      |  FROM t),
      |ch AS (
      |  SELECT doc_id, st // 24 AS chunk_idx,
      |    LIST_SLICE(w, st + 1, st + 32) AS chunk
      |  FROM st)
      |SELECT doc_id, chunk_idx, CAST(LEN(chunk) AS BIGINT) AS n_tokens,
      |  ${h60Sql("ARRAY_TO_STRING(chunk, ' ')")} AS chunk_hash
      |FROM ch""".stripMargin

  // q71 — benchmark decontamination: find TRAIN documents sharing any
  // 3-shingle with a TEST document (the q65 hash split defines the
  // sides), the overlap check run before every serious training run so
  // eval numbers aren't inflated by leakage. The test side is BROADCAST:
  // a benchmark suite is tiny next to a 100 TB train corpus, so the
  // shingle join is map-side — the train shingle stream never shuffles.
  private def q71(s: SparkSession, dir: String): DataFrame = {
    // cached: the train filter and the broadcast test build are separate
    // subtrees, and without the cache each re-runs the full corpus scan
    // + md5 + shingling (the dominant cost of this query)
    val sh = docs(s, dir)
      .select(col("doc_id"), (h60(col("text")) % 100).as("bucket"),
        words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("bucket"),
        explode(expr("shingles(w, 3)")).as("shingle"))
      .cache()
    val train = sh.filter(col("bucket") < 80)
      .select(col("doc_id").as("train_doc"), col("shingle"))
    val test = sh.filter(col("bucket") >= 90)
      .select(col("doc_id").as("test_doc"), col("shingle"))
    train.join(broadcast(test), "shingle")
      .groupBy(col("train_doc"))
      .agg(countDistinct(col("shingle")).as("n_shared"),
        min(col("test_doc")).as("first_test_doc"))
  }
  private val q71Sql =
    s"""WITH sh AS (
      |  SELECT doc_id, ${h60Sql("text")} % 100 AS bucket,
      |    UNNEST(LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      |  FROM (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS w FROM documents) t
      |  WHERE LEN(w) >= 3),
      |tr AS (SELECT doc_id AS train_doc, shingle FROM sh WHERE bucket < 80),
      |te AS (SELECT doc_id AS test_doc, shingle FROM sh WHERE bucket >= 90)
      |SELECT train_doc, CAST(COUNT(DISTINCT tr.shingle) AS BIGINT) AS n_shared,
      |  MIN(test_doc) AS first_test_doc
      |FROM tr JOIN te USING (shingle)
      |GROUP BY train_doc""".stripMargin

  // q73 — MinHash estimator accuracy: for the 20 most-similar exact
  // pairs (q16's output), the fraction of agreeing MinHash components
  // (q17's signatures) is an unbiased estimate of the Jaccard —
  // P[min-perm collides] = J. This query audits the estimator the whole
  // banding architecture rests on, exactly the way you'd validate it on
  // a sample before trusting bands at 100 TB. Everything is integer
  // counts and md5-derived hashes, so both engines agree bitwise; the
  // 20-pair exact side is the bounded piece, and the signature table
  // joins to it broadcast (8 longs per doc).
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val exact = q16(s, dir).select(col("doc_a"), col("doc_b"), col("jaccard"))
    val sigs = q17(s, dir)
      .select(col("doc_id") +: As.indices.map(i => col(s"sig$i")): _*)
    val a = sigs.toDF("doc_a" +: As.indices.map(i => s"a$i"): _*)
    val b = sigs.toDF("doc_b" +: As.indices.map(i => s"b$i"): _*)
    val agree = As.indices.map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    exact.join(a, "doc_a").join(b, "doc_b")
      .withColumn("n_sig_match", agree)
      .withColumn("jaccard_est", col("n_sig_match").cast("double") / As.size)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("n_sig_match"), col("jaccard_est"))
  }
  private val q73Sql = {
    val sigCols = As.indices.map { i =>
      s"MIN((${As(i)} * h + ${Bs(i)}) % $P) AS sig$i"
    }.mkString(",\n      |  ")
    val agree = As.indices.map(i =>
      s"CASE WHEN sa.sig$i = sb.sig$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH sh AS ($shingledSql),
      |ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
      |nsh AS (SELECT doc_id, CAST(LEN(shingles) AS BIGINT) AS n_sh FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |exact AS (
      |  SELECT doc_a, doc_b,
      |    CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) AS jaccard
      |  FROM pairs
      |  JOIN nsh na ON na.doc_id = doc_a
      |  JOIN nsh nb ON nb.doc_id = doc_b
      |  ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 20),
      |hashed AS (SELECT doc_id, ${h60Sql("shingle")} % $P AS h
      |           FROM (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh) t),
      |sigs AS (
      |  SELECT doc_id,
      |  $sigCols
      |  FROM hashed GROUP BY doc_id)
      |SELECT e.doc_a, e.doc_b, e.jaccard,
      |  CAST($agree AS BIGINT) AS n_sig_match,
      |  CAST($agree AS DOUBLE) / ${As.size} AS jaccard_est
      |FROM exact e
      |JOIN sigs sa ON sa.doc_id = e.doc_a
      |JOIN sigs sb ON sb.doc_id = e.doc_b""".stripMargin
  }

  // q75 — quality GATE: the step after quality SCORING (q14) — corpus
  // curation drops the tails. Per-language p10/p90 length bands (exact
  // discrete percentiles — engine-stable, unlike interpolation) plus a
  // lexical-diversity floor; output is the per-language keep/drop
  // accounting a pipeline owner reviews before committing a filter.
  // Shape: one partial-agg stats pass, a TINY per-lang band table
  // broadcast back (two scalars per language — at 100 TB still a
  // handful of rows), then a narrow gate + final partial agg.
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val st = docs(s, dir)
      .withColumn("w", words(col("text")))
      .select(col("doc_id"), col("lang"),
        size(col("w")).cast("long").as("n_words"),
        (size(array_distinct(col("w"))).cast("long").cast("double") /
          size(col("w")).cast("long")).as("distinct_ratio"))
    val bands = st.groupBy(col("lang")).agg(
      expr("CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY n_words) AS BIGINT)")
        .as("p10"),
      expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_words) AS BIGINT)")
        .as("p90"))
    st.join(broadcast(bands), "lang")
      .withColumn("keep",
        col("n_words").between(col("p10"), col("p90")) &&
          col("distinct_ratio") >= 0.3)
      .groupBy(col("lang"), col("p10"), col("p90"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("p10"), col("p90"), col("n_total"), col("n_kept"))
  }
  private val q75Sql =
    """WITH st AS (
      |  SELECT doc_id, lang,
      |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) /
      |      CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS distinct_ratio
      |  FROM documents),
      |b AS (
      |  SELECT lang,
      |    CAST(PERCENTILE_DISC(0.1) WITHIN GROUP (ORDER BY n_words) AS BIGINT) AS p10,
      |    CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY n_words) AS BIGINT) AS p90
      |  FROM st GROUP BY lang)
      |SELECT st.lang, p10, p90, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN n_words BETWEEN p10 AND p90 AND distinct_ratio >= 0.3
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM st JOIN b ON st.lang = b.lang
      |GROUP BY st.lang, p10, p90""".stripMargin

  // q78 — Bloom-pruned decontamination: q71's answer in the scale
  // regime where the held-out side is too big to broadcast as a hash
  // table but its KEYS fit a Bloom filter (bits per key, independent of
  // shingle width). Build the filter over TEST shingles distributed
  // (treeAggregate), probe the TRAIN shingle stream map-side with
  // Spark's native BloomFilterMightContain (codegen, no UDF), and only
  // the surviving ~overlap rows enter the exact join — which makes the
  // result byte-identical to the unpruned q71 (no false negatives;
  // false positives are eliminated by the join). Same oracle as q71.
  private def q78(s: SparkSession, dir: String): DataFrame = {
    // cached for the same reason as q71: the train/test sides and the
    // bloom build are three subtrees over one expensive shingle scan
    val sh = docs(s, dir)
      .select(col("doc_id"), (h60(col("text")) % 100).as("bucket"),
        words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("bucket"),
        explode(expr("shingles(w, 3)")).as("shingle"))
      .cache()
    val train = sh.filter(col("bucket") < 80)
      .select(col("doc_id").as("train_doc"), col("shingle"))
    val test = sh.filter(col("bucket") >= 90)
      .select(col("doc_id").as("test_doc"), col("shingle"))
    // sized for the sf under test; at 100 TB take NDV from table stats
    val bloom = graft.ops.BloomPrune.build(
      test, col("shingle"), expectedItems = 1 << 17, fpp = 0.01)
    train.filter(bloom.mightContain(col("shingle")))
      .join(test, "shingle")
      .groupBy(col("train_doc"))
      .agg(countDistinct(col("shingle")).as("n_shared"),
        min(col("test_doc")).as("first_test_doc"))
  }
  // identical answer to q71 by construction — same oracle text
  private def q78Sql: String = q71Sql

  // q81 — source-mixture sampling: the data-mixing step of LLM training
  // prep — each source gets a sampling weight (here derived from the
  // source name's hash, standing in for curator-assigned mixture
  // weights) and docs are kept by content-hash threshold, so the sample
  // is deterministic, engine-independent, and stable under re-runs and
  // re-partitioning (rand() would be none of these). Shape: one narrow
  // per-row pass + a 20-group partial agg — scan-speed at any corpus
  // size.
  private def q81(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("weight_permille", h60(col("source")) % 800 + 100)
      .withColumn("kept",
        (h60(col("text")) % 1000 < col("weight_permille")).cast("long"))
      .groupBy(col("source"))
      .agg(max(col("weight_permille")).as("weight_permille"),
        count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        (sum(col("kept")).cast("double") / count(lit(1))).as("kept_rate"))
  private val q81Sql =
    s"""SELECT source,
      |  CAST(MAX(w) AS BIGINT) AS weight_permille,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(kept) AS BIGINT) AS n_kept,
      |  CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS kept_rate
      |FROM (
      |  SELECT source, ${h60Sql("source")} % 800 + 100 AS w,
      |    CASE WHEN ${h60Sql("text")} % 1000 < ${h60Sql("source")} % 800 + 100
      |         THEN 1 ELSE 0 END AS kept
      |  FROM documents) t
      |GROUP BY source""".stripMargin

  // q77 — repetition signals: the Gopher-rule quality family (Rae et
  // al. 2021 §A1.1) — machine-generated and boilerplate text shows up
  // as repetition, measured three ways: adjacent duplicate words, the
  // most-common word's share of the document, and the most-common
  // 2-gram's share. All ratios of exact integer counts (engine-stable).
  // Shape: the adjacent-repeat count is per-row narrow; the dominance
  // ratios need one (doc, term) partial-agg shuffle each — the same
  // shape as TF (q68), map-side combined, never a full-corpus sort.
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .withColumn("w", words(col("text")))
      .withColumn("n_words", size(col("w")).cast("long"))
      // size(w) >= 2 guard: sequence(1, 0) defaults to step -1 and
      // yields [1, 0], whose element_at(w, 0) always throws
      // INVALID_INDEX_OF_ZERO on a single-word doc (DuckDB's
      // GENERATE_SERIES(1, 0) is empty — no guard needed there)
      .withColumn("n_adjacent_repeats",
        expr("CAST(IF(size(w) < 2, 0, size(filter(sequence(1, size(w) - 1), " +
          "i -> element_at(w, i) = element_at(w, i + 1)))) AS BIGINT)"))
    val tf = base.select(col("doc_id"), explode(col("w")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_word"))
    val grams = base.filter(col("n_words") >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_gram"))
    base.select(col("doc_id"), col("n_words"), col("n_adjacent_repeats"))
      .join(tf, "doc_id")
      .join(grams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_adjacent_repeats"),
        (col("top_word").cast("double") / col("n_words")).as("top_word_ratio"),
        // nullif divisor: a 1-word doc has 0 bigrams. NULLIF turns the
        // divisor into NULL so the division yields NULL in BOTH engines —
        // avoiding Spark's ANSI DIVIDE_BY_ZERO error (or non-ANSI NULL)
        // and DuckDB's IEEE inf alike.
        (coalesce(col("top_gram"), lit(0L)).cast("double") /
          nullif(col("n_words") - 1, lit(0L))).as("top_2gram_ratio"))
  }
  private val q77Sql =
    """WITH base AS (
      |  SELECT doc_id, STRING_SPLIT(text, ' ') AS w,
      |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words
      |  FROM documents),
      |adj AS (
      |  SELECT doc_id, n_words,
      |    CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, LEN(w) - 1),
      |      i -> w[i] = w[i+1])) AS BIGINT) AS n_adjacent_repeats
      |  FROM base),
      |tf AS (
      |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_word FROM (
      |    SELECT doc_id, t, COUNT(*) AS c
      |    FROM (SELECT doc_id, UNNEST(w) AS t FROM base) x
      |    GROUP BY doc_id, t) y
      |  GROUP BY doc_id),
      |grams AS (
      |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_gram FROM (
      |    SELECT doc_id, g, COUNT(*) AS c
      |    FROM (SELECT doc_id,
      |            UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 1),
      |              i -> w[i] || ' ' || w[i+1])) AS g
      |          FROM base WHERE LEN(w) >= 2) x
      |    GROUP BY doc_id, g) y
      |  GROUP BY doc_id)
      |SELECT adj.doc_id, adj.n_words, adj.n_adjacent_repeats,
      |  CAST(top_word AS DOUBLE) / adj.n_words AS top_word_ratio,
      |  CAST(COALESCE(top_gram, 0) AS DOUBLE) / NULLIF(adj.n_words - 1, 0) AS top_2gram_ratio
      |FROM adj
      |JOIN tf ON tf.doc_id = adj.doc_id
      |LEFT JOIN grams ON grams.doc_id = adj.doc_id""".stripMargin

  // q82 — sequence packing via [[graft.ops.Packing]]: assign docs to
  // fixed-token-budget packs, the step that turns a filtered corpus
  // into dataloader-ready bins. The catalog query pins nShards=16 to
  // match its oracle; the OPERATOR exposes the knob (default 4× the
  // session's shuffle parallelism — thousands of shards at 100 TB so
  // the per-shard window cumsum never degrades to 16-way parallelism).
  // One shuffle on shard; the sort is per-shard, never global
  // (partitioning pinned in PlanSpec).
  private def q82(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packGreedy(
      docs(s, dir),
      id = col("doc_id"),
      tokens = size(words(col("text"))),
      hash = h60(col("text")),
      budget = 2048L,
      nShards = 16)
  private val q82Sql =
    s"""SELECT doc_id, shard, n_tokens,
      |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
      |FROM (
      |  SELECT doc_id, h % 16 AS shard, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY h % 16 ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM (
      |    SELECT doc_id, ${h60Sql("text")} AS h,
      |      CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      |    FROM documents) t) p""".stripMargin

  // q84 — hybrid near-dup verification: the two-stage shape every real
  // dedup pipeline converges to — CHEAP text-side candidate generation
  // (q61's SimHash bands, sub-quadratic) followed by SEMANTIC
  // verification (embedding cosine) of just those candidates. The
  // candidate set is tiny relative to the corpus, so it broadcasts to
  // both vec_id equi-joins and the embeddings table never shuffles —
  // the all-pairs cosine blowup (q32's baseline) is never touched.
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", expr("vec_norm(v)"))
    val cand = q61(s, dir)
    cand
      .join(e.select(col("vec_id").as("doc_a"), col("v").as("va"),
        col("norm").as("na")), "doc_a")
      .join(e.select(col("vec_id").as("doc_b"), col("v").as("vb"),
        col("norm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"), col("hamming"),
        (expr("dot_product(va, vb)") / (col("na") * col("nb"))).as("cos_sim"))
  }
  private val q84Sql =
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings)
      |SELECT c.doc_a, c.doc_b, c.n_shared_bands, c.hamming,
      |  LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) AS cos_sim
      |FROM ($q61Sql) c
      |JOIN e a ON a.vec_id = c.doc_a
      |JOIN e b ON b.vec_id = c.doc_b""".stripMargin

  // q85 — boilerplate-prefix detection: document openings repeated
  // across documents AND sources (site chrome, license headers, scraped
  // nav text — the stuff boilerplate-removal strips before training).
  // Grouping key is the first-2-word prefix: one partial-aggregatable
  // groupBy on a short string key — map-side combined, and a truly hot
  // boilerplate prefix is exactly the skew case ops/Salting handles.
  private def q85(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("prefix", array_join(slice(words(col("text")), 1, 2), " "))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 3 && col("n_sources") >= 2)
  private val q85Sql =
    """SELECT prefix, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  MIN(doc_id) AS first_doc
      |FROM (SELECT ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:2], ' ') AS prefix,
      |        source, doc_id
      |      FROM documents) t
      |GROUP BY prefix
      |HAVING COUNT(*) >= 3 AND COUNT(DISTINCT source) >= 2""".stripMargin

  // q65 — deterministic train/val/test split: the standard
  // hash-mod-100 assignment (80/10/10) every training-data pipeline
  // needs. Content-hash based, so the split is stable under
  // re-partitioning, re-ordering, incremental re-runs, and engine
  // choice — the property that makes downstream training reproducible.
  // Narrow per-row op + a tiny partial-agg rollup.
  private def q65(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("bucket", h60(col("text")) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("first_doc"))
  private val q65Sql =
    s"""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(doc_id) AS first_doc
      |FROM (SELECT doc_id, n_chars, ${h60Sql("text")} % 100 AS b FROM documents) t
      |GROUP BY 1""".stripMargin

  // q66 — stratified per-language sample: k deterministic exemplars per
  // lang, selected by content-hash order (stable, engine-independent —
  // rand()-based sampling would never hash-match an oracle). Runs
  // through the native TopKPerGroup operator: one streaming group-scan,
  // no window machinery, same shape at any corpus size.
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val hashed = docs(s, dir)
      .select(col("lang"), col("doc_id"), h60(col("text")).as("h"))
    graft.ops.TopK.perGroup(hashed, Seq("lang"),
      Seq(col("h").asc, col("doc_id").asc), 5, "pick")
      .select(col("lang"), col("doc_id"), col("pick"))
  }
  private val q66Sql =
    s"""SELECT lang, doc_id, pick FROM (
      |  SELECT lang, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ${h60Sql("text")} ASC, doc_id ASC) AS BIGINT) AS pick
      |  FROM documents) t
      |WHERE pick <= 5""".stripMargin

  // q89 — REAL subword tokenization ([[graft.functions.SubwordCountExpr]]):
  // greedy longest-match over a fixed vocab (BPE/WordPiece inference
  // rule), replacing the n_chars/4 and whitespace-count heuristics the
  // earlier text queries used. The trie walk is a native codegen'd
  // expression — per-row compiled loop, fully narrow, streams at scan
  // speed at 100 TB. The oracle replays the EXACT greedy algorithm with
  // a recursive CTE over the same literal vocab, per DISTINCT word
  // (bounded depth = max word length), then reassembles documents in
  // word order — both the token COUNT and the full token SEQUENCE
  // (via h60 of the joined tokens) are hash-gated, alongside the two
  // heuristics for comparison.
  private def q89(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      expr("subword_count(text)").as("n_tokens"),
      size(words(col("text"))).cast("long").as("n_ws_tokens"),
      expr("CAST(n_chars div 4 AS BIGINT)").as("est_tokens"),
      h60(array_join(expr("subword_tokenize(text)"), " ")).as("tokens_hash"))
  private lazy val vocabCte =
    s"vocab(tok) AS (VALUES ${graft.functions.SubwordVocab.sqlValues})"
  // Per-distinct-word greedy tokenization: state = (word, pos, tokens);
  // each step consumes the longest vocab match at pos (or one fallback
  // char), so recursion depth <= max word length. `done` holds the
  // unique final state per word.
  private lazy val subwordCte =
    s"""$vocabCte,
      |words AS (
      |  SELECT DISTINCT w FROM (
      |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents) x
      |  WHERE LEN(w) > 0),
      |st AS (
      |  SELECT w, 1 AS pos, CAST([] AS VARCHAR[]) AS toks FROM words
      |  UNION ALL
      |  SELECT w, pos + step, LIST_APPEND(toks, SUBSTRING(w, pos, step))
      |  FROM (
      |    SELECT w, pos, toks,
      |      COALESCE((SELECT MAX(LEN(tok)) FROM vocab
      |                WHERE tok = SUBSTRING(st.w, st.pos, LEN(tok))), 1) AS step
      |    FROM st WHERE pos <= LEN(w)) x),
      |wtok AS (SELECT w, toks FROM st WHERE pos > LEN(w)),
      |doc_words AS (
      |  SELECT doc_id, UNNEST(w) AS w, UNNEST(GENERATE_SERIES(1, LEN(w))) AS ord
      |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents) x),
      |doc_toks AS (
      |  SELECT dw.doc_id,
      |    FLATTEN(LIST(wt.toks ORDER BY dw.ord)) AS toks
      |  FROM doc_words dw JOIN wtok wt ON wt.w = dw.w
      |  GROUP BY dw.doc_id)""".stripMargin
  private lazy val q89Sql =
    s"""WITH RECURSIVE $subwordCte
      |SELECT d.doc_id,
      |  CAST(COALESCE(LEN(dt.toks), 0) AS BIGINT) AS n_tokens,
      |  CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(d.n_chars // 4 AS BIGINT) AS est_tokens,
      |  ${h60Sql("ARRAY_TO_STRING(COALESCE(dt.toks, []), ' ')")} AS tokens_hash
      |FROM documents d LEFT JOIN doc_toks dt ON dt.doc_id = d.doc_id""".stripMargin

  // q90 — q82's sequence packing re-based on REAL subword token counts
  // (the verdict of q89): same greedy per-shard streaming packing, same
  // oracle-pinned nShards=16, but the budget is now true vocab tokens —
  // what a dataloader actually batches. Narrow tokenize feeds one
  // shard shuffle; nothing else changes, which is the point of the
  // Packing operator taking the token column as an input.
  private def q90(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packGreedy(
      docs(s, dir),
      id = col("doc_id"),
      tokens = expr("subword_count(text)"),
      hash = h60(col("text")),
      budget = 2048L,
      nShards = 16)
  private lazy val q90Sql =
    s"""WITH RECURSIVE $subwordCte,
      |base AS (
      |  SELECT d.doc_id, ${h60Sql("d.text")} AS h,
      |    CAST(LEN(dt.toks) AS BIGINT) AS n_tokens
      |  FROM documents d JOIN doc_toks dt ON dt.doc_id = d.doc_id)
      |SELECT doc_id, shard, n_tokens,
      |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
      |FROM (
      |  SELECT doc_id, h % 16 AS shard, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY h % 16 ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM base) p""".stripMargin

  // q92 — unigram-LM quality scoring: the integer-exact analog of the
  // CCNet/KenLM perplexity filter — score each document by the mean
  // SURPRISAL of its subword tokens under the corpus's own unigram
  // model. Surprisal proxy = (total_tokens * 1000) div cnt(token):
  // monotone in -log p like q68's idf trick (ln() ulps differ across
  // libm builds and would break the bitwise gate), inducing the same
  // ranking — rare-token-heavy docs (junk, OCR noise) score high,
  // boilerplate scores low. Shape at 100 TB: the unigram table is
  // VOCAB-BOUNDED (vocab entries + fallback chars), so it broadcasts
  // with the total scalar; one tokenize pass feeds both the model
  // build and the scoring; the only full shuffle is the per-doc
  // partial-agg sum.
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(expr("subword_tokenize(text)")).as("tok"))
      .cache() // read twice: model build + scoring
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    toks.join(broadcast(freq), "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), expr("(total * 1000) div cnt").as("surprisal"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("surprisal")).as("sum_surprisal"))
      .select(col("doc_id"), col("n_tokens"), col("sum_surprisal"),
        (col("sum_surprisal").cast("double") / col("n_tokens")).as("avg_surprisal"))
  }
  private lazy val q92Sql =
    s"""WITH RECURSIVE $subwordCte,
      |tok AS (SELECT doc_id, UNNEST(toks) AS tok FROM doc_toks),
      |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM((total * 1000) // cnt) AS BIGINT) AS sum_surprisal,
      |  CAST(CAST(SUM((total * 1000) // cnt) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_surprisal
      |FROM tok JOIN freq USING (tok) CROSS JOIN tot
      |GROUP BY doc_id""".stripMargin

  // q93 — BPE merge induction (one training round): count adjacent
  // subword-token pairs WITHIN words across the corpus and rank the top
  // merge candidates — the statistic each BPE training iteration
  // greedily merges. Completes the tokenizer lifecycle: induce (here) →
  // tokenize (q89) → pack (q90) → score (q92). Pairs never cross word
  // boundaries (tokenization is per word); counts weight every word
  // OCCURRENCE, not distinct words. Shape: narrow per-word tokenize +
  // pair explode, one partial-agg count shuffle, global top-20 (a
  // 20-row ordered limit — TopK machinery is overkill for k·1 rows).
  private def q93(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .select(expr("subword_tokenize(w)").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .select(col("pair"), regexp_replace(col("pair"), " ", "").as("merged"),
        col("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)
  private lazy val q93Sql =
    s"""WITH RECURSIVE $subwordCte,
      |occ AS (
      |  SELECT wt.toks FROM doc_words dw
      |  JOIN wtok wt ON wt.w = dw.w
      |  WHERE LEN(wt.toks) >= 2),
      |p0 AS (
      |  SELECT UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS i, toks FROM occ),
      |pairs AS (SELECT toks[i] || ' ' || toks[i + 1] AS pair FROM p0)
      |SELECT pair, REPLACE(pair, ' ', '') AS merged, COUNT(*) AS cnt
      |FROM pairs GROUP BY pair
      |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin

  // q94 — substring-level (span) dedup statistics, the word-window form
  // of Lee et al.'s "Deduplicating Training Data Makes Language Models
  // Better" (arXiv:2107.06499) exact-substring pass: every sliding
  // 8-word window is hashed, a window is DUPLICATED if its exact text
  // occurs >= 2 times corpus-wide (within- or cross-document), and each
  // document reports what fraction of its spans are duplicated — the
  // signal used to cut boilerplate-heavy docs that exact (q13) and
  // near-dup (q17/q18) passes both miss. Window keys are h60(window
  // text), so the corpus-wide frequency count shuffles ~12 B/window,
  // never the text. Shape at 100 TB: narrow shingle pass → ONE shuffle
  // on the window hash (count over an unordered window frame — no
  // per-key state beyond the hash partition) → per-doc partial agg.
  // The suffix-array formulation in the paper is sequential; this
  // hash-window form is the standard distributed equivalent (dup
  // detection is exact for windows, positional extent is approximate).
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), words(col("text")).as("w"))
    val win = base.filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 7), i -> h60(array_join(slice(w, i, 8), ' ')))"))
        .as("k"))
    val freq = win.withColumn("freq",
      count(lit(1)).over(Window.partitionBy(col("k"))))
    val per = freq.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("freq") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
    base.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
          nullif(coalesce(col("n_windows"), lit(0L)), lit(0L))).as("dup_ratio"))
  }
  private val q94Sql =
    s"""WITH w AS (
      |  SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
      |pos AS (
      |  SELECT doc_id, ws,
      |    UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 7, 0))) AS i FROM w),
      |win AS (
      |  SELECT doc_id,
      |    ${h60Sql("ARRAY_TO_STRING(ws[i:i+7], ' ')")} AS k
      |  FROM pos),
      |f AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY k) AS freq FROM win),
      |per AS (
      |  SELECT doc_id, COUNT(*) AS n_windows,
      |    CAST(SUM(CASE WHEN freq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |  FROM f GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(per.n_windows, 0) AS n_windows,
      |  COALESCE(per.n_dup, 0) AS n_dup_spans,
      |  CAST(COALESCE(per.n_dup, 0) AS DOUBLE) /
      |    NULLIF(COALESCE(per.n_windows, 0), 0) AS dup_ratio
      |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin

  // q95 — HELD-OUT bigram-LM quality scoring: the two-model upgrade of
  // q92's unigram filter and the integer-exact analog of the CCNet/KenLM
  // wikipedia-perplexity gate — the model must be trained on data
  // DISJOINT from what it scores, or memorized boilerplate scores
  // artificially well. Split by doc_id parity (deterministic, portable);
  // the even half trains bigram counts, the odd half is scored with
  // add-one smoothing (unseen bigrams must cost something finite).
  // Surprisal proxy = ((cnt(prev) + V) * 1000) div (cnt(prev,cur) + 1)
  // — monotone in -log p(cur|prev) under add-one smoothing, exact
  // integers so both engines agree bitwise (see q92 for why not ln()).
  // Shape at 100 TB: the bigram/unigram model tables are VOCAB-BOUNDED
  // (vocab² worst case, far smaller in practice) → broadcast joins; the
  // only full shuffle is the per-doc partial-agg sum. The train scan and
  // score scan are one pass each over their halves.
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val bg = base.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(w) - 1), " +
        "i -> struct(element_at(w, i) AS prev, element_at(w, i + 1) AS cur))")).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
    val train = bg.filter(col("doc_id") % 2 === 0)
    val cntBg = train.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cbg"))
    val cntU = train.groupBy(col("prev")).agg(count(lit(1)).as("cu"))
    val vocab = base.filter(col("doc_id") % 2 === 0)
      .select(explode(col("w")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    bg.filter(col("doc_id") % 2 === 1)
      .join(broadcast(cntBg), Seq("prev", "cur"), "left")
      .join(broadcast(cntU), Seq("prev"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        expr("((coalesce(cu, 0) + v) * 1000) div (coalesce(cbg, 0) + 1)")
          .as("surprisal"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("surprisal")).as("sum_surprisal"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_surprisal"),
        (col("sum_surprisal").cast("double") / col("n_bigrams")).as("avg_surprisal"))
  }
  private val q95Sql =
    """WITH w AS (
      |  SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
      |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur
      |  FROM (SELECT doc_id, ws,
      |    UNNEST(GENERATE_SERIES(1, LEN(ws) - 1)) AS i FROM w)),
      |cbg AS (
      |  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg
      |  WHERE doc_id % 2 = 0 GROUP BY prev, cur),
      |cu AS (
      |  SELECT prev, CAST(COUNT(*) AS BIGINT) AS cu FROM bg
      |  WHERE doc_id % 2 = 0 GROUP BY prev),
      |vocab AS (
      |  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
      |  FROM (SELECT UNNEST(ws) AS tok FROM w WHERE doc_id % 2 = 0)),
      |scored AS (
      |  SELECT bg.doc_id,
      |    ((COALESCE(cu.cu, 0) + vocab.v) * 1000) // (COALESCE(cbg.cbg, 0) + 1)
      |      AS surprisal
      |  FROM bg
      |  LEFT JOIN cbg ON bg.prev = cbg.prev AND bg.cur = cbg.cur
      |  LEFT JOIN cu ON bg.prev = cu.prev
      |  CROSS JOIN vocab
      |  WHERE bg.doc_id % 2 = 1)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(surprisal) AS BIGINT) AS sum_surprisal,
      |  CAST(CAST(SUM(surprisal) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_surprisal
      |FROM scored GROUP BY doc_id""".stripMargin

  // q102 — tokenizer coverage / OOV audit: before committing a vocab to
  // a 100 TB tokenization run, measure per document how much of it the
  // vocab actually explains — the fraction of emitted tokens that are
  // single-char FALLBACKS (not vocab entries) and the fraction of
  // characters covered by real vocab matches. High OOV → wrong vocab
  // for the corpus (or wrong language / mojibake in the doc — this is
  // also a quality signal). Shape: narrow tokenize + explode, one
  // broadcast join against the vocab (vocab-bounded), one per-doc
  // partial agg. Ratios are single divisions of exact integers.
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val vocabDf = s.createDataFrame(
      graft.functions.SubwordVocab.Default.map(Tuple1(_)))
      .toDF("tok").withColumn("in_vocab", lit(1L))
    docs(s, dir)
      .select(col("doc_id"), explode(expr("subword_tokenize(text)")).as("tok"))
      .join(broadcast(vocabDf), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("in_vocab").isNotNull, length(col("tok")).cast("long"))
          .otherwise(0L)).as("covered_chars"),
        sum(length(col("tok")).cast("long")).as("token_chars"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_ratio"),
        col("covered_chars"), col("token_chars"),
        (col("covered_chars").cast("double") / col("token_chars"))
          .as("char_coverage"))
  }
  private lazy val q102Sql =
    s"""WITH RECURSIVE $subwordCte,
      |tk AS (SELECT doc_id, UNNEST(toks) AS tok FROM doc_toks),
      |j AS (
      |  SELECT tk.doc_id, tk.tok, (v.tok IS NOT NULL) AS iv
      |  FROM tk LEFT JOIN vocab v ON v.tok = tk.tok)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN NOT iv THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(CAST(SUM(CASE WHEN NOT iv THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
      |    / COUNT(*) AS oov_ratio,
      |  CAST(SUM(CASE WHEN iv THEN LEN(tok) ELSE 0 END) AS BIGINT) AS covered_chars,
      |  CAST(SUM(LEN(tok)) AS BIGINT) AS token_chars,
      |  CAST(CAST(SUM(CASE WHEN iv THEN LEN(tok) ELSE 0 END) AS BIGINT) AS DOUBLE)
      |    / CAST(SUM(LEN(tok)) AS BIGINT) AS char_coverage
      |FROM j GROUP BY doc_id""".stripMargin

  // q104 — collocation extraction by PMI score over adjacent word pairs
  // (the GloVe/word2vec-era statistic, still the standard corpus-
  // exploration tool): score ∝ p(a,b) / (p(a)·p(b)), kept exact as the
  // nested-integer-division proxy
  //   ((c_ab · Tu · 1000) div (c_a · c_b)) · Tu div Tb
  // (monotone in PMI at fixed counts; exact BIGINT at test scale — at
  // 100 TB token counts ~1e11 would overflow the first product, so the
  // scale form routes through DECIMAL(38,0) — same plan shape). Min
  // count 5 kills the noise floor, top-50 by (score, pair) is
  // deterministic. Shape: one bigram-count shuffle (partial-agg), two
  // broadcast joins against the vocab-bounded unigram table, global
  // ordered limit.
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val w = docs(s, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val uni = w.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tu = uni.agg(sum(col("c")).cast("long").as("tu"))
    val bg = w.select(explode(expr(
      "transform(sequence(1, size(w) - 1), " +
        "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val tb = bg.agg(sum(col("c_ab")).cast("long").as("tb"))
    bg.filter(col("c_ab") >= 5)
      .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c_a"))), "w1")
      .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c_b"))), "w2")
      .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        expr("((c_ab * tu * 1000) div (c_a * c_b)) * tu div tb").as("pmi_score"))
      .orderBy(col("pmi_score").desc, col("w1").asc, col("w2").asc)
      .limit(50)
  }
  private val q104Sql =
    """WITH w AS (
      |  SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
      |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
      |uni AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT UNNEST(ws) AS tok FROM w) GROUP BY tok),
      |tu AS (SELECT CAST(SUM(c) AS BIGINT) AS tu FROM uni),
      |bg AS (
      |  SELECT ws[i] AS w1, ws[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c_ab
      |  FROM (SELECT ws, UNNEST(GENERATE_SERIES(1, LEN(ws) - 1)) AS i FROM w)
      |  GROUP BY 1, 2),
      |tb AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS tb FROM bg)
      |SELECT bg.w1, bg.w2, bg.c_ab, a.c AS c_a, b.c AS c_b,
      |  ((bg.c_ab * tu.tu * 1000) // (a.c * b.c)) * tu.tu // tb.tb AS pmi_score
      |FROM bg
      |JOIN uni a ON a.tok = bg.w1
      |JOIN uni b ON b.tok = bg.w2
      |CROSS JOIN tu CROSS JOIN tb
      |WHERE bg.c_ab >= 5
      |ORDER BY pmi_score DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin

  // q110 — model-free document embeddings by FEATURE HASHING (the
  // "hashing trick", Weinberger et al. 2009): v[h(tok) mod 64] ±= 1
  // with the sign drawn from another hash bit — the signed variant that
  // keeps E[v·v'] equal to the true token-count inner product. This is
  // what a pipeline uses for clustering/dedup geometry when no learned
  // encoder is available (or affordable at 100 TB: it's one scan,
  // integer adds, no model service). Exact integers end to end; the
  // dense 64-vector is emitted as ordered CSV for the gate. Shape: one
  // (doc, dim) partial-agg shuffle + per-doc assembly — no vocabulary,
  // no broadcast, unbounded-vocab-proof by construction.
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val cells = docs(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), h60(col("tok")).as("h"))
      .select(col("doc_id"), (col("h") % 64).as("dim"),
        when(expr("h div 64") % 2 === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy(col("doc_id"), col("dim")).agg(sum(col("sgn")).as("s"))
    cells.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("s"))))
        .as("m"),
        sum(col("s") * col("s")).as("sq_norm"))
      .select(col("doc_id"),
        expr("array_join(transform(sequence(0, 63), " +
          "d -> CAST(coalesce(element_at(m, CAST(d AS BIGINT)), 0) AS STRING)), ',')")
          .as("vec_csv"),
        col("sq_norm"))
  }
  private val q110Sql =
    s"""WITH tok AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents) x
      |  WHERE LEN(tok) > 0),
      |hx AS (
      |  SELECT doc_id, h % 64 AS dim,
      |    CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT doc_id, ${h60Sql("tok")} AS h FROM tok) y),
      |cell AS (
      |  SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS s
      |  FROM hx GROUP BY doc_id, dim),
      |dense AS (
      |  SELECT ids.doc_id, g.d AS dim, COALESCE(c.s, 0) AS s
      |  FROM (SELECT DISTINCT doc_id FROM cell) ids
      |  CROSS JOIN range(0, 64) g(d)
      |  LEFT JOIN cell c ON c.doc_id = ids.doc_id AND c.dim = g.d)
      |SELECT doc_id,
      |  STRING_AGG(CAST(s AS VARCHAR), ',' ORDER BY dim) AS vec_csv,
      |  CAST(SUM(s * s) AS BIGINT) AS sq_norm
      |FROM dense GROUP BY doc_id""".stripMargin

  // q111 — deterministic corpus shuffle ([[graft.ops.GlobalIndex]]):
  // training-order construction. Epoch order must be (a) uniformly
  // "random" w.r.t. any natural key (source, time, length — batch-level
  // correlation hurts training), (b) reproducible run to run, and (c)
  // computable without a single-partition window. Order key =
  // h60(doc_id) with doc_id tie-break (total order), rank assigned by
  // the distributed zipWithIndex — range exchange + two narrow passes,
  // byte-equal to ROW_NUMBER over the same order (which is exactly what
  // the oracle replays). A new epoch = new salt concatenated into the
  // hash input.
  private def q111(s: SparkSession, dir: String): DataFrame =
    graft.ops.GlobalIndex.withDenseIndex(
        docs(s, dir).select(col("doc_id"),
          h60(col("doc_id").cast("string")).as("h")),
        "shuffle_rank", Seq(col("h"), col("doc_id")))
      .select(col("doc_id"), col("h").as("shuffle_key"), col("shuffle_rank"))
  private val q111Sql =
    s"""SELECT doc_id,
      |  ${h60Sql("CAST(doc_id AS VARCHAR)")} AS shuffle_key,
      |  CAST(ROW_NUMBER() OVER (
      |    ORDER BY ${h60Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS BIGINT)
      |    AS shuffle_rank
      |FROM documents""".stripMargin

  // q112 — pack MANIFEST: q90's packing plus each document's token
  // offset inside its pack — the (shard, pack, offset) triple a
  // dataloader actually reads; without it packing output is just bin
  // ids. Same one-exchange plan as q90 (the offset reuses the running
  // cumsum — see ops/Packing.packManifest); oracle extends q90's with
  // the same arithmetic.
  private def q112(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packManifest(
      docs(s, dir),
      id = col("doc_id"),
      tokens = expr("subword_count(text)"),
      hash = h60(col("text")),
      budget = 2048L,
      nShards = 16)
  private lazy val q112Sql =
    s"""WITH RECURSIVE $subwordCte,
      |base AS (
      |  SELECT d.doc_id, ${h60Sql("d.text")} AS h,
      |    CAST(LEN(dt.toks) AS BIGINT) AS n_tokens
      |  FROM documents d JOIN doc_toks dt ON dt.doc_id = d.doc_id)
      |SELECT doc_id, shard, n_tokens,
      |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
      |  CAST((cum - n_tokens) - ((cum - n_tokens) // 2048) * 2048 AS BIGINT)
      |    AS offset_tokens
      |FROM (
      |  SELECT doc_id, h % 16 AS shard, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY h % 16 ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM base) p""".stripMargin

  // q194 — retrieval-quality EVAL (MRR / hits@k): the measurement layer
  // over the retrieval stack — does BM25 surface the corpus's best
  // verbatim-overlap doc? Queries are a deterministic 1-in-20 doc
  // sample (the q87/q146 audit pattern); ground truth is each query's
  // exact n-gram-Jaccard top-1, found through the shingle join
  // (sub-quadratic — only docs sharing a shingle can be the top-1).
  // The retrieval UNIT is the 8-gram shingle, not the word token —
  // measured, not assumed: this corpus's token vocabulary is so small
  // that its rarest df≥2 token appears in 376 of 500 docs (and an
  // embedding-cosine gold was measured too: max top-1 cos 0.49 —
  // mutually near-orthogonal noise). Tokens and vectors are both
  // non-discriminative here; shingles are what retrieval can grip.
  // Each query searches with its 5 rarest MATCHABLE shingles (df ≥ 2
  // ascending — a df=1 shingle exists only in the query doc), scored
  // with q129's exact-integer BM25 rationals over shingle tf/df/dl.
  // The truth doc's rank is computed by COUNTING strictly-better docs
  // (score desc, doc_id asc) — rank-by-count needs no top-k
  // materialization and no global sort. Output: one summary row —
  // queries, queries with a gold neighbor, truth-scored count,
  // hits@1, hits@10, and MRR@10 in exact milli units (MRR over
  // queries that HAVE a gold neighbor).
  // Shape at 100 TB: tf/df/dl are partial-agg shuffles on the exploded
  // shingle stream; the per-query fan-out only carries the 5-term
  // posting lists; the truth side explodes only the 1-in-20 probe
  // sample against the shingle index; ranks come from one
  // (q, doc)-grouped count — no window over the corpus.
  // Storage: none — every shared frame recomputes and ReuseExchange
  // dedupes its shuffles inside the one final plan. A 7-vs-7
  // fine-interleaved A/B at sf0.1/local[32] (r11) chose it over caching
  // sh/ex/tf/scored (all four, or only sh/ex): per-run mins, none median
  // 6.44 s vs cache 10.75 s (-40%), equal best case (5.35 vs 5.41) — and
  // with zero storage the query CANNOT thrash under suite memory
  // pressure, which was the variance mechanism. All three variants
  // returned identical rows (checked at sf0.01). ARCHITECTURE §8.5 has
  // the full table.
  private def q194(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingled(s, dir)
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val nsh = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
    val tf = ex.groupBy(col("doc_id"), col("shingle"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) div count(1)").as("avgdl"))
    val dfreq = tf.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val qids = sh.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("q"))
    val truth = ex.filter(col("doc_id") % 20 === 0).as("a")
      .join(ex.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("q"), col("b.doc_id").as("d"))
      .agg(count(lit(1)).as("common"))
      .join(nsh.select(col("doc_id").as("q"), col("n_sh").as("n_q")), "q")
      .join(nsh.select(col("doc_id").as("d"), col("n_sh").as("n_d")), "d")
      .withColumn("jac", col("common").cast("double") /
        (col("n_q") + col("n_d") - col("common")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("jac").desc, col("d"))))
      .filter(col("rn") === 1)
      .select(col("q"), col("d").as("truth_id"))
    // query terms: the 5 rarest MATCHABLE shingles (df ≥ 2 — a df=1
    // shingle lives only in the query doc and can never retrieve)
    val qterms = tf.join(qids.select(col("q")), col("doc_id") === col("q"))
      .join(dfreq, Seq("shingle"))
      .filter(col("df") >= 2)
      .withColumn("r", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("df").asc, col("shingle").asc)))
      .filter(col("r") <= 5)
      .select(col("q"), col("shingle"))
    val scored = tf.join(qterms, Seq("shingle"))
      .filter(col("doc_id") =!= col("q"))
      .join(dfreq, Seq("shingle")).join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("q"), col("doc_id"),
        expr("(((2 * (n_docs - df) + 1) * 1000) div (2 * df + 1)) " +
          "* 22 * tf * avgdl div (10 * tf * avgdl + 3 * avgdl + 9 * dl)")
          .as("contrib"))
      .groupBy(col("q"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
    // r14: the truth row's rank IS its row_number in (score desc,
    // doc_id asc) order — one window over scored replaces the old
    // tscore join + better join + groupBy chain, which consumed scored
    // TWICE (and, stored nowhere, recomputed its whole BM25 subtree per
    // consumer). Tie semantics identical: the old
    // count of {score > ts OR (score = ts AND doc_id < truth_id)} + 1
    // is exactly row_number under this ordering; a truth doc absent
    // from scored yields no rank row in both forms.
    val ranks = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .join(truth.withColumnRenamed("q", "tq"),
        col("q") === col("tq") && col("doc_id") === col("truth_id"))
      .select(col("q"), col("rk").cast("long").as("rank"))
    qids.select(col("q"))
      .join(truth, Seq("q"), "left")
      .join(ranks, Seq("q"), "left")
      .agg(count(lit(1)).as("n_queries"),
        count(col("truth_id")).as("n_with_truth"),
        count(col("rank")).as("n_truth_ranked"),
        sum(when(col("rank") === 1L, 1L).otherwise(0L)).as("hits_at_1"),
        sum(when(col("rank") <= 10L, 1L).otherwise(0L)).as("hits_at_10"),
        sum(when(col("rank") <= 10L, expr("1000 div rank")).otherwise(0L))
          .as("sum_rr_milli"))
      .withColumn("mrr10_milli",
        expr("sum_rr_milli div nullif(n_with_truth, 0)"))
  }
  private lazy val q194Sql =
    s"""WITH shq AS ($shingledSql),
      |exq AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM shq),
      |nshq AS (SELECT doc_id, CAST(LEN(shingles) AS BIGINT) AS n_sh FROM shq),
      |tf AS (SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM exq GROUP BY doc_id, shingle),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY doc_id),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |                 CAST(SUM(dl) AS BIGINT) // COUNT(*) AS avgdl FROM dl),
      |dfreq AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
      |          FROM tf GROUP BY shingle),
      |qids AS (SELECT doc_id AS q FROM shq WHERE doc_id % 20 = 0),
      |truth AS (
      |  SELECT q, d AS truth_id FROM (
      |    SELECT pr.q, pr.d,
      |      ROW_NUMBER() OVER (PARTITION BY pr.q ORDER BY
      |        CAST(pr.common AS DOUBLE) / (nq.n_sh + nd.n_sh - pr.common)
      |          DESC, pr.d) AS rn
      |    FROM (
      |      SELECT a.doc_id AS q, b.doc_id AS d,
      |        CAST(COUNT(*) AS BIGINT) AS common
      |      FROM exq a JOIN exq b ON a.shingle = b.shingle
      |        AND a.doc_id <> b.doc_id
      |      WHERE a.doc_id % 20 = 0
      |      GROUP BY 1, 2) pr
      |    JOIN nshq nq ON nq.doc_id = pr.q
      |    JOIN nshq nd ON nd.doc_id = pr.d) t
      |  WHERE rn = 1),
      |qterms AS (
      |  SELECT q, shingle FROM (
      |    SELECT qi.q, tf.shingle, ROW_NUMBER() OVER (PARTITION BY qi.q
      |      ORDER BY f.df ASC, tf.shingle ASC) AS r
      |    FROM tf JOIN qids qi ON tf.doc_id = qi.q
      |    JOIN dfreq f USING (shingle)
      |    WHERE f.df >= 2) t
      |  WHERE r <= 5),
      |sc2 AS (
      |  SELECT qt.q, t.doc_id,
      |    CAST(SUM((((2 * (s.n_docs - f.df) + 1) * 1000) // (2 * f.df + 1))
      |      * 22 * t.tf * s.avgdl
      |      // (10 * t.tf * s.avgdl + 3 * s.avgdl + 9 * d.dl)) AS BIGINT)
      |      AS score
      |  FROM tf t JOIN qterms qt USING (shingle)
      |  JOIN dfreq f USING (shingle)
      |  JOIN dl d ON d.doc_id = t.doc_id
      |  CROSS JOIN stats s
      |  WHERE t.doc_id <> qt.q
      |  GROUP BY qt.q, t.doc_id),
      |ts2 AS (
      |  SELECT sc.q, tr.truth_id, sc.score AS ts
      |  FROM sc2 sc JOIN truth tr ON sc.q = tr.q AND sc.doc_id = tr.truth_id),
      |bc AS (
      |  SELECT ts2.q, CAST(COUNT(b.doc_id) AS BIGINT) AS nb
      |  FROM ts2 LEFT JOIN sc2 b ON b.q = ts2.q
      |    AND (b.score > ts2.ts
      |         OR (b.score = ts2.ts AND b.doc_id < ts2.truth_id))
      |  GROUP BY ts2.q),
      |ranks AS (SELECT q, nb + 1 AS rank FROM bc)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  CAST(COUNT(tr.truth_id) AS BIGINT) AS n_with_truth,
      |  CAST(COUNT(r.rank) AS BIGINT) AS n_truth_ranked,
      |  CAST(SUM(CASE WHEN r.rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hits_at_1,
      |  CAST(SUM(CASE WHEN r.rank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hits_at_10,
      |  CAST(SUM(CASE WHEN r.rank <= 10 THEN 1000 // r.rank ELSE 0 END)
      |    AS BIGINT) AS sum_rr_milli,
      |  CAST(SUM(CASE WHEN r.rank <= 10 THEN 1000 // r.rank ELSE 0 END)
      |    // NULLIF(COUNT(tr.truth_id), 0) AS BIGINT) AS mrr10_milli
      |FROM qids LEFT JOIN truth tr USING (q)
      |LEFT JOIN ranks r USING (q)""".stripMargin

  // q197 — CHARSET-CLASS audit: per source, the character-class
  // composition (alpha / digit / space / other, in permille of chars)
  // and its L1 deviation from the corpus-wide composition, in milli —
  // the cheap first-pass detector for mojibake, binary spill, or a
  // mis-decoded upstream feed (an ingest source whose class mix drifts
  // from the corpus norm gets quarantined before any tokenizer sees
  // it). Pure integer arithmetic; the class counters are
  // length-difference under regexp_replace (codegen'd, no UDF — and
  // note DuckDB needs the 'g' flag to match Spark's replace-all
  // default, a real cross-engine trap this oracle pins).
  // Shape at 100 TB: one narrow projection computing four counters per
  // doc, one partial-agg groupBy(source), a broadcast scalar corpus
  // row — no shuffle carries text.
  private def q197(s: SparkSession, dir: String): DataFrame = {
    def cnt(cls: String) =
      sum(length(col("text")) - length(regexp_replace(col("text"), cls, "")))
    val per = docs(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        cnt("[A-Za-z]").cast("long").as("n_alpha"),
        cnt("[0-9]").cast("long").as("n_digit"),
        cnt("[ ]").cast("long").as("n_space"))
      .withColumn("n_other",
        col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space"))
    val tot = per.agg(sum(col("n_chars")).as("t_chars"),
      sum(col("n_alpha")).as("t_alpha"), sum(col("n_digit")).as("t_digit"),
      sum(col("n_space")).as("t_space"), sum(col("n_other")).as("t_other"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_chars"),
        expr("n_alpha * 1000 div n_chars").as("alpha_pm"),
        expr("n_digit * 1000 div n_chars").as("digit_pm"),
        expr("n_space * 1000 div n_chars").as("space_pm"),
        expr("n_other * 1000 div n_chars").as("other_pm"),
        expr("abs(n_alpha * 1000 div n_chars - t_alpha * 1000 div t_chars)" +
          " + abs(n_digit * 1000 div n_chars - t_digit * 1000 div t_chars)" +
          " + abs(n_space * 1000 div n_chars - t_space * 1000 div t_chars)" +
          " + abs(n_other * 1000 div n_chars - t_other * 1000 div t_chars)")
          .as("l1_dev_milli"))
      .orderBy(col("source"))
  }
  private val q197Sql =
    """WITH per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
      |    CAST(SUM(LENGTH(text)
      |      - LENGTH(REGEXP_REPLACE(text, '[A-Za-z]', '', 'g'))) AS BIGINT)
      |      AS n_alpha,
      |    CAST(SUM(LENGTH(text)
      |      - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))) AS BIGINT)
      |      AS n_digit,
      |    CAST(SUM(LENGTH(text)
      |      - LENGTH(REGEXP_REPLACE(text, '[ ]', '', 'g'))) AS BIGINT)
      |      AS n_space
      |  FROM documents GROUP BY source),
      |p2 AS (
      |  SELECT *, n_chars - n_alpha - n_digit - n_space AS n_other FROM per),
      |tot AS (
      |  SELECT CAST(SUM(n_chars) AS BIGINT) AS t_chars,
      |    CAST(SUM(n_alpha) AS BIGINT) AS t_alpha,
      |    CAST(SUM(n_digit) AS BIGINT) AS t_digit,
      |    CAST(SUM(n_space) AS BIGINT) AS t_space,
      |    CAST(SUM(n_other) AS BIGINT) AS t_other
      |  FROM p2)
      |SELECT source, n_docs, n_chars,
      |  n_alpha * 1000 // n_chars AS alpha_pm,
      |  n_digit * 1000 // n_chars AS digit_pm,
      |  n_space * 1000 // n_chars AS space_pm,
      |  n_other * 1000 // n_chars AS other_pm,
      |  ABS(n_alpha * 1000 // n_chars - t_alpha * 1000 // t_chars)
      |    + ABS(n_digit * 1000 // n_chars - t_digit * 1000 // t_chars)
      |    + ABS(n_space * 1000 // n_chars - t_space * 1000 // t_chars)
      |    + ABS(n_other * 1000 // n_chars - t_other * 1000 // t_chars)
      |    AS l1_dev_milli
      |FROM p2 CROSS JOIN tot ORDER BY source""".stripMargin

  // q196 — cluster SEPARATION audit: q67 proves three clustering
  // formulations agree with each other; this query measures whether
  // the clusters mean anything — over the shingle-sharing candidate
  // pairs (probe-sampled 1-in-5 on the smaller endpoint, the
  // q146/q87 audit bound), exact Jaccard in permille, split into
  // INTRA-cluster vs INTER-cluster by q67's own labels. The decisive
  // column is n_strong (pairs with J ≥ 0.5): a correct clustering has
  // ZERO strong inter-cluster pairs — a true near-dup split across
  // clusters is a dedup recall bug — and every strong pair intra (the
  // spec pins both). The AVERAGES tell the precision story instead:
  // band transitive closure chains weakly-similar docs into large
  // clusters, so intra-avg sits near inter-avg (measured 12‰ vs 11‰
  // at sf0.01) while intra-max hits 989‰ — exactly the
  // closure-precision cost q133/q126's keeper policies exist to
  // absorb. A drifting SimHash banding would show up as strong pairs
  // leaking into inter long before dedup quality visibly rots.
  // Shape at 100 TB: the clustering is q67's membership propagation
  // (no pair graph); the audit pairs are (n/5)·n shingle-bounded; the
  // label join is two broadcast-size hash joins; output is a 2-row
  // partial agg.
  private def q196(s: SparkSession, dir: String): DataFrame = {
    val memberships = simhashed(s, dir)
      .select(col("doc_id"), posexplode(array((0 to 3).map(i =>
        shiftright(col("simhash"), i * 15).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band_idx", "band_val")))
      .select(col("doc_id").as("id"),
        (col("band_idx").cast("long") * 32768L + col("band_val")).as("bucket"))
    // consumed by both sides of the audit self-join and the length
    // table, all inside the pair audit's checkpoint job below, so it is
    // cached: unlike q194, the shingle stream here feeds a SELF-join,
    // and recomputing both sides costs more than the cached frame's
    // storage risk. Two same-boot 7-vs-7 interleaved A/Bs on 4 cores at
    // sf0.1 read cache 3.457 / none 3.354 s and cache 2.506 / none
    // 2.717 s on per-rep mins, with cache ahead on both medians (3.840
    // vs 4.144 s, 3.517 vs 3.594 s); r12 on 32 cores read cache 3.663 s
    // vs none 3.928 s (ARCHITECTURE §8.7).
    val sh = shingled(s, dir).cache()
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val nsh = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
    val pairJac = ex.filter(col("doc_id") % 5 === 0).as("a")
      .join(ex.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(nsh.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(nsh.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jac_pm",
        expr("common * 1000 div (n_a + n_b - common)"))
    // r15 (guide §2.6): the CC fixpoint and the exact-Jaccard pair audit
    // are independent until the final label joins — the fixpoint is a
    // serial driver loop (per-round convergence scalar) that left the
    // pair audit waiting behind it. Materialize both concurrently; the
    // audit pairs checkpoint at their post-aggregation (candidate-pair)
    // size, never the exploded token stream.
    val Seq(labeled, pairs) = graft.ops.Overlap.frames(Seq(
      () => graft.ops.ConnectedComponents.labelViaBuckets(memberships),
      () => pairJac.localCheckpoint(eager = true)))
    sh.unpersist() // its only reader, the pair-audit checkpoint, has run
    pairs
      .join(labeled.select(col("id").as("doc_a"), col("label").as("la")), "doc_a")
      .join(labeled.select(col("id").as("doc_b"), col("label").as("lb")), "doc_b")
      .withColumn("pair_class",
        when(col("la") === col("lb"), "intra").otherwise("inter"))
      .groupBy(col("pair_class"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jac_pm")).as("sum_jac"),
        max(col("jac_pm")).as("max_jac_permille"),
        sum(when(col("jac_pm") >= 500, 1L).otherwise(0L)).as("n_strong"))
      .select(col("pair_class"), col("n_pairs"),
        expr("sum_jac div n_pairs").as("avg_jac_permille"),
        col("max_jac_permille"), col("n_strong"))
      .orderBy(col("pair_class"))
  }
  private lazy val q196Sql =
    s"""WITH RECURSIVE $simhashSql,
      |banded AS (
      |  SELECT doc_id, i AS band_idx,
      |    (simhash >> CAST(i * 15 AS INT)) & 32767 AS band_val
      |  FROM sigs CROSS JOIN GENERATE_SERIES(0, 3) g(i)),
      |edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |    AND a.doc_id < b.doc_id),
      |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
      |${OracleCc.cc("SELECT doc_id AS id, doc_id AS label FROM sigs", "und")},
      |shq AS ($shingledSql),
      |exq AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM shq),
      |nshq AS (SELECT doc_id, CAST(LEN(shingles) AS BIGINT) AS n_sh FROM shq),
      |pr AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(COUNT(*) AS BIGINT) AS common
      |  FROM exq a JOIN exq b ON a.shingle = b.shingle
      |    AND a.doc_id < b.doc_id
      |  WHERE a.doc_id % 5 = 0
      |  GROUP BY 1, 2),
      |cls AS (
      |  SELECT CASE WHEN ca.cluster_id = cb.cluster_id
      |           THEN 'intra' ELSE 'inter' END AS pair_class,
      |    pr.common * 1000 // (na.n_sh + nb.n_sh - pr.common) AS jac_pm
      |  FROM pr
      |  JOIN comp ca ON ca.id = pr.doc_a
      |  JOIN comp cb ON cb.id = pr.doc_b
      |  JOIN nshq na ON na.doc_id = pr.doc_a
      |  JOIN nshq nb ON nb.doc_id = pr.doc_b)
      |SELECT pair_class, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(jac_pm) // COUNT(*) AS BIGINT) AS avg_jac_permille,
      |  CAST(MAX(jac_pm) AS BIGINT) AS max_jac_permille,
      |  CAST(SUM(CASE WHEN jac_pm >= 500 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_strong
      |FROM cls GROUP BY pair_class ORDER BY pair_class""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q196_cluster_separation", q196, Some(q196Sql)),
    QueryDef("q197_charset_audit", q197, Some(q197Sql)),
    QueryDef("q194_mrr_eval", q194, Some(q194Sql)),
    QueryDef("q13_exact_dedup", q13, Some(q13Sql)),
    QueryDef("q14_text_stats", q14, Some(q14Sql)),
    QueryDef("q15_token_topk", q15, Some(q15Sql)),
    QueryDef("q16_ngram_jaccard", q16, Some(q16Sql)),
    QueryDef("q17_minhash_signatures", q17, Some(q17Sql)),
    QueryDef("q204_minhash_rowform", q204, Some(q204Sql)),
    QueryDef("q18_simhash", q18, Some(q18Sql)),
    QueryDef("q19_lang_id", q19, Some(q19Sql)),
    QueryDef("q26_fingerprints", q26, Some(q26Sql)),
    QueryDef("q57_jaccard_dfcap", q57, Some(q57Sql)),
    QueryDef("q58_dedup_fingerprint", q58, Some(q58Sql)),
    QueryDef("q61_simhash_neardup", q61, Some(q61Sql)),
    QueryDef("q65_hash_split", q65, Some(q65Sql)),
    QueryDef("q66_stratified_sample", q66, Some(q66Sql)),
    QueryDef("q67_neardup_clusters", q67, Some(q67Sql)),
    QueryDef("q68_tfidf_topk", q68, Some(q68Sql)),
    QueryDef("q69_token_chunks", q69, Some(q69Sql)),
    QueryDef("q71_decontaminate", q71, Some(q71Sql)),
    QueryDef("q73_minhash_estimate", q73, Some(q73Sql)),
    QueryDef("q75_quality_gate", q75, Some(q75Sql)),
    QueryDef("q77_repetition_signals", q77, Some(q77Sql)),
    QueryDef("q78_bloom_decontaminate", q78, Some(q78Sql)),
    QueryDef("q81_source_mixture", q81, Some(q81Sql)),
    QueryDef("q82_sequence_packing", q82, Some(q82Sql)),
    QueryDef("q84_hybrid_neardup", q84, Some(q84Sql)),
    QueryDef("q85_boilerplate_prefixes", q85, Some(q85Sql)),
    QueryDef("q89_subword_tokens", q89, Some(q89Sql)),
    QueryDef("q90_subword_packing", q90, Some(q90Sql)),
    QueryDef("q91_clusters_altcc", q91, Some(q67Sql)),
    QueryDef("q92_unigram_surprisal", q92, Some(q92Sql)),
    QueryDef("q93_bpe_merges", q93, Some(q93Sql)),
    QueryDef("q94_span_dedup", q94, Some(q94Sql)),
    QueryDef("q95_bigram_surprisal", q95, Some(q95Sql)),
    QueryDef("q102_vocab_coverage", q102, Some(q102Sql)),
    QueryDef("q104_pmi_collocations", q104, Some(q104Sql)),
    QueryDef("q110_feature_hashing", q110, Some(q110Sql)),
    QueryDef("q111_corpus_shuffle", q111, Some(q111Sql)),
    QueryDef("q112_pack_manifest", q112, Some(q112Sql)),
    QueryDef("q125_incremental_neardup", q125, Some(q125Sql)),
    QueryDef("q126_corpus_clean", q126, Some(q126Sql)),
    QueryDef("q129_bm25_rank", q129, Some(q129Sql)),
    QueryDef("q132_prefix_join", q132, Some(q132Sql)),
    QueryDef("q133_dedup_by_source", q133, Some(q133Sql)),
    QueryDef("q134_cluster_histogram", q134, Some(q134Sql)),
    QueryDef("q135_rrf_fusion", q135, Some(q135Sql)),
    QueryDef("q136_containment_join", q136, Some(q136Sql)),
    QueryDef("q137_kmv_distinct", q137, Some(q137Sql)),
    QueryDef("q138_kmv_overlap", q138, Some(q138Sql)),
    QueryDef("q140_countmin_freq", q140, Some(q140Sql)),
    QueryDef("q141_vocab_growth", q141, Some(q141Sql)),
    QueryDef("q142_hll_distinct", q142, Some(q142Sql)),
    QueryDef("q146_lsh_sweep", q146, Some(q146Sql)),
    QueryDef("q147_split_leakage", q147, Some(q147Sql)),
    QueryDef("q149_sorted_neighborhood", q149, Some(q149Sql)),
    QueryDef("q150_span_corruption", q150, Some(q150Sql)),
    QueryDef("q151_chat_template", q151, Some(q151Sql)),
    QueryDef("q152_curriculum_order", q152, Some(q152Sql)),
    QueryDef("q153_span_cut", q153, Some(q153Sql)),
    QueryDef("q155_quantile_norm", q155, Some(q155Sql)),
    QueryDef("q156_contamination_ratio", q156, Some(q156Sql)),
    QueryDef("q157_tokenizer_fertility", q157, Some(q157Sql)),
    QueryDef("q161_dedup_keeper", q161, Some(q161Sql)),
    QueryDef("q162_neyman_allocation", q162, Some(q162Sql)),
    QueryDef("q168_simhash_calibration", q168, Some(q168Sql)),
    QueryDef("q169_template_lint", q169, Some(q169Sql)),
    QueryDef("q170_packing_efficiency", q170, Some(q170Sql)),
    QueryDef("q171_training_funnel", q171, Some(q171Sql)),
  )
}
