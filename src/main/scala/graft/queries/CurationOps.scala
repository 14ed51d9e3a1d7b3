package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.load
import graft.QueryDef

/** Corpus-curation operators the dedup/quality families don't cover:
  * PII scrubbing, blocked fuzzy entity resolution, inverted-index
  * construction, deterministic weighted sampling, and length-bucketed
  * batch construction. Reference scope: the reference ETL
  * (`/root/reference/Main.py:140-176`) cleans and filters articles but
  * has no privacy, linkage, or training-batch stage — these are the
  * standard extensions a production training-data pipeline adds on top.
  *
  * Cross-engine determinism follows the TextOps conventions: hashes are
  * md5-derived 60-bit integers, scores are exact-integer arithmetic, and
  * every regex below sticks to the syntax subset (classes, bounded
  * repetition, non-capturing groups, `\b`) where Java regex (Spark) and
  * RE2 (DuckDB) agree on leftmost-greedy semantics — no alternation
  * whose leftmost-first vs leftmost-longest resolution could differ.
  */
object CurationOps {

  /** 60-bit portable hash (same contract as TextOps.h60 — the native
    * [[graft.functions.H60Expr]]). */
  private def h60(c: Column): Column =
    graft.functions.H60Expr.column(c)
  private def h60Sql(e: String): String =
    s"CAST('0x' || SUBSTRING(MD5($e), 1, 15) AS BIGINT)"

  /** Single-file documents parquet → spread across the session's
    * parallelism before per-row regex/hash work (see TextOps.docs). */
  private def docs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .repartition(s.sessionState.conf.numShufflePartitions)

  // ---------------------------------------------------------------------
  // q113 — PII detection + redaction. The corpus is synthetic word salad,
  // so the query first plants deterministic PII (an email, a phone, an
  // IPv4 derived from doc_id) and then detects/redacts it — proving the
  // scrub finds what is provably there, the same shape as seeding a
  // canary into a privacy filter. Patterns are the portable-regex subset
  // (see object scaladoc). Redaction order (email → ip → phone) is fixed
  // so both engines transform identically; output carries md5(redacted)
  // rather than the redacted text to keep the compared surface small.
  // Shape at 100 TB: fully narrow — per-row regex work, no shuffle; the
  // regexes compile once per codegen'd task, not per row.
  // ---------------------------------------------------------------------
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val dirty = docs(s, dir).select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0."), (col("doc_id") % 250).cast("string")).as("t"))
    val counts = graft.ops.PiiScrub.detect(col("t")).toMap
    dirty.select(
      col("doc_id"),
      counts("email").as("n_emails"),
      counts("phone").as("n_phones"),
      counts("ipv4").as("n_ips"),
      md5(graft.ops.PiiScrub.redact(col("t"))).as("red_md5"))
  }
  private val q113Sql =
    """WITH dirty AS (
      |  SELECT doc_id,
      |    text || ' Contact user' || CAST(doc_id AS VARCHAR)
      |      || '@example.com or 555-'
      |      || LPAD(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
      |      || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
      |      || '.0.' || CAST(doc_id % 250 AS VARCHAR) AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
      |  MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
      |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS red_md5
      |FROM dirty""".stripMargin

  // ---------------------------------------------------------------------
  // q114 — blocked fuzzy entity resolution (record linkage). A "dirty"
  // feed is derived from customer names by deleting the vowels u/o
  // (edit distance 2 from the clean form), then linked back: candidate
  // generation by BLOCKING KEY (last 5 characters — digits survive the
  // perturbation), scoring by Levenshtein, best match = min (distance,
  // custkey) per dirty record via the native TopKPerGroup operator.
  // Shape at 100 TB: the block key turns an O(n²) all-pairs string
  // comparison into an equi-join whose per-key fan-out is the block
  // size — the same candidate-bounding role the LSH bands play for
  // near-dup (q17) — with one load-bearing condition the r09 sf1 probe
  // made measurable: block-key CARDINALITY must scale with the corpus.
  // The original last-3 key held a fixed 1000 blocks, so block depth
  // grew ∝ n and the join was O(n²/1000) — 95× wall-clock at 10× rows;
  // last-5 scales the block count with the keyspace and restored ~linear.
  // Skewed blocks get the q88 salted-join treatment; Levenshtein runs
  // only on candidates, never all pairs.
  // ---------------------------------------------------------------------
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val clean = load(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    val dirty = clean.select(
      col("c_custkey").as("dirty_key"),
      regexp_replace(col("c_name"), "[uo]", "").as("dirty_name"))
    val cand = dirty
      .withColumn("blk", expr("right(dirty_name, 5)"))
      .join(clean.withColumn("blk", expr("right(c_name, 5)")), Seq("blk"))
      .withColumn("dist", levenshtein(col("dirty_name"), col("c_name")).cast("long"))
      .filter(col("dist") <= 2)
    graft.ops.TopK.perGroup(
        cand, Seq("dirty_key"), Seq(col("dist"), col("c_custkey")), k = 1)
      .select(col("dirty_key"), col("c_custkey").as("match_key"), col("dist"))
  }
  private val q114Sql =
    """WITH dirty AS (
      |  SELECT c_custkey AS dirty_key,
      |         REGEXP_REPLACE(c_name, '[uo]', '', 'g') AS dirty_name
      |  FROM customer),
      |cand AS (
      |  SELECT d.dirty_key, c.c_custkey AS match_key,
      |         CAST(LEVENSHTEIN(d.dirty_name, c.c_name) AS BIGINT) AS dist
      |  FROM dirty d JOIN customer c ON RIGHT(d.dirty_name, 5) = RIGHT(c.c_name, 5)
      |  WHERE LEVENSHTEIN(d.dirty_name, c.c_name) <= 2),
      |r AS (SELECT *, ROW_NUMBER() OVER (
      |        PARTITION BY dirty_key ORDER BY dist, match_key) AS rn FROM cand)
      |SELECT dirty_key, match_key, dist FROM r WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // q115 — inverted index (term → document-frequency + capped posting
  // list). Postings are capped at the 10 smallest doc_ids (a champion
  // list); only terms with df >= 20 are emitted. One shuffle computes
  // df and the per-term rank in the same window sort; the final group
  // re-uses the hash partitioning.
  // Shape at 100 TB: the cap is the load-bearing decision — an UNCAPPED
  // collect_list materializes a stopword's entire posting list (10^8
  // ids) on one reducer; capping at k keeps per-key state O(k)
  // regardless of term skew (same argument as BoundedCollectAggregator
  // in q57). df itself stays a partial-aggregatable count.
  // ---------------------------------------------------------------------
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val w = Window.partitionBy(col("term"))
    t.withColumn("df", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("doc_id"))))
      .filter(col("df") >= 20 && col("rn") <= 10)
      .groupBy(col("term"), col("df"))
      .agg(expr(
        "array_join(transform(sort_array(collect_list(doc_id)), x -> CAST(x AS STRING)), ',')")
        .as("postings"))
      .select(col("term"), col("df"), col("postings"))
  }
  private val q115Sql =
    """WITH raw AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
      |t AS (SELECT DISTINCT doc_id, term FROM raw),
      |g AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |             LIST(doc_id ORDER BY doc_id) AS l
      |      FROM t GROUP BY term)
      |SELECT term, df, ARRAY_TO_STRING(l[1:10], ',') AS postings
      |FROM g WHERE df >= 20""".stripMargin

  // ---------------------------------------------------------------------
  // q116 — deterministic weighted sampling without replacement
  // (integerized priority sampling / A-ES): each doc draws a portable
  // uniform u = h60(doc_id) and gets priority key u div weight — a
  // monotone integer proxy for the u^(1/w) exponential-keys scheme
  // (higher weight → smaller key in expectation); the sample is the
  // global 200 smallest (key, doc_id). Exact integers end-to-end, so
  // both engines select the identical sample — the float pow()/ln()
  // forms would be 1-ulp-fragile at the selection boundary (the q107
  // lesson). Weight = n_chars (longer docs oversampled ∝ length, the
  // standard token-budget weighting).
  // Shape at 100 TB: global top-k compiles to TakeOrderedAndProject —
  // per-partition heaps of 200, no global sort, no full shuffle.
  // ---------------------------------------------------------------------
  private def q116(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(col("n_chars") > 0)
      .withColumn("u", h60(col("doc_id").cast("string")))
      .select(
        col("doc_id"), col("n_chars").as("weight"),
        expr("u div n_chars").as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(200)
  private val q116Sql =
    s"""WITH k AS (
      |  SELECT doc_id, n_chars AS weight,
      |         ${h60Sql("CAST(doc_id AS VARCHAR)")} // n_chars AS priority
      |  FROM documents WHERE n_chars > 0)
      |SELECT doc_id, weight, priority FROM k
      |ORDER BY priority, doc_id LIMIT 200""".stripMargin

  // ---------------------------------------------------------------------
  // q117 — length-bucketed batch construction (dynamic batching): docs
  // are binned by estimated token length (64-token-wide buckets), each
  // bucket is split into batches of 32 docs in doc_id order, and each
  // batch reports its padding waste = n_docs·max_tokens − Σtokens — the
  // cost a dataloader pays to pad a batch to its longest member, and
  // the number length-grouping exists to minimize. All integers.
  // Shape at 100 TB: one shuffle, partitioned by bucket; bucket
  // cardinality is bounded (max_len/64) so a hot bucket is the skew
  // case — there you'd sub-shard by doc_id range (ops/GlobalIndex gives
  // contiguous positions per shard) instead of one window per bucket.
  // ---------------------------------------------------------------------
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(
      col("doc_id"),
      expr("n_chars div 4").as("est_tokens"),
      expr("(n_chars div 4) div 64").as("bucket"))
    base
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("bucket")).orderBy(col("doc_id"))))
      .withColumn("batch_id", expr("(rn - 1) div 32"))
      .groupBy(col("bucket"), col("batch_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("est_tokens")).as("max_tok"),
        sum(col("est_tokens")).as("tok_sum"))
      .select(
        col("bucket"), col("batch_id"), col("n_docs"), col("max_tok"),
        col("tok_sum"),
        (col("n_docs") * col("max_tok") - col("tok_sum")).as("waste"))
  }
  private val q117Sql =
    """WITH base AS (
      |  SELECT doc_id, n_chars // 4 AS est_tokens,
      |         (n_chars // 4) // 64 AS bucket
      |  FROM documents),
      |rn AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY bucket ORDER BY doc_id) AS rn FROM base),
      |b AS (
      |  SELECT bucket, (rn - 1) // 32 AS batch_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         MAX(est_tokens) AS max_tok,
      |         CAST(SUM(est_tokens) AS BIGINT) AS tok_sum
      |  FROM rn GROUP BY bucket, (rn - 1) // 32)
      |SELECT bucket, batch_id, n_docs, max_tok, tok_sum,
      |       CAST(n_docs * max_tok - tok_sum AS BIGINT) AS waste
      |FROM b""".stripMargin

  // ---------------------------------------------------------------------
  // q118 — DSIR-style importance resampling (Xie et al. 2023, arXiv:
  // 2302.03169): select raw-corpus docs that look most like a TARGET
  // distribution (here lang='en') by importance weight p_target/p_raw
  // under unigram bag-of-words models. Integer proxy per the q92/q95
  // convention: surprisal(w|model) = ((N + V)·1000) div (cnt(w)+1)
  // (add-one smoothed, monotone in -log p), log-weight = Σ_tokens
  // (surprisal_raw − surprisal_target) — positive ⇒ the target model
  // explains the doc better than the raw model. Output = top-100 docs
  // by weight, the resampling front-runners.
  // Shape at 100 TB: both unigram tables are VOCAB-BOUNDED → broadcast
  // to the token stream (no shuffle of the corpus); the only wide op is
  // the per-doc partial-agg sum; top-100 is a TakeOrdered heap.
  // ---------------------------------------------------------------------
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
    val raw = tok.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("lang") === "en")
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
    val scal = raw.agg(
      sum(col("cr")).as("nr"), count(lit(1)).as("v"))
    val scat = tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    tok.join(broadcast(raw), Seq("w"))
      .join(broadcast(tgt), Seq("w"), "left")
      .crossJoin(broadcast(scal)).crossJoin(broadcast(scat))
      .select(col("doc_id"), col("lang"),
        expr("((nr + v) * 1000) div (cr + 1) - ((nt + v) * 1000) div (coalesce(ct, 0) + 1)")
          .as("lw"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lw")).as("logweight"))
      .orderBy(col("logweight").desc, col("doc_id"))
      .limit(100)
  }
  private val q118Sql =
    """WITH tok AS (
      |  SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
      |raw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cr FROM tok GROUP BY w),
      |tgt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ct
      |        FROM tok WHERE lang = 'en' GROUP BY w),
      |scal AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr,
      |                CAST(COUNT(*) AS BIGINT) AS v FROM raw),
      |scat AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM tgt),
      |sc AS (
      |  SELECT doc_id, lang,
      |    ((nr + v) * 1000) // (cr + 1)
      |      - ((nt + v) * 1000) // (COALESCE(ct, 0) + 1) AS lw
      |  FROM tok JOIN raw USING (w) LEFT JOIN tgt USING (w)
      |  CROSS JOIN scal CROSS JOIN scat)
      |SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |       CAST(SUM(lw) AS BIGINT) AS logweight
      |FROM sc GROUP BY doc_id, lang
      |ORDER BY logweight DESC, doc_id LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // q119 — k-anonymity audit: group events by quasi-identifier tuple
  // (event_type, hour-of-day, 50-unit value band) and report every
  // group whose DISTINCT USER count is below k=5 — the groups where a
  // released aggregate would re-identify users. The privacy twin of
  // q113: PII scrubbing removes direct identifiers, this audits the
  // indirect ones. Band edges are floor(value/50) — IEEE double floor,
  // bit-identical in both engines.
  // Shape at 100 TB: one partial-agg shuffle on the QID tuple;
  // count(distinct user) rewrites to the standard two-phase expand —
  // QID cardinality is bounded (types × 24 × bands), so the final
  // reduce is tiny regardless of input size.
  // ---------------------------------------------------------------------
  private def q119(s: SparkSession, dir: String): DataFrame =
    graft.Tables.loadEvents(s, dir)
      .select(col("event_type"),
        hour(col("ts")).cast("long").as("hod"),
        expr("CAST(FLOOR(value / 50) AS BIGINT)").as("vband"),
        col("user_id"))
      .groupBy(col("event_type"), col("hod"), col("vband"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"))
      .filter(col("n_users") < 5)
  private val q119Sql =
    """SELECT event_type, CAST(HOUR(ts) AS BIGINT) AS hod,
      |       CAST(FLOOR(value / 50) AS BIGINT) AS vband,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events
      |GROUP BY event_type, HOUR(ts), FLOOR(value / 50)
      |HAVING COUNT(DISTINCT user_id) < 5""".stripMargin

  // ---------------------------------------------------------------------
  // q120 — robust outlier detection via MAD (median absolute deviation):
  // per event type, med = exact median of value, mad = exact median of
  // |value − med|, outlier ⇔ |value − med| > 1.5·mad. The median/MAD
  // pair is the robust replacement for q107's mean/stddev z-score — a
  // few extreme values cannot move the fences. Threshold 1.5 is a knob
  // (≈3.5 is conventional for Gaussian data; 1.5 exercises the filter
  // on this near-uniform synthetic distribution). All arithmetic is
  // IEEE-exact cross-engine: PERCENTILE_DISC returns an actual data
  // value, |x−m| and 1.5·m are single double ops.
  // Shape at 100 TB: exact per-group medians need a sort per group —
  // two passes over a 5-group key are cheap here; at real scale the
  // approx twin (q40's GK sketch) replaces pass one and this query
  // becomes the audit that bounds its error.
  // ---------------------------------------------------------------------
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.loadEvents(s, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
        sum(when(col("dev") > lit(1.5) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        min(when(col("dev") > lit(1.5) * col("mad"), col("value")))
          .as("min_outlier"),
        max(when(col("dev") > lit(1.5) * col("mad"), col("value")))
          .as("max_outlier"))
  }
  private val q120Sql =
    """WITH med AS (
      |  SELECT event_type,
      |         PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY value) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS dev
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type,
      |         PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY dev) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, ANY_VALUE(d.med) AS med, ANY_VALUE(a.mad) AS mad,
      |       CAST(SUM(CASE WHEN d.dev > 1.5 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_outliers,
      |       MIN(CASE WHEN d.dev > 1.5 * a.mad THEN d.value END) AS min_outlier,
      |       MAX(CASE WHEN d.dev > 1.5 * a.mad THEN d.value END) AS max_outlier
      |FROM dev d JOIN mad a USING (event_type)
      |GROUP BY d.event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q123 — distribution-drift report (the PSI/KL-monitoring shape in
  // exact integers): split lineitem into a BASELINE window (shipped
  // before mid-1998, the corpus midpoint) and a CURRENT window, histogram both over the SAME
  // fixed 20-bucket grid (global cents bounds, q109's integer-exact
  // bucketing), and report per-bucket population shares in permille
  // plus their absolute drift — the monitoring report that catches a
  // pipeline silently changing its input mix. Proper PSI multiplies by
  // ln(cur/base); the per-bucket share delta is the ln-free integer
  // core (monotone signal per bucket), kept exact so both engines
  // agree bitwise (the q92 reasoning: libm ulps break the gate).
  // Shape at 100 TB: one bounds scan, then ONE pass computing both
  // histograms as conditional partial aggs — the two windows never
  // materialize separately.
  // ---------------------------------------------------------------------
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("xm"),
        (col("l_shipdate") < lit("1998-06-01").cast("timestamp")).as("is_base"))
    val bounds = li.agg(min(col("xm")).as("mn"), max(col("xm")).as("mx"))
    val hist = li.crossJoin(broadcast(bounds))
      .select(expr("((xm - mn) * 20) div (mx - mn + 1)").as("bucket"), col("is_base"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_cur"))
    val totals = hist.agg(sum(col("n_base")).as("t_base"), sum(col("n_cur")).as("t_cur"))
    hist.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        expr("(n_base * 1000) div t_base").as("base_permille"),
        expr("(n_cur * 1000) div t_cur").as("cur_permille"),
        expr("abs((n_base * 1000) div t_base - (n_cur * 1000) div t_cur)")
          .as("drift_permille"))
  }
  private val q123Sql =
    """WITH li AS (
      |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xm,
      |         l_shipdate < TIMESTAMP '1998-06-01' AS is_base
      |  FROM lineitem),
      |b AS (SELECT MIN(xm) AS mn, MAX(xm) AS mx FROM li),
      |hist AS (
      |  SELECT ((xm - mn) * 20) // (mx - mn + 1) AS bucket,
      |         CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
      |         CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
      |  FROM li CROSS JOIN b GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_base) AS BIGINT) AS t_base,
      |             CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM hist)
      |SELECT bucket, n_base, n_cur,
      |       (n_base * 1000) // t_base AS base_permille,
      |       (n_cur * 1000) // t_cur AS cur_permille,
      |       ABS((n_base * 1000) // t_base - (n_cur * 1000) // t_cur)
      |         AS drift_permille
      |FROM hist CROSS JOIN t""".stripMargin

  // ---------------------------------------------------------------------
  // q124 — triangle counting / graph closure over a co-occurrence graph:
  // users are connected iff they were active in the same (event_type,
  // hour) group of AT MOST 10 users — the df-cap rule (q57/q115) applied
  // to graph construction: a hot group of k users would emit k²/2 edges,
  // so unboundedly-popular contexts are excluded by the same bounded-
  // state argument, and per-group edge fan-out is ≤ 45. Triangles are
  // counted on DEGREE-ORIENTED edges (each edge points from the
  // (degree, id)-smaller endpoint to the larger — the node-iterator
  // bound: every wedge is enumerated at its lowest-degree vertex, total
  // work O(m^1.5) instead of Σdeg²), then one equi-join closes wedges.
  // Output: one row of graph statistics with the oriented wedge-closure
  // rate (triangles per oriented wedge — each triangle closes exactly
  // one) in exact permille.
  // ---------------------------------------------------------------------
  private def q124(s: SparkSession, dir: String): DataFrame = {
    val act = graft.Tables.loadEvents(s, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"), col("user_id"))
      .distinct()
    val grp = act.withColumn("gsz",
        count(lit(1)).over(Window.partitionBy(col("event_type"), col("hr"))))
      .filter(col("gsz") <= 10)
    val edges = grp.alias("a")
      .join(grp.alias("b"), Seq("event_type", "hr"))
      .filter(col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .distinct()
      // r14: four consumers (deg twice via the union, the wedge-closing
      // semi-join, n_edges) each re-derived the window + group self-join
      // + distinct subtree, leaning on AQE exchange reuse; caching the
      // normalized edge list (2 longs/row) shares it outright
      .cache()
    val deg = edges.select(col("u").as("n")).union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .cache()
    val wedges = oriented.alias("e1")
      .join(oriented.alias("e2"), Seq("src"))
      .filter(col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("b"), col("e2.dst").as("c"))
    // a triangle's wedge closes through the UNDIRECTED edge (b, c);
    // (b, c) is b<c-normalized, matching `edges`' (u, v) normal form
    val tri = wedges.join(edges,
      col("b") === col("u") && col("c") === col("v"), "left_semi")
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val nWedges = wedges.agg(count(lit(1)).as("n_wedges"))
    val nTri = tri.agg(count(lit(1)).as("n_triangles"))
    // cross-scale: scalar-frames — all four operands are 1-row aggs
    nNodes.crossJoin(nEdges).crossJoin(nWedges).crossJoin(nTri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("(n_triangles * 1000) div nullif(n_wedges, 0)").as("closure_permille"))
  }
  private val q124Sql =
    """WITH act AS (
      |  SELECT DISTINCT event_type, DATE_TRUNC('hour', ts) AS hr, user_id
      |  FROM events),
      |grp AS (
      |  SELECT event_type, hr, user_id,
      |         COUNT(*) OVER (PARTITION BY event_type, hr) AS gsz
      |  FROM act),
      |small AS (SELECT * FROM grp WHERE gsz <= 10),
      |edges AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM small a JOIN small b
      |    ON a.event_type = b.event_type AND a.hr = b.hr
      |   AND a.user_id < b.user_id),
      |deg AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
      |  GROUP BY n),
      |oriented AS (
      |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
      |         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst
      |  FROM edges
      |  JOIN deg da ON da.n = u
      |  JOIN deg db ON db.n = v,
      |  LATERAL (SELECT da.d AS du, db.d AS dv) x),
      |wedges AS (
      |  SELECT e1.dst AS b, e2.dst AS c
      |  FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
      |  WHERE e1.dst < e2.dst),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles FROM wedges w
      |  WHERE EXISTS (SELECT 1 FROM edges e WHERE e.u = w.b AND e.v = w.c)),
      |stats AS (
      |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
      |         (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
      |         (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges,
      |         (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |       (n_triangles * 1000) // NULLIF(n_wedges, 0) AS closure_permille
      |FROM stats""".stripMargin

  // ---------------------------------------------------------------------
  // q143 — quality-classifier DISTILLATION: two exact batch-perceptron
  // training rounds that compress the heuristic keep/drop gate into a
  // linear model over cheap integer features (bias, n_words, n_distinct,
  // n_chars, n_stopwords). This is the standard curation bootstrap
  // (CCNet/fastText-style): label with a rule, train a cheap linear
  // scorer, deploy the scorer where the rule is too slow or too brittle.
  // Everything is exact integer arithmetic — labels are ±1, round-1
  // weights are Σ y·x (all rows are margin-0 mistakes under zero init),
  // round 2 re-scores with w1, updates on y·score ≤ 0 mistakes only,
  // and the final pass reports training accuracy under w2 — so both
  // engines land on bit-identical weights and counts; no learning-rate
  // float ever appears (η=1, the classic perceptron).
  // Shape at 100 TB: the feature pass is narrow and computed ONCE
  // (cached here; a feature-store write in production); each round is
  // one 6-number partial aggregation with the weight vector broadcast
  // back as a single-row frame — rounds cost one scan each, no shuffle
  // wider than 6 numbers, so dozens of epochs stay cheap. Mini-batch
  // SGD drops in by gating the update on a hash of doc_id (the q65
  // deterministic-split trick) instead of full-batch.
  // ---------------------------------------------------------------------
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val ft = docs(s, dir)
      .withColumn("w", split(col("text"), " "))
      .select(
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        length(col("text")).cast("long").as("n_chars"),
        expr("count_in(w, 'the', 'a', 'of', 'and', 'to')").as("n_stop"))
      .withColumn("y",
        when(col("n_words").between(40, 200) &&
          col("n_distinct") * 10 >= col("n_words") * 3, 1L).otherwise(-1L))
      .cache()
    // round 1: zero init → every row is a (margin 0) mistake → w1 = Σ y·x
    val w1 = ft.agg(
      sum(col("y")).as("b1"),
      sum(col("y") * col("n_words")).as("ww1"),
      sum(col("y") * col("n_distinct")).as("wd1"),
      sum(col("y") * col("n_chars")).as("wc1"),
      sum(col("y") * col("n_stop")).as("ws1"))
    // round 2: score with w1, update on mistakes (y·score ≤ 0) only
    val s2 = ft.crossJoin(broadcast(w1))
      .withColumn("score",
        col("b1") + col("ww1") * col("n_words") + col("wd1") * col("n_distinct") +
          col("wc1") * col("n_chars") + col("ws1") * col("n_stop"))
    val mist = col("y") * col("score") <= 0
    val w2 = s2.agg(
      first(col("b1")).as("b1"), first(col("ww1")).as("ww1"),
      first(col("wd1")).as("wd1"), first(col("wc1")).as("wc1"),
      first(col("ws1")).as("ws1"),
      sum(when(mist, col("y")).otherwise(0L)).as("gb"),
      sum(when(mist, col("y") * col("n_words")).otherwise(0L)).as("gw"),
      sum(when(mist, col("y") * col("n_distinct")).otherwise(0L)).as("gd"),
      sum(when(mist, col("y") * col("n_chars")).otherwise(0L)).as("gc"),
      sum(when(mist, col("y") * col("n_stop")).otherwise(0L)).as("gs"),
      sum(when(mist, 1L).otherwise(0L)).as("n_mistakes_r2"))
      .select(
        (col("b1") + col("gb")).as("b2"), (col("ww1") + col("gw")).as("ww2"),
        (col("wd1") + col("gd")).as("wd2"), (col("wc1") + col("gc")).as("wc2"),
        (col("ws1") + col("gs")).as("ws2"), col("n_mistakes_r2"))
    // evaluation pass: training accuracy under the round-2 weights
    ft.crossJoin(broadcast(w2))
      .withColumn("score2",
        col("b2") + col("ww2") * col("n_words") + col("wd2") * col("n_distinct") +
          col("wc2") * col("n_chars") + col("ws2") * col("n_stop"))
      .agg(
        first(col("b2")).as("w_bias"), first(col("ww2")).as("w_words"),
        first(col("wd2")).as("w_distinct"), first(col("wc2")).as("w_chars"),
        first(col("ws2")).as("w_stop"),
        first(col("n_mistakes_r2")).as("n_mistakes_r2"),
        sum(when(col("y") * col("score2") > 0, 1L).otherwise(0L))
          .as("n_correct"),
        count(lit(1)).as("n_total"))
  }
  private val q143Sql =
    """WITH ft AS (
      |  SELECT CAST(LEN(w) AS BIGINT) AS n_words,
      |    CAST(LEN(LIST_DISTINCT(w)) AS BIGINT) AS n_distinct,
      |    CAST(LENGTH(text) AS BIGINT) AS n_chars,
      |    CAST(LEN(LIST_FILTER(w, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop,
      |    CASE WHEN LEN(w) BETWEEN 40 AND 200
      |           AND LEN(LIST_DISTINCT(w)) * 10 >= LEN(w) * 3
      |         THEN 1 ELSE -1 END AS y
      |  FROM (SELECT text, STRING_SPLIT(text, ' ') AS w FROM documents) t),
      |w1 AS (
      |  SELECT CAST(SUM(y) AS BIGINT) AS b1,
      |    CAST(SUM(y * n_words) AS BIGINT) AS ww1,
      |    CAST(SUM(y * n_distinct) AS BIGINT) AS wd1,
      |    CAST(SUM(y * n_chars) AS BIGINT) AS wc1,
      |    CAST(SUM(y * n_stop) AS BIGINT) AS ws1
      |  FROM ft),
      |s2 AS (
      |  SELECT ft.*, w1.*,
      |    b1 + ww1 * n_words + wd1 * n_distinct + wc1 * n_chars + ws1 * n_stop AS score
      |  FROM ft, w1),
      |w2 AS (
      |  SELECT
      |    ANY_VALUE(b1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y END), 0) AS BIGINT) AS b2,
      |    ANY_VALUE(ww1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y * n_words END), 0) AS BIGINT) AS ww2,
      |    ANY_VALUE(wd1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y * n_distinct END), 0) AS BIGINT) AS wd2,
      |    ANY_VALUE(wc1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y * n_chars END), 0) AS BIGINT) AS wc2,
      |    ANY_VALUE(ws1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y * n_stop END), 0) AS BIGINT) AS ws2,
      |    CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN 1 END), 0) AS BIGINT) AS n_mistakes_r2
      |  FROM s2)
      |SELECT ANY_VALUE(b2) AS w_bias, ANY_VALUE(ww2) AS w_words,
      |  ANY_VALUE(wd2) AS w_distinct, ANY_VALUE(wc2) AS w_chars,
      |  ANY_VALUE(ws2) AS w_stop, ANY_VALUE(n_mistakes_r2) AS n_mistakes_r2,
      |  CAST(SUM(CASE WHEN y * (b2 + ww2 * n_words + wd2 * n_distinct
      |    + wc2 * n_chars + ws2 * n_stop) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(COUNT(*) AS BIGINT) AS n_total
      |FROM ft, w2""".stripMargin

  // q178 — PREFERENCE-pair construction (the DPO/RLHF data-assembly
  // step): within each (source, lang) stratum, rank documents by an
  // integer quality score (lexical diversity in permille — distinct
  // words per word) and pair the k-th best with the k-th worst while
  // the margin clears a floor. The two rankings are exact duals
  // ((score DESC, id ASC) vs (score ASC, id DESC)), so r_bot =
  // n − r_top + 1 and pairs with k ≤ n/2 are provably disjoint — no
  // doc is ever its own rejected twin. Deterministic: integer scores,
  // total tie-break on doc_id.
  // Shape at 100 TB: both window ranks and the pair join share the ONE
  // (source, lang)-keyed exchange (same partitioning — the second sort
  // is local); the join matches on (group, k) so its fan-out is 1:1.
  // Strata are bounded by the curation design (per-source shards), so
  // no partition outgrows an executor; a viral stratum would surface
  // in q158's skew report first.
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir).select(
      col("doc_id"), col("source"), col("lang"),
      expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000" +
        " div NULLIF(CAST(size(split(text, ' ')) AS BIGINT), 0)").as("score"))
      .filter(col("score").isNotNull)
    val grp = Window.partitionBy(col("source"), col("lang"))
    val ranked = scored
      .withColumn("r_top", row_number()
        .over(grp.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .withColumn("r_bot", row_number()
        .over(grp.orderBy(col("score").asc, col("doc_id").desc)).cast("long"))
      .withColumn("n", count(lit(1)).over(grp))
    val top = ranked.select(col("source"), col("lang"),
      col("r_top").as("pair_k"), col("doc_id").as("chosen_id"),
      col("score").as("chosen_score"), col("n"))
    val bot = ranked.select(col("source").as("b_source"),
      col("lang").as("b_lang"), col("r_bot"),
      col("doc_id").as("rejected_id"), col("score").as("rejected_score"))
    top.join(bot, col("source") === col("b_source") &&
        col("lang") === col("b_lang") && col("pair_k") === col("r_bot"))
      .filter(col("pair_k") <= expr("n div 2") &&
        col("chosen_score") - col("rejected_score") >= 50)
      .select(col("source"), col("lang"), col("pair_k"),
        col("chosen_id"), col("rejected_id"),
        col("chosen_score"), col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
  }
  private val q178Sql =
    """WITH scored AS (
      |  SELECT doc_id, source, lang,
      |    LEN(LIST_DISTINCT(STR_SPLIT(text, ' '))) * 1000
      |      // NULLIF(LEN(STR_SPLIT(text, ' ')), 0) AS score
      |  FROM documents),
      |nn AS (SELECT * FROM scored WHERE score IS NOT NULL),
      |ranked AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source, lang
      |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r_top,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source, lang
      |      ORDER BY score ASC, doc_id DESC) AS BIGINT) AS r_bot,
      |    COUNT(*) OVER (PARTITION BY source, lang) AS n
      |  FROM nn)
      |SELECT t.source, t.lang, t.r_top AS pair_k,
      |  t.doc_id AS chosen_id, b.doc_id AS rejected_id,
      |  t.score AS chosen_score, b.score AS rejected_score,
      |  t.score - b.score AS margin
      |FROM ranked t JOIN ranked b
      |  ON t.source = b.source AND t.lang = b.lang AND t.r_top = b.r_bot
      |WHERE t.r_top <= t.n // 2 AND t.score - b.score >= 50""".stripMargin

  // q198 — scorer CALIBRATION curve: the deployment audit for q143's
  // distilled quality scorer. Every doc is re-scored with the round-2
  // perceptron weights, rank-bucketed into score deciles (ntile —
  // global window, audit shape; the production form buckets against
  // broadcast GK quantile boundaries from q138's machinery), and each
  // decile reports its rule-label positive rate in permille — the
  // reliability diagram a curation owner reads before replacing the
  // rule with the scorer. A well-ordered scorer shows the rate rising
  // across deciles (the spec pins top ≫ bottom); a flat curve means
  // the linear model failed to compress the rule and must not ship.
  // All integer: weights, scores, counts, permilles.
  // Shape at 100 TB: one cached narrow feature pass, two 6-number
  // broadcast aggregates (q143's rounds), one broadcast re-score
  // projection; only the decile ntile is presentation-scale.
  private def q198(s: SparkSession, dir: String): DataFrame = {
    val ft = docs(s, dir)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        length(col("text")).cast("long").as("n_chars"),
        expr("count_in(w, 'the', 'a', 'of', 'and', 'to')").as("n_stop"))
      .withColumn("y",
        when(col("n_words").between(40, 200) &&
          col("n_distinct") * 10 >= col("n_words") * 3, 1L).otherwise(-1L))
      .cache()
    val w1 = ft.agg(
      sum(col("y")).as("b1"),
      sum(col("y") * col("n_words")).as("ww1"),
      sum(col("y") * col("n_distinct")).as("wd1"),
      sum(col("y") * col("n_chars")).as("wc1"),
      sum(col("y") * col("n_stop")).as("ws1"))
    val s2 = ft.crossJoin(broadcast(w1))
      .withColumn("score",
        col("b1") + col("ww1") * col("n_words") + col("wd1") * col("n_distinct") +
          col("wc1") * col("n_chars") + col("ws1") * col("n_stop"))
    val mist = col("y") * col("score") <= 0
    val w2 = s2.agg(
      first(col("b1")).as("b1"), first(col("ww1")).as("ww1"),
      first(col("wd1")).as("wd1"), first(col("wc1")).as("wc1"),
      first(col("ws1")).as("ws1"),
      sum(when(mist, col("y")).otherwise(0L)).as("gb"),
      sum(when(mist, col("y") * col("n_words")).otherwise(0L)).as("gw"),
      sum(when(mist, col("y") * col("n_distinct")).otherwise(0L)).as("gd"),
      sum(when(mist, col("y") * col("n_chars")).otherwise(0L)).as("gc"),
      sum(when(mist, col("y") * col("n_stop")).otherwise(0L)).as("gs"))
      .select(
        (col("b1") + col("gb")).as("b2"), (col("ww1") + col("gw")).as("ww2"),
        (col("wd1") + col("gd")).as("wd2"), (col("wc1") + col("gc")).as("wc2"),
        (col("ws1") + col("gs")).as("ws2"))
    ft.crossJoin(broadcast(w2))
      .withColumn("score2",
        col("b2") + col("ww2") * col("n_words") + col("wd2") * col("n_distinct") +
          col("wc2") * col("n_chars") + col("ws2") * col("n_stop"))
      .withColumn("decile", ntile(10).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score2"), col("doc_id"))).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        min(col("score2")).as("min_score"), max(col("score2")).as("max_score"))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        expr("n_pos * 1000 div n_docs").as("pos_rate_permille"),
        col("min_score"), col("max_score"))
      .orderBy(col("decile"))
  }
  private val q198Sql =
    """WITH ft AS (
      |  SELECT doc_id, CAST(LEN(w) AS BIGINT) AS n_words,
      |    CAST(LEN(LIST_DISTINCT(w)) AS BIGINT) AS n_distinct,
      |    CAST(LENGTH(text) AS BIGINT) AS n_chars,
      |    CAST(LEN(LIST_FILTER(w, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop,
      |    CASE WHEN LEN(w) BETWEEN 40 AND 200
      |           AND LEN(LIST_DISTINCT(w)) * 10 >= LEN(w) * 3
      |         THEN 1 ELSE -1 END AS y
      |  FROM (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS w FROM documents) t),
      |w1 AS (
      |  SELECT CAST(SUM(y) AS BIGINT) AS b1,
      |    CAST(SUM(y * n_words) AS BIGINT) AS ww1,
      |    CAST(SUM(y * n_distinct) AS BIGINT) AS wd1,
      |    CAST(SUM(y * n_chars) AS BIGINT) AS wc1,
      |    CAST(SUM(y * n_stop) AS BIGINT) AS ws1
      |  FROM ft),
      |s2 AS (
      |  SELECT ft.*, w1.*,
      |    b1 + ww1 * n_words + wd1 * n_distinct + wc1 * n_chars + ws1 * n_stop AS score
      |  FROM ft, w1),
      |w2 AS (
      |  SELECT
      |    ANY_VALUE(b1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y END), 0) AS BIGINT) AS b2,
      |    ANY_VALUE(ww1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y * n_words END), 0) AS BIGINT) AS ww2,
      |    ANY_VALUE(wd1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y * n_distinct END), 0) AS BIGINT) AS wd2,
      |    ANY_VALUE(wc1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y * n_chars END), 0) AS BIGINT) AS wc2,
      |    ANY_VALUE(ws1) + CAST(COALESCE(SUM(CASE WHEN y * score <= 0 THEN y * n_stop END), 0) AS BIGINT) AS ws2
      |  FROM s2),
      |sc AS (
      |  SELECT ft.doc_id, ft.y,
      |    b2 + ww2 * n_words + wd2 * n_distinct + wc2 * n_chars + ws2 * n_stop AS score2
      |  FROM ft, w2),
      |dec AS (
      |  SELECT y, score2,
      |    CAST(NTILE(10) OVER (ORDER BY score2, doc_id) AS BIGINT) AS decile
      |  FROM sc)
      |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
      |    AS pos_rate_permille,
      |  CAST(MIN(score2) AS BIGINT) AS min_score,
      |  CAST(MAX(score2) AS BIGINT) AS max_score
      |FROM dec GROUP BY decile ORDER BY decile""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q198_score_calibration", q198, Some(q198Sql)),
    QueryDef("q113_pii_redaction", q113, Some(q113Sql)),
    QueryDef("q114_fuzzy_match", q114, Some(q114Sql)),
    QueryDef("q115_inverted_index", q115, Some(q115Sql)),
    QueryDef("q116_weighted_sample", q116, Some(q116Sql)),
    QueryDef("q117_length_batching", q117, Some(q117Sql)),
    QueryDef("q118_dsir_resample", q118, Some(q118Sql)),
    QueryDef("q119_k_anonymity", q119, Some(q119Sql)),
    QueryDef("q120_mad_outliers", q120, Some(q120Sql)),
    QueryDef("q123_drift_report", q123, Some(q123Sql)),
    QueryDef("q124_triangle_count", q124, Some(q124Sql)),
    QueryDef("q143_perceptron_round", q143, Some(q143Sql)),
    QueryDef("q178_preference_pairs", q178, Some(q178Sql)),
    QueryDef("q181_token_budget", q181, Some(q181Sql)),
    QueryDef("q188_dataset_card", q188, Some(q188Sql)),
    QueryDef("q190_signal_agreement", q190, Some(q190Sql)),
  )

  // q188 — DATASET CARD: the one-row datasheet a corpus release ships
  // with (Gebru et al., "Datasheets for Datasets") — doc/source/lang
  // counts, char and token totals, exact-duplicate mass, and the
  // embedding side's shape, all in one schema-stable row. Each panel is
  // an independent scan-level aggregate; the exact-dup panel reuses the
  // q13/q58 fingerprint-groupBy shape.
  // Shape at 100 TB: three full-scan aggregates (each map-side combined
  // to one row per task), one fingerprint groupBy on 16-byte keys —
  // then three one-row broadcasts cross-joined. Nothing wide ever
  // shuffles; the card costs two passes over metadata columns plus one
  // over md5(text).
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val doc = d.agg(count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"),
      expr("CAST(SUM(n_chars div 4) AS BIGINT)").as("est_tokens"))
    val dup = d.groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_unique_texts"),
        sum(expr("c - 1")).as("n_dup_docs"))
    val emb = load(s, dir, "embeddings").agg(
      count(lit(1)).as("n_vecs"),
      max(size(col("embedding"))).cast("long").as("dims"))
    doc.crossJoin(broadcast(dup)).crossJoin(broadcast(emb))
      .withColumn("dup_permille", expr("n_dup_docs * 1000 div n_docs"))
  }
  private val q188Sql =
    """WITH doc AS (
      |  SELECT COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
      |    COUNT(DISTINCT lang) AS n_langs,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |    CAST(SUM(n_chars // 4) AS BIGINT) AS est_tokens
      |  FROM documents),
      |dup AS (
      |  SELECT COUNT(*) AS n_unique_texts,
      |    CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs
      |  FROM (SELECT COUNT(*) AS c FROM documents GROUP BY MD5(text)) t),
      |emb AS (
      |  SELECT COUNT(*) AS n_vecs, CAST(MAX(LEN(embedding)) AS BIGINT) AS dims
      |  FROM embeddings)
      |SELECT doc.*, dup.*, emb.*,
      |  CAST(n_dup_docs * 1000 // n_docs AS BIGINT) AS dup_permille
      |FROM doc, dup, emb""".stripMargin

  // q190 — quality-SIGNAL agreement: do two cheap per-doc quality
  // signals rank documents the same way? Spearman's rho per source
  // between lexical diversity (distinct words ‰) and mean word length
  // (chars-per-word ‰), from exact integer ranks: rho = 1 −
  // 6Σd²/(n(n²−1)), published as the exact permille (den − 6Σd²)·1000
  // div den. Ties broken by doc_id on BOTH rankings (the documented
  // deterministic proxy — both engines walk identical sequences).
  // Low agreement means the signals measure different things (keep
  // both in the q75 gate); high means one is redundant.
  // Shape at 100 TB: ranks are windows WITHIN source strata (bounded,
  // never a global sort), and both windows plus the final aggregate
  // share the one source-keyed exchange.
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir).select(col("source"), col("doc_id"),
      expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000" +
        " div NULLIF(CAST(size(split(text, ' ')) AS BIGINT), 0)").as("s1"),
      expr("CAST(n_chars AS BIGINT) * 1000" +
        " div NULLIF(CAST(size(split(text, ' ')) AS BIGINT), 0)").as("s2"))
      .filter(col("s1").isNotNull && col("s2").isNotNull)
    val grp = Window.partitionBy(col("source"))
    val ranked = scored
      .withColumn("r1", row_number()
        .over(grp.orderBy(col("s1"), col("doc_id"))).cast("long"))
      .withColumn("r2", row_number()
        .over(grp.orderBy(col("s2"), col("doc_id"))).cast("long"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("(r1 - r2) * (r1 - r2)")).as("sum_d2"))
      .withColumn("den", expr("n_docs * (n_docs * n_docs - 1)"))
      .withColumn("rho_permille",
        expr("(den - 6 * sum_d2) * 1000 div NULLIF(den, 0)"))
      .select(col("source"), col("n_docs"), col("sum_d2"),
        col("rho_permille"))
      .orderBy(col("source"))
  }
  private val q190Sql =
    """WITH scored AS (
      |  SELECT source, doc_id,
      |    LEN(LIST_DISTINCT(STR_SPLIT(text, ' '))) * 1000
      |      // NULLIF(LEN(STR_SPLIT(text, ' ')), 0) AS s1,
      |    n_chars * 1000 // NULLIF(LEN(STR_SPLIT(text, ' ')), 0) AS s2
      |  FROM documents),
      |nn AS (SELECT * FROM scored WHERE s1 IS NOT NULL AND s2 IS NOT NULL),
      |ranked AS (
      |  SELECT source,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY s1, doc_id)
      |      AS BIGINT) AS r1,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY s2, doc_id)
      |      AS BIGINT) AS r2
      |  FROM nn),
      |agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2
      |  FROM ranked GROUP BY source)
      |SELECT source, n_docs, sum_d2,
      |  CAST((n_docs * (n_docs * n_docs - 1) - 6 * sum_d2) * 1000
      |    // NULLIF(n_docs * (n_docs * n_docs - 1), 0) AS BIGINT)
      |    AS rho_permille
      |FROM agg ORDER BY source""".stripMargin

  // q181 — token-BUDGET planner (the data-mixing ledger): given a total
  // training budget and q81's deterministic per-source mixture weights,
  // compute each source's available tokens (n_chars div 4, the q14
  // estimator), its floored proportional allocation, and the implied
  // epoch count in permille — then the Muennighoff-style repetition
  // decision: ≤1 epoch "unique", ≤4 epochs "repeat" (quality holds
  // through ~4 epochs), beyond that "exhausted" (the source cannot fill
  // its allocation without degrading). All integer arithmetic — budget,
  // weights, allocations and permille epochs are exact in both engines.
  // Shape at 100 TB: one narrow pass + a partial-aggregatable groupBy
  // to |sources| rows; the weight-total is a broadcast one-row scalar.
  // The plan itself never touches text — it reads one long column.
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000000L
    val perSrc = docs(s, dir)
      .select(col("source"), expr("n_chars div 4").as("est_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("est_tokens")).as("avail_tokens"))
      .withColumn("weight_permille", h60(col("source")) % 800 + 100)
    val tot = perSrc.agg(sum(col("weight_permille")).as("sum_w"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("alloc_tokens", expr(s"$budget * weight_permille div sum_w"))
      .withColumn("epochs_permille",
        expr("alloc_tokens * 1000 div NULLIF(avail_tokens, 0)"))
      .withColumn("decision", when(col("epochs_permille") <= 1000, "unique")
        .when(col("epochs_permille") <= 4000, "repeat")
        .otherwise("exhausted"))
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        col("weight_permille"), col("alloc_tokens"),
        col("epochs_permille"), col("decision"))
      .orderBy(col("source"))
  }
  private val q181Sql =
    s"""WITH per AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(n_chars // 4) AS BIGINT) AS avail_tokens,
      |    ${h60Sql("source")} % 800 + 100 AS weight_permille
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(weight_permille) AS BIGINT) AS sum_w FROM per),
      |alloc AS (
      |  SELECT source, n_docs, avail_tokens, weight_permille,
      |    CAST(1000000 * weight_permille // sum_w AS BIGINT) AS alloc_tokens
      |  FROM per, tot),
      |ep AS (
      |  SELECT *, CAST(alloc_tokens * 1000 // NULLIF(avail_tokens, 0)
      |    AS BIGINT) AS epochs_permille
      |  FROM alloc)
      |SELECT source, n_docs, avail_tokens, weight_permille, alloc_tokens,
      |  epochs_permille,
      |  CASE WHEN epochs_permille <= 1000 THEN 'unique'
      |       WHEN epochs_permille <= 4000 THEN 'repeat'
      |       ELSE 'exhausted' END AS decision
      |FROM ep ORDER BY source""".stripMargin
}
