package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + shape checks for every catalog query at sf0.001. The real
  * correctness gate is the driver's DuckDB hash-compare (replayed locally
  * by tools/local_verify.py at sf0.01); these tests catch regressions
  * cheaply inside `sbt test`.
  */
class QueryCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("catalog names are unique (a duplicate would shadow a query in the Map)") {
    val names = QueryDef.all.map(_.name)
    assert(names.distinct.length == names.length,
      s"duplicates: ${names.diff(names.distinct)}")
  }

  test("every query has an oracle") {
    // Round 7: the set of documented omissions is EMPTY — q72 (the last
    // holdout) now gates its sketch claims via exact twins + tolerance
    // booleans; keep it empty.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  for (q <- QueryDef.all) {
    test(s"${q.name} runs at sf0.001") {
      val df = q.fn(spark, dir)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("q1 row counts reconcile with the filtered scan") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, dir).collect()
    val expected = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") <= org.apache.spark.sql.functions.lit("1998-09-02").cast("timestamp"))
      .count()
    assert(rows.map(_.getAs[Long]("count_order")).sum == expected)
  }

  test("q20 returns exactly 5 neighbors per vector") {
    val rows = SparkEntry.queries("q20_cosine_topk")(spark, dir)
      .groupBy("vec_id").count().collect()
    assert(rows.forall(_.getAs[Long]("count") == 5L))
  }

  test("q13 dedup covers every document") {
    val n = SparkEntry.queries("q13_exact_dedup")(spark, dir).count()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(n <= total && n > 0)
  }

  test("q94 reports every document once; dup spans bounded by window count") {
    val rows = SparkEntry.queries("q94_span_dedup")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == total)
    rows.foreach { r =>
      val (n, d) = (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_spans"))
      assert(d >= 0 && d <= n)
      if (n == 0) assert(r.isNullAt(r.fieldIndex("dup_ratio")))
      else assert(math.abs(r.getAs[Double]("dup_ratio") - d.toDouble / n) == 0.0)
    }
    // the generator duplicates spans across docs — the signal is non-trivial
    assert(rows.map(_.getAs[Long]("n_dup_spans")).sum > 0)
  }

  test("q95 scores only held-out (odd doc_id) docs with positive surprisal") {
    val rows = SparkEntry.queries("q95_bigram_surprisal")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 2 == 1) // train half never scored
      val (n, s) = (r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_surprisal"))
      assert(n > 0 && s > 0)
      assert(math.abs(r.getAs[Double]("avg_surprisal") - s.toDouble / n) == 0.0)
    }
  }

  test("q113 finds every planted PII item; redaction is reflected in the hash") {
    val rows = SparkEntry.queries("q113_pii_redaction")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") >= 1)
      assert(r.getAs[Long]("n_phones") >= 1)
      assert(r.getAs[Long]("n_ips") >= 1)
      assert(r.getAs[String]("red_md5").length == 32)
    }
  }

  test("q114 links every dirty record back to its own customer at distance 2") {
    val rows = SparkEntry.queries("q114_fuzzy_match")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/customer.parquet").count()
    assert(rows.length == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("dirty_key") == r.getAs[Long]("match_key"))
      assert(r.getAs[Long]("dist") == 2L)
    }
  }

  test("q115 caps postings at 10 and honors the df floor") {
    val rows = SparkEntry.queries("q115_inverted_index")(spark, dir).collect()
    rows.foreach { r =>
      val df = r.getAs[Long]("df")
      val ids = r.getAs[String]("postings").split(',').map(_.toLong)
      assert(df >= 20)
      assert(ids.length == math.min(df, 10L))
      assert(ids.sorted.sameElements(ids)) // ascending doc_ids
    }
  }

  test("q116 draws min(200, corpus) docs in ascending priority order") {
    val rows = SparkEntry.queries("q116_weighted_sample")(spark, dir).collect()
    val eligible = spark.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("n_chars") > 0).count()
    assert(rows.length == math.min(200L, eligible))
    val ps = rows.map(r => (r.getAs[Long]("priority"), r.getAs[Long]("doc_id")))
    assert(ps.sorted.sameElements(ps))
  }

  test("q117 batches cover the corpus with <=32 docs each and non-negative waste") {
    val rows = SparkEntry.queries("q117_length_batching")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") <= 32)
      assert(r.getAs[Long]("waste") >= 0)
      assert(r.getAs[Long]("waste") ==
        r.getAs[Long]("n_docs") * r.getAs[Long]("max_tok") - r.getAs[Long]("tok_sum"))
    }
  }

  test("q118 resampling over-represents the target language vs the corpus") {
    val rows = SparkEntry.queries("q118_dsir_resample")(spark, dir).collect()
    assert(rows.nonEmpty)
    val lw = rows.map(_.getAs[Long]("logweight"))
    assert(lw.zip(lw.tail).forall { case (a, b) => a >= b }) // desc order
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val corpusEn = docsDf.filter(org.apache.spark.sql.functions.col("lang") === "en")
      .count().toDouble / docsDf.count()
    val selEn = rows.count(_.getAs[String]("lang") == "en").toDouble / rows.length
    assert(selEn > corpusEn,
      s"importance weighting should prefer the target lang: sel=$selEn corpus=$corpusEn")
  }

  test("q119 reports only sub-k groups with consistent counts") {
    val rows = SparkEntry.queries("q119_k_anonymity")(spark, dir).collect()
    rows.foreach { r =>
      val (n, u) = (r.getAs[Long]("n_rows"), r.getAs[Long]("n_users"))
      assert(u >= 1 && u < 5 && n >= u)
      assert(r.getAs[Long]("hod") >= 0 && r.getAs[Long]("hod") <= 23)
    }
  }

  test("q120 reports one MAD row per event type; fences are consistent") {
    val rows = SparkEntry.queries("q120_mad_outliers")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      val n = r.getAs[Long]("n_outliers")
      if (n == 0) assert(r.isNullAt(r.fieldIndex("min_outlier")))
      else {
        val (med, mad) = (r.getAs[Double]("med"), r.getAs[Double]("mad"))
        val lo = r.getAs[Double]("min_outlier")
        val hi = r.getAs[Double]("max_outlier")
        assert(lo <= hi)
        assert(math.abs(lo - med) > 1.5 * mad || math.abs(hi - med) > 1.5 * mad)
      }
    }
  }

  test("q121 pair recall is a consistent fraction of the exact pair graph") {
    val r = SparkEntry.queries("q121_semdedup_recall")(spark, dir).head()
    val (ex, kept) = (r.getAs[Long]("n_exact_pairs"), r.getAs[Long]("n_kept_pairs"))
    assert(kept >= 0 && kept <= ex)
    if (ex > 0) {
      val recall = r.getAs[Double]("pair_recall")
      assert(recall >= 0.0 && recall <= 1.0)
      assert(math.abs(recall - kept.toDouble / ex) == 0.0)
    }
  }

  test("q122 conserves vectors across the Lloyd round") {
    val rows = SparkEntry.queries("q122_kmeans_round")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_round1")).sum == total)
    assert(rows.map(_.getAs[Long]("n_round2")).sum == total)
    assert(rows.forall(r => r.getAs[Long]("n_round1") > 0)) // round-1 cells are non-empty by construction
  }

  test("q123 shares sum to ~1000 permille per window; drift is |base - cur|") {
    val rows = SparkEntry.queries("q123_drift_report")(spark, dir).collect()
    assert(rows.nonEmpty)
    // integer div floors each share, so sums land in (1000 - nbuckets, 1000]
    val baseSum = rows.map(_.getAs[Long]("base_permille")).sum
    val curSum = rows.map(_.getAs[Long]("cur_permille")).sum
    assert(baseSum > 1000 - rows.length && baseSum <= 1000)
    assert(curSum > 1000 - rows.length && curSum <= 1000)
    rows.foreach { r =>
      assert(r.getAs[Long]("drift_permille") ==
        math.abs(r.getAs[Long]("base_permille") - r.getAs[Long]("cur_permille")))
    }
  }

  test("q124 triangle stats are internally consistent") {
    val r = SparkEntry.queries("q124_triangle_count")(spark, dir).head()
    val (n, m) = (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"))
    val (w, t) = (r.getAs[Long]("n_wedges"), r.getAs[Long]("n_triangles"))
    assert(m <= n * (n - 1) / 2)
    assert(t <= w) // every triangle closes a wedge
    if (w > 0) {
      val c = r.getAs[Long]("closure_permille")
      assert(c == t * 1000 / w && c >= 0 && c <= 1000)
    }
  }

  test("q125 reports every delta doc once; matches come only from the corpus side") {
    val rows = SparkEntry.queries("q125_incremental_neardup")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.expr("doc_id % 10 = 0")).count()
    assert(rows.length == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("delta_doc") % 10 == 0)
      if (!r.isNullAt(r.fieldIndex("match_doc"))) {
        assert(r.getAs[Long]("match_doc") % 10 != 0) // never a delta-delta pair
        val h = r.getAs[Long]("hamming")
        assert(h >= 0 && h <= 60)
        assert(r.getAs[Boolean]("is_neardup") == (h <= 3))
      } else assert(!r.getAs[Boolean]("is_neardup"))
    }
  }

  test("q126 verdicts cover every doc; reason precedence is exact > near > kept") {
    val rows = SparkEntry.queries("q126_corpus_clean")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == total)
    assert(rows.exists(_.getAs[Boolean]("kept"))) // something survives
    rows.foreach { r =>
      val (e, n, k) = (r.getAs[Boolean]("is_exact_dup"),
        r.getAs[Boolean]("is_near_dup"), r.getAs[Boolean]("kept"))
      assert(k == (!e && !n))
      val want = if (e) "exact_dup" else if (n) "near_dup" else "kept"
      assert(r.getAs[String]("reason") == want)
    }
  }

  test("q127 sequences are capped at 20 steps and cover every user") {
    val rows = SparkEntry.queries("q127_user_sequences")(spark, dir).collect()
    val users = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.length == users)
    rows.foreach { r =>
      val steps = r.getAs[String]("seq").split('>').length
      val n = r.getAs[Long]("n_events")
      assert(steps == math.min(n, 20L))
    }
  }

  test("q128 fences hold: clipped tails are consistent and p05 <= p95") {
    val rows = SparkEntry.queries("q128_winsorize")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Double]("p05") <= r.getAs[Double]("p95"))
      assert(r.getAs[Long]("n_clipped_low") >= 0)
      assert(r.getAs[Long]("n_clipped_high") >= 0)
      assert(r.getAs[Long]("sum_clipped_cents") > 0)
    }
  }

  test("q129 ranks top-20 docs by descending integer BM25; terms bounded by the query") {
    val rows = SparkEntry.queries("q129_bm25_rank")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getAs[Long]("bm25_scaled"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Long]("bm25_scaled") > 0)
      val t = r.getAs[Long]("n_terms")
      assert(t >= 1 && t <= 3)
    }
  }

  test("q130 sliding windows double-count each event exactly twice vs tumbling") {
    val rows = SparkEntry.queries("q130_sliding_windows")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/events.parquet").count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == 2 * total)
  }

  test("q131 negatives never equal their anchor; easy negatives form a permutation") {
    val rows = SparkEntry.queries("q131_hard_negatives")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.length == total)
    rows.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      assert(r.getAs[Long]("easy_neg") != v)
      if (!r.isNullAt(r.fieldIndex("hard_neg"))) {
        assert(r.getAs[Long]("hard_neg") != v)
        assert(r.getAs[Double]("hard_cos") <= 1.0000001)
      }
    }
    // (r + n/2) % n is injective → every vector serves as easy negative once
    assert(rows.map(_.getAs[Long]("easy_neg")).distinct.length == rows.length)
  }

  test("q132 prefix-join pairs satisfy the exact threshold and set bounds") {
    val rows = SparkEntry.queries("q132_prefix_join")(spark, dir).collect()
    assert(rows.nonEmpty) // the generator plants real near-dups
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val (c, na, nb) = (r.getAs[Long]("common"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(a < b)
      assert(c * 3 >= na + nb) // jaccard >= 1/2, exact integers
      assert(c <= math.min(na, nb))
    }
  }

  /** Every ordered pair of distinct sf0.001 documents as
    * (doc_a, doc_b, common, n_a, n_b), by brute force over the shingle
    * arrays (distinct per doc): the reference for the exact joins q132
    * and q136, whose prefix, length and positional filters are each
    * claimed lossless. */
  private lazy val shinglePairs: Seq[(Long, Long, Long, Long, Long)] = {
    val docs = graft.queries.TextOps.shingled(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toSeq
    for ((a, sa) <- docs; (b, sb) <- docs if a != b)
      yield (a, b, sa.count(sb).toLong, sa.size.toLong, sb.size.toLong)
  }

  private def sortedRows(name: String): Seq[Seq[Any]] =
    try SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))
    finally spark.catalog.clearCache() // both queries cache the shingle frame

  test("q132 equals the brute-force Jaccard >= 1/2 pair set") {
    val expected = shinglePairs.collect {
      case (a, b, c, na, nb) if a < b && c * 3 >= na + nb => Seq(a, b, c, na, nb)
    }.sortBy(_.mkString("|"))
    assert(expected.nonEmpty, "no qualifying pair at sf0.001: vacuous")
    assert(sortedRows("q132_prefix_join") == expected)
  }

  test("q135 fused ranks and scores are consistent with the rank lists") {
    val rows = SparkEntry.queries("q135_rrf_fusion")(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val lex = if (r.isNullAt(r.fieldIndex("rank_lex"))) None
        else Some(r.getAs[Long]("rank_lex"))
      val vec = if (r.isNullAt(r.fieldIndex("rank_vec"))) None
        else Some(r.getAs[Long]("rank_vec"))
      assert(lex.nonEmpty || vec.nonEmpty) // full-outer: at least one side
      (lex.toSeq ++ vec.toSeq).foreach(rk => assert(rk >= 1 && rk <= 50))
      val expected = lex.map(rk => 1000000L / (60 + rk)).getOrElse(0L) +
        vec.map(rk => 1000000L / (60 + rk)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_scaled") == expected)
    }
    // docs on both lists must outrank any single-list doc with worse ranks:
    // the top fused doc always has at least one list presence by definition;
    // stronger invariant — each rank appears at most once per list
    val lexRanks = rows.flatMap(r => Option(r.getAs[Any]("rank_lex")))
    assert(lexRanks.distinct.length == lexRanks.length)
    val vecRanks = rows.flatMap(r => Option(r.getAs[Any]("rank_vec")))
    assert(vecRanks.distinct.length == vecRanks.length)
  }

  test("q136 containment pairs are directional and satisfy the exact threshold") {
    val rows = SparkEntry.queries("q136_containment_join")(spark, dir).collect()
    assert(rows.nonEmpty) // the generator plants exact dups -> containment 1000
    val pairs = rows.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val (c, na, nb) = (r.getAs[Long]("common"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"))
      assert(a != b)
      assert(c * 5 >= na * 4) // containment >= 4/5, exact integers
      assert(c <= math.min(na, nb))
      assert(r.getAs[Long]("containment_permille") == c * 1000 / na)
      // an identical-shingle-set pair must also appear mirrored
      if (c == na && c == nb) assert(pairs.contains((b, a)))
    }
  }

  test("q136 equals the brute-force containment >= 4/5 pair set") {
    val expected = shinglePairs.collect {
      case (a, b, c, na, nb) if c * 5 >= na * 4 => Seq(a, b, c, na, nb, c * 1000 / na)
    }.sortBy(_.mkString("|"))
    assert(expected.nonEmpty, "no qualifying pair at sf0.001: vacuous")
    assert(sortedRows("q136_containment_join") == expected)
  }

  test("q137 KMV estimator branch is exercised and within its error bound") {
    val rows = SparkEntry.queries("q137_kmv_distinct")(spark, dir).collect()
    assert(rows.nonEmpty)
    // the kth-value branch must actually fire (shingle cardinality > k),
    // else the audit is vacuous
    assert(rows.exists(r => r.getAs[Long]("kmv_est") != r.getAs[Long]("n_exact")))
    rows.foreach { r =>
      // k=256 -> sigma ~ 1/sqrt(k) ~ 6.25%; 4 sigma = 250 permille
      assert(r.getAs[Long]("err_permille") <= 250,
        s"KMV error out of bound: $r")
    }
  }

  test("q138 merged-sketch union estimate stays within the error bound") {
    val rows = SparkEntry.queries("q138_kmv_overlap")(spark, dir).collect()
    assert(rows.length == 10) // C(5,2) pairs of the top-5 sources
    rows.foreach { r =>
      val (ux, ue) = (r.getAs[Long]("union_exact"), r.getAs[Long]("union_est"))
      assert(math.abs(ue - ux) * 1000 <= 250 * ux,
        s"KMV union error out of bound: $r")
      // inter_est may be negative (inclusion-exclusion on estimates);
      // it must still be bounded by the union-side magnitudes
      assert(math.abs(r.getAs[Long]("inter_est")) <= 2 * ue)
    }
  }

  test("q140 count-min estimates never undercount (the CM guarantee)") {
    val rows = SparkEntry.queries("q140_countmin_freq")(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("overestimate") >= 0, s"CM undercounted: $r")
      assert(r.getAs[Long]("cm_est") >= r.getAs[Long]("n_exact"))
    }
    // min-of-4 must dodge collisions for at least one heavy hitter,
    // else w is mis-sized for the universe and the audit shows nothing
    assert(rows.exists(_.getAs[Long]("overestimate") == 0))
  }

  test("q139 cohort week zero is complete and retention never exceeds it") {
    val rows = SparkEntry.queries("q139_retention_cohorts")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (act, coh) = (r.getAs[Long]("n_active"), r.getAs[Long]("n_cohort"))
      assert(act <= coh)
      assert(r.getAs[Long]("retention_permille") == act * 1000 / coh)
      // a user's first-seen week is by definition an active week
      if (r.getAs[Long]("week_offset") == 0L) assert(act == coh)
      assert(r.getAs[Long]("week_offset") >= 0L)
    }
  }

  test("q141 vocab-growth curve reconciles with itself and the corpus") {
    val rows = SparkEntry.queries("q141_vocab_growth")(spark, dir).collect()
      .sortBy(_.getAs[Long]("batch"))
    assert(rows.nonEmpty)
    // batch 0: everything is new by definition
    assert(rows.head.getAs[Long]("n_new") ==
      rows.head.getAs[Long]("n_distinct_in_batch"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_new") <= r.getAs[Long]("n_distinct_in_batch"))
      assert(r.getAs[Long]("n_distinct_in_batch") <= r.getAs[Long]("n_occurrences"))
    }
    // cum_vocab is the running sum of n_new and ends at the true
    // corpus-wide distinct-shingle count
    assert(rows.map(_.getAs[Long]("n_new")).scanLeft(0L)(_ + _).tail.toSeq ==
      rows.map(_.getAs[Long]("cum_vocab")).toSeq)
  }

  test("q142 deterministic HLL exercises both estimator branches within error bounds") {
    val rows = SparkEntry.queries("q142_hll_distinct")(spark, dir).collect()
    val (sh, wd) = rows.partition(_.getAs[String]("universe") == "shingle")
    assert(sh.nonEmpty && wd.nonEmpty)
    // ~1.3k distinct shingles per source saturate all 64 registers →
    // raw-estimator branch, relative error well under 4/√64 = 50%
    sh.foreach { r =>
      assert(r.getAs[Long]("v_empty") == 0L)
      assert(r.getAs[Long]("err_permille") < 500L)
    }
    // ~31-word vocabulary leaves most registers empty → linear-counting
    // branch, whose estimate is the pinned 63-entry lookup value
    wd.foreach { r =>
      assert(r.getAs[Long]("v_empty") > 0L)
      assert(r.getAs[Long]("err_permille") < 500L)
    }
  }

  test("q143 perceptron round reports consistent training metrics") {
    val r = SparkEntry.queries("q143_perceptron_round")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    val total = row.getAs[Long]("n_total")
    val correct = row.getAs[Long]("n_correct")
    val mistakes = row.getAs[Long]("n_mistakes_r2")
    assert(total > 0L)
    assert(correct >= 0L && correct <= total)
    assert(mistakes >= 0L && mistakes <= total)
    // the distilled linear model must beat coin-flipping on its own
    // training set — otherwise the distillation story is vacuous
    assert(correct * 2 > total)
  }

  test("q144 transition matrix rows normalize to ~1000 permille per from_type") {
    val rows = SparkEntry.queries("q144_markov_transitions")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (ft, rs) =>
      val p = rs.map(_.getAs[Long]("p_permille")).sum
      // integer division floors each cell: sum ∈ (1000 - k, 1000]
      assert(p <= 1000L && p > 1000L - rs.length, s"$ft sums to $p")
    }
  }

  test("q145 lifecycle curve reconciles: day 1 all-new, cum ends at total uniques") {
    val rows = SparkEntry.queries("q145_user_lifecycle")(spark, dir).collect()
      .sortBy(_.getAs[java.sql.Date]("day").getTime)
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("n_new") == rows.head.getAs[Long]("n_active"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_new") + r.getAs[Long]("n_returning") ==
        r.getAs[Long]("n_active"))
    }
    val totalUniques = graft.Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(rows.last.getAs[Long]("cum_users") == totalUniques)
  }

  test("q146 LSH sweep: nested candidate sets make volume and recall monotone in r") {
    val rows = SparkEntry.queries("q146_lsh_sweep")(spark, dir).collect()
      .sortBy(_.getAs[Long]("rows_per_band"))
    assert(rows.map(_.getAs[String]("config")).toSeq ==
      Seq("b8r1", "b4r2", "b2r4", "b1r8"))
    // matching an r-row band implies matching both its halves → each
    // stricter config's candidates are a subset of the looser one's
    val cands = rows.map(_.getAs[Long]("n_candidates"))
    val hits = rows.map(_.getAs[Long]("n_hits"))
    assert(cands.zip(cands.tail).forall { case (lo, hi) => lo >= hi },
      s"candidate volume not monotone: ${cands.toSeq}")
    assert(hits.zip(hits.tail).forall { case (lo, hi) => lo >= hi },
      s"hits not monotone: ${hits.toSeq}")
    assert(rows.forall(_.getAs[Long]("n_truth") > 0L))
    // precision should improve (weakly) as bands get stricter wherever
    // candidates remain; the loosest config must find most of the truth
    assert(rows.head.getAs[Long]("recall_permille") >= 900L)
  }

  test("q147 split leakage: cluster-atomic split never straddles, counts reconcile") {
    val rows = SparkEntry.queries("q147_split_leakage")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 3) // splits present in this corpus
    // grouped assignment cannot straddle a cluster by construction —
    // the query COMPUTES it (vs asserting), so pin the invariant here
    assert(rows.forall(_.getAs[Long]("grouped_straddling_clusters") == 0L))
    // every doc lands in exactly one split
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total == docs, s"split docs $total != corpus $docs")
    // per-split near-dup docs can't exceed the split's docs
    assert(rows.forall(r =>
      r.getAs[Long]("n_neardup_docs") <= r.getAs[Long]("n_docs")))
    // the straddle scalars are identical on every row (broadcast join)
    assert(rows.map(_.getAs[Long]("naive_straddling_clusters")).distinct.length == 1)
  }

  test("q148 EWMA: first day equals its count, weights stay in the convex hull") {
    val rows = SparkEntry.queries("q148_ewma_daily")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    for ((_, rs) <- byType) {
      val sorted = rs.sortBy(_.getAs[java.sql.Date]("day").toString)
      // series head: the only weight is its own count → exact identity
      assert(sorted.head.getAs[Long]("ewma_milli") ==
        1000L * sorted.head.getAs[Long]("cnt"))
      // a weighted mean of counts can never leave [min, max] of the series
      val cs = sorted.map(_.getAs[Long]("cnt"))
      assert(sorted.forall { r =>
        val m = r.getAs[Long]("ewma_milli")
        m >= 1000L * cs.min && m <= 1000L * cs.max
      })
      // denominator saturates at 2^20 - 1 once 20 lags exist
      assert(sorted.drop(19).forall(_.getAs[Long]("ewma_den") == (1L << 20) - 1))
    }
  }

  test("q149 sorted neighborhood: O(n·w) candidates, ordered pairs, gap ≤ w-1") {
    val rows = SparkEntry.queries("q149_sorted_neighborhood")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("doc_a") != r.getAs[Long]("doc_b")))
    assert(rows.forall(r => (1L to 3L).contains(r.getAs[Long]("gap"))))
    // candidate volume is bounded by n·(w−1) regardless of data skew —
    // the property that distinguishes SNM from banding on a hot key
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val full = SparkEntry.queries("q149_sorted_neighborhood")(spark, dir)
    assert(full.count() <= math.min(3 * n, 100L))
    // each (block, pair) is unique
    assert(rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .distinct.length == rows.length)
  }

  test("q150 span corruption: substituting target spans into input reconstructs the doc") {
    val rows = SparkEntry.queries("q150_span_corruption")(spark, dir).collect()
    val orig = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.length == orig.size)
    val sentinel = "<extra_id_(\\d+)>".r
    for (r <- rows) {
      val (in, tgt) = (r.getAs[String]("input_text"), r.getAs[String]("target_text"))
      // target parses as sentinel-delimited spans 0..n_spans-1 in order
      val ids = sentinel.findAllMatchIn(tgt).map(_.group(1).toInt).toSeq
      assert(ids == (0 until r.getAs[Long]("n_spans").toInt))
      val spans = sentinel.split(tgt).drop(1).map(_.trim) // text after each sentinel
      val rebuilt = spans.zipWithIndex.foldLeft(in) { case (acc, (span, k)) =>
        acc.replace(s"<extra_id_$k>", span)
      }
      assert(rebuilt == orig(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")} failed to reconstruct")
      assert(r.getAs[Long]("n_masked") >= r.getAs[Long]("n_spans"))
    }
    // corpus-wide mask rate lands near the 15% target
    val masked = rows.map(_.getAs[Long]("n_masked")).sum.toDouble
    val toks = orig.values.map(_.split(" ").length.toLong).sum.toDouble
    assert(masked / toks > 0.05 && masked / toks < 0.30, s"rate ${masked / toks}")
  }

  test("q151 chat template: mask offsets slice exactly the assistant span") {
    val rows = SparkEntry.queries("q151_chat_template")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val txt = r.getAs[String]("rendered")
      val (ms, me) = (r.getAs[Long]("mask_start").toInt, r.getAs[Long]("mask_end").toInt)
      assert(txt.length == r.getAs[Long]("n_render_chars"))
      assert(txt.endsWith("<|end|>") && me + 7 == txt.length)
      val span = txt.substring(ms - 1, me) // 1-based inclusive offsets
      // the masked span is the assistant text: preceded by the assistant
      // tag, free of any template markup itself
      assert(txt.substring(0, ms - 1).endsWith("<|assistant|>\n"))
      assert(!span.contains("<|"), s"markup leaked into loss span: $span")
    }
  }

  test("q152 curriculum order: positions unique, round-robin across sources, quality-desc within") {
    val rows = SparkEntry.queries("q152_curriculum_order")(spark, dir).collect()
    assert(rows.nonEmpty)
    // pos is collision-free across the corpus (rank × stride + index)
    val pos = rows.map(_.getAs[Long]("pos"))
    assert(pos.distinct.length == pos.length)
    // within a source, walking pos ascending walks quality descending
    for ((_, rs) <- rows.groupBy(_.getAs[String]("source"))) {
      val sorted = rs.sortBy(_.getAs[Long]("pos"))
      val q = sorted.map(_.getAs[Long]("ttr_permille"))
      assert(q.zip(q.tail).forall { case (a, b) => a >= b },
        s"quality not descending: ${q.take(10).toSeq}")
    }
    // the first |sources| positions hold one doc from each source
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    val k = bySrc.size
    val head = rows.sortBy(_.getAs[Long]("pos")).take(k)
    assert(head.map(_.getAs[String]("source")).distinct.length == k)
  }

  test("q153 span cut: agrees with q94's scores, conserves tokens, cuts whole windows") {
    val cut = SparkEntry.queries("q153_span_cut")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val score = SparkEntry.queries("q94_span_dedup")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_spans")).toMap
    assert(cut.keySet == score.keySet)
    for ((id, r) <- cut) {
      val (n, removed) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"))
      val kept = r.getAs[String]("clean_text")
      // clean text holds exactly the uncut tokens
      val keptToks = if (kept.isEmpty) 0L else kept.split(" ").length.toLong
      assert(keptToks == n - removed, s"doc $id: $keptToks != $n - $removed")
      // a doc is touched iff q94 found a duplicated span in it, and a
      // duplicated span removes at least its full 8-token window
      if (score(id) > 0L) assert(removed >= 8L, s"doc $id removed $removed")
      else assert(removed == 0L, s"doc $id cut without dup spans")
    }
  }

  test("q154 attribution: credit conserves to exactly 1000 per touched purchase") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q154_multitouch_attribution")(spark, dir)
    val totalCredit = rows.agg(sum("credit_permille")).collect()(0).getLong(0)
    // count purchases that have ≥1 click in their preceding hour —
    // integer-remainder assignment makes conservation EXACT
    val e = graft.Tables.loadEvents(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pt"), col("event_id").as("pid"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("ct"))
    val touched = p.join(c, col("user_id") === col("cu") &&
        col("ct") <= col("pt") &&
        col("ct") > col("pt") - expr("INTERVAL 1 HOUR"))
      .select("pid").distinct().count()
    assert(totalCredit == 1000L * touched,
      s"credit $totalCredit != 1000 × $touched")
  }

  test("q155 quantile norm: sources align on the pooled distribution, monotone in rank") {
    val rows = SparkEntry.queries("q155_quantile_norm")(spark, dir).collect()
    assert(rows.nonEmpty)
    val globalMax = rows.map(_.getAs[Long]("ttr_permille")).max
    for ((_, rs) <- rows.groupBy(_.getAs[String]("source"))) {
      val sorted = rs.sortBy(_.getAs[Long]("src_rank"))
      val norms = sorted.map(_.getAs[Long]("norm_ttr"))
      // normalized score never decreases as within-source rank rises
      assert(norms.zip(norms.tail).forall { case (a, b) => a <= b })
      // every source's best doc maps to the pooled maximum — the
      // alignment property the operator exists for
      assert(norms.last == globalMax, s"${norms.last} != $globalMax")
    }
  }

  test("q156 contamination ratio: decisions match thresholds, all train docs audited") {
    val rows = SparkEntry.queries("q156_contamination_ratio")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, shared, ratio) = (r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_shared"), r.getAs[Long]("ratio_permille"))
      assert(shared <= n && ratio == shared * 1000 / n)
      val want = if (ratio >= 500) "drop" else if (ratio >= 100) "flag" else "keep"
      assert(r.getAs[String]("decision") == want)
    }
    // the audit covers every train-side doc (receipts, not just hits) —
    // q71 only reports overlapping docs, so q156 must dominate it
    val q71n = SparkEntry.queries("q71_decontaminate")(spark, dir).count()
    assert(rows.length >= q71n.toInt)
  }

  test("q157 tokenizer fertility: one row per source, subwords at least one per word") {
    val rows = SparkEntry.queries("q157_tokenizer_fertility")(spark, dir).collect()
    val nSources = spark.read.parquet(s"$dir/documents.parquet")
      .select("source").distinct().count()
    assert(rows.length == nSources)
    for (r <- rows) {
      // greedy tokenization emits ≥1 token per word → fertility ≥ 1000
      assert(r.getAs[Long]("fertility_permille") >= 1000L)
      assert(r.getAs[Long]("chars_per_token_permille") > 0L)
      assert(r.getAs[Long]("n_subword") >= r.getAs[Long]("n_words"))
    }
  }

  test("q159 distribution windows: deciles balanced, pct_rank/cume in [0,1] and tie-aware") {
    val rows = SparkEntry.queries("q159_distribution_windows")(spark, dir).collect()
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(_.getAs[String]("o_orderstatus"))) {
      val sizes = rs.groupBy(_.getAs[Long]("decile")).values.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"ntile imbalance: $sizes") // ntile contract
      assert(rs.forall { r =>
        val (p, c) = (r.getAs[Double]("pct_rank"), r.getAs[Double]("cume"))
        p >= 0.0 && p <= 1.0 && c > 0.0 && c <= 1.0 && c >= p
      })
      // tie-awareness: equal prices share pct_rank
      val byPrice = rs.groupBy(_.getAs[Double]("o_totalprice"))
      assert(byPrice.values.forall(
        _.map(_.getAs[Double]("pct_rank")).distinct.length == 1))
    }
  }

  test("q160 multiset ops: multiplicities follow the bag min/max-difference rules") {
    val rows = SparkEntry.queries("q160_multiset_ops")(spark, dir).collect()
    val cn = spark.read.parquet(s"$dir/customer.parquet")
      .groupBy("c_nationkey").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val sn = spark.read.parquet(s"$dir/supplier.parquet")
      .groupBy("s_nationkey").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    for (r <- rows) {
      val k = r.getAs[Number]("nationkey").longValue
      val m = r.getAs[Long]("multiplicity")
      r.getAs[String]("op") match {
        case "intersect_all" =>
          assert(m == math.min(cn.getOrElse(k, 0L), sn.getOrElse(k, 0L)))
        case "except_all" =>
          assert(m == math.max(0L, cn.getOrElse(k, 0L) - sn.getOrElse(k, 0L)))
      }
    }
  }

  test("q161 keeper: one keeper per q67 cluster, members conserve, margins non-negative") {
    val keep = SparkEntry.queries("q161_dedup_keeper")(spark, dir).collect()
    val clusters = SparkEntry.queries("q67_neardup_clusters")(spark, dir).collect()
      .groupBy(_.getAs[Long]("cluster_id"))
    assert(keep.length == clusters.size)
    val nDocs = clusters.values.map(_.length.toLong).sum
    assert(keep.map(_.getAs[Long]("n_dropped") + 1).sum == nDocs)
    for (r <- keep) {
      val cid = r.getAs[Long]("cluster_id")
      val members = clusters(cid).map(_.getAs[Long]("doc_id")).toSet
      assert(members.contains(r.getAs[Long]("kept_doc")),
        s"keeper not in cluster $cid")
      assert(r.getAs[Long]("quality_margin") >= 0L)
      if (members.size == 1) {
        assert(r.getAs[Long]("n_dropped") == 0L &&
          r.getAs[Long]("quality_margin") == 0L)
      }
    }
  }

  test("q162 Neyman allocation: budget hits exactly 100, Hamilton stays within 1 of floor") {
    val rows = SparkEntry.queries("q162_neyman_allocation")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("alloc")).sum == 100L)
    for (r <- rows) {
      val (f, a) = (r.getAs[Long]("alloc_floor"), r.getAs[Long]("alloc"))
      assert(a == f || a == f + 1, s"alloc $a not in {$f, ${f + 1}}")
      assert(r.getAs[Long]("var_num") >= 0L) // n·Σx² ≥ (Σx)² (Cauchy-Schwarz)
    }
    // floor shares are monotone in the Neyman weight
    val byW = rows.sortBy(_.getAs[Long]("w"))
    val floors = byW.map(_.getAs[Long]("alloc_floor"))
    assert(floors.zip(floors.tail).forall { case (a, b) => a <= b })
  }

  test("q163 zone maps: z-order beats natural layout on BOTH dimensions, measured") {
    val rows = SparkEntry.queries("q163_zonemap_audit")(spark, dir).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    assert(rows.keySet == Set("natural", "zorder"))
    val (nat, z) = (rows("natural"), rows("zorder"))
    assert(nat.getAs[Long]("n_chunks") == 32L && z.getAs[Long]("n_chunks") == 32L)
    // natural ingest order gives no skipping: a random point key is
    // expected to hit (nearly) every chunk
    assert(nat.getAs[Long]("exp_chunks_part_milli") >= 30000L)
    // z-order must strictly reduce the expected read on BOTH columns —
    // the multi-dimensional win single-column sorting cannot give
    assert(z.getAs[Long]("exp_chunks_part_milli") <
      nat.getAs[Long]("exp_chunks_part_milli"))
    assert(z.getAs[Long]("exp_chunks_supp_milli") <
      nat.getAs[Long]("exp_chunks_supp_milli"))
  }

  test("q164 A/B readout: tables reconcile and the integer decision matches chi²") {
    val rows = SparkEntry.queries("q164_ab_readout")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (a, b, c, d) = (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("c"), r.getAs[Long]("d"))
      assert(a + b + c + d == r.getAs[Long]("n_users"))
      // chi2_num/chi2_den publish as DIGIT STRINGS since r09 (the
      // products are N^5-scale, computed in DECIMAL(38,0) after int64
      // overflowed at the sf1 probe) — parse for the reconcile
      val num = BigInt(r.getAs[String]("chi2_num"))
      val den = BigInt(r.getAs[String]("chi2_den"))
      assert(num >= 0 && den >= 0)
      // the no-float decision agrees with the float chi² it encodes
      val expected = den > BigInt(0) &&
        num.toDouble / den.toDouble >= 3.841
      assert(r.getAs[Boolean]("significant") == expected)
    }
  }

  test("q165 encoding advisor: runs bounded by rows and distincts, rules consistent") {
    val rows = SparkEntry.queries("q165_encoding_advisor")(spark, dir).collect()
    assert(rows.length == 5)
    for (r <- rows) {
      val (n, d, runs) = (r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("n_runs"))
      assert(d <= runs && runs <= n, s"$d ≤ $runs ≤ $n violated")
      val avg = r.getAs[Long]("avg_run_milli")
      assert(avg == n * 1000 / runs)
      val want = if (avg >= 2000) "rle"
        else if (d * 100 <= n) "dict" else "plain"
      assert(r.getAs[String]("encoding") == want)
    }
  }

  test("q166 seasonal residuals: ratio arithmetic exact, flags match band") {
    val rows = SparkEntry.queries("q166_seasonal_residuals")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (c, p) = (r.getAs[Long]("cnt"), r.getAs[Long]("prev_cnt"))
      val res = r.getAs[Long]("residual_permille")
      assert(p > 0 && res == c * 1000 / p)
      assert(r.getAs[Boolean]("anomalous") == (res < 500 || res > 2000))
    }
  }

  test("q167 cohort LTV: cumulative reconciles per cohort and totals match raw revenue") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q167_cohort_ltv")(spark, dir).collect()
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(_.getAs[java.sql.Date]("cohort_wk"))) {
      val sorted = rs.sortBy(_.getAs[Long]("offset_w"))
      assert(sorted.head.getAs[Long]("offset_w") == 0L) // cohort starts at its own week
      val cums = sorted.scanLeft(0L)(_ + _.getAs[Long]("revenue_micro")).drop(1)
      assert(sorted.map(_.getAs[Long]("cum_revenue_micro")).toSeq == cums.toSeq)
    }
    // micro-unit totals equal the exact DECIMAL sum of purchase values
    val e = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect()(0).getDecimal(0)
    val total = rows.map(_.getAs[Long]("revenue_micro")).sum
    assert(total == e.movePointRight(6).longValueExact)
  }

  test("q168 SimHash calibration: low hamming means near-identical Jaccard, high means noise") {
    val all = SparkEntry.queries("q168_simhash_calibration")(spark, dir).collect()
    assert(all.nonEmpty)
    // Jaccard stats run on the 1-in-4 probe; a hamming bucket with no
    // probed pair publishes n_pairs with NULL stats — skip those rows
    val rows = all.filter(r => !r.isNullAt(r.fieldIndex("n_probe")))
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (lo, avg, hi) = (r.getAs[Long]("min_jac"),
        r.getAs[Long]("avg_jac_permille"), r.getAs[Long]("max_jac"))
      assert(lo <= avg && avg <= hi && hi <= 1000L)
      assert(r.getAs[Long]("n_probe") <= r.getAs[Long]("n_pairs"))
    }
    // the tightest band must be near-duplicate territory (hamming ≤ 2;
    // at hamming 3 the tiny sf0.001 corpus already mixes in a
    // coincidental band collision); far hamming must average to noise.
    // BOTH ends must actually be covered by the 1-in-4 probe — an empty
    // near/far set would silently skip the calibration property (the
    // r07 code-review catch); if a fixture change empties one, re-pin
    // probe coverage rather than re-adding an if-guard
    val near = rows.filter(_.getAs[Long]("hamming") <= 2)
    assert(near.nonEmpty, "probe must cover at least one hamming<=2 bucket")
    assert(near.forall(_.getAs[Long]("avg_jac_permille") >= 900L))
    val far = rows.filter(_.getAs[Long]("hamming") >= 10)
    assert(far.nonEmpty, "probe must cover at least one hamming>=10 bucket")
    assert(far.forall(_.getAs[Long]("avg_jac_permille") <= 100L))
  }

  test("q169 template lint: clean rate reconciles with the four flag counts") {
    val rows = SparkEntry.queries("q169_template_lint")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Long]("n_docs")
      val dirty = r.getAs[Long]("n_markup") + r.getAs[Long]("n_braces") +
        r.getAs[Long]("n_sentinel") + r.getAs[Long]("n_nonascii")
      assert(dirty >= 0 && dirty <= n)
      assert(r.getAs[Long]("clean_permille") == (n - dirty) * 1000 / n)
    }
  }

  test("q170 packing efficiency: docs conserve, utilization ordered, overfull consistent") {
    val rows = SparkEntry.queries("q170_packing_efficiency")(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs)
    for (r <- rows) {
      val (lo, avg, hi) = (r.getAs[Long]("min_util_permille"),
        r.getAs[Long]("avg_util_permille"), r.getAs[Long]("max_util_permille"))
      assert(lo <= avg && avg <= hi)
      // every pack except possibly each shard's LAST one starts below
      // budget and spills at most one doc past it; overfull count is
      // bounded by pack count
      assert(r.getAs[Long]("n_overfull") <= r.getAs[Long]("n_packs"))
    }
  }

  test("q171 funnel: stages shrink monotonically and splits partition the survivors") {
    val rows = SparkEntry.queries("q171_training_funnel")(spark, dir).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    val stages = Seq("0_ingest", "1_quality", "2_exact", "3_neardup", "4_decontam")
    assert(stages.forall(rows.contains))
    val counts = stages.map(rows)
    assert(counts.head ==
      spark.read.parquet(s"$dir/documents.parquet").count())
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"funnel not monotone: $counts")
    val splitTotal = rows.collect { case (k, v) if k.startsWith("5_") => v }.sum
    assert(splitTotal == rows("4_decontam"),
      s"splits $splitTotal != survivors ${rows("4_decontam")}")
  }

  test("q172 modal integrity: all five checks present and clean on this corpus") {
    val rows = SparkEntry.queries("q172_modal_integrity")(spark, dir).collect()
    assert(rows.map(_.getAs[String]("check_name")).toSet == Set(
      "docs_without_vector", "vectors_without_doc", "duplicate_vec_ids",
      "dimension_drift", "zero_norm_vectors"))
    // the driver tables are aligned by construction — zeros are the
    // receipt; a nonzero here means the audit (or the data) broke
    assert(rows.forall(_.getAs[Long]("n_issues") == 0L))
  }

  test("q173 filtered ANN: pre-filter always serves k, post-filter can only starve") {
    val rows = SparkEntry.queries("q173_filtered_ann")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (pre, post) = (r.getAs[Long]("n_prefilter"), r.getAs[Long]("n_postfilter"))
      assert(pre > 0L && pre <= 3L && post >= 0L && post <= 3L)
      assert(r.getAs[Boolean]("starved") == (post < pre))
    }
  }

  test("q174 session quality: rates bounded, components never exceed sessions") {
    val rows = SparkEntry.queries("q174_session_quality")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Long]("n_sessions")
      assert(r.getAs[Long]("n_bounce") <= n && r.getAs[Long]("n_converted") <= n)
      assert(r.getAs[Long]("bounce_permille") <= 1000L)
      assert(r.getAs[Long]("conversion_permille") <= 1000L)
      assert(r.getAs[Long]("avg_dur_us") ==
        r.getAs[Long]("total_dur_us") / n)
    }
  }

  test("q175 deletion manifest: cohort covered, wipe verification reads zero") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q175_deletion_manifest")(spark, dir).collect()
    val cohort = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("user_id") % 97 === 0).select("user_id").distinct().count()
    assert(rows.length == cohort.toInt) // a receipt per requested user
    for (r <- rows) {
      assert(r.getAs[Long]("n_events") > 0L)
      // the anti-join wipe leaves nothing — computed by the query, not
      // assumed by the test
      assert(r.getAs[Long]("surviving_after_wipe") == 0L)
    }
  }

  test("q176 SCD2: intervals chain per customer, one open row, orders reconcile") {
    val rows = SparkEntry.queries("q176_scd2_history")(spark, dir).collect()
    assert(rows.nonEmpty)
    val orders = spark.read.parquet(s"$dir/orders.parquet").count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == orders)
    rows.groupBy(_.getAs[Long]("o_custkey")).foreach { case (_, hist) =>
      val sorted = hist.sortBy(_.getAs[Long]("version"))
      // exactly one open (current) interval, and it is the last one
      assert(sorted.count(_.getAs[Boolean]("is_current")) == 1)
      assert(sorted.last.getAs[Boolean]("is_current"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // each interval's exclusive end is the successor's start,
          // and an island never repeats its neighbor's status
          assert(a.getAs[Any]("valid_to") == b.getAs[Any]("valid_from"))
          assert(a.getAs[String]("status") != b.getAs[String]("status"))
        case _ =>
      }
    }
  }

  test("q177 RAG context: budget respected, manifest matches the kept count") {
    val rows = SparkEntry.queries("q177_rag_context")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val kept = r.getAs[Long]("n_passages")
      assert(r.getAs[Long]("ctx_chars") <= 1000L)
      assert(kept <= r.getAs[Long]("n_candidates"))
      assert(r.getAs[Boolean]("truncated") ==
        (kept < r.getAs[Long]("n_candidates")))
      val csv = r.getAs[String]("ids_csv")
      assert((if (csv.isEmpty) 0 else csv.split(",").length).toLong == kept)
    }
  }

  test("q178 preference pairs: margin floor holds and sides are disjoint") {
    val rows = SparkEntry.queries("q178_preference_pairs")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("margin") ==
        r.getAs[Long]("chosen_score") - r.getAs[Long]("rejected_score"))
      assert(r.getAs[Long]("margin") >= 50L)
      assert(r.getAs[Long]("chosen_id") != r.getAs[Long]("rejected_id"))
    }
    val chosen = rows.map(_.getAs[Long]("chosen_id")).toSet
    val rejected = rows.map(_.getAs[Long]("rejected_id")).toSet
    assert(chosen.intersect(rejected).isEmpty)
  }

  test("q179 Benford audit: digits partition the table, permilles reconcile") {
    val rows = SparkEntry.queries("q179_benford_audit")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 9)
    val orders = spark.read.parquet(s"$dir/orders.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum == orders)
    for (r <- rows) {
      assert(r.getAs[Int]("digit") >= 1 && r.getAs[Int]("digit") <= 9)
      assert(r.getAs[Long]("delta_permille") ==
        r.getAs[Long]("obs_permille") - r.getAs[Long]("exp_permille"))
    }
    // floored permilles can only undershoot the whole
    val obsSum = rows.map(_.getAs[Long]("obs_permille")).sum
    assert(obsSum <= 1000L && obsSum > 1000L - rows.length)
  }

  test("q180 co-moment: 36 cells, diagonal variance nonneg, symmetric moments") {
    val rows = SparkEntry.queries("q180_comoment_matrix")(spark, dir).collect()
    assert(rows.length == 36)
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    for (r <- rows) {
      assert(r.getAs[Long]("n") == n)
      val i = r.getAs[Long]("i"); val j = r.getAs[Long]("j")
      assert(i >= 0 && i <= j && j <= 7)
      // diagonal cells carry the variance numerator: n·Σx² − (Σx)² ≥ 0
      // (published as a digit string — wide decimals don't survive the
      // gate's type bridge)
      if (i == j)
        assert(new java.math.BigDecimal(r.getAs[String]("comoment")).signum >= 0)
    }
    // Σxᵢ reported in cell (i,i) must agree with the Σxᵢ of every (i,j)
    val sumByDim = rows.filter(r => r.getAs[Long]("i") == r.getAs[Long]("j"))
      .map(r => r.getAs[Long]("i") -> r.getAs[Long]("sum_xi")).toMap
    for (r <- rows) {
      assert(r.getAs[Long]("sum_xi") == sumByDim(r.getAs[Long]("i")))
      assert(r.getAs[Long]("sum_xj") == sumByDim(r.getAs[Long]("j")))
    }
  }

  test("q181 token budget: allocations bounded by budget, decisions consistent") {
    val rows = SparkEntry.queries("q181_token_budget")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("alloc_tokens")).sum <= 1000000L)
    for (r <- rows) {
      val ep = r.getAs[Long]("epochs_permille")
      val d = r.getAs[String]("decision")
      assert(if (ep <= 1000) d == "unique"
             else if (ep <= 4000) d == "repeat" else d == "exhausted")
      assert(r.getAs[Long]("weight_permille") >= 100 &&
        r.getAs[Long]("weight_permille") < 900)
    }
  }

  test("q182 bootstrap CI: interval brackets the point mean plausibly") {
    val rows = SparkEntry.queries("q182_bootstrap_ci")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val lo = r.getAs[Long]("boot_lo_cents"); val hi = r.getAs[Long]("boot_hi_cents")
      assert(r.getAs[Long]("n_reps") == 64L)
      assert(lo <= hi)
      // the point mean need not sit inside every CI, but the interval
      // must be in the same regime (within 50% of the point mean)
      val mean = r.getAs[Long]("mean_cents")
      assert(lo > mean / 2 && hi < mean * 2)
    }
  }

  test("q183 trend slope: moments reconcile and slope is the exact ratio") {
    val rows = SparkEntry.queries("q183_trend_slope")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val num = r.getAs[Long]("slope_num"); val den = r.getAs[Long]("slope_den")
      assert(num == r.getAs[Long]("n") * r.getAs[Long]("sum_xy") -
        r.getAs[Long]("sum_x") * r.getAs[Long]("sum_y"))
      assert(den > 0)
      assert(r.getAs[Double]("slope_cents_per_day") ==
        num.toDouble / den.toDouble)
    }
  }

  test("q184 watermark audit: drops decrease with delay, permilles consistent") {
    val rows = SparkEntry.queries("q184_watermark_audit")(spark, dir).collect()
      .sortBy(_.getAs[Long]("delay_s"))
    assert(rows.map(_.getAs[Long]("delay_s")).toSeq == Seq(0L, 60L, 300L, 900L))
    val n = rows.head.getAs[Long]("n_events")
    assert(rows.forall(_.getAs[Long]("n_events") == n))
    // more patience can only drop fewer events
    val drops = rows.map(_.getAs[Long]("n_dropped"))
    assert(drops.sliding(2).forall { case Array(a, b) => b <= a; case _ => true })
    // the jitter is < 600 s, so every event is within 900 s of the watermark
    assert(drops.last == 0L)
    for (r <- rows)
      assert(r.getAs[Long]("drop_permille") ==
        r.getAs[Long]("n_dropped") * 1000 / n)
  }

  test("q185 CUPED: two variants, pooled theta shared, adjusted mean finite") {
    val rows = SparkEntry.queries("q185_cuped_readout")(spark, dir).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Boolean]("variant")).toSet == Set(true, false))
    val thetas = rows.map(r => (r.getAs[String]("theta_num"),
      r.getAs[String]("theta_den"))).distinct
    assert(thetas.length == 1)              // pooled across variants
    assert(new java.math.BigDecimal(thetas.head._2).signum > 0) // var > 0
    for (r <- rows) {
      val n = r.getAs[Long]("n_users")
      assert(n > 0)
      // adjusted mean stays in the same regime as the raw post-period
      // mean: the CUPED correction shifts, it does not replace
      val rawMeanMicro = r.getAs[Long]("sum_y_cents") * 1000000L / n
      val adj = r.getAs[Long]("mean_adj_microcents")
      assert(math.abs(adj - rawMeanMicro) <= rawMeanMicro,
        s"adjusted mean $adj implausibly far from raw $rawMeanMicro")
    }
  }

  test("q186 ship lag: buckets partition the items, breach rate exact") {
    val rows = SparkEntry.queries("q186_ship_lag_sla")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Long]("n_items")
      assert(r.getAs[Long]("n_le30") + r.getAs[Long]("n_le60") +
        r.getAs[Long]("n_le90") + r.getAs[Long]("n_breach") == n)
      assert(r.getAs[Long]("min_lag") <= r.getAs[Long]("max_lag"))
      assert(r.getAs[Long]("breach_permille") ==
        r.getAs[Long]("n_breach") * 1000 / n)
    }
  }

  test("q187 weighted percentiles: ordered, and p50 covers half the weight") {
    val rows = SparkEntry.queries("q187_weighted_median")(spark, dir).collect()
    assert(rows.nonEmpty)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    for (r <- rows) {
      val flag = r.getAs[String]("flag")
      assert(r.getAs[Long]("wp25_cents") <= r.getAs[Long]("wp50_cents") &&
        r.getAs[Long]("wp50_cents") <= r.getAs[Long]("wp75_cents"))
      // independently recompute: weight at or below p50 covers ≥ half
      import org.apache.spark.sql.functions._
      val w = li.filter(col("l_returnflag") === flag)
        .select((expr("CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100 AS BIGINT)"))
          .as("cents"), col("l_quantity").cast("long").as("w"))
      val tot = w.agg(sum("w")).head.getLong(0)
      val below = w.filter(col("cents") <= r.getAs[Long]("wp50_cents"))
        .agg(sum("w")).head.getLong(0)
      assert(below * 2 >= tot)
      assert(tot == r.getAs[Long]("total_weight"))
    }
  }

  test("q188 dataset card: one row, panels reconcile with the base tables") {
    val rows = SparkEntry.queries("q188_dataset_card")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(r.getAs[Long]("n_docs") == docs.count())
    assert(r.getAs[Long]("n_unique_texts") + r.getAs[Long]("n_dup_docs") ==
      r.getAs[Long]("n_docs"))
    assert(r.getAs[Long]("dims") == 64L)
    assert(r.getAs[Long]("total_chars") > r.getAs[Long]("est_tokens"))
  }

  test("q189 Gini: permille in [0,1000), rank formula reconciles") {
    val rows = SparkEntry.queries("q189_gini_concentration")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val g = r.getAs[Long]("gini_permille")
      assert(g >= 0 && g < 1000, s"gini out of range: $g")
      assert(r.getAs[Long]("gini_num") ==
        2 * r.getAs[Long]("sum_iw") -
          (r.getAs[Long]("n_users") + 1) * r.getAs[Long]("sum_w_cents"))
    }
  }

  test("q190 signal agreement: rho bounded by the Spearman extremes") {
    val rows = SparkEntry.queries("q190_signal_agreement")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val rho = r.getAs[Long]("rho_permille")
      // rho in [-1, 1] → permille in [-1000, 1000]
      assert(rho >= -1000 && rho <= 1000, s"rho out of range: $rho")
      assert(r.getAs[Long]("sum_d2") >= 0)
    }
  }

  test("q191 SRM audit: cohorts partition the users, chi-square identity holds") {
    val rows = SparkEntry.queries("q191_srm_audit")(spark, dir).collect()
    val (all, days) = rows.partition(_.getAs[String]("cohort") == "ALL")
    assert(all.length == 1 && days.nonEmpty)
    // cohorts partition the user base: per-day arms sum to the ALL row
    assert(days.map(_.getAs[Long]("n_users")).sum == all.head.getAs[Long]("n_users"))
    assert(days.map(_.getAs[Long]("n_v0")).sum == all.head.getAs[Long]("n_v0"))
    val users = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct().count()
    assert(all.head.getAs[Long]("n_users") == users)
    for (r <- rows) {
      val (n, v0, v1) = (r.getAs[Long]("n_users"), r.getAs[Long]("n_v0"),
        r.getAs[Long]("n_v1"))
      assert(v0 + v1 == n)
      val d = v0 - v1
      assert(r.getAs[Long]("chi2_micro") == 1000000L * d * d / n)
      assert(r.getAs[Boolean]("srm") == (r.getAs[Long]("chi2_micro") > 3841459L))
    }
  }

  test("q192 layout audit: curves crush natural order, hilbert beats zorder in 2-D") {
    val rows = SparkEntry.queries("q192_hilbert_layout")(spark, dir).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    assert(rows.keySet == Set("natural", "zorder", "hilbert"))
    def d2(l: String) = rows(l).getAs[Long]("exp_chunks_2d_micro")
    for (r <- rows.values) assert(r.getAs[Long]("n_chunks") == 32L)
    // both curves cut 2-D point-predicate reads ≥5× vs ingest order
    assert(d2("zorder") * 5 < d2("natural"), s"${d2("zorder")} vs ${d2("natural")}")
    assert(d2("hilbert") * 5 < d2("natural"), s"${d2("hilbert")} vs ${d2("natural")}")
    // the adjacency-only walk gives tighter chunk bounding boxes than
    // Morton's diagonal jumps — the reason this operator exists
    assert(d2("hilbert") < d2("zorder"), s"${d2("hilbert")} vs ${d2("zorder")}")
    // per-dimension widths: every chunk spans ≥ 1/32 of each domain, so
    // milli values are ≥ 1000; sanity-floor the audit arithmetic
    for (r <- rows.values; c <- Seq("exp_chunks_part_milli", "exp_chunks_supp_milli"))
      assert(r.getAs[Long](c) >= 1000L, s"${r.getAs[String]("layout")} $c")
  }

  test("q193 PIT features: no leakage, and the freshest available day is used") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q193_pit_features")(spark, dir).collect()
    assert(rows.nonEmpty)
    // recompute each user's event days from the raw table
    val ev = graft.Tables.loadEvents(spark, dir)
    val userDays = ev.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct().collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getDate(1).toLocalDate).toSet).toMap
    val labelDay = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), to_date(col("ts")).as("d")).collect()
      .map(r => r.getLong(0) -> r.getDate(1).toLocalDate).toMap
    for (r <- rows) {
      val feat = java.time.LocalDate.parse(r.getAs[String]("feat_day"))
      val label = labelDay(r.getAs[Long]("event_id"))
      // leakage-freedom: a day's rollup is available only after it ends
      assert(feat.isBefore(label), s"leak: feat $feat not before label $label")
      // freshness: no usable event day exists between feat_day and the label
      val days = userDays(r.getAs[Long]("user_id"))
      val fresher = days.exists(d => d.isAfter(feat) && d.isBefore(label))
      assert(!fresher, s"stale: picked $feat with a fresher day before $label")
    }
  }

  test("q194 MRR eval: counters nest, reciprocal-rank bounds hold, mrr is the exact ratio") {
    val r = SparkEntry.queries("q194_mrr_eval")(spark, dir).collect().head
    def g(c: String) = r.getAs[Long](c)
    // the funnel nests: sampled ⊇ has-gold ⊇ gold-scored ⊇ top10 ⊇ top1
    assert(g("n_queries") >= g("n_with_truth"))
    assert(g("n_with_truth") >= g("n_truth_ranked"))
    assert(g("n_truth_ranked") >= g("hits_at_10"))
    assert(g("hits_at_10") >= g("hits_at_1"))
    assert(g("n_queries") > 0 && g("n_with_truth") > 0)
    // every top-10 hit contributes 1000/rank ∈ [100, 1000] milli
    assert(g("sum_rr_milli") <= 1000L * g("hits_at_10"))
    assert(g("sum_rr_milli") >= 100L * g("hits_at_10"))
    assert(g("mrr10_milli") == g("sum_rr_milli") / g("n_with_truth"))
    // the corpus HAS findable near-dups (q16 proves it) — retrieval
    // must find at least one gold at rank 1
    assert(g("hits_at_1") >= 1, "retrieval found no gold at rank 1")
  }

  test("q195 rolling window: value-range frames recompute exactly from daily rows") {
    val rows = SparkEntry.queries("q195_rolling_window")(spark, dir).collect()
    assert(rows.nonEmpty)
    val daily = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day_no")) ->
      (r.getAs[Long]("day_cents"), r.getAs[Long]("day_events"))).toMap
    for (r <- rows) {
      val (u, d) = (r.getAs[Long]("user_id"), r.getAs[Long]("day_no"))
      // the RANGE frame is by day VALUE: exactly the user's rows in
      // [d-6, d], regardless of how many rows that is
      val frame = (d - 6 to d).flatMap(dd => daily.get((u, dd)))
      assert(r.getAs[Long]("roll7_cents") == frame.map(_._1).sum)
      assert(r.getAs[Long]("roll7_events") == frame.map(_._2).sum)
      assert(r.getAs[Long]("active_days_7") == frame.length)
      assert(frame.length <= 7)
    }
    // conservation: daily cents sum to the exact per-event cents total
    import org.apache.spark.sql.functions._
    val total = graft.Tables.loadEvents(spark, dir)
      .agg(sum(expr("CAST(ROUND(value * 100) AS BIGINT)"))).head.getLong(0)
    assert(rows.map(_.getAs[Long]("day_cents")).sum == total)
  }

  test("q197 charset audit: class permilles partition each source within floor slack") {
    val rows = SparkEntry.queries("q197_charset_audit")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val pms = Seq("alpha_pm", "digit_pm", "space_pm", "other_pm")
        .map(r.getAs[Long](_))
      assert(pms.forall(p => p >= 0 && p <= 1000))
      // four floored permilles of a partition sum to 1000 minus <4 slack
      assert(pms.sum <= 1000 && pms.sum >= 997, s"sum ${pms.sum}")
      assert(r.getAs[Long]("l1_dev_milli") >= 0)
      assert(r.getAs[Long]("n_chars") > 0)
    }
  }

  test("q196 cluster separation: no strong pair straddles clusters") {
    val rows = SparkEntry.queries("q196_cluster_separation")(spark, dir).collect()
      .map(r => r.getAs[String]("pair_class") -> r).toMap
    assert(rows.keySet == Set("intra", "inter"))
    // recall contract: a J ≥ 0.5 pair split across clusters is a dedup
    // recall bug — there must be none, and the strong pairs must exist
    // somewhere (q16 proves the corpus has them)
    assert(rows("inter").getAs[Long]("n_strong") == 0L)
    assert(rows("intra").getAs[Long]("n_strong") >= 1L)
    assert(rows("inter").getAs[Long]("max_jac_permille") < 500L)
    assert(rows("intra").getAs[Long]("max_jac_permille") >= 500L)
    for (r <- rows.values) {
      assert(r.getAs[Long]("n_pairs") > 0)
      assert(r.getAs[Long]("avg_jac_permille") <= r.getAs[Long]("max_jac_permille"))
    }
  }

  test("q198 calibration: deciles partition the corpus, score-ordered, top beats bottom") {
    val rows = SparkEntry.queries("q198_score_calibration")(spark, dir).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs)
    // deciles are rank buckets: score ranges must not interleave
    for (Array(a, b) <- rows.sliding(2).map(_.toArray))
      assert(a.getAs[Long]("max_score") <= b.getAs[Long]("min_score"))
    for (r <- rows) {
      assert(r.getAs[Long]("pos_rate_permille") ==
        r.getAs[Long]("n_pos") * 1000 / r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("min_score") <= r.getAs[Long]("max_score"))
    }
    // the scorer must order quality: top decile ≫ bottom decile
    val (bot, top) = (rows.head.getAs[Long]("pos_rate_permille"),
      rows.last.getAs[Long]("pos_rate_permille"))
    assert(top >= bot + 500, s"flat calibration curve: bottom $bot, top $top")
  }

  test("q199 native session_window equals q11's gap formulation; boundary precondition holds") {
    import org.apache.spark.sql.functions._
    // precondition that grounds the equivalence: no event pair of any
    // user sits EXACTLY on the 30-minute boundary (where the two
    // formulations would legitimately disagree)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val exact = graft.Tables.loadEvents(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap") === 1800000000L).count()
    assert(exact == 0L, s"$exact exact-boundary gaps: formulations may diverge")
    val a = SparkEntry.queries("q199_session_window_native")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val b = SparkEntry.queries("q11_sessionize")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b, "native session_window diverged from q11")
  }

  test("q200 growth accounting: the decomposition identity holds exactly") {
    val rows = SparkEntry.queries("q200_growth_accounting")(spark, dir).collect()
      .sortBy(_.getAs[String]("day"))
    assert(rows.nonEmpty)
    def g(r: org.apache.spark.sql.Row, c: String) = r.getAs[Long](c)
    for (r <- rows) {
      // every active user is exactly one of new/retained/resurrected
      assert(g(r, "n_active") ==
        g(r, "n_new") + g(r, "n_retained") + g(r, "n_resurrected"))
      Seq("n_active", "n_new", "n_retained", "n_resurrected", "n_churned")
        .foreach(c => assert(g(r, c) >= 0))
    }
    // for consecutive days: churned(d) = active(d-1) - retained(d)
    for (Array(a, b) <- rows.sliding(2).map(_.toArray)) {
      val consecutive = java.time.LocalDate.parse(a.getAs[String]("day"))
        .plusDays(1) == java.time.LocalDate.parse(b.getAs[String]("day"))
      if (consecutive)
        assert(g(b, "n_churned") == g(a, "n_active") - g(b, "n_retained"))
    }
    // first day: everyone is new
    assert(g(rows.head, "n_new") == g(rows.head, "n_active"))
    // total new across days = total distinct users
    val users = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.map(g(_, "n_new")).sum == users)
  }

  test("q133 per-source rollup reconciles with the q126 verdict totals") {
    val rows = SparkEntry.queries("q133_dedup_by_source")(spark, dir).collect()
    val verdicts = SparkEntry.queries("q126_corpus_clean")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == verdicts.length)
    assert(rows.map(_.getAs[Long]("n_kept")).sum ==
      verdicts.count(_.getAs[Boolean]("kept")))
    rows.foreach { r =>
      assert(r.getAs[Long]("kept_permille") ==
        r.getAs[Long]("n_kept") * 1000 / r.getAs[Long]("n_docs"))
    }
  }

  test("q134 histogram covers the whole corpus exactly once") {
    val rows = SparkEntry.queries("q134_cluster_histogram")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("n_clusters") * r.getAs[Long]("cluster_size"))
    }
  }

  test("q96 assigns 8 subspace codes per vector; codebook vectors self-assign at d2=0") {
    val rows = SparkEntry.queries("q96_pq_codes")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.length == total * 8)
    val byVec = rows.groupBy(_.getAs[Long]("vec_id"))
    byVec.foreach { case (_, codes) =>
      assert(codes.map(_.getAs[Long]("sub")).sorted.toSeq == (0L to 7L))
      assert(codes.forall(r => r.getAs[Long]("code") >= 0 && r.getAs[Long]("code") < 16))
      assert(codes.forall(_.getAs[Long]("d2") >= 0))
    }
    // a codebook vector's nearest centroid in every subspace is itself
    (0L until 16L).foreach { cid =>
      byVec(cid).foreach { r =>
        assert(r.getAs[Long]("code") == cid && r.getAs[Long]("d2") == 0L)
      }
    }
  }

  test("q102 coverage ratios are consistent exact fractions") {
    val rows = SparkEntry.queries("q102_vocab_coverage")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, oov) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"))
      val (cov, tot) = (r.getAs[Long]("covered_chars"), r.getAs[Long]("token_chars"))
      assert(oov >= 0 && oov <= n && cov >= 0 && cov <= tot)
      assert(r.getAs[Double]("oov_ratio") == oov.toDouble / n)
      assert(r.getAs[Double]("char_coverage") == cov.toDouble / tot)
      // an OOV token is a single fallback char, so uncovered chars == n_oov
      assert(tot - cov == oov)
    }
  }

  test("q103 re-centers every subspace over exactly the full vector population") {
    val rows = SparkEntry.queries("q103_codebook_update")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    // per (sub, dim): members across cells partition the vectors
    rows.groupBy(r => (r.getAs[Long]("sub"), r.getAs[Long]("dim"))).foreach {
      case (_, cells) => assert(cells.map(_.getAs[Long]("n_members")).sum == total)
    }
    rows.foreach { r =>
      val c = r.getAs[Long]("coord")
      assert(c >= -127 && c <= 127)
      assert(r.getAs[Long]("n_members") > 0)
    }
  }

  test("q104 collocations respect count laws and the min-count floor") {
    val rows = SparkEntry.queries("q104_pmi_collocations")(spark, dir).collect()
    assert(rows.length <= 50)
    rows.foreach { r =>
      val (ab, a, b) = (r.getAs[Long]("c_ab"), r.getAs[Long]("c_a"), r.getAs[Long]("c_b"))
      assert(ab >= 5 && ab <= a && ab <= b)
      assert(r.getAs[Long]("pmi_score") >= 0)
    }
    val scores = rows.map(_.getAs[Long]("pmi_score")).toSeq
    assert(scores == scores.sorted.reverse) // ranked output
  }

  test("q105 keeps exactly one representative per semantic cluster") {
    val rows = SparkEntry.queries("q105_semantic_dedup")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.length == total) // every vector gets a verdict
    rows.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, members) =>
      assert(members.map(_.getAs[Long]("vec_id")).min == cid)
      assert(members.count(_.getAs[Boolean]("keep")) == 1)
      assert(members.find(_.getAs[Boolean]("keep")).get.getAs[Long]("vec_id") == cid)
      assert(members.forall(_.getAs[Long]("cluster_size") == members.length))
    }
  }

  test("q106 spike score is null exactly until a trailing window exists") {
    val rows = SparkEntry.queries("q106_rate_spikes")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, hrs) =>
      val ordered = hrs.sortBy(_.getAs[java.sql.Timestamp]("hour").getTime)
      // first hour per type has no trailing window
      assert(ordered.head.isNullAt(ordered.head.fieldIndex("trailing_events")))
      ordered.drop(1).foreach { r =>
        val t = r.getAs[Long]("trailing_events")
        assert(t > 0)
        assert(r.getAs[Long]("spike_permille") ==
          r.getAs[Long]("n_events") * 1000 / t)
      }
    }
  }

  test("q107 emits 3 outliers per group with non-increasing |z|") {
    val rows = SparkEntry.queries("q107_zscore_outliers")(spark, dir).collect()
    rows.groupBy(_.getAs[String]("l_returnflag")).foreach { case (_, grp) =>
      assert(grp.length == 3)
      val zs = grp.sortBy(_.getAs[Long]("rnk")).map(r => math.abs(r.getAs[Double]("z")))
      assert(zs.sorted.reverse.toSeq == zs.toSeq)
    }
  }

  test("q108 audits all five FK edges; driver data has no orphans") {
    val rows = SparkEntry.queries("q108_ref_integrity")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_child_rows") > 0)
      assert(r.getAs[Long]("n_orphans") == 0)
      assert(r.getAs[Double]("orphan_rate") == 0.0)
    }
  }

  test("q109 histogram partitions all rows into valid buckets") {
    val rows = SparkEntry.queries("q109_histogram")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/lineitem.parquet").count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == total)
    assert(rows.forall(r => r.getAs[Long]("bucket") >= 0 && r.getAs[Long]("bucket") < 20))
    val los = rows.sortBy(_.getAs[Long]("bucket")).map(_.getAs[Double]("lo_dollars"))
    assert(los.toSeq == los.sorted.toSeq) // bucket floors ascend
  }

  test("q110 hashed vectors are 64-dim with consistent norm and mass") {
    val rows = SparkEntry.queries("q110_feature_hashing")(spark, dir).collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "size(split(text, ' ')) AS n_tok")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_tok")).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[String]("vec_csv").split(",").map(_.toLong)
      assert(v.length == 64)
      assert(v.map(x => x * x).sum == r.getAs[Long]("sq_norm"))
      // signed counts can cancel but total mass is bounded by token count
      assert(v.map(math.abs).sum <= docs(r.getAs[Long]("doc_id")))
    }
  }

  test("q111 shuffle ranks are a permutation decorrelated from doc order") {
    val rows = SparkEntry.queries("q111_corpus_shuffle")(spark, dir).collect()
    val n = rows.length
    assert(rows.map(_.getAs[Long]("shuffle_rank")).sorted.toSeq == (1L to n))
    // hash order must not be the identity order (decorrelation smoke)
    val byDoc = rows.sortBy(_.getAs[Long]("doc_id")).map(_.getAs[Long]("shuffle_rank"))
    assert(byDoc.toSeq != (1L to n))
  }

  test("q67 assigns every doc exactly one cluster, labeled by the cluster min") {
    val rows = SparkEntry.queries("q67_neardup_clusters")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == total) // one assignment per doc
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getAs[Long]("doc_id")).min == cid) // min-id representative
      assert(members.forall(_.getAs[Long]("cluster_size") == members.length))
    }
  }

  test("q68 emits at most 5 ranked terms per doc, weights non-increasing") {
    val rows = SparkEntry.queries("q68_tfidf_topk")(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    rows.foreach { case (_, terms) =>
      assert(terms.length <= 5)
      val byRank = terms.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq == (1L to terms.length))
      val w = byRank.map(_.getAs[Long]("weight")).toSeq
      assert(w == w.sorted.reverse, s"weights not non-increasing: $w")
    }
  }

  test("q69 chunks tile each doc: stride 24, max 32 tokens, full coverage") {
    import org.apache.spark.sql.functions.{col, size, split}
    val chunks = SparkEntry.queries("q69_token_chunks")(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val tokens = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    chunks.foreach { case (doc, cs) =>
      val n = tokens(doc)
      val idx = cs.map(_.getAs[Long]("chunk_idx")).sorted.toSeq
      assert(idx == (0L until ((n + 23) / 24)).toSeq) // every stride start < n, none beyond
      cs.foreach { c =>
        val nt = c.getAs[Long]("n_tokens")
        assert(nt >= 1 && nt <= 32)
        // every chunk but possibly the tail ones is full or runs to the end
        val st = c.getAs[Long]("chunk_idx") * 24
        assert(nt == math.min(32L, n - st))
      }
    }
  }

  test("q70 quantized values stay in [-127, 127] and scale is non-negative") {
    val rows = SparkEntry.queries("q70_embed_quantize")(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("qscale") >= 0d)
      val vals = r.getAs[String]("q_csv").split(",").map(_.toInt)
      assert(vals.forall(v => v >= -127 && v <= 127))
      assert(vals.map(v => math.abs(v).toLong).sum == r.getAs[Long]("sum_abs_q"))
    }
  }

  test("q72 sketch estimates stay within tolerance of their exact twins") {
    // raw estimates (the gated q72 reduces them to tolerance booleans)
    val rows = graft.queries.EventsOps.q72raw(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("users_exact").toDouble
      val hll = r.getAs[Long]("users_hll").toDouble
      // 10% = 5σ at the query's rsd 0.02 (see q72raw's precision note)
      assert(math.abs(hll - exact) / exact < 0.10,
        s"HLL off by ${math.abs(hll - exact) / exact}")
      // the GK quantile summary at accuracy 1000 on this cardinality is
      // near-exact;
      // allow a loose band anchored on the exact disc percentile
      val p50e = r.getAs[Double]("p50_exact")
      val p50a = r.getAs[Double]("p50_approx")
      assert(math.abs(p50a - p50e) <= math.max(0.1 * math.abs(p50e), 1e-6))
    }
  }

  test("q77 survives single-word documents (sequence(1,0) / divide-by-zero guards)") {
    import spark.implicits._
    // sf corpora have no 1-word docs, so the guard is only reachable
    // through a synthetic fixture: one single-word doc + one normal doc
    val tmp = java.nio.file.Files.createTempDirectory("q77_oneword").toString
    Seq(
      (1L, "hello", "en", "synth", 5L),
      (2L, "the cat the cat", "en", "synth", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("q77_repetition_signals")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Long]("n_adjacent_repeats") == 0L)
    assert(rows(1L).isNullAt(rows(1L).fieldIndex("top_2gram_ratio")),
      "a 1-word doc has no bigrams: ratio must be NULL, not inf/error")
    assert(rows(2L).getAs[Double]("top_word_ratio") == 0.5)
    assert(rows(2L).getAs[Double]("top_2gram_ratio") == 2.0 / 3.0)
  }

  test("q202 drift audit: v1 sources surface NULL quality, v2 sources are fully scored") {
    val rows = SparkEntry.queries("q202_schema_drift")(spark, dir).collect()
    val srcTotals = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    assert(rows.map(_.getAs[String]("source")).toSet == srcTotals.keySet)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("n_docs") == srcTotals(src))
      if (src.length == 4) {
        // old-writer batch: mergeSchema must surface the column as NULL
        assert(r.getAs[Long]("n_quality") == 0L)
        assert(r.getAs[Long]("quality_sum") == 0L)
      } else {
        // new-writer batch: every row carries the added column
        assert(r.getAs[Long]("n_quality") == r.getAs[Long]("n_docs"))
      }
    }
  }

  test("q71 reports only train-side docs with genuinely shared shingles") {
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    val contaminated = SparkEntry.queries("q71_decontaminate")(spark, dir).collect()
    assert(contaminated.nonEmpty) // probed: the synthetic corpus overlaps
    val buckets = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        (conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long") % 100).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    contaminated.foreach { r =>
      assert(buckets(r.getAs[Long]("train_doc")) < 80)
      assert(buckets(r.getAs[Long]("first_test_doc")) >= 90)
      assert(r.getAs[Long]("n_shared") >= 1)
    }
  }

  test("q205 coincides with fixed-planes q39 exactly when the corpus sizes to 4 planes") {
    // At target depth 25 the 4-plane clamp engages only for corpora of
    // <= 400 embeddings — smaller than ANY fixture (a review caught the
    // original depth of 125 putting EVERY tested scale on the clamp, so
    // the dynamic arm had never run under an oracle; the fixture labels
    // had conflated documents counts with embeddings counts). Pin the
    // clamp's q39-degeneracy on a purpose-built 300-row corpus instead.
    import org.apache.spark.sql.functions.col
    val tiny = java.nio.file.Files.createTempDirectory("q205tiny").toString
    Tables.load(spark, dir, "embeddings").orderBy(col("vec_id")).limit(300)
      .write.mode("overwrite").parquet(s"$tiny/embeddings.parquet")
    val scaled = SparkEntry.queries("q205_ann_scaled_planes")(spark, tiny)
      .collect().map(_.toSeq).toSet
    val fixed = SparkEntry.queries("q39_ann_multiprobe")(spark, tiny)
      .collect().map(_.toSeq).toSet
    assert(scaled.nonEmpty && scaled == fixed)
  }

  test("q205's dynamic arm engages on every fixture scale (planes > clamp)") {
    // the catalog gate (sf0.01/sf0.1 oracle runs) now exercises the
    // gated signature bits: 500 embeddings → 5 planes, 2000 → 7
    import graft.ops.AnnIndex.scaledPlaneCount
    val n = Tables.load(spark, dir, "embeddings").count()
    assert(scaledPlaneCount(n, 4, 25L) > 4,
      s"fixture at $dir has $n embeddings — dynamic arm NOT exercised")
  }

  test("q206 reduces to q164's table when no type exceeds the sampling cap") {
    // sf0.001 is far under cap=100 users/type: n_sampled == n_users and
    // the 2×2 cells (and the decision) must equal the exact readout's
    val bign = SparkEntry.queries("q206_ab_readout_bign")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("n_sampled"),
          r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c"),
          r.getAs[Long]("d"), r.getAs[Boolean]("significant")))).toMap
    val exact = SparkEntry.queries("q164_ab_readout")(spark, dir).collect()
    assert(exact.nonEmpty && bign.size == exact.length)
    exact.foreach { r =>
      val (nU, nS, a, b, c, d, sig) = bign(r.getAs[String]("event_type"))
      assert(nU == nS, "no sampling may occur under the cap")
      assert((a, b, c, d) == ((r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("c"), r.getAs[Long]("d"))))
      assert(sig == r.getAs[Boolean]("significant"))
    }
  }
}
