package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the "is this the plan you'd want at
  * 100 TB" checks: filters actually pushed to the parquet scan, columns
  * pruned, dimension joins broadcast, vector hot path codegen'd.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q1: shipdate predicate reaches the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
  }

  test("q1: scan reads only the five needed columns") {
    val p = plan("q1_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_orderkey"),
      s"unpruned columns in: $readSchema")
  }

  test("q3: dimension joins are broadcast, not shuffled") {
    val p = plan("q3_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    // nation/region must never be the build side of a sort-merge join
    assert(!p.contains("SortMergeJoin") ||
      p.indexOf("BroadcastHashJoin") >= 0)
  }

  test("q5/q6: semi and anti joins plan as such") {
    assert(plan("q5_customers_with_open_orders").contains("LeftSemi"))
    assert(plan("q6_customers_without_orders").contains("LeftAnti"))
  }

  test("q2: global top-k plans as TakeOrdered, not a full sort") {
    val p = plan("q2_top_orders")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$p")
  }

  test("q20: native dot_product runs inside whole-stage codegen") {
    val df = SparkEntry.queries("q20_cosine_topk")(spark, dir)
    df.collect() // finalize the AQE plan so codegen stage markers appear
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dot_product"), s"no dot_product in:\n$p")
    assert(p.contains("*("), s"no whole-stage-codegen stages in:\n$p")
  }

  test("year-partitioned writes prune partitions at the scan") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("part_prune").toString
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").as("publish_date"))
    graft.etl.Catalog.writePartitioned(df, out)
    val read = spark.read.parquet(out).filter(col("publish_year") === 1996)
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(publish_year"),
      s"no partition filter in:\n$p")
    // pruned scan must read strictly fewer files than the full table
    val years = spark.read.parquet(out)
      .select(countDistinct(col("publish_year"))).head().getLong(0)
    assert(years > 1, "fixture must span multiple years for this test")
    assert(read.count() > 0)
  }

  test("q23: ANN candidates come from an equi-join on bucket") {
    val p = plan("q23_ann_topk")
    // equi-join on the bucket key — hash-partitionable, not a nested loop
    assert(p.contains("bucket"), s"no bucket key in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"ANN join degenerated to nested loop:\n$p")
  }

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("q91: cluster sizes count inside one-partition labels, join back across partitions") {
    val one = executedPlan("q91_clusters_altcc")
    assert(one.contains("Window [count(1)") && !one.contains("hashpartitioning(label"),
      s"one-partition labels did not count in place:\n$one")
    // phase 2 ran: no window, which would put a whole cluster in one task
    val many = TestSpark.acrossPartitions(executedPlan("q91_clusters_altcc"))
    assert(!many.contains("Window") && many.contains("partial_count"),
      s"labels across partitions did not aggregate and join back:\n$many")
  }

  test("q67: cluster sizes count inside one-partition labels, join back across partitions") {
    // the membership form ends at the same one-partition exit as q91's
    val one = executedPlan("q67_neardup_clusters")
    assert(one.contains("Window [count(1)") && !one.contains("hashpartitioning(label"),
      s"one-partition labels did not count in place:\n$one")
    val many = TestSpark.acrossPartitions(executedPlan("q67_neardup_clusters"))
    assert(!many.contains("Window") && many.contains("partial_count"),
      s"labels across partitions did not aggregate and join back:\n$many")
  }

  test("q48: six-table join uses hash joins only; orderdate filter pushed") {
    val p = executedPlan("q48_local_supplier_revenue")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"non-hash join in:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"orderdate not pushed to orders scan:\n$p")
    // the aggregate is partial before its shuffle (map-side combine)
    assert(p.contains("partial_sum"), s"no partial aggregation in:\n$p")
  }

  test("q49/q52: grouping sets and multi-distinct plan as one Expand") {
    assert(executedPlan("q49_grouping_sets").contains("Expand"))
    assert(executedPlan("q52_multi_distinct").contains("Expand"))
  }

  test("q50: generator runs narrow — no shuffle anywhere in the plan") {
    val p = executedPlan("q50_lateral_tokens")
    assert(p.contains("Generate"), s"no Generate node in:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle in:\n$p")
  }

  test("q51: correlated subqueries decorrelate to aggregate + join") {
    val p = executedPlan("q51_above_customer_avg")
    // one aggregation per subquery, joined back on the correlation key —
    // not a per-row rescan (which would appear as a nested-loop join)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"decorrelation failed:\n$p")
    assert(p.contains("HashAggregate"), s"no aggregate in:\n$p")
  }

  test("q53: interval join keys the equality, range is a condition") {
    val p = executedPlan("q53_interval_join")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"interval join degenerated to nested loop:\n$p")
  }

  test("q54: NOT IN plans as a null-aware anti join, not a nested loop") {
    val p = executedPlan("q54_not_in_null_trap")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"NOT IN degenerated to nested loop:\n$p")
  }

  test("q56: lateral limit decorrelates to WindowGroupLimit partial top-k") {
    val p = executedPlan("q56_lateral_topk")
    assert(p.contains("WindowGroupLimit"), s"no rank-limit pushdown in:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"lateral degenerated to nested loop:\n$p")
  }

  test("q57: single-pipeline shape — bounded collect, in-place pairs, no shingle self-join") {
    val df = SparkEntry.queries("q57_jaccard_dfcap")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the capped lists come from ObjectHashAggregate (bounded collect)…
    assert(p.contains("ObjectHashAggregate"), s"no bounded-collect aggregate in:\n$p")
    // …pairs are generated in place from the lists…
    assert(p.contains("Generate"), s"no pair-emission Generate in:\n$p")
    // …and there is NO shuffled self-join on the shingle key (that is
    // q16's all-pairs shape); the only joins are the tiny broadcast
    // self-row (n_sh) lookups
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join in:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"))
  }

  test("q68: per-doc ranking runs on the native TopKPerGroup operator") {
    val p = plan("q68_tfidf_topk")
    assert(p.contains("TopKPerGroup"), s"no native top-k operator in:\n$p")
  }

  test("q69: chunking is narrow — no aggregation or join anywhere") {
    val df = SparkEntry.queries("q69_token_chunks")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"chunking should be generate+project only:\n$p")
    // the only exchange is the deliberate single-file-input spread
    assert(!p.contains("ENSURE_REQUIREMENTS"),
      s"planner-inserted shuffle in a narrow pipeline:\n$p")
  }

  test("q70: quantization is a pure narrow scan (no exchange at all)") {
    val df = SparkEntry.queries("q70_embed_quantize")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"quantization must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"))
  }

  test("q71: the test-side shingle stream is broadcast, never shuffle-joined") {
    val df = SparkEntry.queries("q71_decontaminate")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"train shingles were shuffled for the join:\n$p")
  }

  test("q78: bloom probe is a native might_contain filter before the join") {
    val df = SparkEntry.queries("q78_bloom_decontaminate")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"no native bloom probe in:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF"),
      s"bloom probe fell off the codegen path:\n$p")
  }

  test("q80: the snapshot side anti-joins broadcast change keys (no snapshot shuffle)") {
    val df = SparkEntry.queries("q80_merge_upsert")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"merge did not broadcast the change keys:\n$p")
  }

  test("q82: packing sorts per shard, never globally") {
    val p = plan("q82_sequence_packing")
    assert(p.contains("Window"), s"no window in:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"global range sort leaked into the packing plan:\n$p")
    // the one exchange is the window's hash partition on the shard key —
    // per-shard cumsum parallelism is exactly the nShards knob
    assert(p.contains("hashpartitioning(_shard"),
      s"window must partition on the shard column:\n$p")
  }

  test("q92: the unigram model joins as a broadcast (vocab-bounded build side)") {
    val p = plan("q92_unigram_surprisal")
    assert(p.contains("BroadcastHashJoin"),
      s"unigram freq table must broadcast, not shuffle the token stream:\n$p")
  }

  test("q94: corpus frequency is a window over the hash key, no text shuffle") {
    val p = plan("q94_span_dedup")
    assert(p.contains("Window"), s"no window in:\n$p")
    assert(p.contains("hashpartitioning(k"),
      s"frequency window must partition on the window hash:\n$p")
  }

  test("q95: bigram/unigram model tables join as broadcasts (vocab-bounded)") {
    val p = plan("q95_bigram_surprisal")
    assert(p.contains("BroadcastHashJoin"),
      s"model tables must broadcast, not shuffle the bigram stream:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a model join fell back to sort-merge:\n$p")
  }

  test("q96: codebook and scale join as broadcasts; argmin is the only wide agg") {
    val p = plan("q96_pq_codes")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"codebook/scale must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"assignment fan-out must not shuffle the vectors:\n$p")
  }

  test("q113: PII scrub is fully narrow — no join, no aggregate") {
    val p = plan("q113_pii_redaction")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"per-row regex work must not shuffle or aggregate:\n$p")
  }

  test("q114: blocking makes candidate generation an equi-join, never a cross product") {
    val p = plan("q114_fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match degenerated to all-pairs:\n$p")
    assert(p.contains("TopKPerGroup"), s"best-match should use the native op:\n$p")
  }

  test("q116: weighted sample plans as TakeOrdered, not a global sort") {
    val p = plan("q116_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$p")
  }

  test("q118: both unigram model tables broadcast — the token stream never re-shuffles") {
    val p = plan("q118_dsir_resample")
    assert(p.contains("BroadcastHashJoin"), s"model joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a model join fell back to sort-merge:\n$p")
  }

  test("q122: both assignment passes are broadcast folds, never vector shuffles") {
    val p = plan("q122_kmeans_round")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid tables must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"assignment degenerated to a cartesian:\n$p")
  }

  test("q124: wedge join and closure check are equi-joins on the oriented edge list") {
    val p = plan("q124_triangle_count")
    assert(!p.contains("CartesianProduct"),
      s"triangle counting must not enumerate all pairs:\n$p")
    // nested-loop joins may appear ONLY as the single-row scalar
    // assembly at the top (counts crossJoined into one stats row) —
    // every BNLJ must be a Cross of scalar aggregates, never a join
    // carrying edge rows
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), s"non-scalar BNLJ in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"no equi-join for wedges in:\n$p")
  }

  test("q132: prefix candidate generation and verification are equi-joins") {
    val p = plan("q132_prefix_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix join degenerated to all-pairs:\n$p")
  }

  test("q136: containment candidate generation and verification are equi-joins") {
    val p = plan("q136_containment_join")
    assert(!p.contains("CartesianProduct"),
      s"containment join degenerated to all-pairs:\n$p")
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.isEmpty, s"non-equi join in containment path:\n$p")
  }

  test("q135: fusion sides end in TakeOrdered heaps, not global sorts") {
    val p = plan("q135_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$p")
    // the only BNLJ allowed is the broadcast single-row query-vector /
    // scalar-stats assembly, never a join carrying corpus rows
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), s"non-scalar BNLJ in:\n$p")
  }

  test("q142: HLL registers build through map-side partial max — no pre-distinct") {
    val p = plan("q142_hll_distinct")
    // duplicate-insensitivity is HLL's whole point: the register path
    // must be a partial max straight off the scan, never distinct-first
    assert(p.contains("partial_max"), s"no partial register max in:\n$p")
  }

  test("q143: weight vectors broadcast back; the feature pass is computed once") {
    val p = plan("q143_perceptron_round")
    // each training round joins a single-row weight frame — broadcast,
    // never a shuffle of the feature table against one row
    assert(p.contains("BroadcastNestedLoopJoin"), s"no broadcast weight join in:\n$p")
    assert(p.contains("InMemoryTableScan"), s"feature pass not cached in:\n$p")
  }

  test("q144: one user_id exchange feeds the lead window; pair agg shuffles only k² rows") {
    val df = SparkEntry.queries("q144_markov_transitions")(spark, dir)
    df.collect()
    // AQE renders final + initial plans; count exchanges in the final only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("lead("), s"no lead window in:\n$p")
    val userParts = p.linesIterator.count(_.contains("hashpartitioning(user_id"))
    assert(userParts == 1, s"expected exactly one user_id exchange, got $userParts in:\n$p")
  }

  test("q83: all three funnel stages shuffle on the same user_id key") {
    val df = SparkEntry.queries("q83_event_funnel")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // hashpartitioning should only ever target user_id — a second
    // partitioning expression would mean a mid-funnel re-shuffle
    val parts = "hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(parts.subsetOf(Set("user_id")), s"unexpected shuffle keys $parts in:\n$p")
  }

  test("q148: the smoothing join runs on the daily rollup, never on raw events") {
    val df = SparkEntry.queries("q148_ewma_daily")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the daily rollup is cached and all three consumers (both join
    // sides + the series-start lookup) read the InMemory rollup instead
    // of re-aggregating the event stream. (Scan-parquet occurrences
    // can't be counted here: InMemoryTableScan's rendering re-prints
    // the cached subplan.)
    // (can't split at "== Initial Plan ==": the cached InMemoryRelation
    // embeds its own marker and would truncate the outer final plan)
    val imts = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(imts >= 3, s"expected 3 rollup readers, saw $imts in:\n$p")
    // and the smoothing join itself is broadcast on the tiny rollup
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q153: corpus text stays out of the window-hash frequency exchange") {
    val df = SparkEntry.queries("q153_span_cut")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the frequency pass partitions on the 8-word window hash `k`; that
    // exchange must carry (doc_id, i, k) integers only — if `tok` or a
    // text column appears in its hashpartitioning row, the corpus is
    // being shuffled
    val kParts = p.linesIterator.filter(_.contains("hashpartitioning(k#")).toSeq
    assert(kParts.nonEmpty, s"no window-hash exchange found in:\n$p")
    assert(!kParts.exists(l => l.contains("tok#") || l.contains("text#")),
      s"text entered the frequency exchange:\n${kParts.mkString("\n")}")
  }

  test("q155: the pooled quantile histogram joins as a broadcast, never a shuffle") {
    val p = plan("q155_quantile_norm")
    // the histogram side is ≤1001 rows; its non-equi threshold lookup
    // must be a broadcast nested-loop, and nothing may degenerate to a
    // cartesian of corpus rows
    assert(p.contains("BroadcastNestedLoopJoin"), s"no broadcast lookup in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in quantile lookup:\n$p")
  }

  test("widened-column predicates still push to the narrow parquet scan") {
    // Tables.widenNumerics casts int32 columns to long at load; Catalyst's
    // UnwrapCastInBinaryComparison must keep unwrapping the upcast so the
    // filter reaches the int32 scan — otherwise the flavor boundary would
    // cost a full-scan at 100 TB (q34 filters the widened l_linenumber)
    val p = plan("q34_math_funcs")
    assert(p.contains("PushedFilters: [IsNotNull(l_linenumber), EqualTo(l_linenumber,1)"),
      s"l_linenumber predicate not pushed through the widening cast in:\n$p")
  }

  test("q86: the CDC delta broadcasts; corpus fingerprints never enter an exchange") {
    // the incremental-dedup scale claim: only the delta moves — the
    // corpus side is a scan + narrow md5 probed by a broadcast of the
    // tiny delta, so at 100 TB the big side never reshuffles
    val df = SparkEntry.queries("q86_incremental_dedup")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"delta not broadcast in:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("fp#")),
      s"corpus fingerprints shuffled in:\n$p")
  }

  test("q125: incremental near-dup probes the band index by equi-join, ranks natively") {
    val df = SparkEntry.queries("q125_incremental_neardup")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // candidate generation must key (band_idx, band_val) — an equi-join
    // shape; a nested loop here would be the |delta|·|corpus| disaster
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"band probe degenerated to all-pairs:\n$p")
    assert(p.contains("TopKPerGroup"), s"best-match should use the native op:\n$p")
  }

  test("q201: dynamic partition pruning fires and the fact scan reads only matching partitions") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q201_dpp_audit")(spark, dir)
    // (a) plan shape: the partitioned scan carries a DPP subquery filter
    val planned = df.queryExecution.executedPlan.toString
    assert(planned.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning subquery in:\n$planned")
    df.collect()
    // (b) measured: the scan's partition metric proves pruning happened
    // (the q163 "measure, don't assert" pattern applied to DPP)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      // AQE wraps materialized stages with children = Nil; subtree is .plan
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val fact = nodes(df.queryExecution.executedPlan).collectFirst {
      case f: FileSourceScanExec if f.output.exists(_.name == "o_totalprice") => f
    }
    assert(fact.isDefined, "partitioned orders scan not found in the executed plan")
    val read = fact.get.metrics.get("numPartitions").map(_.value)
    assert(read.isDefined, s"no partition metric on scan: ${fact.get.metrics.keys}")
    // the fixture spans ≥4 order years at every sf; the dim keeps 2
    assert(read.get == 2, s"expected 2 partitions read after pruning, got ${read.get}")
  }
}
