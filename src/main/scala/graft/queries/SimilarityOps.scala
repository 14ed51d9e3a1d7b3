package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.load
import graft.QueryDef

/** Similarity search + vector aggregation over the `embeddings` table
  * (`vec_id long, embedding array<float>, label int`, 64 dims).
  *
  * Cross-engine determinism: both engines cast float→double (exact) and
  * compute dot products and squared distances as a strict left fold —
  * Spark's native `dot_product`/`sq_dist` (the loop of
  * `aggregate(zip_with(a,b,(x,y)->x*y), 0.0, (acc,x)->acc+x)`) and
  * DuckDB's `list_dot_product`/`LIST_REDUCE` produce bit-identical
  * doubles (verified on the driver parquet). Centroids avoid float-sum order-dependence by
  * flooring components to integer micro-units before the (exact) sum.
  *
  * Scale design (100 TB): brute-force top-k is O(n²·d) — correct baseline
  * at test scale, and it broadcasts the smaller side so there is no
  * shuffle. The scale path is `graft.ops.AnnIndex` (LSH bucketing via
  * random hyperplane signs): candidates come from an equi-join on bucket
  * keys, turning all-pairs into per-bucket pairs. Centroid aggregation is
  * a plain partial-aggregatable groupBy on (label, dim) — at 1000
  * executors each task combines locally before one small shuffle.
  */
object SimilarityOps {

  private def withNorm(s: SparkSession, df: DataFrame): DataFrame = {
    // single-file parquet → one input partition; spread the probe side so
    // the O(n·k·d) dot-product work runs at full task parallelism
    df.repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", expr("vec_norm(v)"))
  }

  // q20 — brute-force cosine top-5 per vector (the exactness baseline for
  // the ANN path). Deterministic ordering: (cos desc, other_id asc) on
  // bit-identical doubles.
  // `probe` restricts the QUERY side only (the index side stays the full
  // corpus, so each surviving query still ranks against everything) —
  // pushed ahead of the pair join so a 1-in-k audit sample costs 1/k of
  // the O(n²·d) work, not a post-hoc filter over it. Results for the
  // surviving vec_ids are identical either way.
  private def q20(s: SparkSession, dir: String): DataFrame =
    q20Impl(s, dir, lit(true))
  private def q20Impl(s: SparkSession, dir: String, probe: Column): DataFrame = {
    val e = withNorm(s, load(s, dir, "embeddings"))
    val a = e.filter(probe)
      .select(col("vec_id").as("a_id"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    a.join(broadcast(b), col("a_id") =!= col("b_id"))
      .withColumn("dot", expr("dot_product(va, vb)"))
      .withColumn("cos_sim", col("dot") / (col("na") * col("nb")))
      .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }
  // The probe predicate (over `a.vec_id`) is pushed into the pair join —
  // the SQL twin of q20Impl's `probe` argument. Audit oracles (q87/q101/
  // q177) used to apply their 1-in-k sample OUTSIDE the composed query;
  // provably the same rows, but the ROW_NUMBER window then materializes
  // the FULL n² pair set first — at sf1 (20k vecs → 400M pairs) that
  // OOM'd DuckDB at a 110 GB limit. Pushing the sample in costs 1/k of
  // the pair volume AND 1/k of the window, matching the engine's shape.
  private def q20SqlProbe(probe: String) =
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) AS cos_sim
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id AND ($probe)),
      |ranked AS (
      |  SELECT vec_id, neighbor_id, cos_sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM pairs)
      |SELECT vec_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5""".stripMargin
  private val q20Sql = q20SqlProbe("TRUE")

  // q21 — per-label centroid in micro-units: posexplode to (label, dim),
  // floor(x*1e6) → exact integer sums → deterministic mean.
  private def q21(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("x_micro", floor(col("x") * 1000000).cast("long"))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x_micro")).as("sum_micro"),
        (sum(col("x_micro")).cast("double") / count(lit(1))).as("centroid_micro"))
  private val q21Sql =
    """SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro,
      |  CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) AS centroid_micro
      |FROM embeddings CROSS JOIN GENERATE_SERIES(1, 64) g(i)
      |GROUP BY label, i""".stripMargin

  // LSH configuration for the ANN path: 4 hyperplanes → 16 buckets.
  // At sf0.01 (500 vecs) that's ~31 vecs/bucket — candidate sets two
  // orders of magnitude below all-pairs at sf0.1+.
  private val AnnPlanes = 4
  private val Dims = 64

  // q22 — ANN bucket assignment (sign-random-projection LSH): the
  // deterministic indexing half of approximate similarity search.
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    graft.ops.AnnIndex.withBucket(e, "v", AnnPlanes, Dims)
      .select(col("vec_id"), col("bucket"))
  }
  private val q22Sql = {
    val b = graft.ops.AnnIndex.bucketSql("v", AnnPlanes, Dims)
    s"""SELECT vec_id, $b AS bucket
      |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) t""".stripMargin
  }

  // q23 — bucketed ANN top-3: candidates come from an equi-join on the
  // LSH bucket (vs q20's all-pairs); approximate by construction but
  // fully deterministic, so the oracle replays it exactly.
  private def q23(s: SparkSession, dir: String): DataFrame =
    q23Impl(s, dir, lit(true))
  private def q23Impl(s: SparkSession, dir: String, probe: Column): DataFrame = {
    val e = withNorm(s, load(s, dir, "embeddings"))
    // cache: both join sides reuse the same signature computation
    val bucketed = graft.ops.AnnIndex.withBucket(e, "v", AnnPlanes, Dims).cache()
    val a = bucketed.filter(probe).select(col("vec_id").as("a_id"), col("v").as("va"),
      col("norm").as("na"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("b_id"), col("v").as("vb"),
      col("norm").as("nb"), col("bucket"))
    val pairs = a.join(b, Seq("bucket")).filter(col("a_id") =!= col("b_id"))
      .withColumn("dot", expr("dot_product(va, vb)"))
      .withColumn("cos_sim", col("dot") / (col("na") * col("nb")))
      .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
        col("bucket"), col("cos_sim"))
    // rank via the native TopKPerGroup operator (streaming group-scan)
    graft.ops.TopK.perGroup(pairs, Seq("vec_id"),
      Seq(col("cos_sim").desc, col("neighbor_id").asc), 3, "rank")
  }
  // probe: see q20SqlProbe — same pushdown, over `a.vec_id`
  private def q23SqlProbe(probe: String) = {
    val b = graft.ops.AnnIndex.bucketSql("v", AnnPlanes, Dims)
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |bucketed AS (SELECT vec_id, v, norm, $b AS bucket FROM e),
      |pairs AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, a.bucket AS bucket,
      |    LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) AS cos_sim
      |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      |    AND ($probe)),
      |ranked AS (
      |  SELECT vec_id, neighbor_id, bucket, cos_sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM pairs)
      |SELECT vec_id, neighbor_id, bucket, cos_sim, rank FROM ranked WHERE rank <= 3""".stripMargin
  }
  private val q23Sql = q23SqlProbe("TRUE")

  // q31 — IVF coarse quantizer: per-label micro-unit centroids become the
  // cell table; every vector is assigned to its nearest cell (squared
  // euclidean in micro-units — exact integer-derived doubles, strict
  // fold, deterministic argmin with cell_id tie-break). The IVF
  // counterpart of q22's LSH bucketing: at scale, search probes only the
  // nearest cell(s) instead of the full corpus, and the centroid table is
  // broadcast (10 cells × 64 dims).
  /** Vectors on the integer micro-grid, double-encoded for the distance
    * fold: (vec_id, vm array<double> of integer values).
    */
  private def microVecs(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "embeddings")
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("vec_id"),
        expr("transform(cast(embedding as array<double>), x -> cast(floor(x * 1000000) as double))")
          .as("vm"))
  }

  /** Label-seeded centroids: per-label mean on the micro grid
    * (exact-integer sums, one double division at the end).
    */
  private def labelCentroids(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("label").as("cell_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("x_micro", floor(col("x") * 1000000).cast("long"))
      .groupBy(col("cell_id"), col("dim"))
      .agg((sum(col("x_micro")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("cell_id"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as("cv"))

  /** Nearest-centroid assignment: broadcast the (cell_id, cv) table,
    * narrow per-vector distance fold, argmin with cell_id tie-break.
    */
  private def assignToCells(vecs: DataFrame, cent: DataFrame): DataFrame = {
    // r15: argmin as a partial-aggregatable min(struct(dist, cell_id)) —
    // lexicographic struct order ≡ the old row_number window's
    // (dist asc, cell_id asc), but the n·k distance stream now reduces
    // MAP-SIDE to one row per vec before the exchange (guide §2.3)
    // instead of paying two full sorts (partial WindowGroupLimit + the
    // post-exchange window sort). dist ≥ 0 by construction, so the
    // double field needs no NaN/-0.0 guard.
    vecs.join(broadcast(cent))
      .withColumn("dist", expr("sq_dist(vm, cv)"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cell_id"))).as("_best"))
      .select(col("vec_id"), col("_best.cell_id").as("cell_id"),
        col("_best.dist").as("dist"))
  }

  private def ivfAssigned(s: SparkSession, dir: String): DataFrame =
    assignToCells(microVecs(s, dir), labelCentroids(s, dir))
  private def q31(s: SparkSession, dir: String): DataFrame = ivfAssigned(s, dir)
  /** Shared CTE chain: centroid cells + nearest-cell assignment. */
  private val ivfSqlCtes =
    """ex AS (
      |  SELECT CAST(label AS BIGINT) AS cell_id, i,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xm
      |  FROM embeddings CROSS JOIN GENERATE_SERIES(1, 64) g(i)),
      |cent AS (
      |  SELECT cell_id, i, CAST(SUM(xm) AS DOUBLE) / COUNT(*) AS c
      |  FROM ex GROUP BY cell_id, i),
      |cells AS (
      |  SELECT cell_id, LIST(c ORDER BY i) AS cv FROM cent GROUP BY cell_id),
      |vecs AS (
      |  SELECT vec_id,
      |    LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> FLOOR(x * 1000000)) AS vm
      |  FROM embeddings),
      |dists AS (
      |  SELECT vec_id, cell_id,
      |    LIST_REDUCE(
      |      LIST_PREPEND(CAST(0 AS DOUBLE),
      |        LIST_TRANSFORM(GENERATE_SERIES(1, 64), i -> (vm[i] - cv[i]) * (vm[i] - cv[i]))),
      |      (acc, x) -> acc + x) AS dist
      |  FROM vecs CROSS JOIN cells),
      |assigned AS (
      |  SELECT vec_id, cell_id, dist,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell_id ASC) AS rn
      |  FROM dists)""".stripMargin
  private val q31Sql =
    s"""WITH $ivfSqlCtes
      |SELECT vec_id, cell_id, dist FROM assigned WHERE rn = 1""".stripMargin

  // q62 — IVF probe search: the search half that q31's coarse quantizer
  // exists for. Each vector probes its own cell (nprobe=1): candidates
  // come from an equi-join on cell_id — the quantizer shards the corpus
  // so search touches ~n/cells vectors instead of n — then exact cosine
  // ranks them through the native TopKPerGroup operator. At 100 TB the
  // cell table is broadcast (cells × dims doubles) and candidate
  // generation stays an equi-join; widening recall = probing the p
  // nearest cells, which multiplies candidates by p, never by n.
  private def q62(s: SparkSession, dir: String): DataFrame =
    q62Impl(s, dir, lit(true))
  private def q62Impl(s: SparkSession, dir: String, probe: Column): DataFrame = {
    val assigned = ivfAssigned(s, dir).select(col("vec_id"), col("cell_id"))
    val e = withNorm(s, load(s, dir, "embeddings"))
    val av = assigned.join(e, Seq("vec_id")).cache()
    val a = av.filter(probe)
      .select(col("vec_id"), col("v").as("va"), col("norm").as("na"), col("cell_id"))
    val b = av.select(col("vec_id").as("neighbor_id"), col("v").as("vb"),
      col("norm").as("nb"), col("cell_id"))
    val pairs = a.join(b, Seq("cell_id")).filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"), col("cell_id"),
        (expr("dot_product(va, vb)") / (col("na") * col("nb"))).as("cos_sim"))
    graft.ops.TopK.perGroup(pairs, Seq("vec_id"),
      Seq(col("cos_sim").desc, col("neighbor_id").asc), 3, "rank")
  }
  // probe: see q20SqlProbe — same pushdown, over `a.vec_id`
  private def q62SqlProbe(probe: String) =
    s"""WITH $ivfSqlCtes,
      |cellmap AS (SELECT vec_id, cell_id FROM assigned WHERE rn = 1),
      |e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |av AS (
      |  SELECT m.vec_id, m.cell_id, e.v, e.norm
      |  FROM cellmap m JOIN e ON m.vec_id = e.vec_id),
      |pairs AS (
      |  SELECT a.vec_id, b.vec_id AS neighbor_id, a.cell_id,
      |    LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) AS cos_sim
      |  FROM av a JOIN av b ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
      |    AND ($probe)),
      |rankedq AS (
      |  SELECT vec_id, neighbor_id, cell_id, cos_sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM pairs)
      |SELECT vec_id, neighbor_id, cell_id, cos_sim, rank
      |FROM rankedq WHERE rank <= 3""".stripMargin
  private val q62Sql = q62SqlProbe("TRUE")

  // q32 — embedding-cosine near-dup: all pairs above a similarity
  // threshold (the dedup-family form of q20; at scale the candidate set
  // comes from q22/q31 buckets instead of all pairs).
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, load(s, dir, "embeddings"))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", expr("dot_product(va, vb)") / (col("na") * col("nb")))
      .filter(col("cos_sim") >= 0.35)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }
  private val q32Sql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) AS cos_sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) >= 0.35""".stripMargin

  // q70 — int8 symmetric quantization of the embedding column: the
  // compression step a 100 TB vector store runs before serving (4×
  // smaller, SIMD-friendly dot products). Per-vector scale =
  // 127 / max|v|, elements round to [-127, 127]. Entirely narrow —
  // per-row transform, no shuffle, streams at scan speed. Cross-engine
  // exactness: float→double cast is exact, one IEEE multiply + divide
  // each, and both engines round halves away from zero; the quantized
  // ints are emitted as CSV (array cells don't survive the comparer's
  // sort — q37's lesson) plus an integer checksum.
  private def q70(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("max_abs", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("qscale",
        when(col("max_abs") === 0d, lit(0d)).otherwise(lit(127.0) / col("max_abs")))
      .withColumn("q", expr("transform(v, x -> CAST(ROUND(x * qscale) AS INT))"))
      .select(col("vec_id"), col("qscale"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + abs(x))")
          .as("sum_abs_q"),
        array_join(col("q"), ",").as("q_csv"))
  private val q70Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (
      |  SELECT vec_id, v, LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) AS max_abs
      |  FROM e),
      |qt AS (
      |  SELECT vec_id,
      |    CASE WHEN max_abs = 0 THEN 0.0 ELSE 127.0 / max_abs END AS qscale,
      |    LIST_TRANSFORM(v, x -> CAST(ROUND(x *
      |      (CASE WHEN max_abs = 0 THEN 0.0 ELSE 127.0 / max_abs END)) AS INT)) AS q
      |  FROM m)
      |SELECT vec_id, qscale,
      |  CAST(LIST_SUM(LIST_TRANSFORM(q, x -> ABS(x))) AS BIGINT) AS sum_abs_q,
      |  ARRAY_TO_STRING(q, ',') AS q_csv
      |FROM qt""".stripMargin

  // q87 — ANN recall audit: recall@3 of each approximate search path
  // (q23 LSH single-bucket, q39 multi-probe, q62 IVF nprobe=1) against
  // q20's exact top-3 — the similarity-search twin of q73's MinHash
  // audit, and the measurement a pipeline owner runs on a bounded
  // sample before trusting an index configuration at 100 TB. Every
  // count is an exact integer over deterministic candidate sets, so the
  // recall fractions are engine-identical, and each hit check is a
  // semi-join on (query, neighbor) pairs.
  // The audit runs on a deterministic 1-in-5 QUERY sample (vec_id % 5),
  // pushed into the probe side of all four searches — the index side
  // stays the full corpus, so each sampled query still ranks against
  // everything and its per-query result is unchanged. This is the
  // bounded-sample shape the 100 TB deployment needs (exact ground
  // truth is O(sample·n·d), never O(n²·d)) rather than a post-hoc
  // filter over full-corpus audits.
  private val AuditSample = col("vec_id") % 5 === 0
  private def q87(s: SparkSession, dir: String): DataFrame = {
    // four readers (three semi-joins + the denominator count) over the
    // brute-force exact top-k — cache it rather than re-running the
    // sampled all-pairs scan per method
    val exact3 = q20Impl(s, dir, AuditSample).filter(col("rank") <= 3)
      .select(col("vec_id"), col("neighbor_id")).cache()
    val exactN = exact3.agg(count(lit(1)).as("n_exact"))
    def audit(m: String, approx: DataFrame) =
      exact3.join(approx.select(col("vec_id"), col("neighbor_id")),
          Seq("vec_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(exactN))
        .select(lit(m).as("method"), col("n_exact"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_exact")).as("recall_at_3"))
    // r15 (guide §2.6): the three audited index pipelines are genuinely
    // independent — each builds its own index (IVF assignment, LSH
    // bucketing, multi-probe expansion) over the corpus before the
    // 1-row semi-join count — and ran strictly serially through the
    // final union while most cores idled between their stages. Each
    // 1-row audit is materialized on a driver thread (the cached exact3
    // dedups at the block level: whichever job computes a partition
    // first publishes it, the others read).
    val Seq(ivf, lsh, mp) = graft.ops.Overlap.frames(Seq(
      () => audit("ivf_q62", q62Impl(s, dir, AuditSample))
        .localCheckpoint(eager = true),
      () => audit("lsh_q23", q23Impl(s, dir, AuditSample))
        .localCheckpoint(eager = true),
      () => audit("multiprobe_q39", q39Impl(s, dir, AuditSample))
        .localCheckpoint(eager = true)))
    ivf.unionByName(lsh).unionByName(mp).orderBy(col("method"))
  }
  // Oracle: the 1-in-5 sample is pushed into each component's probe side
  // (the `*SqlProbe` builders), exactly like the engine's `AuditSample`
  // argument — the index side is untouched so each sampled query still
  // ranks against everything, and the result is provably the rows the
  // old outside-filter form kept. The outside-filter form materialized
  // all four FULL n² window pipelines first and OOM'd DuckDB at sf1.
  private lazy val q87Sql = {
    def hits(cte: String) =
      s"""(SELECT COUNT(*) FROM exact3 e
         |     WHERE EXISTS (SELECT 1 FROM $cte a
         |       WHERE a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id))""".stripMargin
    s"""WITH exact3 AS (
      |  SELECT vec_id, neighbor_id FROM (${q20SqlProbe("a.vec_id % 5 = 0")}) t
      |  WHERE rank <= 3),
      |a_lsh AS (SELECT vec_id, neighbor_id FROM (${q23SqlProbe("a.vec_id % 5 = 0")}) t),
      |a_mp AS (SELECT vec_id, neighbor_id FROM (${q39SqlProbe("vec_id % 5 = 0")}) t),
      |a_ivf AS (SELECT vec_id, neighbor_id FROM (${q62SqlProbe("a.vec_id % 5 = 0")}) t),
      |n AS (SELECT COUNT(*) AS n_exact FROM exact3)
      |SELECT method, n_exact, n_hit,
      |  CAST(n_hit AS DOUBLE) / n_exact AS recall_at_3
      |FROM (
      |  SELECT 'ivf_q62' AS method, n_exact, ${hits("a_ivf")} AS n_hit FROM n
      |  UNION ALL
      |  SELECT 'lsh_q23' AS method, n_exact, ${hits("a_lsh")} AS n_hit FROM n
      |  UNION ALL
      |  SELECT 'multiprobe_q39' AS method, n_exact, ${hits("a_mp")} AS n_hit FROM n) u
      |ORDER BY method""".stripMargin
  }

  // q96 — product quantization (PQ, Jégou et al. 2011): the memory side
  // of the ANN story — 64-dim float vectors compress to 8 one-byte codes
  // (one per 8-dim subspace), the representation IVF-PQ engines scan
  // instead of raw floats. Codebook here = the quantized subvectors of
  // the first 16 vectors (deterministic "init with first k"; real
  // codebooks add Lloyd iterations on a sample — the assignment pass
  // below is unchanged). Exactness across engines: vectors are first
  // quantized to a COMMON integer grid (symmetric per-corpus int8, the
  // global-scale variant of q70), so subspace L2 distances are exact
  // BIGINTs — no float-sum ordering anywhere; ties break to the lowest
  // centroid id via struct-min.
  // Shape at 100 TB: gmax is one scalar treeAggregate; the codebook is
  // 16×64 ints → broadcast; assignment is a narrow map-side ×16 fan-out
  // per vector (no shuffle); the only exchange is the (vec, sub) argmin
  // partial agg. Long (vec, sub, code) form is for the oracle gate — a
  // production sink would pack the 8 codes into one binary column.
  /** Vectors on the common int8 grid: (vec_id, qv array<int>). */
  private def pqQuantized(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val gmax = e.agg(max(expr("array_max(transform(v, x -> abs(x)))")).as("gmax"))
    e.crossJoin(broadcast(gmax))
      .select(col("vec_id"),
        expr("transform(v, x -> CAST(ROUND(x * 127.0 / nullif(gmax, 0.0d)) AS INT))")
          .as("qv"))
  }

  /** Exact integer L2² between 8-dim subvectors `qv`/`qc` at subspace
    * `sub` (columns must carry those names). */
  // Unrolled to 8 explicit terms (r14): the aggregate(sequence(1,8), …)
  // HOF form evaluated an interpreted lambda frame per element on the
  // ×16-centroid ×8-subspace fan-out — the hottest row stream in the PQ
  // family (n·128 rows) — while the unrolled sum is plain whole-stage-
  // codegen arithmetic (the ShinglesExpr lesson applied to a fold).
  // Identical integer result, term for term.
  private val pqD2Expr = (1 to 8).map { j =>
    s"CAST(element_at(qv, sub * 8 + $j) - element_at(qc, sub * 8 + $j) AS BIGINT) * " +
      s"CAST(element_at(qv, sub * 8 + $j) - element_at(qc, sub * 8 + $j) AS BIGINT)"
  }.mkString("(", " + ", ")")

  /** Distances from every row of `q` to all 16 codebook entries in all 8
    * subspaces: (vec_id, cid, sub, d2). */
  private def pqDistances(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), col("qv"), col("qc"),
        explode(expr("sequence(0, 7)")).as("sub"))
      .select(col("vec_id"), col("cid"), col("sub").cast("long").as("sub"),
        expr(pqD2Expr).as("d2"))

  private def q96(s: SparkSession, dir: String): DataFrame = {
    val q = pqQuantized(s, dir)
    val cents = q.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("qv").as("qc"))
    pqDistances(q, cents)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("code"), col("m.d2").as("d2"))
  }

  /** Shared oracle CTEs: quantized vectors `q(vec_id, qv)`, codebook
    * `c(cid, qc)`, all subspace distances `d(vec_id, cid, sub, d2)`. */
  private val pqCteSql =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |g AS (SELECT MAX(LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x)))) AS gmax FROM e),
      |q AS (SELECT vec_id,
      |    LIST_TRANSFORM(v, x -> CAST(ROUND(x * 127.0 / NULLIF(gmax, 0.0)) AS INT)) AS qv
      |  FROM e CROSS JOIN g),
      |c AS (SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id < 16),
      |d AS (
      |  SELECT q.vec_id, c.cid, s.sub,
      |    CAST(SUM(CAST(q.qv[s.sub * 8 + jj.j] - c.qc[s.sub * 8 + jj.j] AS BIGINT)
      |      * CAST(q.qv[s.sub * 8 + jj.j] - c.qc[s.sub * 8 + jj.j] AS BIGINT)) AS BIGINT) AS d2
      |  FROM q CROSS JOIN c CROSS JOIN range(0, 8) s(sub) CROSS JOIN range(1, 9) jj(j)
      |  GROUP BY q.vec_id, c.cid, s.sub),
      |codes AS (
      |  SELECT vec_id, sub, cid AS code, d2
      |  FROM (SELECT vec_id, sub, cid, d2,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, cid ASC) AS rn
      |    FROM d)
      |  WHERE rn = 1)""".stripMargin
  private val q96Sql =
    s"""WITH $pqCteSql
      |SELECT vec_id, sub, code, d2 FROM codes""".stripMargin

  // q100 — PQ/ADC search (asymmetric distance computation, Jégou et al.
  // 2011 §IV): queries (every 50th vector) score the WHOLE database
  // through its 1-byte-per-subspace codes — per query, one 8×16 lookup
  // table of exact integer subspace distances to the codebook, then
  // dist(q, v) = Σ_sub LUT[sub][code_v(sub)]. This is why PQ wins at
  // scale: the database side never touches floats again — scanning n
  // vectors costs n×8 table lookups against 128 broadcast LUT entries
  // (at 100 TB: codes are 8 bytes/vector vs 256 for raw floats, and the
  // scan is memory-bandwidth-bound integer adds). Top-3 per query via
  // the native TopKPerGroup group-scan; all-integer distances make the
  // ranking bit-deterministic. Candidate generation is still ×n per
  // query here — IVF cells (q62) bound that; composing IVF+PQ is the
  // production layout.
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val q = pqQuantized(s, dir).cache() // read three ways below
    val cents = q.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("qv").as("qc"))
    val codes = pqDistances(q, cents)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("code"))
    val lut = pqDistances(q.filter(col("vec_id") % 50 === 0), cents)
      .select(col("vec_id").as("query_id"), col("sub").as("l_sub"),
        col("cid"), col("d2"))
    val dist = codes
      .join(broadcast(lut),
        col("sub") === col("l_sub") && col("code") === col("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_d2"))
    graft.ops.TopK.perGroup(dist, Seq("query_id"),
      Seq(col("adc_d2").asc, col("vec_id").asc), 3, "rank")
  }
  /** q100's oracle CTEs on top of [[pqCteSql]]: LUT, ADC distances, and
    * the ranked top-3 — shared with the q101 recall audit. */
  private val pqAdcCteSql =
    s"""$pqCteSql,
      |lut AS (SELECT vec_id AS query_id, sub, cid, d2 FROM d WHERE vec_id % 50 = 0),
      |dist AS (
      |  SELECT l.query_id, cd.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
      |  FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.cid
      |  WHERE l.query_id <> cd.vec_id
      |  GROUP BY l.query_id, cd.vec_id),
      |adc_ranked AS (
      |  SELECT query_id, vec_id, adc_d2,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2 ASC, vec_id ASC) AS BIGINT) AS rank
      |  FROM dist)""".stripMargin
  private val q100Sql =
    s"""WITH $pqAdcCteSql
      |SELECT query_id, vec_id, adc_d2, rank FROM adc_ranked WHERE rank <= 3""".stripMargin

  // q101 — PQ quantization-loss audit: recall@3 of ADC search (q100)
  // against the exact float cosine top-3 on the same query set — the
  // q87 shape applied to the compressed index, measuring what the
  // 32×-smaller representation costs in answer quality. ADC ranks by
  // quantized L2 while the reference ranks by cosine, so the number
  // also absorbs the metric gap — exactly what the owner of an IVF-PQ
  // deployment needs to see before trusting it.
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val exact3 = q20(s, dir)
      .filter(col("rank") <= 3 && col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("neighbor_id"))
    val exactN = exact3.agg(count(lit(1)).as("n_exact"))
    val adc = q100(s, dir)
      .select(col("query_id").as("vec_id"), col("vec_id").as("neighbor_id"))
    exact3.join(adc, Seq("vec_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .crossJoin(broadcast(exactN))
      .select(lit("pq_adc").as("method"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall_at_3"))
  }
  private lazy val q101Sql =
    s"""WITH $pqAdcCteSql,
      |adc AS (
      |  SELECT query_id AS vec_id, vec_id AS neighbor_id
      |  FROM adc_ranked WHERE rank <= 3),
      |exact3 AS (
      |  SELECT vec_id, neighbor_id FROM (${q20SqlProbe("a.vec_id % 50 = 0")}) t
      |  WHERE rank <= 3),
      |n AS (SELECT COUNT(*) AS n_exact FROM exact3)
      |SELECT 'pq_adc' AS method, n_exact,
      |  (SELECT COUNT(*) FROM exact3 e
      |     WHERE EXISTS (SELECT 1 FROM adc a
      |       WHERE a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id)) AS n_hit,
      |  CAST((SELECT COUNT(*) FROM exact3 e
      |     WHERE EXISTS (SELECT 1 FROM adc a
      |       WHERE a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id)) AS DOUBLE)
      |    / n_exact AS recall_at_3
      |FROM n""".stripMargin

  // q103 — one Lloyd (k-means) update round for the PQ codebook: given
  // q96's assignments, each (centroid, subspace) cell re-centers on the
  // integer mean of its members' coordinates — the training step that
  // turns the "first 16 vectors" init into a real codebook (production
  // runs a handful of rounds on a sample; each round is this exact
  // plan). Integer-exact: coordinates live on the int8 grid, the mean
  // is `sum div n` (both engines truncate toward zero — verified), so
  // the updated codebook is bit-identical cross-engine. Empty cells
  // (centroid with no members in a subspace) emit no row — the caller
  // keeps the old centroid, the standard dead-centroid rule. Shape:
  // assignment (broadcast codebook, narrow) → explode 8 dims → ONE
  // partial-agg shuffle on (code, sub, dim) — 1024 output cells
  // regardless of corpus size.
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val q = pqQuantized(s, dir).cache() // assignment + member coordinates
    val cents = q.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("qv").as("qc"))
    val codes = pqDistances(q, cents)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("code"))
    codes.join(q, "vec_id")
      .select(col("code").as("cid"), col("sub"), col("qv"),
        explode(expr("sequence(1, 8)")).as("dim"))
      .select(col("cid"), col("sub"), col("dim").cast("long").as("dim"),
        expr("CAST(element_at(qv, CAST(sub * 8 + dim AS INT)) AS BIGINT)").as("x"))
      .groupBy(col("cid"), col("sub"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n_members"))
      .select(col("cid"), col("sub"), col("dim"),
        expr("sx div n_members").as("coord"), col("n_members"))
  }
  private val q103Sql =
    s"""WITH $pqCteSql,
      |m AS (
      |  SELECT cd.code, cd.sub, q.qv FROM codes cd JOIN q USING (vec_id)),
      |cells AS (
      |  SELECT m.code AS cid, m.sub, jj.j AS dim,
      |    CAST(SUM(m.qv[m.sub * 8 + jj.j]) AS BIGINT) AS sx,
      |    COUNT(*) AS n_members
      |  FROM m CROSS JOIN range(1, 9) jj(j)
      |  GROUP BY m.code, m.sub, jj.j)
      |SELECT cid, sub, dim, sx // n_members AS coord, n_members
      |FROM cells""".stripMargin

  // q105 — SEMANTIC dedup (the SemDeDup recipe, Abbas et al. 2023,
  // arXiv:2303.09540): text-identical dedup (q13/q94) and lexical
  // near-dup (q17/q18) miss paraphrases — documents that say the same
  // thing in different words but land close in embedding space. The
  // scale shape is exactly the paper's: cluster the corpus coarsely
  // (q31's IVF cells stand in for their k-means), compare only WITHIN a
  // cell, connect pairs above the cosine threshold, and keep one
  // canonical representative (min vec_id) per semantic cluster.
  //
  // SCALE BOUND (measured, r12 §8.10): this is the LEARNED-CELL
  // BASELINE, and it is QUADRATIC in n. The cell count is FIXED (label
  // centroids), so cellsize ∝ n and the within-cell pair join is
  // ∝ n·cellsize = n²/cells — the sf3→sf10 organic probe read 9.5×
  // wall for 3.33× rows (tools/slope_r12_sf10org.txt). Do NOT ship
  // this form at 100 TB: the scale path is q207_semdedup_scaled, whose
  // ⌈log₂(n/25)⌉ hyperplane cells hold occupancy (~25) as n grows and
  // keep the pair volume ~linear (measured 2.1× at the same decade
  // step), with identical clustering semantics. q105 stays in the
  // catalog as the labeled baseline, the role q16 plays for MinHash.
  //
  // Components via the same ConnectedComponents operator as q67; the
  // oracle replays closure with a recursive CTE — two more independent
  // formulations agreeing.
  // Cross-cell paraphrase pairs are missed by construction (the paper's
  // stated trade); raising recall = probing neighbor cells, multiplying
  // candidates by nprobe, never by n.
  //
  // Clustering exploits the same construction: every edge lives INSIDE
  // a cell and every vector belongs to exactly one cell, so components
  // can never span cells — `labelWithinGroups` runs one exact local
  // union-find per cell (one shuffle, zero global rounds) instead of
  // the 11 min-propagation rounds the general fixpoint paid here
  // (measured 9.1 s → ~1 s at sf0.1). q67/q91 keep the iterative
  // operators for graphs whose edges genuinely cross buckets.
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(s, dir).select(col("vec_id"), col("cell_id"))
    val e = withNorm(s, load(s, dir, "embeddings"))
    val av = assigned.join(e, Seq("vec_id")).cache()
    val a = av.select(col("vec_id").as("src"), col("v").as("va"),
      col("norm").as("na"), col("cell_id"))
    val b = av.select(col("vec_id").as("dst"), col("v").as("vb"),
      col("norm").as("nb"), col("cell_id"))
    val edges = a.join(b, Seq("cell_id")).filter(col("src") < col("dst"))
      .filter((expr("dot_product(va, vb)") / (col("na") * col("nb"))) >= 0.35)
      .select(col("cell_id"), col("src"), col("dst"))
    val members = av.select(col("cell_id"), col("vec_id"))
    val labeled = graft.ops.ConnectedComponents.labelWithinGroups(members, edges)
    val sizes = labeled.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "label")
      .select(col("id").as("vec_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("id") === col("label")).as("keep"))
  }
  private val q105Sql =
    s"""WITH RECURSIVE $ivfSqlCtes,
      |cellmap AS (SELECT vec_id, cell_id FROM assigned WHERE rn = 1),
      |e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |av AS (
      |  SELECT m.vec_id, m.cell_id, e.v, e.norm
      |  FROM cellmap m JOIN e ON m.vec_id = e.vec_id),
      |sem_edges AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst
      |  FROM av a JOIN av b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      |  WHERE LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) >= 0.35),
      |und AS (SELECT src, dst FROM sem_edges
      |  UNION ALL SELECT dst, src FROM sem_edges),
      |${OracleCc.cc("SELECT vec_id AS id, vec_id AS label FROM embeddings", "und")},
      |sizes AS (
      |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |  FROM comp GROUP BY 1)
      |SELECT c.id AS vec_id, c.cluster_id, s.cluster_size,
      |  (c.id = c.cluster_id) AS keep
      |FROM comp c JOIN sizes s USING (cluster_id)""".stripMargin

  // q121 — semantic-dedup PAIR-RECALL audit: what fraction of the EXACT
  // cosine-threshold pair graph does q105's cell-bounded candidate
  // generation keep? Exact side = all-pairs cosine ≥ 0.35 (the same
  // brute-force shape as q20, run as an audit on a bounded sample);
  // kept side = the subset of those pairs whose endpoints share an IVF
  // cell — by construction EXACTLY the edges q105's learned-cell
  // baseline can see (fixed cell count, so the candidate volume it
  // audits is the quadratic form — see q105's scale bound; at scale
  // the same audit shape applies verbatim to q207's hyperplane cells),
  // computed by joining the exact pairs to the assignment instead of
  // re-running any dot products. Completes the audit family: q73 (MinHash vs exact
  // Jaccard), q87 (ANN recall@k), q101 (PQ recall), and now the dedup
  // candidate graph itself — the number that tells a pipeline owner how
  // much semantic-dup mass cell-bounding trades away (the SemDeDup
  // paper's stated trade, here measured through the oracle gate).
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, load(s, dir, "embeddings"))
    val a = e.select(col("vec_id").as("src"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("dst"), col("v").as("vb"), col("norm").as("nb"))
    val exact = a.join(broadcast(b), col("src") < col("dst"))
      .filter((expr("dot_product(va, vb)") / (col("na") * col("nb"))) >= 0.35)
      .select(col("src"), col("dst")).cache()
    val cells = ivfAssigned(s, dir).select(col("vec_id"), col("cell_id"))
    val kept = exact
      .join(cells.select(col("vec_id").as("src"), col("cell_id").as("ca")), Seq("src"))
      .join(cells.select(col("vec_id").as("dst"), col("cell_id").as("cb")), Seq("dst"))
      .filter(col("ca") === col("cb"))
    exact.agg(count(lit(1)).as("n_exact_pairs"))
      // cross-scale: scalar-frames — 1-row agg × 1-row agg
      .crossJoin(kept.agg(count(lit(1)).as("n_kept_pairs")))
      .select(col("n_exact_pairs"), col("n_kept_pairs"),
        (col("n_kept_pairs").cast("double") /
          nullif(col("n_exact_pairs"), lit(0L))).as("pair_recall"))
  }
  private lazy val q121Sql =
    s"""WITH $ivfSqlCtes,
      |cellmap AS (SELECT vec_id, cell_id FROM assigned WHERE rn = 1),
      |e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |exact AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) >= 0.35),
      |kept AS (
      |  SELECT COUNT(*) AS n_kept
      |  FROM exact x
      |  JOIN cellmap ca ON ca.vec_id = x.src
      |  JOIN cellmap cb ON cb.vec_id = x.dst
      |  WHERE ca.cell_id = cb.cell_id),
      |tot AS (SELECT COUNT(*) AS n_exact FROM exact)
      |SELECT CAST(n_exact AS BIGINT) AS n_exact_pairs,
      |       CAST(n_kept AS BIGINT) AS n_kept_pairs,
      |       CAST(n_kept AS DOUBLE) / NULLIF(n_exact, 0) AS pair_recall
      |FROM tot CROSS JOIN kept""".stripMargin

  // q122 — one full Lloyd (k-means) refinement round over the complete
  // 64-dim vectors: label-seeded centroids (round-1 = q31's coarse
  // quantizer) → recompute each cell's centroid from its ACTUAL members
  // → re-assign every vector — the iteration every production IVF/
  // SemDeDup clustering runs until stable, reported as per-cell member
  // counts before/after the round. Completes the clustering lifecycle:
  // init (q31) → subspace update (q103, PQ) → full-vector update +
  // re-assignment (here) → downstream consumers (q62 search, q105
  // dedup). Exactness: member sums on the micro grid are integer-valued
  // doubles (≪ 2^53 — order-independent), one double division per
  // (cell, dim), then the q31 distance fold; ties break to the lowest
  // cell_id. Further rounds repeat the same step under a driver loop
  // (the ConnectedComponents/PageRank pattern); one oracle-checked
  // round pins the step's arithmetic, which is the part that can drift.
  // Shape at 100 TB: centroid update is a partial-agg (cell, dim) sum —
  // vectors never shuffle; both assignment passes are narrow broadcast
  // folds; k bounds every broadcast.
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val vecs = microVecs(s, dir).cache()
    val a1 = assignToCells(vecs, labelCentroids(s, dir))
      .select(col("vec_id"), col("cell_id")).cache()
    val cent2 = a1.join(vecs, Seq("vec_id"))
      .select(col("cell_id"), posexplode(col("vm")).as(Seq("dim", "x")))
      .groupBy(col("cell_id"), col("dim"))
      .agg((sum(col("x").cast("long")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("cell_id"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as("cv"))
    val a2 = assignToCells(vecs, cent2).select(col("vec_id"), col("cell_id"))
    val r1 = a1.groupBy(col("cell_id")).agg(count(lit(1)).as("n_round1"))
    val r2 = a2.groupBy(col("cell_id")).agg(count(lit(1)).as("n_round2"))
    r1.join(r2, Seq("cell_id"), "full_outer")
      .select(col("cell_id"),
        coalesce(col("n_round1"), lit(0L)).as("n_round1"),
        coalesce(col("n_round2"), lit(0L)).as("n_round2"))
  }
  private lazy val q122Sql =
    s"""WITH $ivfSqlCtes,
      |cellmap AS (SELECT vec_id, cell_id FROM assigned WHERE rn = 1),
      |cent2 AS (
      |  SELECT cm.cell_id, i,
      |    CAST(SUM(CAST(vm[i] AS BIGINT)) AS DOUBLE) / COUNT(*) AS c
      |  FROM cellmap cm JOIN vecs v USING (vec_id)
      |  CROSS JOIN GENERATE_SERIES(1, 64) g(i)
      |  GROUP BY cm.cell_id, i),
      |cells2 AS (SELECT cell_id, LIST(c ORDER BY i) AS cv FROM cent2 GROUP BY cell_id),
      |dists2 AS (
      |  SELECT vec_id, cell_id,
      |    LIST_REDUCE(
      |      LIST_PREPEND(CAST(0 AS DOUBLE),
      |        LIST_TRANSFORM(GENERATE_SERIES(1, 64), i -> (vm[i] - cv[i]) * (vm[i] - cv[i]))),
      |      (acc, x) -> acc + x) AS dist
      |  FROM vecs CROSS JOIN cells2),
      |assigned2 AS (
      |  SELECT vec_id, cell_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell_id ASC) AS rn
      |  FROM dists2),
      |cellmap2 AS (SELECT vec_id, cell_id FROM assigned2 WHERE rn = 1),
      |r1 AS (SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_round1 FROM cellmap GROUP BY 1),
      |r2 AS (SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_round2 FROM cellmap2 GROUP BY 1)
      |SELECT cell_id,
      |       COALESCE(n_round1, 0) AS n_round1,
      |       COALESCE(n_round2, 0) AS n_round2
      |FROM r1 FULL OUTER JOIN r2 USING (cell_id)""".stripMargin

  // q131 — contrastive negative mining: per anchor vector, (a) the HARD
  // negative = its farthest-by-cosine neighbor WITHIN its IVF cell (the
  // in-batch-style candidate that looks coarsely similar but isn't —
  // cells bound the candidate set exactly as in q105), and (b) an EASY
  // negative = the vector half the corpus away on the vec_id rank ring
  // ((rank + n/2) mod n — deterministic, uniform-ish, collision-free
  // with the anchor). The (anchor, positive, hard-neg, easy-neg) tuple
  // is what contrastive embedding training consumes; positives come
  // from whatever supervision exists (labels here), so the query emits
  // the negative side. Singleton cells yield NULL hard negatives (kept
  // — the dataloader falls back to easy-only).
  // Shape at 100 TB: in-cell pairs ∝ n·cellsize — and because IVF
  // cells here are a FIXED count, cellsize ∝ n, so this carries q105's
  // quadratic bound (r12 §8.10); at corpus scale swap the candidate
  // cells for q207's occupancy-held hyperplane buckets. Best-per-
  // anchor via the native TopKPerGroup scan; the rank ring uses one
  // global ROW_NUMBER at audit scale — the production form assigns
  // ranks with ops/GlobalIndex (range exchange, no single-partition
  // window).
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, load(s, dir, "embeddings"))
    val av = ivfAssigned(s, dir).select(col("vec_id"), col("cell_id"))
      .join(e, Seq("vec_id")).cache()
    val pairs = av.select(col("vec_id"), col("cell_id"), col("v").as("va"), col("norm").as("na"))
      .join(av.select(col("vec_id").as("cand"), col("cell_id"),
        col("v").as("vb"), col("norm").as("nb")), Seq("cell_id"))
      .filter(col("vec_id") =!= col("cand"))
      .withColumn("cos", expr("dot_product(va, vb)") / (col("na") * col("nb")))
    val hard = graft.ops.TopK.perGroup(
        pairs, Seq("vec_id"), Seq(col("cos"), col("cand")), k = 1)
      .select(col("vec_id"), col("cand").as("hard_neg"), col("cos").as("hard_cos"))
    val ranks = e.select(col("vec_id"))
      // window-scale: audit-sample — global rank ring at audit scale on a
      // single id column; production assigns ranks via ops/GlobalIndex
      // (range exchange, no single-partition window — scale note above)
      .withColumn("r", row_number().over(Window.orderBy(col("vec_id"))).cast("long") - 1)
    val n = ranks.agg(count(lit(1)).as("n"))
    val easy = ranks.crossJoin(broadcast(n))
      .withColumn("pr", expr("(r + n div 2) % n"))
      .join(ranks.select(col("vec_id").as("easy_neg"), col("r").as("pr")), Seq("pr"))
      .select(col("vec_id"), col("easy_neg"))
    easy.join(hard, Seq("vec_id"), "left")
      .select(col("vec_id"), col("hard_neg"), col("hard_cos"), col("easy_neg"))
  }
  private lazy val q131Sql =
    s"""WITH $ivfSqlCtes,
      |cellmap AS (SELECT vec_id, cell_id FROM assigned WHERE rn = 1),
      |e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |av AS (SELECT m.vec_id, m.cell_id, e.v, e.norm
      |       FROM cellmap m JOIN e ON m.vec_id = e.vec_id),
      |pairs AS (
      |  SELECT a.vec_id, b.vec_id AS cand,
      |    LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) AS cos
      |  FROM av a JOIN av b
      |    ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id),
      |hard AS (
      |  SELECT vec_id, cand AS hard_neg, cos AS hard_cos FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY cos, cand) AS rnk FROM pairs)
      |  WHERE rnk = 1),
      |ranks AS (
      |  SELECT vec_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS r
      |  FROM embeddings),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranks),
      |easy AS (
      |  SELECT r1.vec_id, r2.vec_id AS easy_neg
      |  FROM ranks r1 CROSS JOIN nn
      |  JOIN ranks r2 ON r2.r = (r1.r + n // 2) % n)
      |SELECT e2.vec_id, h.hard_neg, h.hard_cos, e2.easy_neg
      |FROM easy e2 LEFT JOIN hard h USING (vec_id)""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q20_cosine_topk", q20, Some(q20Sql)),
    QueryDef("q21_label_centroid", q21, Some(q21Sql)),
    QueryDef("q22_ann_buckets", q22, Some(q22Sql)),
    QueryDef("q23_ann_topk", q23, Some(q23Sql)),
    QueryDef("q31_ivf_cells", q31, Some(q31Sql)),
    QueryDef("q32_cosine_neardup", q32, Some(q32Sql)),
    QueryDef("q37_array_funcs", q37, Some(q37Sql)),
    QueryDef("q39_ann_multiprobe", q39, Some(q39Sql)),
    QueryDef("q62_ivf_search", q62, Some(q62Sql)),
    QueryDef("q70_embed_quantize", q70, Some(q70Sql)),
    QueryDef("q87_ann_recall_audit", q87, Some(q87Sql)),
    QueryDef("q96_pq_codes", q96, Some(q96Sql)),
    QueryDef("q100_adc_search", q100, Some(q100Sql)),
    QueryDef("q101_pq_recall", q101, Some(q101Sql)),
    QueryDef("q103_codebook_update", q103, Some(q103Sql)),
    QueryDef("q105_semantic_dedup", q105, Some(q105Sql)),
    QueryDef("q121_semdedup_recall", q121, Some(q121Sql)),
    QueryDef("q122_kmeans_round", q122, Some(q122Sql)),
    QueryDef("q131_hard_negatives", q131, Some(q131Sql)),
    QueryDef("q172_modal_integrity", q172, Some(q172Sql)),
    QueryDef("q173_filtered_ann", q173, Some(q173Sql)),
    QueryDef("q177_rag_context", q177, Some(q177Sql)),
    QueryDef("q180_comoment_matrix", q180, Some(q180Sql)),
    QueryDef("q205_ann_scaled_planes", q39ScaledPlanes, Some(q205Sql)),
    QueryDef("q207_semdedup_scaled", q207, Some(q207Sql)),
    QueryDef("q208_semdedup_capped", q208, Some(q208Sql)),
    QueryDef("q209_ann_capped", q209, Some(q209Sql)),
  )

  // q180 — embedding CO-MOMENT matrix (the second-moment statistics a
  // whitening/PCA step consumes): for the first 8 dims, every unordered
  // pair (i ≤ j) gets n, Σxᵢ, Σxⱼ, Σxᵢxⱼ and the covariance numerator
  // n·Σxᵢxⱼ − Σxᵢ·Σxⱼ — all on the integer micro-grid (floor(x·1e6),
  // the q21 rule), so the matrix is bit-identical cross-engine.
  // DECIMAL(38,0) carries the final product internally (n·Σxᵢxⱼ brushes
  // 7·10¹⁸ at sf0.1 and would overflow BIGINT at the next scale step)
  // but is PUBLISHED as its digit string: wide decimals render
  // differently across engines'/drivers' type bridges, and the gate
  // hashes the rendering — the digits are the portable encoding
  // (round-5 lesson: q180/q185 were the only hash-misses in the
  // catalog, both on DECIMAL(38,0) output columns).
  // Shape at 100 TB: the per-row d(d+1)/2 pair expansion is narrow (36
  // structs from one cached 8-slice — no self-join, no shuffle of
  // vectors); the only exchange is a partial-aggregatable groupBy onto
  // 36 keys, so every task map-side combines to ≤36 rows and the full
  // covariance of a trillion vectors reduces to one 36-row result. The
  // d² cost lives per-row where it parallelizes, never as a join.
  private def q180(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(expr(
        "transform(slice(cast(embedding as array<double>), 1, 8)," +
          " x -> cast(floor(x * 1000000) as bigint))").as("xm"))
      .select(expr(
        """inline(flatten(transform(sequence(0, 7), i ->
          |  transform(sequence(i, 7), j ->
          |    named_struct('i', cast(i as bigint), 'j', cast(j as bigint),
          |      'xi', xm[i], 'xj', xm[j])))))""".stripMargin))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("xi")).as("sum_xi"), sum(col("xj")).as("sum_xj"),
        sum(col("xi") * col("xj")).as("sum_xixj"))
      .withColumn("comoment", expr(
        "CAST(CAST(CAST(n AS DECIMAL(38,0)) * sum_xixj" +
          " - CAST(sum_xi AS DECIMAL(38,0)) * sum_xj AS DECIMAL(38,0)) AS STRING)"))
      .orderBy(col("i"), col("j"))
  private val q180Sql =
    """WITH xm AS (
      |  SELECT LIST_TRANSFORM(CAST(embedding AS DOUBLE[])[1:8],
      |    x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS v
      |  FROM embeddings),
      |dims AS (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS k),
      |tri AS (
      |  SELECT a.k AS i, b.k AS j, xm.v[a.k + 1] AS xi, xm.v[b.k + 1] AS xj
      |  FROM xm, dims a, dims b WHERE a.k <= b.k)
      |SELECT i, j, COUNT(*) AS n,
      |  CAST(SUM(xi) AS BIGINT) AS sum_xi,
      |  CAST(SUM(xj) AS BIGINT) AS sum_xj,
      |  CAST(SUM(xi * xj) AS BIGINT) AS sum_xixj,
      |  CAST(COUNT(*) * CAST(SUM(xi * xj) AS HUGEINT)
      |    - CAST(SUM(xi) AS HUGEINT) * CAST(SUM(xj) AS HUGEINT)
      |    AS VARCHAR) AS comoment
      |FROM tri GROUP BY i, j ORDER BY i, j""".stripMargin

  // q177 — RAG context ASSEMBLY: the serving-side step after retrieval —
  // per query (1-in-20 sample), take the exact cosine top-5 (q20's
  // oracle-checked ranking), join passage lengths, and greedily pack
  // passages in rank order into a 1000-char context budget. Output per
  // query: candidates seen, passages kept, context size, the ordered
  // doc-id manifest, and whether the budget truncated the list — the
  // receipt a serving pipeline logs per request. Deterministic: ranking
  // ties break on doc id, packing is a rank-ordered cumulative sum, and
  // the manifest aggregates through sort_array(struct(rank, id)) rather
  // than relying on collect order.
  // Shape at 100 TB: candidate generation is the ANN family's problem
  // (q23/q39/q62 — this query rides q20's audited exact path on the
  // bounded sample); assembly itself is one query-keyed window + agg on
  // k rows per query, and the passage-length join broadcasts the doc
  // metadata projection, never the corpus text.
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000L
    val lens = load(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q20Impl(s, dir, col("vec_id") % 20 === 0)
      .join(broadcast(lens), col("neighbor_id") === col("doc_id"))
      .withColumn("cum_chars", sum(col("n_chars")).over(w))
      .withColumn("kept", col("cum_chars") <= budget)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_passages"),
        coalesce(sum(when(col("kept"), col("n_chars"))), lit(0L)).as("ctx_chars"),
        collect_list(when(col("kept"), struct(col("rank"), col("doc_id"))))
          .as("ids"))
      .withColumn("ids_csv",
        expr("array_join(transform(array_sort(ids), x -> CAST(x.doc_id AS STRING)), ',')"))
      .withColumn("truncated", col("n_passages") < col("n_candidates"))
      .drop("ids")
      .orderBy(col("vec_id"))
  }
  private lazy val q177Sql =
    s"""WITH cand AS (
      |  SELECT * FROM (${q20SqlProbe("a.vec_id % 20 = 0")})),
      |cum AS (
      |  SELECT c.vec_id, c.rank, d.doc_id, d.n_chars,
      |    SUM(d.n_chars) OVER (PARTITION BY c.vec_id ORDER BY c.rank
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_chars
      |  FROM cand c JOIN documents d ON c.neighbor_id = d.doc_id)
      |SELECT vec_id, COUNT(*) AS n_candidates,
      |  CAST(SUM(CASE WHEN cum_chars <= 1000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_passages,
      |  CAST(COALESCE(SUM(CASE WHEN cum_chars <= 1000 THEN n_chars END), 0)
      |    AS BIGINT) AS ctx_chars,
      |  COALESCE(STRING_AGG(CASE WHEN cum_chars <= 1000
      |    THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY rank), '') AS ids_csv,
      |  SUM(CASE WHEN cum_chars <= 1000 THEN 1 ELSE 0 END) < COUNT(*)
      |    AS truncated
      |FROM cum GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // q172 — cross-MODAL integrity audit: the referential gate between
  // the text and embedding modalities (q108's FK-audit shape applied to
  // the training tables) — docs without a vector, vectors without a
  // doc, duplicate vector ids, dimension drift (≠64), and zero-norm
  // vectors (un-normalizable → poison for cosine). One row per check
  // with the violating count: all zeros on healthy data, and the zeros
  // ARE the receipt a pipeline gates on before any similarity work.
  // Anti-join + narrow scans; nothing shuffles more than the id sets.
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents").select(col("doc_id"))
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def row(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_issues"))
        .select(lit(name).as("check_name"), col("n_issues"))
    row("docs_without_vector",
        d.join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti"))
      .unionByName(row("vectors_without_doc",
        e.select(col("vec_id").as("doc_id"))
          .join(d, Seq("doc_id"), "left_anti")))
      .unionByName(row("duplicate_vec_ids",
        e.groupBy(col("vec_id")).agg(count(lit(1)).as("c")).filter(col("c") > 1)))
      .unionByName(row("dimension_drift", e.filter(size(col("v")) =!= 64)))
      .unionByName(row("zero_norm_vectors",
        e.filter(expr("vec_norm(v)") === 0d)))
      .orderBy(col("check_name"))
  }
  private val q172Sql =
    """SELECT check_name, n_issues FROM (
      |  SELECT 'docs_without_vector' AS check_name, COUNT(*) AS n_issues
      |  FROM documents d WHERE NOT EXISTS (
      |    SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
      |  UNION ALL
      |  SELECT 'vectors_without_doc', COUNT(*)
      |  FROM embeddings e WHERE NOT EXISTS (
      |    SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
      |  UNION ALL
      |  SELECT 'duplicate_vec_ids', COUNT(*) FROM (
      |    SELECT vec_id FROM embeddings GROUP BY 1 HAVING COUNT(*) > 1)
      |  UNION ALL
      |  SELECT 'dimension_drift', COUNT(*)
      |  FROM embeddings WHERE LEN(embedding) <> 64
      |  UNION ALL
      |  SELECT 'zero_norm_vectors', COUNT(*)
      |  FROM embeddings
      |  WHERE SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
      |    CAST(embedding AS DOUBLE[]))) = 0) t
      |ORDER BY check_name""".stripMargin

  // q173 — FILTERED vector search, and the post-filter trap MEASURED:
  // a metadata predicate (label even) can be applied BEFORE the search
  // (exact top-3 over the eligible corpus — always 3 results) or AFTER
  // an unfiltered ANN (q62's IVF top-3, then filter — results starve
  // whenever the predicate kills retrieved neighbors). Per query: both
  // result counts and the starvation flag. At 100 TB pre-filtering is
  // an index-design question (per-label partitions / filtered cells);
  // this query gives the number that forces the decision — the
  // fraction of queries an after-the-fact filter leaves under-served.
  private def q173(s: SparkSession, dir: String): DataFrame = {
    val sample = col("vec_id") % 50 === 0
    val labels = load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val e = withNorm(s, load(s, dir, "embeddings"))
      .join(labels, "vec_id")
    val q = e.filter(sample)
      .select(col("vec_id").as("q_id"), col("v").as("va"), col("norm").as("na"))
    val elig = e.filter(col("label") % 2 === 0)
      .select(col("vec_id").as("b_id"), col("v").as("vb"), col("norm").as("nb"))
    val pre = graft.ops.TopK.perGroup(
      q.join(broadcast(elig), col("q_id") =!= col("b_id"))
        .select(col("q_id"), col("b_id"),
          (expr("dot_product(va, vb)") / (col("na") * col("nb"))).as("cos_sim")),
      Seq("q_id"), Seq(col("cos_sim").desc, col("b_id").asc), 3, "rank")
      .groupBy(col("q_id").as("vec_id"))
      .agg(count(lit(1)).as("n_prefilter"))
    val post = q62Impl(s, dir, sample)
      .join(broadcast(labels.select(col("vec_id").as("neighbor_id"),
        col("label"))), "neighbor_id")
      .filter(col("label") % 2 === 0)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_postfilter"))
    pre.join(post, Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_prefilter"),
        coalesce(col("n_postfilter"), lit(0L)).as("n_postfilter"))
      .withColumn("starved", col("n_postfilter") < col("n_prefilter"))
      .orderBy(col("vec_id"))
  }
  private lazy val q173Sql =
    s"""WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
      |      CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |pre AS (
      |  SELECT q_id AS vec_id, COUNT(*) AS n_prefilter FROM (
      |    SELECT a.vec_id AS q_id, b.vec_id AS b_id,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) DESC,
      |          b.vec_id ASC) AS rank
      |    FROM e a JOIN e b ON a.vec_id <> b.vec_id AND b.label % 2 = 0
      |    WHERE a.vec_id % 50 = 0) t
      |  WHERE rank <= 3 GROUP BY 1),
      |post AS (
      |  SELECT i.vec_id, COUNT(*) AS n_postfilter
      |  FROM ($q62Sql) i JOIN e ON i.neighbor_id = e.vec_id
      |  WHERE i.vec_id % 50 = 0 AND e.label % 2 = 0
      |  GROUP BY 1)
      |SELECT p.vec_id, p.n_prefilter,
      |  COALESCE(po.n_postfilter, 0) AS n_postfilter,
      |  COALESCE(po.n_postfilter, 0) < p.n_prefilter AS starved
      |FROM pre p LEFT JOIN post po USING (vec_id)
      |ORDER BY p.vec_id""".stripMargin

  // q39 — multi-probe ANN top-3: the probe side expands to its home
  // bucket plus all 1-flip neighbors, still an equi-join on bucket keys.
  // Measured by the oracle-checked q87 audit (1-in-5 query sample,
  // sf0.01): recall@3 is 0.180 single-bucket (q23) → 0.470 multi-probe
  // — the recall lever that costs ×(planes+1) candidates, never ×n.
  // No pair dedup is needed: a candidate's bucket is one fixed value and
  // the 9 probe buckets are pairwise distinct, so each (a, b) pair can
  // match through AT MOST ONE probe — the DISTINCT this query originally
  // carried was a no-op that re-shuffled the full pair stream. Ranking
  // runs through the native TopKPerGroup operator (one streaming
  // group-scan) instead of window + filter.
  private def q39(s: SparkSession, dir: String): DataFrame =
    q39Impl(s, dir, lit(true))

  /** Scale twin of q39, catalog-gated as q205 (bench id
    * `x_ann_multiprobe_scaled`): the hyperplane count is sized
    * ⌈log₂(n/25)⌉ (clamped to [AnnPlanes, MaxScaledPlanes]), so
    * expected bucket depth stays ~constant as the corpus grows and the
    * bucket-join's pair volume stays ~linear in n. With FIXED planes
    * the bucket count is fixed and depth ∝ n, making the join
    * O(n²/2^planes) — the r09 reps=3 recheck measured catalog q39 at
    * 6.6× median (9.8× min) wall-clock for 10× rows; this twin is the
    * measured counter-claim, the same twinned-baseline pattern as
    * q16→q17 and q20→q22. At 100 TB plane count is a layout parameter
    * chosen from corpus size, exactly like LSH band count (q146).
    *
    * planes = f(count) is pure-integer (`AnnIndex.scaledPlaneCount`)
    * and the oracle replays the identical thresholds as a CASE chain
    * (q205Sql), so the result is deterministic cross-engine at every
    * scale factor. Target depth is 25 so the DYNAMIC arm is actually
    * exercised by the fixtures' EMBEDDINGS counts (500 / 2 000 /
    * 20 000 at sf0.01 / sf0.1 / derived-sf1 → planes 5 / 7 / 10, all
    * past the minPlanes=4 clamp where the gated SQL degenerates to
    * q39's fixed form). The original depth of 125 made every tested
    * scale land AT or below the 4-plane threshold — a review caught
    * that the "dynamic path verified" claim had conflated the
    * documents counts (5 000 / 50 000) with the embeddings counts, so
    * the gated bits had never run under an oracle.
    */
  private[graft] def q39ScaledPlanes(s: SparkSession, dir: String): DataFrame = {
    val n = load(s, dir, "embeddings").count() // metadata-only count
    val planes = graft.ops.AnnIndex.scaledPlaneCount(n, AnnPlanes, ScaledTargetDepth)
    require(planes <= MaxScaledPlanes,
      s"corpus of $n embeddings needs $planes planes > MaxScaledPlanes=" +
        s"$MaxScaledPlanes — raise the cap (and the oracle's unrolled bits)")
    q39Impl(s, dir, lit(true), planes)
  }

  /** Oracle cap on the unrolled signature bits: 20 planes cover corpora
    * up to 25·2²⁰ ≈ 26M embeddings; the Spark side requires() the same
    * bound so a breach fails loudly on both engines rather than
    * silently disagreeing. Was 16 (≈1.6M) through r12 — the r13
    * decade-5 slope probe (sf100-organic, 2M vecs → 17 planes) tripped
    * the require exactly as designed, and the only cost of headroom is
    * four more gated signature-bit branches in the oracle (one per
    * added plane — bits 16–19)
    * (the Spark side always computes just the ACTIVE planes).
    */
  private val MaxScaledPlanes = 20
  private val ScaledTargetDepth = 25L

  private def q39Impl(s: SparkSession, dir: String, probe: Column,
      planes: Int = AnnPlanes): DataFrame = {
    val e = withNorm(s, load(s, dir, "embeddings"))
    val bucketed = graft.ops.AnnIndex.withBucket(e, "v", planes, Dims).cache()
    val probes = graft.ops.AnnIndex.withProbeBuckets(
      bucketed.filter(probe).select(col("vec_id").as("a_id"), col("v").as("va"),
        col("norm").as("na"), col("bucket")), planes)
    val b = bucketed.select(col("vec_id").as("b_id"), col("v").as("vb"),
      col("norm").as("nb"), col("bucket").as("b_bucket"))
    val pairs = probes.join(b, col("probe_bucket") === col("b_bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
        (expr("dot_product(va, vb)") / (col("na") * col("nb"))).as("cos_sim"))
    graft.ops.TopK.perGroup(pairs, Seq("vec_id"),
      Seq(col("cos_sim").desc, col("neighbor_id").asc), 3, "rank")
  }
  // probe: see q20SqlProbe — pushed into the probes CTE (the query
  // side), so the 5× probe fan-out is also sampled, over `vec_id`
  private def q39SqlProbe(probe: String) = {
    val bsql = graft.ops.AnnIndex.bucketSql("v", AnnPlanes, Dims)
    val probeList = ("bucket" +: (0 until AnnPlanes).map(p => s"XOR(bucket, ${1L << p})"))
      .mkString(", ")
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |bucketed AS (SELECT vec_id, v, norm, $bsql AS bucket FROM e),
      |probes AS (
      |  SELECT vec_id, v, norm, UNNEST(LIST_VALUE($probeList)) AS probe_bucket
      |  FROM bucketed WHERE ($probe)),
      |pairs AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) AS cos_sim
      |  FROM probes a JOIN bucketed b
      |    ON a.probe_bucket = b.bucket AND a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT vec_id, neighbor_id, cos_sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM pairs)
      |SELECT vec_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 3""".stripMargin
  }
  private val q39Sql = q39SqlProbe("TRUE")

  // q205 — the SQL twin of q39ScaledPlanes. One static string serves any
  // corpus size: `params` derives the plane count from COUNT(*) via the
  // same integer thresholds as AnnIndex.scaledPlaneCount, the signature
  // unrolls all MaxScaledPlanes bits with each gated on `p < planes`, and
  // the probe list flips exactly the active planes
  // (LIST_TRANSFORM(RANGE(0, planes), ...)).
  private val q205Sql = {
    val bsql = graft.ops.AnnIndex.bucketSqlGated(
      "v", MaxScaledPlanes, Dims, "planes")
    // guarded form: past the maxPlanes threshold the oracle raises via
    // error() — matching the Spark side's require — instead of silently
    // testing a smaller plane count (ADVICE r10)
    val psql = graft.ops.AnnIndex.planeCountSqlGuarded(
      "n", AnnPlanes, MaxScaledPlanes, ScaledTargetDepth)
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |params AS (
      |  SELECT $psql AS planes
      |  FROM (SELECT COUNT(*) AS n FROM embeddings)),
      |bucketed AS (
      |  SELECT vec_id, v, norm, $bsql AS bucket FROM e CROSS JOIN params),
      |probes AS (
      |  SELECT vec_id, v, norm,
      |    UNNEST(LIST_PREPEND(bucket, LIST_TRANSFORM(RANGE(0, planes),
      |      p -> XOR(bucket, CAST(1 AS BIGINT) << p)))) AS probe_bucket
      |  FROM bucketed CROSS JOIN params),
      |pairs AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) AS cos_sim
      |  FROM probes a JOIN bucketed b
      |    ON a.probe_bucket = b.bucket AND a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT vec_id, neighbor_id, cos_sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM pairs)
      |SELECT vec_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 3""".stripMargin
  }

  // q207 — SCALED semantic dedup: the q205 pattern applied to q105.
  // q105's cells are label centroids — a FIXED cell count — so cell
  // occupancy grows linearly with the corpus and the within-cell pair
  // join quadratically: the r12 third-decade measurement read 9.5× wall
  // for 3.33× rows (sf3→sf10 organic, tools/slope_r12_sf10org.txt),
  // the same defect q39 had before q205. The scale twin replaces the
  // centroid cells with ⌈log₂(n/25)⌉-plane hyperplane buckets
  // (AnnIndex.scaledPlaneCount — the identical integer thresholds as
  // q205, replayed by the oracle as a gated CASE chain), so expected
  // occupancy stays ~25 as n grows and the pair volume stays ~linear.
  // Clustering semantics are unchanged (cosine ≥ 0.35 edges, per-cell
  // local union-find, min-label components, keep = cluster min);
  // what changes is the candidate CELL definition — the standard
  // scalable SemDeDup trade (random-projection cells instead of
  // learned centroids), with q105 kept as the learned-cell baseline.
  private def q207(s: SparkSession, dir: String): DataFrame = {
    val n = load(s, dir, "embeddings").count() // metadata-only count
    val planes = graft.ops.AnnIndex.scaledPlaneCount(n, AnnPlanes, ScaledTargetDepth)
    require(planes <= MaxScaledPlanes,
      s"corpus of $n embeddings needs $planes planes > MaxScaledPlanes=" +
        s"$MaxScaledPlanes — raise the cap (and the oracle's unrolled bits)")
    val e = withNorm(s, load(s, dir, "embeddings"))
    val bucketed = graft.ops.AnnIndex.withBucket(e, "v", planes, Dims).cache()
    val a = bucketed.select(col("vec_id").as("src"), col("v").as("va"),
      col("norm").as("na"), col("bucket"))
    val edges = a.join(
        bucketed.select(col("vec_id").as("dst"), col("v").as("vb"),
          col("norm").as("nb"), col("bucket")), Seq("bucket"))
      .filter(col("src") < col("dst"))
      .filter((expr("dot_product(va, vb)") / (col("na") * col("nb"))) >= 0.35)
      .select(col("bucket").as("cell_id"), col("src"), col("dst"))
    val members = bucketed.select(col("bucket").as("cell_id"), col("vec_id"))
    val labeled = graft.ops.ConnectedComponents.labelWithinGroups(members, edges)
    val sizes = labeled.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "label")
      .select(col("id").as("vec_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("id") === col("label")).as("keep"))
  }
  private val q207Sql = {
    val bsql = graft.ops.AnnIndex.bucketSqlGated(
      "v", MaxScaledPlanes, Dims, "planes")
    val psql = graft.ops.AnnIndex.planeCountSqlGuarded(
      "n", AnnPlanes, MaxScaledPlanes, ScaledTargetDepth)
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |params AS (
      |  SELECT $psql AS planes
      |  FROM (SELECT COUNT(*) AS n FROM embeddings)),
      |bucketed AS (
      |  SELECT vec_id, v, norm, $bsql AS bucket FROM e CROSS JOIN params),
      |sem_edges AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst
      |  FROM bucketed a JOIN bucketed b
      |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  WHERE LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) >= 0.35),
      |und AS (SELECT src, dst FROM sem_edges
      |  UNION ALL SELECT dst, src FROM sem_edges),
      |${OracleCc.cc("SELECT vec_id AS id, vec_id AS label FROM embeddings", "und")},
      |sizes AS (
      |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |  FROM comp GROUP BY 1)
      |SELECT c.id AS vec_id, c.cluster_id, s.cluster_size,
      |  (c.id = c.cluster_id) AS keep
      |FROM comp c JOIN sizes s USING (cluster_id)""".stripMargin
  }

  // q208/q209 — the CAPPED twins of q207/q205: bound the bucket-size
  // tail (VERDICT r13 item 1). scaledPlaneCount holds EXPECTED
  // occupancy, but the measured realized tail ran max/mean 12-18×
  // across five organic decades (max 291 vs mean 15.7 at 2M vectors,
  // tools/slope_r13_occupancy.txt) — and pair work rides Σc², i.e. the
  // tail QUADRATICALLY. A real-world embedding corpus with dense
  // semantic clusters could concentrate pair volume in ways the global
  // plane-count formula cannot see. AnnIndex.withCappedBucket splits
  // any base bucket over BucketCap with count-derived extra signature
  // bits (expected sub-bucket size in (cap/2, cap]); the cap equals the
  // occupancy target so the refinement branch is ACTUALLY exercised at
  // the sf0.01 oracle gate (measured max bucket 29 > 25 there — the
  // same conflation trap q205's depth constant once hit, avoided by
  // measurement this time). Semantics: candidates/edges restrict to the
  // refined cell — the standard LSH granularity/recall trade, identical
  // in kind to raising the plane count; q205/q207 stay as the uncapped
  // baselines.
  private val BucketCap = ScaledTargetDepth // 25 — see exercise note above
  private val MaxExtraPlanes = 6 // cap·2^6 = 1600 per-base-bucket ceiling

  private def cappedBuckets(s: SparkSession, dir: String): DataFrame = {
    val n = load(s, dir, "embeddings").count() // metadata-only count
    val planes = graft.ops.AnnIndex.scaledPlaneCount(n, AnnPlanes, ScaledTargetDepth)
    require(planes <= MaxScaledPlanes,
      s"corpus of $n embeddings needs $planes planes > MaxScaledPlanes=" +
        s"$MaxScaledPlanes — raise the cap (and the oracle's unrolled bits)")
    graft.ops.AnnIndex.withCappedBucket(withNorm(s, load(s, dir, "embeddings")),
      "v", planes, Dims, BucketCap, MaxScaledPlanes, MaxExtraPlanes)
  }

  private def q208(s: SparkSession, dir: String): DataFrame = {
    val bucketed = cappedBuckets(s, dir).cache()
    val a = bucketed.select(col("vec_id").as("src"), col("v").as("va"),
      col("norm").as("na"), col("bucket"))
    val edges = a.join(
        bucketed.select(col("vec_id").as("dst"), col("v").as("vb"),
          col("norm").as("nb"), col("bucket")), Seq("bucket"))
      .filter(col("src") < col("dst"))
      .filter((expr("dot_product(va, vb)") / (col("na") * col("nb"))) >= 0.35)
      .select(col("bucket").as("cell_id"), col("src"), col("dst"))
    val members = bucketed.select(col("bucket").as("cell_id"), col("vec_id"))
    val labeled = graft.ops.ConnectedComponents.labelWithinGroups(members, edges)
    val sizes = labeled.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "label")
      .select(col("id").as("vec_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("id") === col("label")).as("keep"))
  }

  /** Multi-probe ANN over capped buckets. Probing stays in BASE space
    * (home + 1-flip over the ACTIVE base planes); each base probe is
    * then mapped to ONE refined key using the TARGET bucket's split
    * depth (from the bucket-size table — n/cap rows, NOT broadcastable
    * at 100 TB, so an equi-join) and the probing vector's OWN extra
    * signature: the extra family is one shared hash family, so a vector
    * near a refined bucket selects the sub-bucket its own extra bits
    * hash to — the same near-boundary recall argument as base-plane
    * LSH. Each (a,b) pair still matches through AT MOST one probe
    * (refined keys inherit distinctness from the pairwise-distinct base
    * probes), so no pair dedup is needed.
    */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    val planes = graft.ops.AnnIndex.scaledPlaneCount(
      load(s, dir, "embeddings").count(), AnnPlanes, ScaledTargetDepth)
    val capped = cappedBuckets(s, dir).cache()
    val index = capped.select(col("vec_id").as("b_id"), col("v").as("vb"),
      col("norm").as("nb"), col("bucket").as("b_bucket"))
    // per-base-bucket split depth; x_extra is constant within a bucket
    val extras = capped.groupBy(col("base_bucket").as("pb"))
      .agg(max(col("x_extra")).as("p_extra"))
    // The extras join runs on a SLIM key frame — (a_id, xsig,
    // probe_bucket), three longs per probe — NOT the fat frame carrying
    // the 64-dim query vector: at sf30 the fat form cost a second
    // multi-GB exchange+sort of the probe side (SMJ on probe_bucket,
    // then again on rp — measured 2.5× q205's wall same-boot, r14).
    // The vector columns re-attach by a_id (9.6M slim × n fat rows)
    // BEFORE the one unavoidable fat exchange on the refined key, so
    // the capped path pays the same single fat probe shuffle as q205.
    val slimProbes = graft.ops.AnnIndex.withProbeBuckets(
        capped.select(col("vec_id").as("a_id"), col("xsig"),
          col("base_bucket").as("bucket")), planes)
      // inner join: probes into empty base buckets can match nothing —
      // dropping them here prunes the refined-key join's probe side
      .join(extras, col("probe_bucket") === col("pb"))
      .select(col("a_id"),
        (col("probe_bucket") +
          (col("xsig") % expr("shiftleft(CAST(1 AS BIGINT), p_extra)")) *
          lit(1L << planes)).as("rp"))
    val probes = slimProbes.join(
      capped.select(col("vec_id").as("a_id"), col("v").as("va"),
        col("norm").as("na")), "a_id")
    val pairs = probes.join(index, col("rp") === col("b_bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
        (expr("dot_product(va, vb)") / (col("na") * col("nb"))).as("cos_sim"))
    graft.ops.TopK.perGroup(pairs, Seq("vec_id"),
      Seq(col("cos_sim").desc, col("neighbor_id").asc), 3, "rank")
  }

  /** Shared oracle CTE prefix for the capped twins: base signature +
    * static extra signature, GROUP-BY bucket counts, the count→extra
    * CASE chain (planeCountSqlGuarded with min=0/target=cap — the
    * identical integer-threshold function, so DuckDB raises past
    * cap·2^maxExtra exactly where Spark's assert_true does), and the
    * refined key. Runtime shift amounts (`<<` by a column) are exact
    * BIGINT ops in DuckDB.
    */
  private lazy val cappedCtes = {
    val bsql = graft.ops.AnnIndex.bucketSqlGated(
      "v", MaxScaledPlanes, Dims, "planes")
    val psql = graft.ops.AnnIndex.planeCountSqlGuarded(
      "n", AnnPlanes, MaxScaledPlanes, ScaledTargetDepth)
    val xsql = graft.ops.AnnIndex.signatureSql(
      "v", MaxScaledPlanes, MaxExtraPlanes, Dims)
    val esql = graft.ops.AnnIndex.planeCountSqlGuarded(
      "c", 0, MaxExtraPlanes, BucketCap)
    s"""e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |params AS (
      |  SELECT $psql AS planes
      |  FROM (SELECT COUNT(*) AS n FROM embeddings)),
      |based AS (
      |  SELECT vec_id, v, norm, $bsql AS bucket, $xsql AS xsig
      |  FROM e CROSS JOIN params),
      |bsz AS (
      |  SELECT bucket, $esql AS extra
      |  FROM (SELECT bucket, COUNT(*) AS c FROM based GROUP BY 1)),
      |refined AS (
      |  SELECT b.vec_id, b.v, b.norm, b.xsig,
      |    b.bucket + (b.xsig % (CAST(1 AS BIGINT) << s.extra))
      |             * (CAST(1 AS BIGINT) << planes) AS bucket
      |  FROM based b JOIN bsz s ON b.bucket = s.bucket CROSS JOIN params)""".stripMargin
  }

  private lazy val q208Sql =
    s"""WITH $cappedCtes,
      |sem_edges AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst
      |  FROM refined a JOIN refined b
      |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  WHERE LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) >= 0.35),
      |und AS (SELECT src, dst FROM sem_edges
      |  UNION ALL SELECT dst, src FROM sem_edges),
      |${OracleCc.cc("SELECT vec_id AS id, vec_id AS label FROM embeddings", "und")},
      |sizes AS (
      |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |  FROM comp GROUP BY 1)
      |SELECT c.id AS vec_id, c.cluster_id, s.cluster_size,
      |  (c.id = c.cluster_id) AS keep
      |FROM comp c JOIN sizes s USING (cluster_id)""".stripMargin

  private lazy val q209Sql =
    s"""WITH $cappedCtes,
      |probes AS (
      |  SELECT vec_id, v, norm, xsig,
      |    UNNEST(LIST_PREPEND(bucket, LIST_TRANSFORM(RANGE(0, planes),
      |      p -> XOR(bucket, CAST(1 AS BIGINT) << p)))) AS pb
      |  FROM based CROSS JOIN params),
      |rprobes AS (
      |  SELECT p.vec_id, p.v, p.norm,
      |    p.pb + (p.xsig % (CAST(1 AS BIGINT) << s.extra))
      |         * (CAST(1 AS BIGINT) << planes) AS probe_bucket
      |  FROM probes p JOIN bsz s ON p.pb = s.bucket CROSS JOIN params),
      |pairs AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    LIST_DOT_PRODUCT(a.v, b.v) / (a.norm * b.norm) AS cos_sim
      |  FROM rprobes a JOIN refined b
      |    ON a.probe_bucket = b.bucket AND a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT vec_id, neighbor_id, cos_sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM pairs)
      |SELECT vec_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 3""".stripMargin

  // q37 — array/higher-order-function battery over embeddings:
  // size/element access/slice/min/max/count-by-predicate/sort. All
  // comparison-or-selection operations — float values pass through
  // untouched, so cross-engine exactness is structural.
  //
  // Array-typed outputs are serialized to strings for the comparer
  // (pandas can't sort ndarray cells). Float→string formatting differs
  // between engines (Java Double.toString vs shortest-repr), so elements
  // are scaled to integers first: float→double is exact, *1e6 is one
  // IEEE double multiply, FLOOR is IEEE-defined — identical in both
  // engines — and only then joined into a string.
  private def q37(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dims"),
      col("embedding").getItem(0).cast("double").as("first_dim"),
      element_at(col("embedding"), -1).cast("double").as("last_dim"),
      array_max(col("embedding")).cast("double").as("max_dim"),
      array_min(col("embedding")).cast("double").as("min_dim"),
      expr("size(filter(embedding, x -> x > CAST(0 AS FLOAT)))").cast("long")
        .as("n_positive"),
      expr("array_join(transform(slice(embedding, 1, 4), " +
        "x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS STRING)), ',')")
        .as("head4"),
      expr("array_join(transform(array_sort(slice(embedding, 1, 8)), " +
        "x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS STRING)), ',')")
        .as("head8_sorted"))
  private val q37Sql =
    """SELECT vec_id,
      |  CAST(LEN(embedding) AS BIGINT) AS dims,
      |  CAST(embedding[1] AS DOUBLE) AS first_dim,
      |  CAST(embedding[-1] AS DOUBLE) AS last_dim,
      |  CAST(LIST_MAX(embedding) AS DOUBLE) AS max_dim,
      |  CAST(LIST_MIN(embedding) AS DOUBLE) AS min_dim,
      |  CAST(LEN(LIST_FILTER(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
      |  ARRAY_TO_STRING(LIST_TRANSFORM(embedding[1:4],
      |    x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)), ',') AS head4,
      |  ARRAY_TO_STRING(LIST_TRANSFORM(LIST_SORT(embedding[1:8]),
      |    x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)), ',') AS head8_sorted
      |FROM embeddings""".stripMargin
}
