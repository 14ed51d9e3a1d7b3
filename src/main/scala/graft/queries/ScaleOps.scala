package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{dec, load}
import graft.QueryDef

/** The skew/layout toolkit ([[graft.ops.Salting]], [[graft.ops.Bucketing]])
  * driven through the oracle gate. Both operators are pure execution
  * strategies — salting splits hot keys across partial groups, bucketing
  * moves the join shuffle to ingest time — so their RESULTS must equal
  * the plain forms the oracle computes; the gate proves the rewrites are
  * semantics-preserving, and the unit specs (SaltingSpec/BucketingSpec)
  * pin the plan shapes.
  */
object ScaleOps {

  /** The layout audits (q163/q192) construct 2-3 [[distributedNtile]]
    * pipelines whose GlobalIndex passes each BLOCK the driver on a
    * partition-count collect; built sequentially, each layout's
    * range-exchange sampling + shuffle write + count runs alone while
    * 30 of 32 cores idle (measured: the three q192 pipelines occupy
    * ~1.7 s of strictly serial wall at sf0.1) — see [[graft.ops.Overlap]],
    * where this helper moved when the CC-consumer family adopted it.
    */
  private def buildConcurrently(parts: Seq[() => DataFrame]): Seq[DataFrame] =
    graft.ops.Overlap.frames(parts)

  // q63 — two-phase salted aggregation: sum of order totals per order
  // status (3 hot keys over 150k rows at sf0.1 — exactly the shape where
  // one reducer per key stalls at scale). Decimal micro-units keep the
  // result independent of how the salt split the partial sums.
  private def q63(s: SparkSession, dir: String): DataFrame =
    graft.ops.Salting.saltedSum(
        load(s, dir, "orders"),
        key = col("o_orderstatus"),
        spreadBy = col("o_orderkey"),
        valueExpr = dec(col("o_totalprice")),
        buckets = 16)
      .select(col("key"), col("sum_value").cast("double").as("sum_value"),
        col("n_rows"))
  private val q63Sql =
    """SELECT o_orderstatus AS key,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n_rows
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // q88 — salted equi-join: lineitem (skewed side, salted on the line
  // identity) ⋈ supplier replicated ×16, joined on (suppkey, salt), then
  // rolled up per nation. The oracle replays the PLAIN join — salting is
  // an execution strategy and must be invisible in the result. The plan
  // shape (hot key spread over `buckets` reducers, no broadcast) is
  // pinned in SaltingSpec; the AQE runtime alternative is pinned there
  // too. Aggregates go through decimal micro-units so the result is
  // independent of how the salt split the partial sums.
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    val supp = load(s, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.ops.Salting.saltedJoin(
        li, supp, keys = Seq("l_suppkey"),
        spreadBy = concat_ws(":", col("l_orderkey"), col("l_linenumber")),
        buckets = 16)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
  }
  private val q88Sql =
    """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey""".stripMargin

  // q64 — bucketed co-located join: orders ⋈ lineitem on the order key,
  // with both sides written bucketed+sorted by the key first, so the
  // join itself plans with NO exchange (the dominant 100 TB shuffle
  // moved to ingest time). The oracle replays the plain join — results
  // must be layout-invariant.
  //
  // Bench note: ~3 s at sf0.1, of which nearly all is the two bucketed
  // WRITES — deliberately inside the query so the gate covers the whole
  // operator. That cost is ingest-time by definition: in production it
  // is paid once and amortized over every subsequent co-located join.
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val wh = "/tmp/graft_bucketed"
    graft.ops.Bucketing.writeBucketed(
      load(s, dir, "orders").select(col("o_orderkey").as("okey"),
        col("o_orderstatus")),
      "graft_bucket_orders", s"$wh/orders", "okey", 8)
    graft.ops.Bucketing.writeBucketed(
      load(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
        col("l_quantity")),
      "graft_bucket_lineitem", s"$wh/lineitem", "okey", 8)
    graft.ops.Bucketing
      .coLocatedJoin(s, "graft_bucket_orders", "graft_bucket_lineitem", "okey")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
  }
  private val q64Sql =
    """SELECT o_orderstatus,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus""".stripMargin

  // q74 — Z-order keys ([[graft.ops.ZOrder]]) through the gate: the
  // Morton key of (l_partkey, l_suppkey) per lineitem row — range-bucket
  // each column to 16 bits against its global min/max, then interleave.
  // The layout win (two-column file skipping) is pinned in ZOrderSpec;
  // THIS query proves the key itself is engine-exact: pure integer
  // arithmetic + five shift-mask stages, bit-identical in DuckDB.
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
    graft.ops.ZOrder.withZ(li, "l_partkey", "l_suppkey")
      .select(col("l_orderkey"), col("l_linenumber"), col("z"))
  }
  // q203 — THREE-column Z-order keys ([[graft.ops.ZOrder.withZ3]]):
  // q74 gates the 2-D Morton key; this gates the 3-D one — the arity
  // real `OPTIMIZE ZORDER BY` calls use (Delta/Iceberg accept N
  // columns; two was the bring-up case). Same structure: 16-bit range
  // buckets per column, then the standard splitBy3 magic-mask ladder,
  // bit-identical in DuckDB as integer shifts/masks. The layout win
  // (three-column file-skipping at once) is pinned measured in
  // ZOrderSpec's write3 test; THIS query proves the key engine-exact.
  private def q203(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
    graft.ops.ZOrder.withZ3(li, "l_partkey", "l_suppkey", "l_orderkey")
      .select(col("l_orderkey"), col("l_linenumber"), col("z3"))
  }
  // Morton3D "splitBy3" spread, decimal mask renderings (q203's oracle)
  private def spread3Sql(e: String): String =
    Seq((32, "8725724278095871"), (16, "8725728556220671"),
      (8, "1157144660301377551"), (4, "1207822528635744451"),
      (2, "1317624576693539401"))
      .foldLeft(s"($e & 65535)") { case (x, (sh, m)) =>
        s"(($x | ($x << $sh)) & $m)"
      }
  private lazy val q203Sql = {
    def bucket(c: String, mn: String, mx: String) =
      s"(CAST($c - $mn AS BIGINT) * 65536) // (CAST($mx - $mn AS BIGINT) + 1)"
    s"""WITH b AS (
      |  SELECT MIN(l_partkey) AS minx, MAX(l_partkey) AS maxx,
      |         MIN(l_suppkey) AS miny, MAX(l_suppkey) AS maxy,
      |         MIN(l_orderkey) AS minz, MAX(l_orderkey) AS maxz
      |  FROM lineitem),
      |bk AS (
      |  SELECT l_orderkey, l_linenumber,
      |    ${bucket("l_partkey", "minx", "maxx")} AS bx,
      |    ${bucket("l_suppkey", "miny", "maxy")} AS by,
      |    ${bucket("l_orderkey", "minz", "maxz")} AS bz
      |  FROM lineitem CROSS JOIN b)
      |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  (${spread3Sql("bx")} | (${spread3Sql("by")} << 1)
      |    | (${spread3Sql("bz")} << 2)) AS z3
      |FROM bk""".stripMargin
  }

  // Morton "part1by1" spread, decimal renderings of the magic masks
  // (shared by q74's key check and q163's zone-map audit)
  private def spreadSql(e: String): String =
    Seq((16, "281470681808895"), (8, "71777214294589695"),
      (4, "1085102592571150095"), (2, "3689348814741910323"),
      (1, "6148914691236517205"))
      .foldLeft(s"($e & 65535)") { case (x, (sh, m)) =>
        s"(($x | ($x << $sh)) & $m)"
      }
  /** Shared oracle CTE chain: per-row Morton key of (l_partkey,
    * l_suppkey) as `zk(l_orderkey, l_linenumber, l_partkey, l_suppkey,
    * z)`. */
  private lazy val zkCteSql =
    s"""b AS (
      |  SELECT MIN(l_partkey) AS minx, MAX(l_partkey) AS maxx,
      |         MIN(l_suppkey) AS miny, MAX(l_suppkey) AS maxy
      |  FROM lineitem),
      |bk AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    (CAST(l_partkey - minx AS BIGINT) * 65536) // (CAST(maxx - minx AS BIGINT) + 1) AS bx,
      |    (CAST(l_suppkey - miny AS BIGINT) * 65536) // (CAST(maxy - miny AS BIGINT) + 1) AS by
      |  FROM lineitem CROSS JOIN b),
      |zk AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    (${spreadSql("bx")} | (${spreadSql("by")} << 1)) AS z
      |  FROM bk)""".stripMargin
  private val q74Sql = {
    s"""WITH b AS (
      |  SELECT MIN(l_partkey) AS minx, MAX(l_partkey) AS maxx,
      |         MIN(l_suppkey) AS miny, MAX(l_suppkey) AS maxy
      |  FROM lineitem),
      |bk AS (
      |  SELECT l_orderkey, l_linenumber,
      |    (CAST(l_partkey - minx AS BIGINT) * 65536) // (CAST(maxx - minx AS BIGINT) + 1) AS bx,
      |    (CAST(l_suppkey - miny AS BIGINT) * 65536) // (CAST(maxy - miny AS BIGINT) + 1) AS by
      |  FROM lineitem CROSS JOIN b)
      |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  (${spreadSql("bx")} | (${spreadSql("by")} << 1)) AS z
      |FROM bk""".stripMargin
  }

  /** 60-bit portable md5-derived hash (same bridge as TextOps — the
    * native [[graft.functions.H60Expr]]). */
  private def h60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.H60Expr.column(c)
  private def h60Sql(e: String): String =
    s"CAST('0x' || SUBSTRING(MD5($e), 1, 15) AS BIGINT)"

  /** Deterministic "next crawl" of `documents`, derived in-query so the
    * oracle can replay it: content-hash bucket 0 → deleted, 1 → n_chars
    * bumped (an update), 2 → also re-ingested under a fresh id (an
    * insert). Shared by q79 (diff) and q80 (merge).
    */
  private def evolved(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents").withColumn("bucket", h60(col("text")) % 20)
  private val evolvedSql =
    s"SELECT doc_id, text, lang, source, n_chars, ${h60Sql("text")} % 20 AS bucket FROM documents"

  // q79 — snapshot diff (CDC): row-level delta between two crawls of the
  // corpus — the input every incremental pipeline stage (re-dedup,
  // re-index, re-embed) wants instead of the full 100 TB snapshot. One
  // full-outer hash join on the key (shuffle-free under bucketed
  // layout); null-safe column compare inside codegen.
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val base = evolved(s, dir)
    val old = base.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val nw = base.filter(col("bucket") =!= 0)
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("bucket") === 1, col("n_chars") + 1)
          .otherwise(col("n_chars")).as("n_chars"))
      .unionByName(base.filter(col("bucket") === 2)
        .select((col("doc_id") + 1000000).as("doc_id"), col("lang"),
          col("source"), col("n_chars")))
    graft.ops.SnapshotDiff.diff(old, nw, Seq("doc_id"))
      .select(col("doc_id"), col("change"), col("old_n_chars"),
        col("new_n_chars"),
        coalesce(col("new_source"), col("old_source")).as("source"))
  }
  private val q79Sql =
    s"""WITH b AS ($evolvedSql),
      |old AS (SELECT doc_id, lang, source, n_chars, TRUE AS in_old FROM b),
      |new AS (
      |  SELECT doc_id, lang, source,
      |    CASE WHEN bucket = 1 THEN n_chars + 1 ELSE n_chars END AS n_chars,
      |    TRUE AS in_new
      |  FROM b WHERE bucket <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, source, n_chars, TRUE FROM b WHERE bucket = 2)
      |SELECT doc_id,
      |  CASE WHEN in_old IS NULL THEN 'insert'
      |       WHEN in_new IS NULL THEN 'delete'
      |       WHEN o.n_chars IS DISTINCT FROM n.n_chars
      |         OR o.lang IS DISTINCT FROM n.lang
      |         OR o.source IS DISTINCT FROM n.source THEN 'update' END AS change,
      |  o.n_chars AS old_n_chars, n.n_chars AS new_n_chars,
      |  COALESCE(n.source, o.source) AS source
      |FROM old o FULL OUTER JOIN new n USING (doc_id)
      |WHERE change IS NOT NULL""".stripMargin

  // q80 — merge/upsert: fold a tagged change set (upserts + delete
  // tombstones) into the current snapshot. The snapshot side only
  // anti-joins the broadcast change KEYS — it never shuffles, which is
  // what makes a daily merge affordable against 100 TB. Result is the
  // full next snapshot, fingerprinted by md5(text).
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val base = evolved(s, dir)
    def proj(idCol: org.apache.spark.sql.Column, nChars: org.apache.spark.sql.Column) =
      Seq(idCol.as("doc_id"), col("lang"), col("source"),
        nChars.as("n_chars"), md5(col("text")).as("text_md5"))
    val current = base.select(proj(col("doc_id"), col("n_chars")): _*)
    val changes =
      base.filter(col("bucket") === 1)
        .select(proj(col("doc_id"), col("n_chars") + 1) :+ lit("upsert").as("op"): _*)
        .unionByName(base.filter(col("bucket") === 0)
          .select(proj(col("doc_id"), col("n_chars")) :+ lit("delete").as("op"): _*))
        .unionByName(base.filter(col("bucket") === 2)
          .select(proj(col("doc_id") + 1000000, col("n_chars")) :+ lit("upsert").as("op"): _*))
    graft.ops.SnapshotDiff.merge(current, changes, Seq("doc_id"))
  }
  private val q80Sql =
    s"""WITH b AS ($evolvedSql)
      |SELECT doc_id, lang, source, n_chars, MD5(text) AS text_md5
      |FROM b WHERE bucket NOT IN (0, 1)
      |UNION ALL
      |SELECT doc_id, lang, source, n_chars + 1 AS n_chars, MD5(text) AS text_md5
      |FROM b WHERE bucket = 1
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, lang, source, n_chars, MD5(text) AS text_md5
      |FROM b WHERE bucket = 2""".stripMargin

  // q86 — incremental dedup: the composition the CDC operators exist
  // for — only the DELTA (q79's inserts+updates, here with text
  // carried) is fingerprinted and checked against the corpus, instead
  // of re-running q13 over the full 100 TB. The tiny delta BROADCASTS
  // to the corpus fingerprint scan, so the big side never shuffles;
  // re-ingested docs (same text, fresh id) surface as dup_of their
  // original. Self-matches (an update's own old row) are excluded by id.
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val base = evolved(s, dir)
    val cols = Seq("doc_id", "lang", "source", "n_chars", "text")
    val old = base.select(cols.map(col): _*)
    val nw = base.filter(col("bucket") =!= 0)
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("bucket") === 1, col("n_chars") + 1)
          .otherwise(col("n_chars")).as("n_chars"), col("text"))
      .unionByName(base.filter(col("bucket") === 2)
        .select((col("doc_id") + 1000000).as("doc_id"), col("lang"),
          col("source"), col("n_chars"), col("text")))
    val delta = graft.ops.SnapshotDiff.diff(old, nw, Seq("doc_id"))
      .filter(col("change").isin("insert", "update"))
      .select(col("doc_id"), col("change"), md5(col("new_text")).as("fp"))
    val existing = base.select(md5(col("text")).as("fp"),
      col("doc_id").as("existing_id"))
    val matches = existing
      .join(broadcast(delta.select(col("doc_id"), col("fp"))), "fp")
      .filter(col("existing_id") =!= col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("existing_id")).as("dup_of"))
    delta.join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("change"), col("fp"), col("dup_of"),
        when(col("dup_of").isNull, 0L).otherwise(1L).as("is_dup"))
  }
  private val q86Sql =
    s"""WITH b AS ($evolvedSql),
      |old AS (SELECT doc_id, lang, source, n_chars, text FROM b),
      |new AS (
      |  SELECT doc_id, lang, source,
      |    CASE WHEN bucket = 1 THEN n_chars + 1 ELSE n_chars END AS n_chars, text
      |  FROM b WHERE bucket <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, source, n_chars, text FROM b WHERE bucket = 2),
      |delta AS (
      |  SELECT n.doc_id,
      |    CASE WHEN o.doc_id IS NULL THEN 'insert' ELSE 'update' END AS change,
      |    MD5(n.text) AS fp
      |  FROM new n LEFT JOIN old o ON o.doc_id = n.doc_id
      |  WHERE o.doc_id IS NULL
      |     OR o.n_chars IS DISTINCT FROM n.n_chars
      |     OR o.lang IS DISTINCT FROM n.lang
      |     OR o.source IS DISTINCT FROM n.source
      |     OR o.text IS DISTINCT FROM n.text),
      |m AS (
      |  SELECT d.doc_id, MIN(e.doc_id) AS dup_of
      |  FROM delta d JOIN (SELECT doc_id, MD5(text) AS fp FROM b) e
      |    ON e.fp = d.fp AND e.doc_id <> d.doc_id
      |  GROUP BY d.doc_id)
      |SELECT d.doc_id, d.change, d.fp, m.dup_of,
      |  CAST(CASE WHEN m.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
      |FROM delta d LEFT JOIN m ON m.doc_id = d.doc_id""".stripMargin

  // q97 — single-pass column profiling ([[graft.ops.Profiler]]): the
  // pre-flight data-quality report. Five lineitem columns of four
  // different types profile in ONE scan; min/max go through canonical
  // renderings (double→DECIMAL(18,6), timestamp→DATE) so both engines
  // print identical strings. The oracle replays it as five UNION ALL
  // single-column profiles — same numbers, deliberately naive form.
  private def q97(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiler.profile(
      load(s, dir, "lineitem"),
      Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag",
        "l_shipdate"),
      Map(
        "l_quantity" -> (c => dec(c)),
        "l_extendedprice" -> (c => dec(c)),
        "l_shipdate" -> (c => c.cast("date"))))
  private val q97Sql = {
    def one(c: String, rendered: String) =
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT($c) AS n_nulls,
        |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
        |  CAST(MIN($rendered) AS VARCHAR) AS min_repr,
        |  CAST(MAX($rendered) AS VARCHAR) AS max_repr
        |FROM lineitem""".stripMargin
    Seq(
      one("l_orderkey", "l_orderkey"),
      one("l_quantity", "CAST(l_quantity AS DECIMAL(18,6))"),
      one("l_extendedprice", "CAST(l_extendedprice AS DECIMAL(18,6))"),
      one("l_returnflag", "l_returnflag"),
      one("l_shipdate", "CAST(l_shipdate AS DATE)"))
      .mkString("\nUNION ALL\n")
  }

  // q98 — incremental aggregate maintenance ([[graft.ops.IncrementalAgg]]):
  // per-customer order stats kept current by merging the existing state
  // with the delta's state — the corpus (here the 90% "history" half,
  // o_orderkey % 10 != 0) is aggregated ONCE; the delta (% 10 = 0)
  // aggregates separately and the two states combine by re-aggregation.
  // The oracle recomputes from scratch over ALL orders — proving the
  // incremental path is exactly equivalent. Decimal micro-units make the
  // sum independent of which state a row arrived through.
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
    def state(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("sum_price"),
          max(col("o_orderdate")).as("last_order"))
    val merged = graft.ops.IncrementalAgg.combine(
      Seq(state(orders.filter(col("o_orderkey") % 10 =!= 0)),
        state(orders.filter(col("o_orderkey") % 10 === 0))),
      keys = Seq("o_custkey"),
      merges = Seq(
        "n_orders" -> (sum(_)),
        "sum_price" -> (sum(_)),
        "last_order" -> (max(_))))
    merged.select(col("o_custkey"),
      col("n_orders").cast("long").as("n_orders"),
      col("sum_price").cast("double").as("sum_totalprice"),
      col("last_order"))
  }
  private val q98Sql =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_totalprice,
      |  MAX(o_orderdate) AS last_order
      |FROM orders GROUP BY o_custkey""".stripMargin

  // q99 — weighted PageRank ([[graft.ops.PageRank]]) over the
  // nation-level trade graph: edge (customer nation → supplier nation)
  // weighted by lineitem count, 3 damped power iterations in fixed-point
  // integer arithmetic (bit-identical across engines — see the op's
  // scaladoc for why float PageRank can't pass a bitwise gate). The
  // graph build is the scale-heavy part: lineitem ⋈ orders (the big-big
  // join) then two broadcast dimension joins, collapsing 100 TB of fact
  // rows into a nations² edge table the iterations run on.
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cust = load(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val supp = load(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val edges = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val nodes = load(s, dir, "nation").select(col("n_nationkey").as("node"))
    graft.ops.PageRank.ranks(nodes, edges, iterations = 3)
      .join(broadcast(load(s, dir, "nation")),
        col("node") === col("n_nationkey"))
      .select(col("node").as("nationkey"), col("n_name").as("nation"),
        col("rank_scaled"),
        (col("rank_scaled").cast("double") / 1e12).as("rank"))
  }
  private val q99Sql =
    s"""WITH edges AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |    CAST(COUNT(*) AS BIGINT) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |nodes AS (SELECT n_nationkey AS node FROM nation),
      |${graft.ops.PageRank.ranksSql(iterations = 3)}
      |SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey, n.n_name AS nation,
      |  r3.r AS rank_scaled, CAST(r3.r AS DOUBLE) / 1e12 AS rank
      |FROM r3 JOIN nation n ON r3.node = n.n_nationkey""".stripMargin

  // q107 — statistical outlier report: top-3 |z|-score rows per group
  // (return flag) over l_extendedprice — the Profiler's (q97) sibling
  // for VALUE-level data quality: a corrupted feed shows up as a few
  // rows standing far off their group's distribution. Cross-engine
  // float determinism: everything integer until the last moment —
  // prices become exact cents, Σxm / Σxm² / the variance numerator
  // n·Σxm²−(Σxm)² accumulate as exact integers (long + DECIMAL(38,0);
  // DuckDB HUGEINT), and ONLY INTEGERS are ever cast to double
  // (int→double is correctly rounded in both engines — verified to
  // 2^83). Casting a high-scale decimal instead is a trap: DuckDB's
  // DECIMAL(38,12)→DOUBLE double-rounds (int128→double, then ÷10¹²)
  // and landed 1 ulp off Spark's correctly-rounded BigDecimal on one
  // group. From identical doubles, mean/std/z are the same IEEE
  // expression in both engines — identical bits, including any
  // cancellation noise; z is computed in cent units (scale-invariant).
  // Shape: one partial-agg pass for the stats (groups are low-
  // cardinality → broadcast back), one narrow per-row z pass,
  // TopKPerGroup for the report.
  private def q107(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val li = load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("xm"))
    val stats = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("xm")).as("sm"),
        sum((col("xm") * col("xm")).cast(DecimalType(38, 0))).as("smm"))
      .select(col("l_returnflag"), col("n"), col("sm"),
        expr("CAST(n * smm - CAST(sm AS DECIMAL(38,0)) * CAST(sm AS DECIMAL(38,0)) AS DECIMAL(38,0))")
          .as("num"))
      .select(col("l_returnflag"),
        expr("CAST(sm AS DOUBLE) / n").as("mean_m"),
        expr("sqrt(CAST(num AS DOUBLE) / (n * (n - 1)))").as("std_m"))
    val z = li.join(broadcast(stats), "l_returnflag")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"),
        expr("(CAST(xm AS DOUBLE) - mean_m) / std_m").as("z"))
    graft.ops.TopK.perGroup(z, Seq("l_returnflag"),
      Seq(abs(col("z")).desc, col("l_orderkey").asc, col("l_linenumber").asc),
      3, "rnk")
  }
  private val q107Sql =
    """WITH li AS (
      |  SELECT l_returnflag, l_orderkey,
      |    CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xm
      |  FROM lineitem),
      |s AS (
      |  SELECT l_returnflag, COUNT(*) AS n, SUM(xm) AS sm, SUM(xm * xm) AS smm
      |  FROM li GROUP BY 1),
      |st AS (
      |  SELECT l_returnflag,
      |    CAST(sm AS DOUBLE) / n AS mean_m,
      |    SQRT(CAST(n * smm - sm * sm AS DOUBLE) / (n * (n - 1))) AS std_m
      |  FROM s),
      |z AS (
      |  SELECT li.l_returnflag, li.l_orderkey, li.l_linenumber,
      |    li.l_extendedprice,
      |    (CAST(li.xm AS DOUBLE) - st.mean_m) / st.std_m AS z
      |  FROM li JOIN st USING (l_returnflag)),
      |r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |    ORDER BY ABS(z) DESC, l_orderkey ASC, l_linenumber ASC) AS BIGINT) AS rnk
      |  FROM z)
      |SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, z, rnk
      |FROM r WHERE rnk <= 3""".stripMargin

  // q108 — referential-integrity audit: orphan counts across every
  // foreign-key edge of the star schema in one report — the structural
  // data-quality check (q97 profiles values, q107 flags outliers, THIS
  // catches broken joins: a partial parent load silently drops child
  // rows from every downstream star join). Each edge is one LEFT ANTI
  // join — at 100 TB the parent key sets are dimension-sized (broadcast)
  // or, for orders⋈lineitem, the same co-partitioned shuffle the joins
  // themselves use; counts are partial-aggregatable. Zero orphans in
  // the driver data — the operator under test is the anti-join itself,
  // and the zero is the assertion a pipeline owner wants.
  private def q108(s: SparkSession, dir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val total = child.agg(count(lit(1)).as("n_child_rows"))
      val orphans = child
        .join(parent.select(col(pkey).as(key)), Seq(key), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      // cross-scale: scalar-frames — 1-row agg × 1-row agg
      total.crossJoin(orphans)
        .select(lit(rel).as("relation"), col("n_child_rows"), col("n_orphans"),
          (col("n_orphans").cast("double") / col("n_child_rows"))
            .as("orphan_rate"))
    }
    val li = load(s, dir, "lineitem")
    audit("lineitem.orderkey", li.select(col("l_orderkey")), "l_orderkey",
        load(s, dir, "orders"), "o_orderkey")
      .unionByName(audit("lineitem.partkey", li.select(col("l_partkey")),
        "l_partkey", load(s, dir, "part"), "p_partkey"))
      .unionByName(audit("lineitem.suppkey", li.select(col("l_suppkey")),
        "l_suppkey", load(s, dir, "supplier"), "s_suppkey"))
      .unionByName(audit("orders.custkey",
        load(s, dir, "orders").select(col("o_custkey")), "o_custkey",
        load(s, dir, "customer"), "c_custkey"))
      .unionByName(audit("customer.nationkey",
        load(s, dir, "customer").select(col("c_nationkey")), "c_nationkey",
        load(s, dir, "nation"), "n_nationkey"))
  }
  private val q108Sql = {
    def one(rel: String, child: String, key: String, parent: String,
        pkey: String) =
      s"""SELECT '$rel' AS relation,
        |  (SELECT COUNT(*) FROM $child) AS n_child_rows,
        |  (SELECT COUNT(*) FROM $child c
        |     WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.$key))
        |    AS n_orphans,
        |  CAST((SELECT COUNT(*) FROM $child c
        |     WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.$key))
        |    AS DOUBLE) / (SELECT COUNT(*) FROM $child) AS orphan_rate""".stripMargin
    Seq(
      one("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      one("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      one("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      one("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
      one("customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"))
      .mkString("\nUNION ALL\n")
  }

  // q109 — equi-width histogram of l_extendedprice in 20 buckets:
  // the distribution view q97's min/max can't give (skew, modes, heavy
  // tails — the shapes that decide partition sizing and salting).
  // Integer-exact bucketing: prices to cents, bucket = ((xm - min) *
  // 20) div (max - min + 1) — pure BIGINT arithmetic, identical in
  // both engines, no float boundary ambiguity. Shape: one bounds
  // scan (scalar broadcast) + one narrow bucket pass + a 20-group
  // partial agg — scan-bound at any scale.
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val cents = load(s, dir, "lineitem")
      .select(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("xm"))
    val bounds = cents.agg(min(col("xm")).as("mn"), max(col("xm")).as("mx"))
    cents.crossJoin(broadcast(bounds))
      .select(expr("((xm - mn) * 20) div (mx - mn + 1)").as("bucket"),
        col("mn"), col("mx"))
      .groupBy(col("bucket"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("bucket"),
        expr("CAST((mn + bucket * (mx - mn + 1) div 20) AS DOUBLE) / 100")
          .as("lo_dollars"),
        col("n_rows"))
  }
  private val q109Sql =
    """WITH cents AS (
      |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xm
      |  FROM lineitem),
      |b AS (SELECT MIN(xm) AS mn, MAX(xm) AS mx FROM cents),
      |bk AS (
      |  SELECT ((xm - mn) * 20) // (mx - mn + 1) AS bucket, mn, mx
      |  FROM cents CROSS JOIN b)
      |SELECT bucket,
      |  CAST((mn + bucket * (mx - mn + 1) // 20) AS DOUBLE) / 100 AS lo_dollars,
      |  COUNT(*) AS n_rows
      |FROM bk GROUP BY bucket, mn, mx""".stripMargin

  // q201 — DYNAMIC PARTITION PRUNING audit (VERDICT r06 item 2): the
  // one Catalyst scan-saver the engine claimed (SURVEY §4) but never
  // exercised. The fact side is `orders` written partitionBy(o_year)
  // (the Catalog.writePartitioned pattern, materialized once per JVM
  // per sfDir); the dim side is `region` with a selective predicate,
  // mapped onto the partition key (1995 + r_regionkey — the fixture's
  // order years start at 1995, so AMERICA→1996, ASIA→1997). Catalyst
  // plans the broadcast join with a DPP subquery on the fact scan:
  // only the 2 matching year partitions of 7 are read. PlanSpec pins
  // both claims (dynamicpruningexpression in the executed plan, pruned
  // partition count in the scan metrics) — the aggregate itself is
  // DPP-invariant, which is exactly what makes it oracle-checkable.
  // Shape at 100 TB: DPP is THE mechanism that turns a dim filter into
  // a fact-side scan skip without a manual predicate — on a
  // year-partitioned 100 TB fact table this join reads 2/7ths of the
  // files before a single row is shuffled.
  // The dim expr is cast to int to match the inferred partition-column
  // type: a cast on the FACT side join key would sit between the
  // partition attribute and the join, and DPP only fires on the bare
  // partition column.
  private val dppDirs = scala.collection.mutable.Map[String, String]()
  private def dppOrdersDir(s: SparkSession, dir: String): String =
    dppDirs.synchronized {
      dppDirs.getOrElseUpdate(dir, {
        val out = java.nio.file.Files
          .createTempDirectory("q201_orders_by_year").toString + "/orders"
        load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            year(col("o_orderdate")).as("o_year"))
          .write.partitionBy("o_year").parquet(out)
        out
      })
    }
  private def q201(s: SparkSession, dir: String): DataFrame = {
    val dim = load(s, dir, "region")
      .where(col("r_name").isin("AMERICA", "ASIA"))
      .select((lit(1995L) + col("r_regionkey")).cast("int").as("o_year"))
    s.read.parquet(dppOrdersDir(s, dir))
      .join(broadcast(dim), "o_year")
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum((dec(col("o_totalprice")) * 100).cast("long")).as("revenue_cents"))
      .orderBy(col("o_year"))
  }
  private val q201Sql =
    """SELECT CAST(1995 + r_regionkey AS BIGINT) AS o_year,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT))
      |    AS BIGINT) AS revenue_cents
      |FROM orders JOIN region
      |  ON CAST(YEAR(o_orderdate) AS BIGINT) = 1995 + r_regionkey
      |WHERE r_name IN ('AMERICA', 'ASIA')
      |GROUP BY 1""".stripMargin

  // q202 — SCHEMA-DRIFT tolerant lake read: the column-PRESENCE sibling
  // of the load boundary's type-flavor normalizers (Tables.widenNumerics
  // / normalizeTemporal cover WIDTH drift; this covers an upstream
  // writer ADDING a column mid-stream). Two ingest batches are written
  // with different schemas — batch v1 (src0..src9) is the old writer
  // (doc_id, text, lang, source); batch v2 (src10..src19) is the new
  // writer that added a `quality` score — then read back as ONE frame
  // via mergeSchema, under which v1 rows surface quality as NULL. The
  // audit reports, per source, how far the new column has propagated
  // (n_quality / quality_sum), i.e. exactly the question a lake owner
  // asks the week after a producer deploys a schema change.
  // Shape at 100 TB: mergeSchema costs one footer read per file at
  // planning time — fine for a batch audit, wrong as the steady state;
  // the steady state is a catalog-declared schema (Catalog.scala) with
  // missing columns resolving to NULL, which is byte-equivalent to what
  // this query pins. Aggregation is a partial-agged 20-group rollup;
  // nothing wider than (source, longs) shuffles.
  private val driftDirs = scala.collection.mutable.Map[String, (String, String)]()
  private def driftBatchDirs(s: SparkSession, dir: String): (String, String) =
    driftDirs.synchronized {
      driftDirs.getOrElseUpdate(dir, {
        val root = java.nio.file.Files
          .createTempDirectory("q202_drift_batches").toString
        val docs = load(s, dir, "documents")
        // the batch split must be TOTAL over any fixture (the round's
        // own lesson): v2 is exactly length(source)=5 with NULL→false,
        // v1 is its complement — no row can fall through, and quality
        // is NULL-proofed so every v2 row carries the added column
        val isV2 = coalesce(length(col("source")) === 5, lit(false))
        docs.where(!isV2)
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
          .write.parquet(s"$root/batch_v1")
        docs.where(isV2)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            (coalesce(col("n_chars"), lit(0L)) % 97).as("quality"))
          .write.parquet(s"$root/batch_v2")
        (s"$root/batch_v1", s"$root/batch_v2")
      })
    }
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val (v1, v2) = driftBatchDirs(s, dir)
    s.read.option("mergeSchema", "true").parquet(v1, v2)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("quality")).as("n_quality"),
        coalesce(sum(col("quality")), lit(0L)).as("quality_sum"))
  }
  private val q202Sql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN LENGTH(source) = 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quality,
      |  CAST(SUM(CASE WHEN LENGTH(source) = 5
      |             THEN COALESCE(n_chars, 0) % 97 ELSE 0 END)
      |    AS BIGINT) AS quality_sum
      |FROM documents GROUP BY source""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q201_dpp_audit", q201, Some(q201Sql)),
    QueryDef("q202_schema_drift", q202, Some(q202Sql)),
    QueryDef("q203_zorder3_keys", q203, Some(q203Sql)),
    QueryDef("q63_salted_agg", q63, Some(q63Sql)),
    QueryDef("q88_salted_join", q88, Some(q88Sql)),
    QueryDef("q64_bucketed_join", q64, Some(q64Sql)),
    QueryDef("q74_zorder_keys", q74, Some(q74Sql)),
    QueryDef("q79_snapshot_diff", q79, Some(q79Sql)),
    QueryDef("q80_merge_upsert", q80, Some(q80Sql)),
    QueryDef("q86_incremental_dedup", q86, Some(q86Sql)),
    QueryDef("q97_column_profile", q97, Some(q97Sql)),
    QueryDef("q98_incremental_agg", q98, Some(q98Sql)),
    QueryDef("q99_pagerank", q99, Some(q99Sql)),
    QueryDef("q107_zscore_outliers", q107, Some(q107Sql)),
    QueryDef("q108_ref_integrity", q108, Some(q108Sql)),
    QueryDef("q109_histogram", q109, Some(q109Sql)),
    QueryDef("q158_skew_report", q158, Some(q158Sql)),
    QueryDef("q163_zonemap_audit", q163, Some(q163Sql)),
    QueryDef("q165_encoding_advisor", q165, Some(q165Sql)),
    QueryDef("q192_hilbert_layout", q192, Some(q192Sql)),
  )

  // q165 — column ENCODING ADVISOR: the storage-layout sibling of
  // q163's zone-map audit. Per column: distinct count (dictionary
  // potential) and run count in the physical (l_orderkey, l_linenumber)
  // order (RLE potential — runs are what the writer actually encodes),
  // then the recommendation parquet's writer heuristics would make:
  // RLE when avg run ≥ 2, DICT when ≤1% distinct, else PLAIN. Values
  // are canonicalized to strings through integer/date casts only (a
  // raw double→string would hit engine formatting differences). Run
  // detection needs the neighbor in storage order: [[graft.ops
  // .RunCount]] — ONE range exchange on the order key, runs for all
  // five columns counted in a single per-partition streaming pass,
  // partition boundaries stitched over a numPartitions×numColumns
  // summary frame. (The pre-r07 form exploded to long format and ran a
  // lag window partitioned by col_name: parallelism = 5 audited
  // columns, not cluster size, and 3M exchanged rows instead of 600k —
  // 6.1 s vs ~1.5 s at sf0.1. RunCountSpec pins the two forms equal.)
  // The oracle replays the windowed definition; the hash gate therefore
  // proves the scalable path is engine-exact, not just self-consistent.
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val cols = Seq(
      "l_returnflag" -> col("l_returnflag"),
      "l_linestatus" -> col("l_linestatus"),
      "l_quantity" -> col("l_quantity").cast("long").cast("string"),
      "l_shipdate" -> col("l_shipdate").cast("date").cast("string"),
      "l_suppkey" -> col("l_suppkey").cast("string"))
    val base = li.select(col("l_orderkey") +: col("l_linenumber") +:
      cols.map { case (n, c) => c.as(n) }: _*)
    val runs = graft.ops.RunCount.runStats(
      base, Seq("l_orderkey", "l_linenumber"), cols.map(_._1))
    // distinct counts: one multi-countDistinct agg (Catalyst Expand —
    // no sort, no window), unpivoted to (col_name, n_distinct)
    val dist = base
      .agg(countDistinct(col(cols.head._1)).as(cols.head._1),
        cols.tail.map { case (n, _) => countDistinct(col(n)).as(n) }: _*)
      .select(explode(array(cols.map { case (n, _) =>
        struct(lit(n).as("col_name"), col(n).as("n_distinct"))
      }: _*)).as("s"))
      .select(col("s.col_name").as("col_name"), col("s.n_distinct").as("n_distinct"))
    // materialize the two independent branches CONCURRENTLY (guide
    // §2.6): the runs branch is an opaque RDD chain (range sampling +
    // exchange + streaming run count) whose stages AQE executes as one
    // leaf, so the dist branch's scan+Expand agg otherwise waits ~0.9 s
    // behind it instead of overlapping (ProfileQuery timeline). Both
    // frames are 5-row summaries; the eager checkpoints just force the
    // two pipelines to run side by side within this invocation.
    val Seq(runsM, distM) = buildConcurrently(Seq(
      () => runs.localCheckpoint(eager = true),
      () => dist.localCheckpoint(eager = true)))
    runsM.join(distM, "col_name")
      .select(col("col_name"), col("n_rows"), col("n_distinct"), col("n_runs"))
      .withColumn("avg_run_milli", expr("n_rows * 1000 div n_runs"))
      .withColumn("encoding",
        when(col("avg_run_milli") >= 2000, "rle")
          .when(col("n_distinct") * 100 <= col("n_rows"), "dict")
          .otherwise("plain"))
      .orderBy(col("col_name"))
  }
  private val q165Sql = {
    def one(name: String, e: String) =
      s"SELECT l_orderkey, l_linenumber, '$name' AS col_name, $e AS val FROM lineitem"
    val stacked = Seq(
      one("l_returnflag", "l_returnflag"),
      one("l_linestatus", "l_linestatus"),
      one("l_quantity", "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)"),
      one("l_shipdate", "CAST(CAST(l_shipdate AS DATE) AS VARCHAR)"),
      one("l_suppkey", "CAST(l_suppkey AS VARCHAR)"))
      .mkString("\nUNION ALL\n")
    s"""WITH longf AS (
      |$stacked),
      |runs AS (
      |  SELECT col_name, val,
      |    CASE WHEN LAG(val) OVER (PARTITION BY col_name
      |        ORDER BY l_orderkey, l_linenumber, val) IS DISTINCT FROM val
      |      THEN 1 ELSE 0 END AS brk
      |  FROM longf),
      |ag AS (
      |  SELECT col_name, COUNT(*) AS n_rows,
      |    CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct,
      |    CAST(SUM(brk) AS BIGINT) AS n_runs
      |  FROM runs GROUP BY 1)
      |SELECT col_name, n_rows, n_distinct, n_runs,
      |  n_rows * 1000 // n_runs AS avg_run_milli,
      |  CASE WHEN n_rows * 1000 // n_runs >= 2000 THEN 'rle'
      |       WHEN n_distinct * 100 <= n_rows THEN 'dict'
      |       ELSE 'plain' END AS encoding
      |FROM ag ORDER BY col_name""".stripMargin
  }

  // q163 — ZONE-MAP effectiveness audit: q74 proves the Morton key is
  // exact; this query proves the LAYOUT PAYS — measured, not asserted
  // (the q146-sweep pattern applied to file skipping). Rows are tiled
  // into 32 equal chunks under two layouts (natural ingest order vs
  // z-order), each chunk keeps per-column min/max (a parquet footer's
  // zone map), and the score is the expected number of chunks a
  // uniform-random point predicate must read: Σ_chunks(width)/domain,
  // in exact milli-chunks. Natural order leaves every chunk spanning
  // ~the whole partkey domain (expected ≈ all 32 chunks); z-order cuts
  // BOTH dimensions at once — the number that justifies paying the
  // z-sort at ingest. In production the "chunk" is a file and min/max
  // come from footer stats; the ntile model is the same math as an
  // audit — computed DISTRIBUTED ([[distributedNtile]]: GlobalIndex
  // range exchange, no single-partition window; the r09 probe measured
  // the window form serializing at 10× rows).
  /** `ntile(buckets)` over a TOTAL order, distributed: dense global
    * rank via [[graft.ops.GlobalIndex]] (range exchange + two narrow
    * passes — no single-partition window) mapped through the
    * closed-form ntile bucket function (the first N mod b buckets take
    * one extra row). Bit-equal to `ntile(buckets)` over an
    * unpartitioned window on the same total
    * order — the q163/q192 oracles still say NTILE — but scales: the
    * r09 sf0.1→sf1 probe measured the window form at ~8.4× wall-clock
    * for 10× rows (serial sort of everything), the bound this form
    * removes. `rows` is the frame's row count (one metadata-only
    * parquet count at the call site; all three layout audits share it).
    */
  private[graft] def distributedNtile(df: DataFrame, rows: Long, buckets: Int,
      order: Seq[Column]): DataFrame = {
    val q = rows / buckets
    val r = rows % buckets
    // the sorted pass is stored nowhere: the second pass re-sorts over
    // the reused shuffle files. The r12 7-vs-7 interleaved A/B on q192
    // (which runs this three times per invocation) chose that over
    // GlobalIndex's MEMORY_AND_DISK persist — per-rep mins 3.347 s vs
    // persist 3.934 s, −15%; medians −8%: at audit scale the re-sort is
    // cheaper than holding three lineitem-sized sorted passes in storage
    // memory, and zero storage is immune to suite cache pressure
    // (ARCHITECTURE §8.7). The write-once ETL path keeps GlobalIndex's
    // persist — one sorted pass, immediately consumed, no in-session
    // accumulation.
    val ranked = graft.ops.GlobalIndex.withDenseIndex(df, "_g_rank", order,
      org.apache.spark.storage.StorageLevel.NONE)
    val chunk =
      if (q == 0) col("_g_rank") // fewer rows than buckets: one row each
      else when(col("_g_rank") <= lit(r * (q + 1)),
          expr(s"(_g_rank - 1) div ${q + 1} + 1"))
        .otherwise(expr(s"$r + (_g_rank - 1 - ${r * (q + 1)}) div $q + 1"))
    ranked.withColumn("chunk", chunk.cast("int")).drop("_g_rank")
  }

  private def q163(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
    val rows = li.count() // metadata-only parquet count, shared by both audits
    val zed = graft.ops.ZOrder.withZ(li, "l_partkey", "l_suppkey")
    def audit(df: DataFrame, layout: String, order: Seq[Column]) = {
      val chunked = distributedNtile(df, rows, 32, order)
      chunked.groupBy(col("chunk"))
        .agg(min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("max_pk") - col("min_pk") + 1).cast("long").as("sum_width_part"),
          sum(col("max_sk") - col("min_sk") + 1).cast("long").as("sum_width_supp"))
        .crossJoin(broadcast(df.agg(
          (max(col("l_partkey")) - min(col("l_partkey")) + 1).cast("long").as("dom_pk"),
          (max(col("l_suppkey")) - min(col("l_suppkey")) + 1).cast("long").as("dom_sk"))))
        .select(lit(layout).as("layout"), col("n_chunks"),
          col("sum_width_part"), col("sum_width_supp"),
          expr("sum_width_part * 1000 div dom_pk").as("exp_chunks_part_milli"),
          expr("sum_width_supp * 1000 div dom_sk").as("exp_chunks_supp_milli"))
    }
    val Seq(nat, zor) = buildConcurrently(Seq(
      () => audit(li, "natural", Seq(col("l_orderkey"), col("l_linenumber"))),
      () => audit(zed, "zorder",
        Seq(col("z"), col("l_orderkey"), col("l_linenumber")))))
    nat.unionByName(zor).orderBy(col("layout"))
  }
  private lazy val q163Sql = {
    def audit(layout: String, src: String, order: String) =
      s"""SELECT '$layout' AS layout, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(max_pk - min_pk + 1) AS BIGINT) AS sum_width_part,
         |  CAST(SUM(max_sk - min_sk + 1) AS BIGINT) AS sum_width_supp,
         |  CAST(SUM(max_pk - min_pk + 1) AS BIGINT) * 1000
         |    // (SELECT CAST(MAX(l_partkey) - MIN(l_partkey) + 1 AS BIGINT) FROM lineitem)
         |    AS exp_chunks_part_milli,
         |  CAST(SUM(max_sk - min_sk + 1) AS BIGINT) * 1000
         |    // (SELECT CAST(MAX(l_suppkey) - MIN(l_suppkey) + 1 AS BIGINT) FROM lineitem)
         |    AS exp_chunks_supp_milli
         |FROM (
         |  SELECT chunk, MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
         |    MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk
         |  FROM (SELECT l_partkey, l_suppkey,
         |          NTILE(32) OVER (ORDER BY $order) AS chunk
         |        FROM $src) t
         |  GROUP BY chunk) c""".stripMargin
    s"""WITH $zkCteSql
      |${audit("natural", "lineitem", "l_orderkey, l_linenumber")}
      |UNION ALL
      |${audit("zorder", "zk", "z, l_orderkey, l_linenumber")}
      |ORDER BY layout""".stripMargin
  }

  // q192 — HILBERT vs Z-ORDER layout audit: q163 proved the z-layout
  // pays against natural order; this query settles the next question —
  // does the Hilbert curve's adjacency-only walk buy tighter file
  // bounding boxes than Morton's diagonal jumps? Same measured ntile-32
  // chunk model as q163 (chunk = file, min/max = footer zone map), all
  // three layouts side by side, with the new EXP_CHUNKS_2D_MICRO
  // metric: expected chunks read by a uniform-random POINT predicate on
  // BOTH columns, Σ(w_pk·w_sk)/(dom_pk·dom_sk) — the 2-D box-query
  // number where curve locality actually differs (per-dimension widths
  // are near-identical between the curves by construction). The
  // [[graft.ops.Hilbert]] key is a broadcast 64Ki-cell lookup on the
  // Spark side and an 8-stage unrolled xy2d CTE chain in the oracle —
  // the gate proves them bit-identical. Chunking runs through
  // [[distributedNtile]] (q163's note — no single-partition window);
  // production layout writes use Hilbert.write's range exchange.
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
    val rows = li.count() // metadata-only parquet count, shared by the audits
    val zed = graft.ops.ZOrder.withZ(li, "l_partkey", "l_suppkey")
    val hil = graft.ops.Hilbert.withH(li, "l_partkey", "l_suppkey")
    def audit(df: DataFrame, layout: String, order: Seq[Column]) = {
      val chunked = distributedNtile(df, rows, 32, order)
      chunked.groupBy(col("chunk"))
        .agg(min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("max_pk") - col("min_pk") + 1).cast("long").as("sum_width_part"),
          sum(col("max_sk") - col("min_sk") + 1).cast("long").as("sum_width_supp"),
          sum((col("max_pk") - col("min_pk") + 1).cast("long")
            * (col("max_sk") - col("min_sk") + 1)).cast("long").as("sum_area"))
        .crossJoin(broadcast(li.agg(
          (max(col("l_partkey")) - min(col("l_partkey")) + 1).cast("long").as("dom_pk"),
          (max(col("l_suppkey")) - min(col("l_suppkey")) + 1).cast("long").as("dom_sk"))))
        .select(lit(layout).as("layout"), col("n_chunks"),
          expr("sum_width_part * 1000 div dom_pk").as("exp_chunks_part_milli"),
          expr("sum_width_supp * 1000 div dom_sk").as("exp_chunks_supp_milli"),
          expr("sum_area * 1000000 div (dom_pk * dom_sk)").as("exp_chunks_2d_micro"))
    }
    val Seq(nat, zor, hlb) = buildConcurrently(Seq(
      () => audit(li, "natural", Seq(col("l_orderkey"), col("l_linenumber"))),
      () => audit(zed, "zorder",
        Seq(col("z"), col("l_orderkey"), col("l_linenumber"))),
      () => audit(hil, "hilbert",
        Seq(col("h"), col("l_orderkey"), col("l_linenumber")))))
    nat.unionByName(zor).unionByName(hlb).orderBy(col("layout"))
  }
  /** Oracle mirror of [[graft.ops.Hilbert.xy2d]]: 8-bit bucketing then
    * the MSB-first reflect+swap walk, one CTE per bit, as
    * `hk(l_orderkey, l_linenumber, l_partkey, l_suppkey, h)`.
    */
  private lazy val hkCteSql = {
    def bucket(c: String, mn: String, mx: String) =
      s"(CAST($c - $mn AS BIGINT) * 256) // (CAST($mx - $mn AS BIGINT) + 1)"
    val stages = (0 until 8).map { i =>
      val s = 1 << (7 - i)
      val s2 = s * s
      val (px, py, pd) = (s"hx$i", s"hy$i", s"hd$i")
      val rx = s"(CASE WHEN ($px & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN ($py & $s) > 0 THEN 1 ELSE 0 END)"
      s"""h${i + 1} AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    CASE WHEN $ry = 0
         |      THEN (CASE WHEN $rx = 1 THEN 255 - $py ELSE $py END)
         |      ELSE $px END AS hx${i + 1},
         |    CASE WHEN $ry = 0
         |      THEN (CASE WHEN $rx = 1 THEN 255 - $px ELSE $px END)
         |      ELSE $py END AS hy${i + 1},
         |    $pd + $s2 * xor(3 * $rx, $ry) AS hd${i + 1}
         |  FROM h$i)""".stripMargin
    }.mkString(",\n")
    s"""hbnd AS (
      |  SELECT MIN(l_partkey) AS hminx, MAX(l_partkey) AS hmaxx,
      |         MIN(l_suppkey) AS hminy, MAX(l_suppkey) AS hmaxy
      |  FROM lineitem),
      |h0 AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    ${bucket("l_partkey", "hminx", "hmaxx")} AS hx0,
      |    ${bucket("l_suppkey", "hminy", "hmaxy")} AS hy0,
      |    0 AS hd0
      |  FROM lineitem CROSS JOIN hbnd),
      |$stages,
      |hk AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |       hd8 AS h FROM h8)""".stripMargin
  }
  private lazy val q192Sql = {
    def audit(layout: String, src: String, order: String) =
      s"""SELECT '$layout' AS layout, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(max_pk - min_pk + 1) AS BIGINT) * 1000
         |    // (SELECT CAST(MAX(l_partkey) - MIN(l_partkey) + 1 AS BIGINT) FROM lineitem)
         |    AS exp_chunks_part_milli,
         |  CAST(SUM(max_sk - min_sk + 1) AS BIGINT) * 1000
         |    // (SELECT CAST(MAX(l_suppkey) - MIN(l_suppkey) + 1 AS BIGINT) FROM lineitem)
         |    AS exp_chunks_supp_milli,
         |  CAST(SUM(CAST(max_pk - min_pk + 1 AS BIGINT) * (max_sk - min_sk + 1)) AS BIGINT)
         |    * 1000000
         |    // ((SELECT CAST(MAX(l_partkey) - MIN(l_partkey) + 1 AS BIGINT) FROM lineitem)
         |        * (SELECT CAST(MAX(l_suppkey) - MIN(l_suppkey) + 1 AS BIGINT) FROM lineitem))
         |    AS exp_chunks_2d_micro
         |FROM (
         |  SELECT chunk, MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
         |    MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk
         |  FROM (SELECT l_partkey, l_suppkey,
         |          NTILE(32) OVER (ORDER BY $order) AS chunk
         |        FROM $src) t
         |  GROUP BY chunk) c""".stripMargin
    s"""WITH $zkCteSql,
      |$hkCteSql
      |${audit("natural", "lineitem", "l_orderkey, l_linenumber")}
      |UNION ALL
      |${audit("zorder", "zk", "z, l_orderkey, l_linenumber")}
      |UNION ALL
      |${audit("hilbert", "hk", "h, l_orderkey, l_linenumber")}
      |ORDER BY layout""".stripMargin
  }

  // q158 — join-key SKEW REPORT: the diagnostic that decides whether a
  // key needs the q63/q88 salting treatment BEFORE the job melts down
  // at 100 TB, not after. For each key a pipeline joins or groups on:
  // total rows, distinct keys, the hottest key's row count, its share
  // of the table (permille), and hot/average ratio — then the decision
  // (salt / watch / ok) by the same thresholds an AQE skew-join uses
  // conceptually (hot partition ≫ median). Shape: one partial-agg
  // groupBy per audited key (map-side combined), then a scalar rollup —
  // the report costs one aggregation pass per key, nothing more. All
  // integer-exact.
  private def q158(s: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, table: String, key: String): DataFrame =
      df.groupBy(col(key).cast("string").as("k"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
          max(col("c")).as("max_key_rows"))
        .select(lit(table).as("table_name"), lit(key).as("key_name"),
          col("n_rows"), col("n_keys"), col("max_key_rows"),
          expr("max_key_rows * 1000 div n_rows").as("top1_permille"),
          expr("max_key_rows * 1000 * n_keys div n_rows")
            .as("max_over_avg_permille"))
    // raw load is fine here: only key columns are read (no ts handling)
    val ev = load(s, dir, "events")
    audit(load(s, dir, "lineitem"), "lineitem", "l_orderkey")
      .unionByName(audit(load(s, dir, "orders"), "orders", "o_custkey"))
      .unionByName(audit(ev, "events", "user_id"))
      .unionByName(audit(ev, "events", "event_type"))
      .unionByName(audit(load(s, dir, "documents"), "documents", "source"))
      .withColumn("decision",
        when(col("top1_permille") >= 100 ||
          col("max_over_avg_permille") >= 10000, "salt")
          .when(col("max_over_avg_permille") >= 3000, "watch")
          .otherwise("ok"))
      .orderBy(col("table_name"), col("key_name"))
  }
  private val q158Sql = {
    def audit(table: String, key: String) =
      s"""SELECT '$table' AS table_name, '$key' AS key_name,
         |  CAST(SUM(c) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(c) AS BIGINT) AS max_key_rows,
         |  CAST(MAX(c) AS BIGINT) * 1000 // CAST(SUM(c) AS BIGINT)
         |    AS top1_permille,
         |  CAST(MAX(c) AS BIGINT) * 1000 * CAST(COUNT(*) AS BIGINT)
         |    // CAST(SUM(c) AS BIGINT) AS max_over_avg_permille
         |FROM (SELECT CAST($key AS VARCHAR) AS k, COUNT(*) AS c
         |      FROM $table GROUP BY 1) t""".stripMargin
    val parts = Seq(
      audit("lineitem", "l_orderkey"), audit("orders", "o_custkey"),
      audit("events", "user_id"), audit("events", "event_type"),
      audit("documents", "source")).mkString("\nUNION ALL\n")
    s"""SELECT u.*,
      |  CASE WHEN top1_permille >= 100 OR max_over_avg_permille >= 10000
      |         THEN 'salt'
      |       WHEN max_over_avg_permille >= 3000 THEN 'watch'
      |       ELSE 'ok' END AS decision
      |FROM (
      |$parts) u
      |ORDER BY table_name, key_name""".stripMargin
  }
}
