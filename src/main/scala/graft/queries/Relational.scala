package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.{load, dec}
import graft.QueryDef

/** Relational operator catalog over the TPC-H-ish star schema.
  *
  * The reference (jdovalle10/Project-Market-Pulse-ETL-Pipeline-with-LLM-
  * Integration) delegates its whole ad-hoc SQL surface to Amazon Athena
  * over the enriched parquet lake (`Main.py:277-339`, `README.md:37,49`).
  * In this engine Catalyst IS that surface; these queries exercise the
  * operator families a user of the reference runs today through Athena:
  * scans+pushdown, hash aggregation, broadcast/shuffle joins, semi/anti
  * joins, window ranking, rollup, set ops, scalar function families,
  * global top-k.
  *
  * Scale design (100 TB): every aggregation here is partial-aggregatable
  * (map-side combine before the shuffle); dimension tables (nation,
  * region) are broadcast so the fact-table join never shuffles lineitem/
  * orders on a dimension key; top-k uses orderBy+limit which Spark plans
  * as per-partition TakeOrdered + driver merge (no global sort shuffle).
  */
object Relational {

  // q1 — TPC-H Q1-style pricing summary: scan + filter pushdown + hash agg.
  private def q1(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        // the product sum carries scale 12; renormalize to scale 6 (exact
        // — inputs have ≤4 decimals) so the scaled integer stays < 2^53
        // and BOTH engines' decimal→double conversions are exact. Casting
        // the scale-12 int128 directly differs from Spark by 1 ulp.
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(org.apache.spark.sql.types.DecimalType(38, 6))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }
  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // q2 — global top-k: TakeOrdered (per-partition heap + driver merge),
  // no full sort shuffle at scale.
  private def q2(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
  private val q2Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // q3 — star join: fact tables shuffle-join on custkey; nation/region are
  // broadcast (no shuffle of the big side on dimension keys).
  private def q3(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val o = load(s, dir, "orders")
    val n = load(s, dir, "nation")
    val r = load(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"))
  }
  private val q3Sql =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders,
      |  COUNT(DISTINCT c_custkey) AS n_customers
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  // q4 — window ranking: top-3 orders per customer, with the
  // row_number() <= 3 contract run through the custom physical operator
  // (a map-side partial prune, one shuffle on the customer key, then one
  // streaming group-scan — graft.plans.TopKPerGroupExec); deterministic
  // tie-break on o_orderkey. TopKSpec pins it row-identical to the
  // window + filter form.
  private def q4(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    graft.ops.TopK.perGroup(base, Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3, "rn")
  }
  private val q4Sql =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
      |  FROM orders) t
      |WHERE rn <= 3""".stripMargin

  // q5 — left-semi join (EXISTS): customers with at least one open order.
  private def q5(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val o = load(s, dir, "orders").filter(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
  }
  private val q5Sql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin

  // q6 — left-anti join (NOT EXISTS): customers who never placed an
  // urgent-priority order.
  private def q6(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val o = load(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }
  private val q6Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  // q7 — ROLLUP grouping sets (the reference's Power BI drill-down story).
  private def q7(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))
  private val q7Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  // q8 — set operators: INTERSECT / EXCEPT (both distinct) + UNION ALL.
  private def q8(s: SparkSession, dir: String): DataFrame = {
    val cn = load(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
    val sn = load(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
    val both = cn.intersect(sn).withColumn("tag", lit("both"))
    val custOnly = cn.except(sn).withColumn("tag", lit("customers_only"))
    both.unionByName(custOnly)
  }
  private val q8Sql =
    """SELECT nationkey, 'both' AS tag FROM
      |  (SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
      |   INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier) t1
      |UNION ALL
      |SELECT nationkey, 'customers_only' AS tag FROM
      |  (SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
      |   EXCEPT SELECT CAST(s_nationkey AS BIGINT) FROM supplier) t2""".stripMargin

  // q9 — scalar function families (string/date/math/conditional), all
  // codegen'd built-ins; stays inside one WholeStageCodegen span.
  private def q9(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("o_year"),
      month(col("o_orderdate")).cast("long").as("o_month"),
      dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
      lower(substring(col("o_orderpriority"), 3, 20)).as("priority_name"),
      concat_ws("#", col("o_orderstatus"), col("o_orderpriority")).as("status_tag"),
      when(col("o_totalprice") >= 200000, "big")
        .when(col("o_totalprice") >= 100000, "mid")
        .otherwise("small").as("price_bucket"),
      floor(col("o_totalprice") / 1000).cast("long").as("price_k"),
      lpad(col("o_orderkey").cast("string"), 12, "0").as("okey_pad"),
      datediff(lit("2000-01-01").cast("date"), col("o_orderdate").cast("date"))
        .cast("long").as("days_to_y2k"))
  private val q9Sql =
    """SELECT o_orderkey,
      |  CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
      |  CAST(DAY(o_orderdate) AS BIGINT) AS o_day,
      |  LOWER(SUBSTRING(o_orderpriority, 3, 20)) AS priority_name,
      |  CONCAT_WS('#', o_orderstatus, o_orderpriority) AS status_tag,
      |  CASE WHEN o_totalprice >= 200000 THEN 'big'
      |       WHEN o_totalprice >= 100000 THEN 'mid'
      |       ELSE 'small' END AS price_bucket,
      |  CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_k,
      |  LPAD(CAST(o_orderkey AS VARCHAR), 12, '0') AS okey_pad,
      |  CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k
      |FROM orders""".stripMargin

  // q24 — the SQL-text surface (S6 in SURVEY.md §2.1): the reference's
  // entire ad-hoc query capability was Athena SQL over registered tables;
  // here the same TPC-H-Q3-shaped statement runs through spark.sql over
  // temp views, with Catalyst planning it like any DataFrame query.
  private def q24(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(
      """SELECT l_orderkey, o_orderdate,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin)
  }
  private val q24Sql =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  // q25 — analytic window frame: per-customer running revenue (exact
  // decimal running sum → double per row, so the frame itself is
  // order-exact in both engines).
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("running_revenue", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .withColumn("order_seq",
        row_number().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)).cast("long"))
  }
  private val q25Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue,
      |  CAST(ROW_NUMBER() OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS BIGINT) AS order_seq
      |FROM orders""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", q1, Some(q1Sql)),
    QueryDef("q2_top_orders", q2, Some(q2Sql)),
    QueryDef("q3_revenue_by_nation", q3, Some(q3Sql)),
    QueryDef("q4_order_rank_per_customer", q4, Some(q4Sql)),
    QueryDef("q5_customers_with_open_orders", q5, Some(q5Sql)),
    QueryDef("q6_customers_without_orders", q6, Some(q6Sql)),
    QueryDef("q7_rollup_qty", q7, Some(q7Sql)),
    QueryDef("q8_nation_setops", q8, Some(q8Sql)),
    QueryDef("q9_scalar_funcs", q9, Some(q9Sql)),
    QueryDef("q24_sql_surface", q24, Some(q24Sql)),
    QueryDef("q25_running_revenue", q25, Some(q25Sql)),
    QueryDef("q28_cube_orders", q28, Some(q28Sql)),
    QueryDef("q29_parts_above_avg", q29, Some(q29Sql)),
    QueryDef("q30_supplier_balance", q30, Some(q30Sql)),
    QueryDef("q33_string_funcs", q33, Some(q33Sql)),
    QueryDef("q34_math_funcs", q34, Some(q34Sql)),
    QueryDef("q35_date_funcs", q35, Some(q35Sql)),
    QueryDef("q36_outer_joins", q36, Some(q36Sql)),
    QueryDef("q40_having_filter", q40, Some(q40Sql)),
    QueryDef("q43_range_frame", q43, Some(q43Sql)),
    QueryDef("q44_null_ordering", q44, Some(q44Sql)),
    QueryDef("q45_null_semantics", q45, Some(q45Sql)),
    QueryDef("q46_window_navigation", q46, Some(q46Sql)),
    QueryDef("q159_distribution_windows", q159, Some(q159Sql)),
    QueryDef("q160_multiset_ops", q160, Some(q160Sql)),
  )

  // q159 — distribution window battery: NTILE / PERCENT_RANK /
  // CUME_DIST — the last window-function family the catalog lacked.
  // Determinism: ntile is order-dependent within ties, so its window
  // carries the (price, key) total order; percent_rank and cume_dist
  // are tie-AWARE (tied rows share a value), so they run on the price
  // ordering alone — exercising exactly the tie semantics both engines
  // must agree on. Values are single IEEE divisions of exact integer
  // ranks — bit-identical. One shuffle on the partition key, as any
  // per-group ranking.
  private def q159(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wT = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wP = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"))
    load(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
      ntile(10).over(wT).cast("long").as("decile"),
      percent_rank().over(wP).as("pct_rank"),
      cume_dist().over(wP).as("cume"))
  }
  private val q159Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  CAST(NTILE(10) OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile,
      |  PERCENT_RANK() OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_totalprice) AS pct_rank,
      |  CUME_DIST() OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_totalprice) AS cume
      |FROM orders""".stripMargin

  // q160 — MULTISET set operators: INTERSECT ALL / EXCEPT ALL, the
  // bag-semantics forms q8's distinct variants skip. Multiplicity rules
  // (min(m,n) for intersect, max(0, m−n) for except) are exercised on
  // nation-key bags with real duplicate counts (customers per nation ×
  // suppliers per nation). Output is the per-key multiplicity so the
  // bag cardinalities themselves are gate-checked, not just membership.
  private def q160(s: SparkSession, dir: String): DataFrame = {
    val cn = load(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val sn = load(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    val ia = cn.intersectAll(sn).groupBy(col("nationkey"))
      .agg(count(lit(1)).as("multiplicity"))
      .withColumn("op", lit("intersect_all"))
    val ea = cn.exceptAll(sn).groupBy(col("nationkey"))
      .agg(count(lit(1)).as("multiplicity"))
      .withColumn("op", lit("except_all"))
    ia.unionByName(ea).select(col("op"), col("nationkey"), col("multiplicity"))
  }
  private val q160Sql =
    """WITH cn AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
      |sn AS (SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier),
      |ia AS (SELECT nationkey FROM cn INTERSECT ALL SELECT nationkey FROM sn),
      |ea AS (SELECT nationkey FROM cn EXCEPT ALL SELECT nationkey FROM sn)
      |SELECT 'intersect_all' AS op, nationkey, COUNT(*) AS multiplicity
      |FROM ia GROUP BY 2
      |UNION ALL
      |SELECT 'except_all' AS op, nationkey, COUNT(*) AS multiplicity
      |FROM ea GROUP BY 2""".stripMargin

  // q45 — null-handling battery: NULLIF / COALESCE / null-safe equality /
  // try_divide — the three-valued-logic corners that silently corrupt
  // pipelines when engines disagree.
  private def q45(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer").select(
      col("c_custkey"),
      expr("NULLIF(c_mktsegment, 'BUILDING')").as("seg_or_null"),
      coalesce(expr("NULLIF(c_mktsegment, 'BUILDING')"), lit("(building)"))
        .as("seg_filled"),
      expr("NULLIF(c_mktsegment, 'BUILDING') <=> NULL").as("is_building"),
      expr("try_divide(CAST(1 AS DOUBLE), c_acctbal - c_acctbal)").as("div_by_zero"),
      expr("try_divide(c_acctbal, CAST(2 AS DOUBLE))").as("half_balance"))
  private val q45Sql =
    """SELECT c_custkey,
      |  NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
      |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(building)') AS seg_filled,
      |  NULLIF(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL AS is_building,
      |  CASE WHEN c_acctbal - c_acctbal = 0 THEN NULL
      |       ELSE CAST(1 AS DOUBLE) / (c_acctbal - c_acctbal) END AS div_by_zero,
      |  c_acctbal / CAST(2 AS DOUBLE) AS half_balance
      |FROM customer""".stripMargin

  // q46 — window navigation: first/last/nth/lag/lead with explicit
  // frames (last_value needs UNBOUNDED FOLLOWING — the default frame
  // stops at CURRENT ROW and silently returns the current value).
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("first_price", first(col("o_totalprice")).over(full))
      .withColumn("last_price", last(col("o_totalprice")).over(full))
      .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(full))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(order))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(order))
  }
  private val q46Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  FIRST_VALUE(o_totalprice) OVER wf AS first_price,
      |  LAST_VALUE(o_totalprice) OVER wf AS last_price,
      |  NTH_VALUE(o_totalprice, 2) OVER wf AS second_price,
      |  LAG(o_totalprice, 1) OVER wo AS prev_price,
      |  LEAD(o_totalprice, 1) OVER wo AS next_price
      |FROM orders
      |WINDOW
      |  wo AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  // q44 — explicit null ordering on a nullable sort key: Spark defaults
  // to NULLS FIRST on ASC where DuckDB defaults NULLS LAST, so portable
  // top-k over nullable columns MUST pin the placement (here: customers
  // who never ordered urgently sort last, then by key).
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val lastUrgent = load(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_urgent"))
    c.join(lastUrgent, c("c_custkey") === lastUrgent("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_name"), col("last_urgent"))
      .orderBy(col("last_urgent").desc_nulls_last, col("c_custkey").asc)
      .limit(10)
  }
  private val q44Sql =
    """SELECT c_custkey, c_name, last_urgent
      |FROM customer LEFT OUTER JOIN (
      |  SELECT o_custkey, MAX(o_orderdate) AS last_urgent
      |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) u
      |ON c_custkey = u.o_custkey
      |ORDER BY last_urgent DESC NULLS LAST, c_custkey ASC
      |LIMIT 10""".stripMargin

  // q43 — RANGE window frame over event time: trailing-30-day order
  // count/revenue per customer — value-based frames (vs q25's row
  // frames), the moving-aggregate shape time-series dashboards use.
  // Frame bounds computed on integer epoch-days; sums via the DECIMAL
  // bridge — deterministic in both engines.
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("order_day"))
      .rangeBetween(-30, 0)
    load(s, dir, "orders")
      .withColumn("order_day", expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
      .select(col("o_custkey"), col("o_orderkey"), col("order_day"), col("o_totalprice"))
      .withColumn("n_orders_30d", count(lit(1)).over(w))
      .withColumn("rev_30d", sum(dec(col("o_totalprice"))).over(w).cast("double"))
  }
  private val q43Sql =
    """SELECT o_custkey, o_orderkey, order_day,
      |  o_totalprice,
      |  COUNT(*) OVER w AS n_orders_30d,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS rev_30d
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        CAST(EPOCH_US(o_orderdate) // 86400000000 AS BIGINT) AS order_day
      |      FROM orders) t
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY order_day
      |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""".stripMargin

  // q40 — post-aggregation predicate (HAVING): big repeat customers, with
  // the filter applied after the partial-aggregated groupBy (Catalyst
  // keeps it above the aggregate, never blocking map-side combine).
  private def q40(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("lifetime_value"))
      .filter(col("n_orders") >= 15 && col("lifetime_value") > 1000000.0)
  private val q40Sql =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS lifetime_value
      |FROM orders GROUP BY o_custkey
      |HAVING COUNT(*) >= 15 AND CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) > 1000000.0""".stripMargin

  // q36 — outer-join family: per-customer urgent-order stats via LEFT
  // OUTER (null-extension + COALESCE), fused with a FULL OUTER between
  // the customer-nation and supplier-nation aggregate views.
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val urgent = load(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_urgent"),
        sum(dec(col("o_totalprice"))).cast("double").as("urgent_rev"))
    val perCust = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_outer")
      .select(col("c_nationkey").as("nationkey"),
        coalesce(col("n_urgent"), lit(0L)).as("n_urgent"),
        coalesce(col("urgent_rev"), lit(0.0)).as("urgent_rev"))
      .groupBy(col("nationkey"))
      .agg(sum(col("n_urgent")).as("cust_urgent_orders"),
        count(lit(1)).as("n_customers"))
    val perSupp = load(s, dir, "supplier")
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    perCust.join(perSupp, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("cust_urgent_orders"), lit(0L)).as("cust_urgent_orders"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
  }
  private val q36Sql =
    """WITH urgent AS (
      |  SELECT o_custkey, COUNT(*) AS n_urgent
      |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
      |per_cust AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      |    CAST(SUM(COALESCE(n_urgent, 0)) AS BIGINT) AS cust_urgent_orders,
      |    COUNT(*) AS n_customers
      |  FROM customer LEFT OUTER JOIN urgent ON c_custkey = o_custkey
      |  GROUP BY c_nationkey),
      |per_supp AS (
      |  SELECT CAST(s_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_suppliers
      |  FROM supplier GROUP BY s_nationkey)
      |SELECT COALESCE(per_cust.nationkey, per_supp.nationkey) AS nationkey,
      |  COALESCE(n_customers, 0) AS n_customers,
      |  COALESCE(cust_urgent_orders, 0) AS cust_urgent_orders,
      |  COALESCE(n_suppliers, 0) AS n_suppliers
      |FROM per_cust FULL OUTER JOIN per_supp ON per_cust.nationkey = per_supp.nationkey""".stripMargin

  // q33 — string-function battery over part names: the scalar string
  // surface the reference's users reach through Athena SQL. Functions
  // chosen for identical cross-engine semantics.
  private def q33(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      lower(col("p_brand")).as("brand_lower"),
      reverse(col("p_type")).as("type_rev"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("name_devoweled"),
      translate(col("p_brand"), "#", "B").as("brand_translated"),
      substring(col("p_type"), 1, 5).as("type_prefix"),
      instr(col("p_type"), "a").cast("long").as("first_a"),
      length(trim(col("p_name"))).cast("long").as("name_len"),
      expr("repeat('*', CAST(p_size % 5 AS INT))").as("stars"),
      expr("split_part(p_type, ' ', 1)").as("type_head"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
  private val q33Sql =
    """SELECT p_partkey,
      |  UPPER(p_name) AS name_upper,
      |  LOWER(p_brand) AS brand_lower,
      |  REVERSE(p_type) AS type_rev,
      |  REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
      |  TRANSLATE(p_brand, '#', 'B') AS brand_translated,
      |  SUBSTRING(p_type, 1, 5) AS type_prefix,
      |  CAST(STRPOS(p_type, 'a') AS BIGINT) AS first_a,
      |  CAST(LENGTH(TRIM(p_name)) AS BIGINT) AS name_len,
      |  REPEAT('*', CAST(p_size % 5 AS INT)) AS stars,
      |  SPLIT_PART(p_type, ' ', 1) AS type_head,
      |  CONCAT_WS('|', p_brand, p_type) AS brand_type
      |FROM part""".stripMargin

  // q34 — math battery (IEEE-exact operations only: abs/sign/sqrt/
  // floor/ceil/mod/greatest/least — no libm transcendentals, whose last
  // ulp is implementation-defined).
  private def q34(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .filter(col("l_linenumber") === 1)
      .select(
        col("l_orderkey"),
        abs(col("l_discount") - col("l_tax")).as("disc_tax_gap"),
        signum(col("l_discount") - col("l_tax")).as("gap_sign"),
        sqrt(col("l_quantity")).as("qty_sqrt"),
        ceil(col("l_extendedprice") / 100).cast("long").as("price_ceil_h"),
        floor(col("l_extendedprice") / 100).cast("long").as("price_floor_h"),
        expr("CAST(l_orderkey % 7 AS BIGINT)").as("okey_mod7"),
        greatest(col("l_discount"), col("l_tax")).as("max_rate"),
        least(col("l_discount"), col("l_tax")).as("min_rate"))
  private val q34Sql =
    """SELECT l_orderkey,
      |  ABS(l_discount - l_tax) AS disc_tax_gap,
      |  CAST(SIGN(l_discount - l_tax) AS DOUBLE) AS gap_sign,
      |  SQRT(l_quantity) AS qty_sqrt,
      |  CAST(CEIL(l_extendedprice / 100) AS BIGINT) AS price_ceil_h,
      |  CAST(FLOOR(l_extendedprice / 100) AS BIGINT) AS price_floor_h,
      |  CAST(l_orderkey % 7 AS BIGINT) AS okey_mod7,
      |  GREATEST(l_discount, l_tax) AS max_rate,
      |  LEAST(l_discount, l_tax) AS min_rate
      |FROM lineitem WHERE l_linenumber = 1""".stripMargin

  // q35 — date/time battery over order dates (calendar fields with
  // engine-identical definitions; dayofweek offsets differ by engine and
  // are intentionally avoided).
  private def q35(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_trunc("quarter", col("o_orderdate")).as("quarter_start"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        last_day(col("o_orderdate").cast("date")).as("month_end"),
        date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
        datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_1999"))
  private val q35Sql =
    """SELECT o_orderkey,
      |  CAST(YEAR(o_orderdate) AS BIGINT) AS y,
      |  CAST(QUARTER(o_orderdate) AS BIGINT) AS q,
      |  CAST(MONTH(o_orderdate) AS BIGINT) AS m,
      |  CAST(DAY(o_orderdate) AS BIGINT) AS d,
      |  CAST(DATE_TRUNC('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
      |  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date,
      |  CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS days_to_1999
      |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin

  // q28 — CUBE grouping sets over (order year, priority): all four
  // grouping combinations in one pass (partial-aggregated expand).
  private def q28(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .cube(col("o_year"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
  private val q28Sql =
    """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY CUBE (CAST(YEAR(o_orderdate) AS BIGINT), o_orderpriority)""".stripMargin

  // q29 — scalar subquery: parts priced above the global average retail
  // price (exact decimal average on both sides).
  private def q29(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "part").createOrReplaceTempView("part")
    s.sql(
      """SELECT p_partkey, p_name, p_brand, p_retailprice
        |FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |  FROM part)""".stripMargin)
  }
  private val q29Sql =
    """SELECT p_partkey, p_name, p_brand, p_retailprice
      |FROM part
      |WHERE p_retailprice > (
      |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
      |  FROM part)""".stripMargin

  // q30 — supplier account balance by nation (broadcast dim join; the
  // supplier-side mirror of q3).
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val sup = load(s, dir, "supplier")
    val n = load(s, dir, "nation")
    sup.join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(dec(col("s_acctbal"))).cast("double").as("total_acctbal"),
        max(col("s_acctbal")).as("max_acctbal"))
  }
  private val q30Sql =
    """SELECT n_name, COUNT(*) AS n_suppliers,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal,
      |  MAX(s_acctbal) AS max_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin
}
