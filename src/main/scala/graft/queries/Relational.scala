package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Phase-A relational parity (SURVEY.md §2.2-2.4, §2.6): projection, filtering,
  * every join shape, aggregation. Each query is declared with the DataFrame API so
  * Catalyst plans pushdown/pruning/join strategy; dimension joins broadcast the
  * small side (reference stack relies on stock Spark planning, SURVEY.md §4).
  *
  * Oracle-parity conventions (FIXTURES.md cautions):
  *  - double SUMs go through DECIMAL(18,s) so Spark and DuckDB both do exact
  *    decimal arithmetic (aggregation order then can't change the result), then
  *    cast back to DOUBLE so schemas line up;
  *  - every query ends in a total ORDER BY over a unique key;
  *  - every computed column is aliased identically in both dialects.
  */
object Relational {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Exact (order-independent) sum of a money-like double column. */
  private def msum(c: Column): Column = sum(dec2(c)).cast("double")
  /** price * (1 - discount) with every factor cast to decimal BEFORE the
    * multiply: the fixtures keep all three on a 2-decimal grid, so decimal
    * arithmetic is exact and both engines sum identical rationals. */
  private def discPrice(price: Column, disc: Column): Column =
    price.cast(DecimalType(12, 2)) * (lit(1.0) - disc).cast(DecimalType(4, 2))
  private def charge(price: Column, disc: Column, tax: Column): Column =
    discPrice(price, disc) * (lit(1.0) + tax).cast(DecimalType(4, 2))

  // ---------------------------------------------------------------- q01
  /** TPC-H-Q1-style pricing summary: scan → filter → hash agg → sort.
    * The WHERE reaches the Parquet scan as a pushed filter; the aggregation is a
    * partial→final HashAggregate (map-side combine), so at 100 TB the shuffle
    * carries only |groups|×partitions rows. */
  def q01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spreadIfNarrow (guide §2.5): the whole filter + decimal partial
    // aggregation otherwise pipelines into the scan stage — ONE task on a
    // single-row-group input (measured 1.21 s -> 0.95 s at sf0.1/local[32];
    // no-op once the scan has real splits). Project first so the spread
    // shuffle carries only the six aggregated columns.
    spreadIfNarrow(
      lineitem(spark, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .select($"l_orderkey", $"l_returnflag", $"l_linestatus", $"l_quantity",
          $"l_extendedprice", $"l_discount", $"l_tax"),
      $"l_orderkey")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        msum($"l_quantity").as("sum_qty"),
        msum($"l_extendedprice").as("sum_base_price"),
        sum(discPrice($"l_extendedprice", $"l_discount")).cast("double").as("sum_disc_price"),
        sum(charge($"l_extendedprice", $"l_discount", $"l_tax")).cast("double").as("sum_charge"),
        (msum($"l_quantity") / count(lit(1))).as("avg_qty"),
        (msum($"l_extendedprice") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2)) * CAST(1.0 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** Predicate zoo: AND/OR/NOT, IN, BETWEEN, LIKE, IS NOT NULL — all pushable
    * conjuncts land in the scan's PushedFilters. */
  def q02(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir)
      .filter(
        $"o_orderstatus".isin("O", "F") &&
        $"o_totalprice".between(1000.0, 200000.0) &&
        ($"o_orderpriority".like("1-%") || $"o_orderpriority".like("2-%")) &&
        !($"o_orderkey" % 7 === 0) &&
        $"o_orderdate".isNotNull)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  val q02Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderstatus IN ('O','F')
      |  AND o_totalprice BETWEEN 1000.0 AND 200000.0
      |  AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
      |  AND NOT (o_orderkey % 7 = 0)
      |  AND o_orderdate IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q03
  /** Conditional expressions: CASE WHEN, IF, COALESCE, NULLIF, casts. */
  def q03(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir)
      .select(
        $"l_orderkey", $"l_linenumber",
        when($"l_quantity" < 10, "low")
          .when($"l_quantity" < 30, "mid")
          .otherwise("high").as("qty_band"),
        coalesce(nullif($"l_returnflag", lit("N")), lit("none")).as("flag_or_none"),
        $"l_quantity".cast("int").as("qty_int"),
        ($"l_discount" > 0.05).cast("int").as("is_discounted"))
    // no trailing global sort: full-table output, ordering is not part of
    // the semantics and a total range-shuffle would dominate at scale
  }

  val q03Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band,
      |  COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none,
      |  CAST(l_quantity AS INT) AS qty_int,
      |  CAST(l_discount > 0.05 AS INT) AS is_discounted
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q04
  /** Inner equi-join fact↔fact (lineitem ⋈ orders). Both sides are large at
    * scale → Spark plans a shuffled join on the key; AQE can switch to
    * broadcast when the filtered side collapses. */
  def q04(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = lineitem(spark, dir)
    val o  = orders(spark, dir).filter($"o_orderstatus" === "F")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum(discPrice($"l_extendedprice", $"l_discount")).cast("double").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val q04Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q05
  /** Star join through broadcast dimensions: customer→nation→region rollup.
    * nation/region are tiny → explicit broadcast() so the fact side never
    * shuffles for the dimension joins, which is the 100 TB-correct plan. */
  def q05(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = customer(spark, dir)
    val n = nation(spark, dir)
    val r = region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name")
      .agg(
        count(lit(1)).as("n_customers"),
        msum($"c_acctbal").as("total_acctbal"))
      .orderBy($"r_name")
  }

  val q05Sql: String =
    """SELECT r_name,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  // ---------------------------------------------------------------- q06
  /** Left outer join: every customer, with order stats (nulls → zero).
    * Orders are pre-aggregated by key BEFORE the join, so the join input on
    * the fact side is |customers-with-orders| rows, not |orders| — at scale
    * the shuffle shrinks by the fan-out factor and AQE can broadcast the
    * aggregate. */
  def q06(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = customer(spark, dir)
    val perCust = orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), msum($"o_totalprice").as("total_spent"))
    c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left")
      .select(
        $"c_custkey",
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"total_spent", lit(0.0)).as("total_spent"))
      .orderBy($"c_custkey")
  }

  val q06Sql: String =
    """SELECT c_custkey,
      |  COUNT(o_orderkey) AS n_orders,
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Right outer join (kept right-shaped on purpose to exercise the plan). */
  def q07(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = supplier(spark, dir)
    val n = nation(spark, dir)
    s.join(n, s("s_nationkey") === n("n_nationkey"), "right")
      .groupBy($"n_nationkey", $"n_name")
      .agg(count($"s_suppkey").as("n_suppliers"))
      .orderBy($"n_nationkey")
  }

  val q07Sql: String =
    """SELECT n_nationkey, n_name, COUNT(s_suppkey) AS n_suppliers
      |FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_nationkey, n_name
      |ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Full outer join of two differently-keyed aggregates (customers vs
    * suppliers per nation key). */
  def q08(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byCust = customer(spark, dir).groupBy($"c_nationkey".as("nk"))
      .agg(count(lit(1)).as("n_customers"))
    val bySupp = supplier(spark, dir).groupBy($"s_nationkey".as("nk"))
      .agg(count(lit(1)).as("n_suppliers"))
    byCust.join(bySupp, Seq("nk"), "full")
      .select(
        $"nk",
        coalesce($"n_customers", lit(0L)).as("n_customers"),
        coalesce($"n_suppliers", lit(0L)).as("n_suppliers"))
      .orderBy($"nk")
  }

  val q08Sql: String =
    """SELECT COALESCE(c.nk, s.nk) AS nk,
      |  COALESCE(n_customers, 0) AS n_customers,
      |  COALESCE(n_suppliers, 0) AS n_suppliers
      |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
      |  USING (nk)
      |ORDER BY nk""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Left semi join = EXISTS: orders that have at least one high-quantity item. */
  def q09(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o  = orders(spark, dir)
    val li = lineitem(spark, dir).filter($"l_quantity" >= 45.0)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  val q09Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45.0)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Left anti join = NOT EXISTS: customers who never placed an URGENT order. */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = customer(spark, dir)
    val o = orders(spark, dir).filter($"o_orderpriority" === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Cross join (tiny × tiny → broadcast nested loop). */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r = region(spark, dir).select($"r_regionkey", $"r_name")
    val n = nation(spark, dir).select($"n_nationkey", $"n_name")
    r.crossJoin(n)
      .select($"r_regionkey", $"n_nationkey", concat_ws("-", $"r_name", $"n_name").as("pair"))
      .orderBy($"r_regionkey", $"n_nationkey")
  }

  val q11Sql: String =
    """SELECT r_regionkey, n_nationkey, concat_ws('-', r_name, n_name) AS pair
      |FROM region CROSS JOIN nation
      |ORDER BY r_regionkey, n_nationkey""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Theta/range join: parts priced into bands derived from region keys
    * (non-equi condition → BroadcastNestedLoopJoin with a broadcast band table —
    * the bands stay tiny no matter the fact-side scale). */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = part(spark, dir)
    val bands = region(spark, dir).select(
      $"r_regionkey".as("band_id"),
      ($"r_regionkey" * 500.0).as("lo"),
      (($"r_regionkey" + 1) * 500.0).as("hi"))
    p.join(broadcast(bands), $"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
      .groupBy($"band_id")
      .agg(count(lit(1)).as("n_parts"), msum($"p_retailprice").as("band_value"))
      .orderBy($"band_id")
  }

  val q12Sql: String =
    """SELECT band_id, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS band_value
      |FROM part
      |JOIN (SELECT r_regionkey AS band_id, r_regionkey * 500.0 AS lo, (r_regionkey + 1) * 500.0 AS hi
      |      FROM region) bands
      |  ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY band_id
      |ORDER BY band_id""".stripMargin

  // ---------------------------------------------------------------- q123
  /** RELATIONAL DIVISION ("for all"): the (user, day) pairs whose events
    * cover EVERY event type — the classic universal-quantifier query,
    * expressed as count-distinct matching instead of the textbook double
    * NOT EXISTS (which plans two correlated anti-joins and dies at scale).
    *
    * Scale shape: one partial→final distinct-count aggregate over the
    * scan + a one-row divisor universe broadcast into the filter. */
  def q123(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
    val k = ev.select(countDistinct($"event_type").as("k"))
    ev.groupBy($"user_id", date_trunc("day", $"ts").as("day"))
      .agg(countDistinct($"event_type").as("n_types"))
      .join(broadcast(k))
      .filter($"n_types" === $"k").drop("k")
      .orderBy($"user_id", $"day")
  }

  val q123Sql: String =
    """WITH k AS (SELECT count(DISTINCT event_type) AS k FROM events),
      |cov AS (SELECT user_id, date_trunc('day', ts) AS day,
      |               count(DISTINCT event_type) AS n_types
      |        FROM events GROUP BY 1, 2)
      |SELECT c.user_id, c.day, c.n_types FROM cov c CROSS JOIN k
      |WHERE c.n_types = k.k ORDER BY c.user_id, c.day""".stripMargin

  // ---------------------------------------------------------------- q130
  /** REFERENTIAL-INTEGRITY / data-quality AUDIT over the star schema: one
    * row per check — FK orphans in both directions (anti-joins) plus domain
    * invariants — with violation counts and rates. The nightly freshness
    * gate a 100 TB lakehouse runs before publishing a snapshot (and the
    * natural companion to write-audit-publish: audit THEN publish).
    *
    * Scale shape: every FK check is a LEFT ANTI join — dimension sides
    * broadcast, the two fact-vs-fact checks (order↔lineitem) shuffle on the
    * join key once; domain checks are scan-shaped conditional counts. Each
    * check reduces to a one-row aggregate before the UNION, so the final
    * assembly is free. */
  def q130(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = lineitem(spark, dir)
    val ord = orders(spark, dir)
    val cust = customer(spark, dir)
    def check(name: String, bad: DataFrame, checked: DataFrame): DataFrame =
      bad.agg(count(lit(1)).as("n_bad"))
        .crossJoin(broadcast(checked.agg(count(lit(1)).as("n_checked"))))
        .select(lit(name).as("check_name"), $"n_bad", $"n_checked")
    val checks = Seq(
      check("lineitem_orphan_order",
        li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti"), li),
      check("lineitem_orphan_part",
        li.join(broadcast(part(spark, dir)), $"l_partkey" === $"p_partkey", "left_anti"), li),
      check("order_orphan_customer",
        ord.join(broadcast(cust), $"o_custkey" === $"c_custkey", "left_anti"), ord),
      check("order_no_lineitems",
        ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left_anti"), ord),
      check("customer_no_orders",
        cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti"), cust),
      check("lineitem_nonpos_qty", li.filter($"l_quantity" <= 0), li),
      check("order_nonpos_total", ord.filter($"o_totalprice" <= 0), ord))
    checks.reduce(_.unionAll(_))
      .select($"check_name", $"n_bad", $"n_checked",
        // NULL over an empty table, as DuckDB's x / 0
        round(try_divide($"n_bad".cast("double"), $"n_checked"), 6).as("bad_rate"))
      .orderBy($"check_name")
  }

  val q130Sql: String =
    """WITH checks AS (
      |  SELECT 'lineitem_orphan_order' AS check_name, count(*) AS n_bad,
      |         (SELECT count(*) FROM lineitem) AS n_checked
      |  FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  UNION ALL
      |  SELECT 'lineitem_orphan_part', count(*), (SELECT count(*) FROM lineitem)
      |  FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey
      |  UNION ALL
      |  SELECT 'order_orphan_customer', count(*), (SELECT count(*) FROM orders)
      |  FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT 'order_no_lineitems', count(*), (SELECT count(*) FROM orders)
      |  FROM orders o ANTI JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  UNION ALL
      |  SELECT 'customer_no_orders', count(*), (SELECT count(*) FROM customer)
      |  FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey
      |  UNION ALL
      |  SELECT 'lineitem_nonpos_qty', count(*), (SELECT count(*) FROM lineitem)
      |  FROM lineitem WHERE l_quantity <= 0
      |  UNION ALL
      |  SELECT 'order_nonpos_total', count(*), (SELECT count(*) FROM orders)
      |  FROM orders WHERE o_totalprice <= 0)
      |SELECT check_name, n_bad, n_checked,
      |  round(CAST(n_bad AS DOUBLE) / n_checked, 6) AS bad_rate
      |FROM checks ORDER BY check_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_ri_audit"        -> q130,
    "q123_division"        -> q123,
    "q01_pricing_summary"  -> q01,
    "q02_filter_predicates" -> q02,
    "q03_case_conditional" -> q03,
    "q04_join_inner"       -> q04,
    "q05_join_broadcast_star" -> q05,
    "q06_join_left"        -> q06,
    "q07_join_right"       -> q07,
    "q08_join_full"        -> q08,
    "q09_join_semi"        -> q09,
    "q10_join_anti"        -> q10,
    "q11_join_cross"       -> q11,
    "q12_join_range"       -> q12)

  val oracleSql: Map[String, String] = Map(
    "q130_ri_audit"        -> q130Sql,
    "q123_division"        -> q123Sql,
    "q01_pricing_summary"  -> q01Sql,
    "q02_filter_predicates" -> q02Sql,
    "q03_case_conditional" -> q03Sql,
    "q04_join_inner"       -> q04Sql,
    "q05_join_broadcast_star" -> q05Sql,
    "q06_join_left"        -> q06Sql,
    "q07_join_right"       -> q07Sql,
    "q08_join_full"        -> q08Sql,
    "q09_join_semi"        -> q09Sql,
    "q10_join_anti"        -> q10Sql,
    "q11_join_cross"       -> q11Sql,
    "q12_join_range"       -> q12Sql)
}
