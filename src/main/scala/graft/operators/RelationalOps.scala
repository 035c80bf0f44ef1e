package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** The relational query surface.
  *
  * The reference (`/root/reference`, see SURVEY.md §2.2) has no relational
  * operators beyond scan→convert→insert, so this module is the "query
  * capabilities" half of the north star: scans, filter/project, joins
  * (broadcast/shuffle/semi/anti), aggregations (hash, distinct, rollup,
  * having, conditional), windows, sort/limit, set ops, scalar subqueries,
  * string/date/JSON functions — all expressed declaratively on the
  * DataFrame API so Catalyst does pushdown/pruning/reorder and AQE picks
  * physical strategies at runtime.
  *
  * Numeric convention for oracle stability: monetary aggregates are summed
  * as DECIMAL (exact, order-independent — a distributed sum of doubles is
  * not reproducible across partitionings) and surfaced as DOUBLE. Every
  * query ends in a total ORDER BY so results are row-order deterministic.
  */
object RelationalOps {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** Exact decimal sum of a double expression, surfaced as double.
    *
    * IMPORTANT: only apply to raw COLUMNS (which carry exact 2-decimal
    * values), never to products of doubles — Spark casts double→decimal via
    * the shortest string representation while DuckDB rounds the exact binary
    * value, so a full-precision double product can round differently at the
    * cast. Products are instead built from decimal-cast factors (see
    * [[money]]/[[rate]]) so all arithmetic is exact and engine-agnostic. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(28,8)")).cast("double")

  /** 2-decimal monetary column as exact decimal. (12,2)*(5,2)*(5,2) stays
    * within precision 38 in both Spark and DuckDB → no rounding anywhere. */
  private def money(c: Column): Column = c.cast("decimal(12,2)")

  /** (1 ± rate) as exact decimal(5,2). */
  private def onePlus(c: Column): Column =
    lit(1).cast("decimal(4,2)") + c.cast("decimal(4,2)")
  private def oneMinus(c: Column): Column =
    lit(1).cast("decimal(4,2)") - c.cast("decimal(4,2)")

  // ---------------------------------------------------------------- q1
  /** Full-scan hash aggregation (TPC-H Q1 shape): map-side partial agg +
    * final agg on 2 low-cardinality keys; no shuffle pressure at any SF. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        sum(money($"l_extendedprice") * oneMinus($"l_discount"))
          .cast("double").as("sum_disc_price"),
        sum(money($"l_extendedprice") * oneMinus($"l_discount") * onePlus($"l_tax"))
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q2
  /** Selective filter + projection. The predicates and the 4-column read
    * schema must reach the parquet scan (PushedFilters / ReadSchema) —
    * at 100 TB this is the difference between reading 4 columns of a few
    * row groups and reading everything. */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1997-01-01").cast("timestamp") &&
              $"l_discount" >= 0.05 && $"l_quantity" < 10.0)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q2FilterProjectSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount >= 0.05 AND l_quantity < 10.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q3
  /** Multi-way join with broadcast dims (TPC-H Q5 shape): revenue by
    * nation for one region/year. nation/region are broadcast (25/5 rows
    * at ANY scale factor — they are dimension tables); the big side
    * (orders⋈customer) shuffles on the join key once. */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = t(spark, dir, "customer")
    val orders   = t(spark, dir, "orders")
    val nation   = t(spark, dir, "nation")
    val region   = t(spark, dir, "region")
    orders
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" <  lit("1997-01-01").cast("timestamp"))
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region.filter($"r_name" === "ASIA")),
            $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(dsum($"o_totalprice").as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy($"n_name")
  }

  val q3JoinAggSql: String =
    """SELECT n_name,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q4
  /** Global top-K (sort + limit). Spark plans TakeOrderedAndProject:
    * per-partition top-K then a K-row merge on the driver — no global
    * sort, safe at any scale. Tie-broken on the key so the K rows are
    * deterministic. */
  def q4TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(100)
  }

  val q4TopKSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q5
  /** Windowed top-N per group: row_number over (partition by customer).
    * One shuffle on o_custkey; within-partition sort only. */
  def q5WindowTopN(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    t(spark, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rnk")
      .orderBy($"o_custkey", $"rnk")
  }

  val q5WindowTopNSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders) t
      |WHERE rnk <= 3
      |ORDER BY o_custkey, rnk""".stripMargin

  // ---------------------------------------------------------------- q6
  /** Left-semi join (EXISTS): customers having at least one big order.
    * Semi joins ship only the join key of the build side and stop probing
    * on first match — at scale this beats inner-join+distinct. */
  def q6SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigOrders = t(spark, dir, "orders").filter($"o_totalprice" > 450000.0)
    t(spark, dir, "customer")
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val q6SemiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q7
  /** Left-anti join (NOT EXISTS): customers with no 1995 order. (Plain
    * "no orders at all" is empty on this data — every customer orders —
    * which would make the oracle comparison vacuous.) */
  def q7AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o95 = t(spark, dir, "orders")
      .filter($"o_orderdate" >= lit("1995-01-01").cast("timestamp") &&
              $"o_orderdate" <  lit("1996-01-01").cast("timestamp"))
    t(spark, dir, "customer")
      .join(o95, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  val q7AntiJoinSql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '1995-01-01'
      |                    AND o_orderdate <  TIMESTAMP '1996-01-01')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q8
  /** Set operations: symmetric difference of the 1995-H1 and 1995-H2+Q2
    * customer sets, exercising UNION/INTERSECT/EXCEPT distinct semantics. */
  def q8SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = t(spark, dir, "orders")
    def keys(lo: String, hi: String) = orders
      .filter($"o_orderdate" >= lit(lo).cast("timestamp") &&
              $"o_orderdate" <  lit(hi).cast("timestamp"))
      .select($"o_custkey".as("custkey"))
    val a = keys("1995-01-01", "1995-07-01")
    val b = keys("1995-04-01", "1996-01-01")
    a.union(b).distinct().except(a.intersect(b)).orderBy($"custkey")
  }

  val q8SetOpsSql: String =
    """(SELECT o_custkey AS custkey FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
      | UNION
      | SELECT o_custkey AS custkey FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1995-04-01' AND o_orderdate < TIMESTAMP '1996-01-01')
      |EXCEPT
      |(SELECT o_custkey AS custkey FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
      | INTERSECT
      | SELECT o_custkey AS custkey FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1995-04-01' AND o_orderdate < TIMESTAMP '1996-01-01')
      |ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------- q9
  /** ROLLUP aggregation: subtotals per (priority, status), per priority,
    * and grand total — partial aggregation handles all levels in one pass. */
  def q9Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .rollup($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority".asc_nulls_first, $"o_orderstatus".asc_nulls_first)
  }

  val q9RollupSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- q10
  /** Aggregation with exact DISTINCT: Catalyst plans a two-stage expand +
    * aggregate; the distinct key (nationkey) is low-cardinality so the
    * expanded shuffle stays cheap at scale. */
  def q10DistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "customer")
      .groupBy($"c_mktsegment")
      .agg(countDistinct($"c_nationkey").as("n_nations"),
           count(lit(1)).as("n_cust"),
           dsum($"c_acctbal").as("total_bal"))
      .orderBy($"c_mktsegment")
  }

  val q10DistinctAggSql: String =
    """SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations,
      |  COUNT(*) AS n_cust,
      |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS total_bal
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- q11
  /** Correlated scalar subquery (parts priced above their brand average),
    * decorrelated into a single window pass. The comparison is done as
    * price*count > sum in exact decimal so no division is involved. */
  def q11ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"p_brand")
    t(spark, dir, "part")
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("brand_sum", sum(money($"p_retailprice")).over(w))
      .filter(money($"p_retailprice") * $"cnt" > $"brand_sum")
      .select($"p_partkey", $"p_brand", $"p_retailprice")
      .orderBy($"p_partkey")
  }

  val q11ScalarSubquerySql: String =
    """SELECT p_partkey, p_brand, p_retailprice
      |FROM part p
      |WHERE CAST(p_retailprice AS DECIMAL(12,2)) *
      |      (SELECT COUNT(*) FROM part p2 WHERE p2.p_brand = p.p_brand)
      |    > (SELECT SUM(CAST(p_retailprice AS DECIMAL(12,2))) FROM part p2
      |       WHERE p2.p_brand = p.p_brand)
      |ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------- q12
  /** Scalar function surface: string (upper/substring/length) and date
    * (year/quarter) functions feeding a group-by. */
  def q12StringDate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .groupBy(
        year($"o_orderdate").as("yr"),
        quarter($"o_orderdate").as("qtr"),
        upper(substring($"o_orderpriority", 1, 8)).as("prio"))
      .agg(count(lit(1)).as("n_orders"),
           dsum($"o_totalprice").as("total"),
           min(length($"o_orderpriority")).as("min_prio_len"))
      .orderBy($"yr", $"qtr", $"prio")
  }

  val q12StringDateSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(quarter(o_orderdate) AS INT) AS qtr,
      |  UPPER(SUBSTR(o_orderpriority, 1, 8)) AS prio,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS total,
      |  MIN(LENGTH(o_orderpriority)) AS min_prio_len
      |FROM orders
      |GROUP BY 1, 2, 3
      |ORDER BY yr, qtr, prio""".stripMargin

  // --------------------------------------------------------------- q13
  /** SQL frontend: the same engine drives plain SQL text through
    * spark.sql over registered views — revenue by month with a CTE and a
    * HAVING clause. (The reference generates SQL but cannot parse any —
    * SURVEY.md §2.2 "no SQL frontend".) */
  def q13SqlFrontend(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(spark, dir)
    spark.sql(
      """WITH monthly AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |         CAST(month(o_orderdate) AS INT) AS mth,
        |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS revenue,
        |         COUNT(*) AS n_orders
        |  FROM orders
        |  GROUP BY 1, 2)
        |SELECT yr, mth, revenue, n_orders
        |FROM monthly
        |WHERE n_orders >= 10
        |ORDER BY yr, mth""".stripMargin)
  }

  /** Identical SQL runs on DuckDB (the dialect subset is shared). */
  val q13SqlFrontendSql: String =
    """WITH monthly AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |         CAST(month(o_orderdate) AS INT) AS mth,
      |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS revenue,
      |         COUNT(*) AS n_orders
      |  FROM orders
      |  GROUP BY 1, 2)
      |SELECT yr, mth, revenue, n_orders
      |FROM monthly
      |WHERE n_orders >= 10
      |ORDER BY yr, mth""".stripMargin

  // --------------------------------------------------------------- q14
  /** Window-function variety on one pass: lag delta, running decimal sum,
    * rank, and quartile (ntile) per customer order history. */
  def q14WindowFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    t(spark, dir, "orders")
      .filter($"o_custkey" < 50)
      .withColumn("prev_price", lag(money($"o_totalprice"), 1).over(w))
      .withColumn("delta", (money($"o_totalprice") - $"prev_price").cast("double"))
      .withColumn("running_total",
        sum(money($"o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
      .withColumn("rnk", rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .select($"o_custkey", $"o_orderkey", $"delta", $"running_total",
              $"rnk", $"quartile")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q14WindowFuncsSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
      |       - LAG(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS VARCHAR) AS DOUBLE) AS delta,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_total,
      |  RANK() OVER w AS rnk,
      |  NTILE(4) OVER w AS quartile
      |FROM orders
      |WHERE o_custkey < 50
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // --------------------------------------------------------------- q16
  /** Full outer join: every customer vs 1995 order activity, with
    * COALESCE over the join key and null-side indicators. */
  def q16OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = t(spark, dir, "customer")
      .filter($"c_custkey" % 3 === 0)
      .select($"c_custkey".as("ckey"), $"c_name")
    val act = t(spark, dir, "orders")
      .filter($"o_orderdate" >= lit("1995-01-01").cast("timestamp") &&
              $"o_orderdate" <  lit("1996-01-01").cast("timestamp"))
      .groupBy($"o_custkey".as("okey"))
      .agg(count(lit(1)).as("n_orders_95"), dsum($"o_totalprice").as("rev_95"))
    cust.join(act, $"ckey" === $"okey", "full_outer")
      .select(
        coalesce($"ckey", $"okey").as("custkey"),
        $"c_name",
        coalesce($"n_orders_95", lit(0L)).as("n_orders_95"),
        $"rev_95",
        ($"ckey".isNull).cast("int").as("no_cust_row"),
        ($"okey".isNull).cast("int").as("no_order_row"))
      .orderBy($"custkey")
  }

  val q16OuterJoinSql: String =
    """WITH cust AS (
      |  SELECT c_custkey AS ckey, c_name FROM customer WHERE c_custkey % 3 = 0),
      |act AS (
      |  SELECT o_custkey AS okey, COUNT(*) AS n_orders_95,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS rev_95
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate <  TIMESTAMP '1996-01-01'
      |  GROUP BY 1)
      |SELECT COALESCE(ckey, okey) AS custkey, c_name,
      |  CAST(COALESCE(n_orders_95, 0) AS BIGINT) AS n_orders_95, rev_95,
      |  CASE WHEN ckey IS NULL THEN 1 ELSE 0 END AS no_cust_row,
      |  CASE WHEN okey IS NULL THEN 1 ELSE 0 END AS no_order_row
      |FROM cust FULL OUTER JOIN act ON ckey = okey
      |ORDER BY custkey""".stripMargin

  // --------------------------------------------------------------- q17
  /** CUBE aggregation with GROUPING indicators disambiguating real NULL
    * keys from subtotal rows. */
  def q17Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(grouping($"o_orderstatus").cast("int").as("g_status"),
           grouping($"o_orderpriority").cast("int").as("g_prio"),
           count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      .select($"o_orderstatus", $"o_orderpriority", $"g_status", $"g_prio",
              $"n", $"total")
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val q17CubeSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- q18
  /** Pivot: order-status columns per year (explicit value list so the
    * output schema is static — the scale-safe form of pivot). */
  def q18Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .groupBy(year($"o_orderdate").as("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(money($"o_totalprice")))
      .select($"yr",
        coalesce($"F".cast("double"), lit(0.0)).as("rev_f"),
        coalesce($"O".cast("double"), lit(0.0)).as("rev_o"),
        coalesce($"P".cast("double"), lit(0.0)).as("rev_p"))
      .orderBy($"yr")
  }

  val q18PivotSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS VARCHAR) AS DOUBLE) AS rev_f,
      |  CAST(CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS VARCHAR) AS DOUBLE) AS rev_o,
      |  CAST(CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS VARCHAR) AS DOUBLE) AS rev_p
      |FROM orders
      |GROUP BY 1
      |ORDER BY yr""".stripMargin

  // --------------------------------------------------------------- q19
  /** Typed UDAF: per-customer top-3 order ids by price via a custom
    * `Aggregator[IN,BUF,OUT]` with a k-bounded buffer (map-side partial
    * top-k; the shuffle carries ≤3 rows per group). Oracle = the
    * window-function formulation, proving the aggregator's semantics. */
  def q19TypedUdaf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = new graft.functions.TopKIdsAgg(3).toColumn
    t(spark, dir, "orders")
      .filter($"o_custkey" < 200)
      .select($"o_custkey", $"o_totalprice", $"o_orderkey")
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(topk.name("ids"))
      .toDF("o_custkey", "ids")
      .select($"o_custkey", posexplode($"ids").as(Seq("pos", "o_orderkey")))
      .select($"o_custkey", ($"pos" + 1).as("rnk"), $"o_orderkey")
      .orderBy($"o_custkey", $"rnk")
  }

  val q19TypedUdafSql: String =
    """SELECT o_custkey, rnk, o_orderkey FROM (
      |  SELECT o_custkey, o_orderkey,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders WHERE o_custkey < 200) t
      |WHERE rnk <= 3
      |ORDER BY o_custkey, rnk""".stripMargin

  // --------------------------------------------------------------- q20
  /** Six-table profit query (TPC-H Q9 shape): lineitem ⋈ orders ⋈
    * supplier ⋈ nation ⋈ part, revenue per nation per year. The fact
    * table shuffles once per join key; all dims broadcast. */
  def q20Profit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Join order matters without CBO: the selective broadcast join
    // (p_retailprice filter keeps ~50% of lineitem) runs FIRST so the
    // only fact-fact shuffle join (lineitem ⋈ orders) sees half the
    // rows. Catalyst won't reorder joins without table stats, so the
    // declared order is the executed order.
    t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part").filter($"p_retailprice" > 950.0)),
            $"l_partkey" === $"p_partkey")
      .join(broadcast(t(spark, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(t(spark, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .join(t(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name", year($"o_orderdate").cast("int").as("yr"))
      .agg(sum(money($"l_extendedprice") * oneMinus($"l_discount"))
             .cast("double").as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy($"n_name", $"yr")
  }

  val q20ProfitSql: String =
    """SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_retailprice > 950.0
      |GROUP BY 1, 2
      |ORDER BY n_name, yr""".stripMargin

  // --------------------------------------------------------------- q21
  /** Skew-mitigated join: the q3-shaped customer⋈orders join computed
    * through [[SkewOps.saltedJoin]] (8-way salt). The oracle is the PLAIN
    * join — salting must be a pure work-partitioning change with
    * identical rows. */
  def q21SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = t(spark, dir, "orders")
      .filter($"o_totalprice" > 400000.0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val customer = t(spark, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    SkewOps.saltedJoin(orders, customer, $"o_custkey", $"c_custkey", 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
      .orderBy($"c_mktsegment")
  }

  val q21SaltedJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_totalprice > 400000.0
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- q22
  /** GROUPING SETS: per-status and per-priority subtotals plus a grand
    * total in one pass — the general form of rollup/cube (q9/q17),
    * planned as a single Expand + aggregate, so one shuffle regardless
    * of how many sets are requested. */
  def q22GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(grouping($"o_orderstatus").cast("int").as("g_status"),
           grouping($"o_orderpriority").cast("int").as("g_prio"),
           count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      .select($"o_orderstatus", $"o_orderpriority", $"g_status", $"g_prio",
              $"n", $"total")
      .orderBy($"o_orderstatus".asc_nulls_first,
               $"o_orderpriority".asc_nulls_first)
  }

  val q22GroupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- q23
  /** Correlated EXISTS / NOT EXISTS subqueries via the SQL frontend.
    * Catalyst decorrelates both into one semi- and one anti-join on
    * o_custkey (RewritePredicateSubquery) — no per-row subquery execution
    * ever happens, which is what makes the form safe at scale. */
  def q23ExistsSubquery(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(spark, dir)
    spark.sql(q23ExistsSubquerySql)
  }

  val q23ExistsSubquerySql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------- q24
  /** Lateral flatten with ordinality: posexplode splits each part's type
    * string into (position, word) rows — the UNNEST WITH ORDINALITY /
    * LATERAL VIEW operator. Generate runs inside whole-stage codegen and
    * never shuffles; output grows linearly with token count. */
  def q24LateralExplode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "part")
      .filter($"p_partkey" <= 200)
      .select($"p_partkey", posexplode(split($"p_type", " ")))
      .select($"p_partkey", ($"pos" + 1).cast("int").as("pos"), $"col".as("word"))
      .orderBy($"p_partkey", $"pos")
  }

  val q24LateralExplodeSql: String =
    """SELECT p_partkey,
      |  CAST(unnest(range(1, len(string_split(p_type, ' ')) + 1)) AS INT) AS pos,
      |  unnest(string_split(p_type, ' ')) AS word
      |FROM part
      |WHERE p_partkey <= 200
      |ORDER BY p_partkey, pos""".stripMargin

  // --------------------------------------------------------------- q25
  /** Exact interpolated percentiles per group via
    * [[PercentileOps.exactPercentiles]] — distributed sort + positional
    * pick, O(1) task memory at any group size (Spark's builtin
    * `percentile` buffers the whole group per agg buffer, which cannot
    * survive a 100 TB hot group, and its interpolation differs from
    * DuckDB's by 1 ulp on some inputs; see PercentileOps). */
  def q25Percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = t(spark, dir, "lineitem")
    // Melt price+qty into (which, v) so BOTH measures ride ONE ranked
    // pass: the window partitions by (l_returnflag, which), so lineitem
    // is scanned once and shuffled once — two separate exactPercentiles
    // calls would scan and sort it twice for the same answer.
    val melted = li.selectExpr("l_returnflag",
      """stack(2, 'price', cast(l_extendedprice as double),
        |         'qty',   cast(l_quantity      as double)) AS (which, v)"""
        .stripMargin)
    val pcts = PercentileOps
      .exactPercentiles(melted, Seq("l_returnflag", "which"), "v",
        Seq(0.25, 0.5, 0.75))
      .groupBy($"l_returnflag")
      .agg(
        max(when($"which" === "price" && $"frac" === 0.25, $"pct")).as("p25_price"),
        max(when($"which" === "price" && $"frac" === 0.5, $"pct")).as("p50_price"),
        max(when($"which" === "price" && $"frac" === 0.75, $"pct")).as("p75_price"),
        max(when($"which" === "qty" && $"frac" === 0.5, $"pct")).as("p50_qty"))
    val counts = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
    pcts.join(counts, "l_returnflag")
      .select($"l_returnflag", $"p25_price", $"p50_price", $"p75_price",
              $"p50_qty", $"n")
      .orderBy($"l_returnflag")
  }

  val q25PercentilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.25) AS p25_price,
      |  quantile_cont(l_extendedprice, 0.5)  AS p50_price,
      |  quantile_cont(l_extendedprice, 0.75) AS p75_price,
      |  quantile_cont(l_quantity, 0.5) AS p50_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q26
  /** Collect-and-sort aggregation: the distinct market segments per
    * nation as one sorted CSV string. collect_set shuffles only distinct
    * values per group (map-side partial dedup), and the array is sorted
    * deterministically before joining — the order-stable form of
    * array_agg. */
  def q26CollectSort(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")),
            $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      // n_segments comes from the collected set itself, not countDistinct:
      // mixing an Expand-based distinct agg with an object agg would plan
      // a second ObjectHashAggregate+Exchange pair for no new information.
      .agg(array_sort(collect_set($"c_mktsegment")).as("segs"),
           count(lit(1)).as("n_customers"))
      .select($"n_name",
              array_join($"segs", ",").as("segments"),
              size($"segs").cast("long").as("n_segments"),
              $"n_customers")
      .orderBy($"n_name")
  }

  val q26CollectSortSql: String =
    """SELECT n_name,
      |  array_to_string(list_sort(list_distinct(array_agg(c_mktsegment))), ',') AS segments,
      |  CAST(len(list_distinct(array_agg(c_mktsegment))) AS BIGINT) AS n_segments,
      |  COUNT(*) AS n_customers
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // --------------------------------------------------------------- q27
  /** Regex surface: regexp_extract pulls the material (last word) out of
    * p_type, regexp_replace normalizes p_brand to its alphanumerics.
    * Both stay inside whole-stage codegen; patterns are restricted to
    * constructs with identical semantics in Java regex and RE2 (DuckDB). */
  def q27Regex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "part")
      .select(
        regexp_extract($"p_type", "([A-Z]+)$", 1).as("material"),
        regexp_replace($"p_brand", "[^A-Z0-9]", "").as("brand_norm"),
        money($"p_retailprice").as("price"))
      .groupBy($"material", $"brand_norm")
      .agg(count(lit(1)).as("n_parts"),
           sum($"price").cast("double").as("total_price"))
      .orderBy($"material", $"brand_norm")
  }

  val q27RegexSql: String =
    """SELECT regexp_extract(p_type, '([A-Z]+)$', 1) AS material,
      |  regexp_replace(p_brand, '[^A-Z0-9]', '', 'g') AS brand_norm,
      |  COUNT(*) AS n_parts,
      |  CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM part
      |GROUP BY 1, 2
      |ORDER BY material, brand_norm""".stripMargin

  // --------------------------------------------------------------- q28
  /** Window frame variety: per-customer order history with a 3-order
    * moving total (ROWS frame over a unique sort key, so ties can't make
    * the frame nondeterministic) and a trailing-90-day total + count
    * (RANGE frame over integer epoch-days — peers at the same day are
    * all included, which is what makes RANGE deterministic under ties).
    * Frame sums are exact decimals; one shuffle on o_custkey serves all
    * three windows. */
  def q28WindowFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = datediff($"o_orderdate", lit("1970-01-01").cast("date"))
    val rows3 = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey").rowsBetween(-2, 0)
    val range90 = Window.partitionBy($"o_custkey")
      .orderBy(days).rangeBetween(-89, 0)
    t(spark, dir, "orders")
      .filter($"o_custkey" < 300)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        sum(money($"o_totalprice")).over(rows3).cast("double").as("last3_total"),
        sum(money($"o_totalprice")).over(range90).cast("double").as("d90_total"),
        count(lit(1)).over(range90).as("d90_orders"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q28WindowFramesSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
      |    AS last3_total,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w90
      |    AS VARCHAR) AS DOUBLE) AS d90_total,
      |  COUNT(*) OVER w90 AS d90_orders
      |FROM orders
      |WHERE o_custkey < 300
      |WINDOW w90 AS (PARTITION BY o_custkey
      |  ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
      |  RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // --------------------------------------------------------------- q29
  /** Small-quantity outlier revenue (TPC-H Q17 shape): lineitems whose
    * quantity is under 20% of their part's average, for three brands.
    * The correlated AVG subquery is decorrelated into one per-part
    * aggregate + join-back; the threshold test is cross-multiplied
    * integer math (5·q·cnt < sum) so no division touches the filter.
    * Part side is broadcast; lineitem is scanned once. */
  def q29AvgQtySubquery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brands = Seq("Brand#11", "Brand#22", "Brand#23")
    val pt = t(spark, dir, "part")
      .filter($"p_brand".isin(brands: _*))
      .select($"p_partkey", $"p_brand")
    // floor() made explicit on BOTH engines: a bare decimal→BIGINT cast
    // truncates in Spark but rounds half-up in DuckDB — identical today
    // only because TPC-H quantities are integral.
    val j = t(spark, dir, "lineitem")
      .join(broadcast(pt), $"l_partkey" === $"p_partkey")
      .select($"p_brand", $"p_partkey",
        floor($"l_quantity").cast("long").as("q"), $"l_extendedprice")
    val stats = j.groupBy($"p_partkey".as("sk"))
      .agg(sum($"q").as("s"), count(lit(1)).as("c"))
    j.join(stats, $"p_partkey" === $"sk")
      .filter($"q" * 5 * $"c" < $"s")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_small"),
           dsum($"l_extendedprice").as("small_revenue"))
      .orderBy($"p_brand")
  }

  val q29AvgQtySubquerySql: String =
    """WITH j AS (
      |  SELECT p_brand, p_partkey, CAST(floor(l_quantity) AS BIGINT) AS q,
      |         l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#23')),
      |st AS (
      |  SELECT p_partkey, CAST(SUM(q) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM j GROUP BY 1)
      |SELECT p_brand, COUNT(*) AS n_small,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS small_revenue
      |FROM j JOIN st USING (p_partkey)
      |WHERE q * 5 * c < s
      |GROUP BY 1
      |ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------- q30
  /** Waiting-supplier analysis (TPC-H Q21 shape): suppliers whose
    * lineitem shipped over 60 days after the order date, on multi-supplier
    * orders where **only** that supplier was late. The classic double
    * correlated EXISTS/NOT EXISTS is hand-decorrelated into STACKED
    * per-(order, supplier) → per-order aggregates: the first agg
    * collapses line rows to one row per (order, supplier) with its late
    * count; the second derives, per order, the supplier count, the late-
    * supplier count, the lone late supplier, and its late-row tally —
    * so the verdict filter needs NO join back onto the fact rows. One
    * fact-fact join evaluated once (the groupBy+join-back form evaluates
    * the lineitem⋈orders subtree twice — ReuseExchange dedups only the
    * exchanges, not the join itself — and plans an Expand for the two
    * countDistincts; measured 1.95 s → this form 2.4× faster at sf0.1).
    * The second agg re-uses the first's (l_orderkey, …) hash
    * partitioning, so only one exchange carries line-grain rows. */
  def q30LateSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val late = $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS")
    val perSupp = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey", late.as("late"))
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(sum(when($"late", 1L).otherwise(0L)).as("n_late_rows"))
    val verdict = perSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
           count(when($"n_late_rows" > 0, 1)).as("n_late_supp"),
           max(when($"n_late_rows" > 0, $"l_suppkey")).as("late_supp"),
           sum(when($"n_late_rows" > 0, $"n_late_rows")).as("late_rows"))
      .filter($"n_supp" >= 2 && $"n_late_supp" === 1)
    verdict
      .join(broadcast(t(spark, dir, "supplier")),
            $"late_supp" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(sum($"late_rows").as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(20)
  }

  val q30LateSuppliersSql: String =
    """WITH lo AS (
      |  SELECT l_orderkey, l_suppkey,
      |         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |per_order AS (
      |  SELECT l_orderkey AS ok, COUNT(DISTINCT l_suppkey) AS n_supp,
      |         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
      |  FROM lo GROUP BY 1)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM lo JOIN per_order ON l_orderkey = ok
      |        JOIN supplier ON l_suppkey = s_suppkey
      |WHERE late AND n_supp >= 2 AND n_late_supp = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q31
  /** Higher-order array functions over the embedding column — filter,
    * transform, aggregate (fold), array_max — the declarative form of
    * per-vector feature engineering. Everything is a codegen-friendly
    * projection (no UDF, no shuffle); folds are sequential left-folds so
    * the doubles are bit-identical to DuckDB's list_reduce. */
  def q31HigherOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.micro
    t(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id",
        size(filter($"v", x => x > 0)).as("n_pos"),
        micro(aggregate($"v", lit(0.0), (acc, x) => acc + abs(x))).as("l1_micro"),
        micro(array_max(transform($"v", x => abs(x)))).as("maxabs_micro"))
      .orderBy($"vec_id")
  }

  val q31HigherOrderSql: String = {
    import graft.functions.EngineFns.sqlMicro
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT vec_id,
       |  CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
       |  ${sqlMicro("list_reduce(list_transform(v, x -> abs(x)), (a, b) -> a + b)")} AS l1_micro,
       |  ${sqlMicro("list_max(list_transform(v, x -> abs(x)))")} AS maxabs_micro
       |FROM e
       |ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------- q32
  /** Recursive CTE (Spark 4's UnionLoop): a month spine generated by
    * recursion, left-joined to monthly order counts — the SQL-standard
    * iterative construct the DataFrame API can't express. The SAME text
    * runs on both engines (shared dialect subset, like q13). Recursion
    * depth = number of months, independent of data size; the join is a
    * broadcast of the tiny spine. */
  def q32RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(spark, dir)
    spark.sql(q32RecursiveCteSql)
  }

  val q32RecursiveCteSql: String =
    """WITH RECURSIVE months(m) AS (
      |  SELECT TIMESTAMP '1995-01-01 00:00:00'
      |  UNION ALL
      |  SELECT m + INTERVAL 1 MONTH FROM months
      |  WHERE m < TIMESTAMP '2001-08-01 00:00:00')
      |SELECT m AS month, CAST(COALESCE(n, 0) AS BIGINT) AS n_orders
      |FROM months LEFT JOIN (
      |  SELECT date_trunc('MONTH', o_orderdate) AS mo, COUNT(*) AS n
      |  FROM orders GROUP BY 1) c ON c.mo = m
      |ORDER BY month""".stripMargin

  // --------------------------------------------------------------- q33
  /** Deterministic distinct-count sketch: KMV / bottom-k ([[graft.functions.KmvAgg]])
    * over the order keys of each return flag. The counterpart to q15's
    * HLL: same bounded-state, mergeable-sketch scale shape (≤ k longs per
    * group cross the shuffle; merge = sketch union), but every step is
    * engine-deterministic, so — uniquely among the sketches — this one is
    * DuckDB-oracle-checked bit for bit, estimate included. */
  def q33KmvSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val k   = 64
    val kmv = new graft.functions.KmvAgg(k).toColumn
    t(spark, dir, "lineitem")
      .select($"l_returnflag", md5Long($"l_orderkey".cast("string")).as("h"))
      // KMV only sees distinct hashes, so dedup in codegen'd hash-agg
      // land FIRST — the typed (encoder-boxed) aggregation, the expensive
      // per-row path, then runs on ~#distinct rows instead of every
      // lineitem row.
      .distinct()
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(kmv.name("s"))
      .toDF("l_returnflag", "s")
      .select($"l_returnflag", $"s._1".as("n_kept"), $"s._2".as("kth_hash"))
      // Column mirror of KmvAgg.estimate (kept as an expression so the
      // formula sits next to its oracle SQL): n<k ⇒ the buffer is the
      // whole distinct set, estimate exact; otherwise D̂ = (k-1)·2^60/
      // h_(k). (k-1)·2^60 is exactly representable (6 significant bits)
      // and the int64→double casts + one divide are IEEE-identical on
      // both engines.
      .withColumn("est_distinct",
        when($"n_kept" < k, $"n_kept".cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(graft.functions.KmvAgg.HashSpace) /
            $"kth_hash".cast("double")))
      .orderBy($"l_returnflag")
  }

  val q33KmvSketchSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    s"""WITH h AS (
       |  SELECT DISTINCT l_returnflag,
       |    ${sqlMd5Long("CAST(l_orderkey AS VARCHAR)")} AS h
       |  FROM lineitem),
       |r AS (
       |  SELECT l_returnflag, h,
       |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
       |    COUNT(*)     OVER (PARTITION BY l_returnflag) AS cnt
       |  FROM h)
       |SELECT l_returnflag,
       |  CAST(LEAST(cnt, 64) AS INT) AS n_kept,
       |  h AS kth_hash,
       |  CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
       |       ELSE 63.0 * 1152921504606846976.0 / CAST(h AS DOUBLE)
       |  END AS est_distinct
       |FROM r
       |WHERE rn = LEAST(cnt, 64)
       |ORDER BY l_returnflag""".stripMargin
  }

  // --------------------------------------------------------------- q34
  /** Bloom-filter pre-filtered semi join with false-positive accounting:
    * build a deterministic Bloom filter (m = 8192 bits, 2 md5-derived
    * probe positions per key) over a selective dimension subset
    * (BUILDING-segment customers) and probe every orders customer
    * against it, then compare the filter's verdict with exact
    * membership.
    *
    * This is the runtime-filter pattern Spark's optimizer injects for
    * selective joins (`spark.sql.optimizer.runtime.bloomFilter`): at
    * 100 TB the m-bit filter (1 KB here) is broadcast and the probe side
    * is pre-filtered MAP-SIDE before the shuffle join, so non-matching
    * fact rows never ride the exchange. The position-set formulation
    * (membership ⇔ all probe positions present in the build position
    * set) is semantically identical to testing bits in the bitmap and
    * keeps every step declarative and oracle-checkable — including the
    * false-positive rows, which a probabilistic filter must produce and
    * the exact join must then discard. No false negatives can exist by
    * construction (the spec asserts it); sizing m ∝ |build| keeps the
    * false-positive rate flat as the build side grows. */
  def q34BloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val M  = 8192L  // filter bits
    val KP = 2      // probe positions per key
    def positions(key: Column): Column =
      array((0 until KP).map(i =>
        pmod(md5Long(concat(key.cast("string"), lit(s":$i"))), lit(M))): _*)
    val build = t(spark, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val buildPos = build
      .select(explode(positions($"c_custkey")).as("pos")).distinct()
    val probe = t(spark, dir, "orders")
      .groupBy($"o_custkey").agg(count(lit(1)).as("n_ord"))
    val hits = probe
      .select($"o_custkey", explode(positions($"o_custkey")).as("pos"))
      .join(buildPos, Seq("pos"), "left_semi")
      .groupBy($"o_custkey").agg(count(lit(1)).as("nhit"))
    val members = build.select($"c_custkey".as("o_custkey"),
      lit(true).as("is_member"))
    probe
      .join(hits, Seq("o_custkey"), "left")
      .join(members, Seq("o_custkey"), "left")
      .select(
        (coalesce($"nhit", lit(0L)) === KP).as("bloom_maybe"),
        coalesce($"is_member", lit(false)).as("actual"),
        $"n_ord")
      .groupBy($"bloom_maybe", $"actual")
      .agg(count(lit(1)).as("n_custkeys"), sum($"n_ord").as("n_orders"))
      .orderBy($"bloom_maybe", $"actual")
  }

  val q34BloomPrefilterSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val pos = sqlMd5Long("CAST(k AS VARCHAR) || ':' || CAST(i AS VARCHAR)")
    s"""WITH build AS (
       |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
       |bpos AS (
       |  SELECT DISTINCT $pos % 8192 AS pos
       |  FROM (SELECT c_custkey AS k FROM build),
       |       UNNEST(generate_series(0, 1)) AS u(i)),
       |probe AS (
       |  SELECT o_custkey, COUNT(*) AS n_ord FROM orders GROUP BY 1),
       |ppos AS (
       |  SELECT o_custkey, $pos % 8192 AS pos
       |  FROM (SELECT o_custkey, o_custkey AS k FROM probe),
       |       UNNEST(generate_series(0, 1)) AS u(i)),
       |hits AS (
       |  SELECT o_custkey, COUNT(*) AS nhit
       |  FROM ppos WHERE pos IN (SELECT pos FROM bpos) GROUP BY 1),
       |flagged AS (
       |  SELECT p.o_custkey,
       |    COALESCE(h.nhit, 0) = 2 AS bloom_maybe,
       |    p.o_custkey IN (SELECT c_custkey FROM build) AS actual,
       |    p.n_ord
       |  FROM probe p LEFT JOIN hits h ON p.o_custkey = h.o_custkey)
       |SELECT bloom_maybe, actual, COUNT(*) AS n_custkeys,
       |  CAST(SUM(n_ord) AS BIGINT) AS n_orders
       |FROM flagged
       |GROUP BY bloom_maybe, actual
       |ORDER BY bloom_maybe, actual""".stripMargin
  }

  // --------------------------------------------------------------- q35
  /** Unpivot (melt): q18's wide year×status revenue matrix back to long
    * (yr, status, revenue) rows — the inverse reshaping operator, used
    * whenever a wide feature table must feed a long-format consumer.
    * Spark's `unpivot` is a zero-shuffle Expand projection: each input
    * row fans out to one row per value column in the same task, so the
    * reshape adds no exchange on top of the aggregate that built the
    * wide frame — at any scale the cost is the wide frame's, not the
    * melt's. */
  def q35Unpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    q18Pivot(spark, dir)
      .unpivot(Array($"yr"), Array($"rev_f", $"rev_o", $"rev_p"),
        "status", "revenue")
      .orderBy($"yr", $"status")
  }

  val q35UnpivotSql: String = {
    val wide = q18PivotSql.replace("ORDER BY yr", "")
    s"""WITH wide AS ($wide)
       |SELECT yr, status, revenue
       |FROM (FROM wide UNPIVOT INCLUDE NULLS
       |      (revenue FOR status IN (rev_f, rev_o, rev_p)))
       |ORDER BY yr, status""".stripMargin
  }

  // --------------------------------------------------------------- q36
  /** TPC-H Q8-shaped market share: for PROMO-type parts sold to ASIA
    * customers, NATION_5-supplied revenue share per order year.
    *
    * The scale move is shrinking BOTH fact inputs before the one
    * fact-fact shuffle join: lineitem is cut to ~1/6 by the broadcast
    * part(PROMO) semi-shape, and orders is cut to ~1/5 by a LEFT SEMI
    * join against the customer⋈nation⋈region(ASIA) dimension chain —
    * so the lineitem⋈orders exchange carries only rows that can reach
    * the output. The semi side and the supplier→nation map both grow
    * linearly with the corpus, so neither carries a broadcast hint:
    * AQE is free to broadcast them at small SF, and at 100× they
    * degrade to shuffle joins instead of failing outright (a forced
    * broadcast of a corpus-proportional side is a plan that STOPS
    * WORKING at scale, not a slow one). The supplier join is further
    * deferred until after a (yr, l_suppkey) partial aggregate, so the
    * frame meeting supplier is at most |years|·|suppliers| rows — the
    * exact-decimal partial sums re-aggregate exactly, so the two-level
    * sum is a pure plan optimization. Only provably-constant sides
    * (nation, region, the 1/6 PROMO part slice) keep explicit
    * broadcast hints. Catalyst will not reorder joins without stats,
    * so the declared order IS the executed order (q20's lesson).
    * Revenue sums are exact decimals cast to double at the end; the
    * share is one IEEE divide of those two exact doubles —
    * hash-stable on both engines. */
  def q36MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asiaCust = t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")),
            $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t(spark, dir, "region")
              .filter($"r_name" === "ASIA")),
            $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey")
    val asiaOrders = t(spark, dir, "orders")
      .join(asiaCust, $"o_custkey" === $"c_custkey", "left_semi")
      .select($"o_orderkey", year($"o_orderdate").cast("int").as("yr"))
    val suppNation = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")),
            $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val vol = money($"l_extendedprice") * oneMinus($"l_discount")
    val perSupplier = t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part").filter($"p_type" === "PROMO")),
            $"l_partkey" === $"p_partkey")
      .join(asiaOrders, $"l_orderkey" === $"o_orderkey")
      .groupBy($"yr", $"l_suppkey")
      .agg(sum(vol).as("v"))
    perSupplier
      .join(suppNation, $"l_suppkey" === $"s_suppkey")
      .groupBy($"yr")
      .agg(
        sum($"v").cast("double").as("total_rev"),
        sum(when($"supp_nation" === "NATION_5", $"v")
          .otherwise(lit(BigDecimal(0)).cast("decimal(22,2)")))
          .cast("double").as("nation_rev"))
      .select($"yr", $"total_rev", $"nation_rev",
        ($"nation_rev" / $"total_rev").as("mkt_share"))
      .orderBy($"yr")
  }

  val q36MarketShareSql: String =
    """WITH vols AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |    n2.n_name AS supp_nation,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS v
      |  FROM lineitem
      |  JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'),
      |sums AS (
      |  SELECT yr,
      |    CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS total_rev,
      |    CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN v
      |                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE)
      |      AS nation_rev
      |  FROM vols GROUP BY yr)
      |SELECT yr, total_rev, nation_rev, nation_rev / total_rev AS mkt_share
      |FROM sums
      |ORDER BY yr""".stripMargin

  // --------------------------------------------------------------- q37
  /** Iterative graph rank (PageRank shape) over the bipartite
    * customer–supplier purchase graph: nodes are customers (2k) and
    * suppliers (2k+1), an undirected edge per distinct (customer,
    * supplier) purchase relation, two damped iterations from a uniform
    * start. The iterative-dataflow workload class (Pregel/GraphX's home
    * turf) expressed as plain DataFrame ops: each iteration is one join
    * of the rank vector against the edge list plus one aggregate by
    * destination — the exact per-superstep shape of a vertex-centric
    * framework, driven by a driver-side loop.
    *
    * Determinism: ranks are integer micro-units; contributions are
    * integer floor-divides (`rank div deg`) and the damping is
    * `150000 + (85·Σ) div 100` — all order-independent integer
    * arithmetic, so two engines agree bit for bit (a double PageRank
    * never hash-matches across engines). Headroom: Σ ≤ in-degree·10⁶,
    * so 85·Σ overflows BIGINT only past ~10¹¹ in-degree.
    *
    * Scale shape: the edge list is the big invariant — built once and
    * saved as a BUCKETED standing table (src-bucketed), so every
    * superstep's join plans zero exchange on the edges and only the
    * rank vector, |V| ≪ |E|, re-partitions each round (plan-guarded;
    * see the in-body note on why a cached repartition does NOT give
    * this under AQE). The per-iteration plan is join + partial-agg;
    * lineage stays shallow because each rank frame is small and the
    * loop is 2 rounds (longer chains take d8's lazy-checkpoint
    * pattern). */
  def q37GraphRank(spark: SparkSession, dir: String): DataFrame =
    q37GraphRankPlan(spark, dir, checkpoint = true)

  /** `checkpoint = false` keeps the full superstep plan inspectable for
    * the exchange-free-edges guard (t10From's pattern); the shipped
    * query eagerly checkpoints so the edge cache can be released in the
    * finally. */
  /** The customer–supplier purchase graph's symmetric edge list as a
    * BUCKETED standing table (built once per warehouse, src-bucketed),
    * shared by every graph query: the bucketed scan's declared
    * hashpartitioning is what lets each superstep join plan zero
    * exchange on the |E|-sized side. */
  private[operators] def graphEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edgesT = graft.sources.LayoutOps.stateTable("graft_state_q37_edges", dir)
    if (!spark.catalog.tableExists(edgesT)) {
      val ed = t(spark, dir, "orders")
        .join(t(spark, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
        .select(($"o_custkey" * 2).as("u"), ($"l_suppkey" * 2 + 1).as("v"))
        .distinct()
      graft.sources.LayoutOps.writeBucketed(
        ed.unionByName(ed.select($"v".as("u"), $"u".as("v"))), edgesT, "u",
        graft.sources.LayoutOps.stateBuckets(spark))
    }
    spark.table(edgesT)
  }

  private[operators] def q37GraphRankPlan(spark: SparkSession, dir: String,
                                          checkpoint: Boolean): DataFrame = {
    import spark.implicits._
    // The edge list is the big loop invariant. A cached
    // repartition($"u") does NOT make the supersteps exchange-free:
    // under AQE the InMemoryRelation wraps an AdaptiveSparkPlan whose
    // final partitioning is opaque to the outer planner, so
    // ENSURE_REQUIREMENTS re-shuffles the cache anyway (the plan guard
    // in Round8OpsSpec caught exactly that). The standing-state pattern
    // is what actually delivers the property: the edges persist as a
    // BUCKETED table (built on first call, like s10's saved index), and
    // the bucketed scan's declared hashpartitioning lets each superstep
    // join plan ZERO exchange on the edges — only the |V|-sized rank
    // vector shuffles per round. shuffle_hash on the rank side: sorting
    // 2|E| bucketed rows per round for an SMJ would waste co-location.
    val edges = graphEdges(spark, dir)
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("deg"))
    var ranks = deg.select($"u".as("node"), lit(1000000L).as("rank"))
    for (_ <- 1 to 2) {
      val contrib = edges
        .join(ranks.join(deg, $"node" === $"u").drop("u")
                .hint("shuffle_hash"),
              edges("u") === col("node"))
        .select($"v".as("node"), expr("rank div deg").as("c"))
      ranks = contrib.groupBy($"node")
        .agg(expr("CAST(150000 AS BIGINT) + (85 * sum(c)) div 100").as("rank"))
    }
    val w = Window.orderBy($"rank".desc, $"node".asc)
    val out = ranks.orderBy($"rank".desc, $"node".asc).limit(50)
      .withColumn("rnk", row_number().over(w))
      .select($"rnk", $"node", $"rank")
      .orderBy($"rnk")
    if (checkpoint) out.localCheckpoint() else out
  }

  val q37GraphRankSql: String =
    """WITH ed0 AS (
      |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT u, v FROM ed0 UNION ALL SELECT v AS u, u AS v FROM ed0),
      |deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
      |r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
      |c1 AS (
      |  SELECT e.v AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS s
      |  FROM edges e JOIN r0 r ON e.u = r.node JOIN deg d ON e.u = d.u
      |  GROUP BY e.v),
      |r1 AS (SELECT node, CAST(150000 + (85 * s) // 100 AS BIGINT) AS rank FROM c1),
      |c2 AS (
      |  SELECT e.v AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS s
      |  FROM edges e JOIN r1 r ON e.u = r.node JOIN deg d ON e.u = d.u
      |  GROUP BY e.v),
      |r2 AS (SELECT node, CAST(150000 + (85 * s) // 100 AS BIGINT) AS rank FROM c2),
      |ranked AS (
      |  SELECT node, rank,
      |    ROW_NUMBER() OVER (ORDER BY rank DESC, node ASC) AS rnk
      |  FROM r2)
      |SELECT rnk, node, rank FROM ranked WHERE rnk <= 50
      |ORDER BY rnk""".stripMargin

  // --------------------------------------------------------------- q38
  /** SCD2 point-in-time dimension join: every order priced against the
    * customer-dimension VERSION that was valid on its order date — the
    * slowly-changing-dimension lookup every warehouse runs (the
    * versioned dimension is derived deterministically here: three
    * versions per customer with per-customer staggered validity starts,
    * so both engines build the identical dimension).
    *
    * The naive form is a range join (`o_orderdate BETWEEN valid_from
    * AND valid_to`) — an O(|fact|·|versions-per-key|) probe that Spark
    * plans as BroadcastNestedLoop unless the dimension broadcasts. The
    * scalable form used here is e5's union trick generalized to SCD:
    * union dimension-version rows and fact rows on the entity key, one
    * window pass ordered by (ts, kind) carrying the last version
    * attributes forward (kind orders dim rows first at equal ts, giving
    * inclusive valid_from), keep fact rows. ONE shuffle on the entity
    * key, no range probing, no per-version fan-out — the shape survives
    * a dimension with millions of versions per hot key.
    *
    * Hot-entity note (e20's cap question, answered differently): a hot
    * key here lands its rows in one window partition, but WindowExec
    * buffers the partition in a SPILLABLE row array and the running
    * `last(...)` frame evaluates incrementally — a 10⁸-event key
    * degrades to a spilled sort, not an executor OOM. e20 needs an
    * explicit cap only because collect_list accumulates an
    * unspillable aggregation buffer; no such buffer exists in this
    * plan, so no cap is imposed and no rows are ever dropped. */
  def q38Scd2PointInTime(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = t(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment",
        explode(sequence(lit(0), lit(2))).as("ver"))
      .select($"k", lit(0).as("kind"),
        date_add(lit("1994-01-01").cast("date"),
          ($"ver" * 730 + pmod($"k", lit(365))).cast("int")).cast("timestamp")
          .as("ts"),
        concat($"c_mktsegment", lit("#"), $"ver").as("seg_v"),
        lit(null).cast("double").as("o_totalprice"))
    val fact = t(spark, dir, "orders")
      .select($"o_custkey".as("k"), lit(1).as("kind"),
        $"o_orderdate".as("ts"),
        lit(null).cast("string").as("seg_v"), $"o_totalprice")
    val w = Window.partitionBy($"k").orderBy($"ts", $"kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(fact)
      .withColumn("seg", last($"seg_v", ignoreNulls = true).over(w))
      .filter($"kind" === 1)
      // cross-engine agreement rests on a data invariant: every order
      // lands at or after its customer's v0 valid_from. An earlier
      // order would form a null-seg group here while the oracle's
      // range join silently DROPS it — fail loudly instead of
      // diverging (coalesce short-circuits, so the error expression
      // never evaluates while the invariant holds).
      .withColumn("seg", coalesce($"seg", raise_error(lit(
        "q38: order predates every dimension version — add a floor version"))))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
      .orderBy($"seg")
  }

  val q38Scd2PointInTimeSql: String =
    """WITH dim AS (
      |  SELECT c_custkey AS k, v.ver,
      |    CAST(DATE '1994-01-01'
      |      + CAST(v.ver * 730 + c_custkey % 365 AS INT) * INTERVAL '1 day'
      |      AS TIMESTAMP) AS valid_from,
      |    c_mktsegment || '#' || CAST(v.ver AS VARCHAR) AS seg_v
      |  FROM customer, UNNEST(generate_series(0, 2)) AS v(ver)),
      |vers AS (
      |  SELECT k, seg_v, valid_from,
      |    COALESCE(LEAD(valid_from) OVER (PARTITION BY k ORDER BY ver),
      |             TIMESTAMP '9999-01-01') AS valid_to
      |  FROM dim)
      |SELECT seg_v AS seg, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS total
      |FROM orders JOIN vers
      |  ON o_custkey = k AND o_orderdate >= valid_from AND o_orderdate < valid_to
      |GROUP BY seg
      |ORDER BY seg""".stripMargin

  // --------------------------------------------------------------- q40
  /** SCD2 lookup over a MAINTAINED dimension: q38 derives its
    * versioned dimension inline; q40 keeps one as day-2 standing state
    * via [[Scd2Ops]] — initial load of versions 0–1, then a MERGE
    * batch (version 2: close current, insert new) — and prices every
    * order against the maintained table. Output and oracle are
    * exactly q38's: the maintenance path must be invisible in the
    * result (Round9OpsSpec additionally proves the maintained table
    * equals a from-scratch rebuild, bit for bit).
    *
    * Scale shape: the dimension persists BUCKETED on the entity key,
    * so the fact lookup join plans no exchange on the dimension side —
    * only orders shuffles (plan-guarded). Per-key fan-out is the
    * version count (3) and collapses in the same stage's filter, so
    * the join output never materializes the fan-out. The per-day
    * maintenance cost is one CoW rewrite of the dimension — the small
    * table by definition — never a fact-side job. */
  private[operators] def q40DimVersions(spark: SparkSession, dir: String,
                                        vers: Seq[Int]): DataFrame = {
    import spark.implicits._
    t(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment",
        explode(array(vers.map(lit(_)): _*)).as("ver"))
      .select($"k",
        concat($"c_mktsegment", lit("#"), $"ver").as("seg_v"),
        date_add(lit("1994-01-01").cast("date"),
          ($"ver" * 730 + pmod($"k", lit(365))).cast("int"))
          .cast("timestamp").as("valid_from"))
  }

  def q40Scd2Day2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = graft.sources.LayoutOps.stateTable("graft_state_q40_dim", dir)
    if (!spark.catalog.tableExists(table)) {
      Scd2Ops.initDim(spark, table, q40DimVersions(spark, dir, Seq(0, 1)))
      Scd2Ops.upsertDim(spark, table, q40DimVersions(spark, dir, Seq(2)))
    }
    t(spark, dir, "orders")
      .select($"o_custkey".as("k"), $"o_orderdate".as("ts"), $"o_totalprice")
      .join(spark.table(table).hint("shuffle_hash"), Seq("k"))
      .filter($"ts" >= $"valid_from" && $"ts" < $"valid_to")
      .select($"seg_v".as("seg"), $"o_totalprice")
      .groupBy($"seg")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
      .orderBy($"seg")
  }

  // --------------------------------------------------------------- q41
  /** Incremental aggregate maintenance (IVM): a per-(returnflag,
    * linestatus) revenue summary kept as DAY-1 standing state, with
    * today's arrivals folded in ADDITIVELY at read time — the
    * materialized-view refresh every warehouse runs instead of
    * re-aggregating the full fact table nightly. Completes the day-2
    * standing-state story across the families (d16/d17 dedup, s11 ANN
    * index, q40 SCD2 dimension, p10 corpus funnel — and now the plain
    * relational summary).
    *
    * The corpus splits by the engine's standard md5 coin into standing
    * (~80%, summarized on day 1) and today's batch (~20%); the coin
    * stands in for the date-partition predicate a production fact
    * table would give the day-2 scan for free (LayoutOps
    * .writePartitioned + partition pruning). Counts and exact-decimal
    * sums are ADDITIVE, so the merge is a union + re-aggregate of
    * |groups| + |groups| rows — metadata-sized — and the result is
    * bit-identical to a from-scratch aggregate (spec-pinned; the
    * oracle IS the from-scratch form). The query is read-only and
    * idempotent: the standing summary is written once, the delta
    * folds in per read, so repeated calls never double-count. Derived
    * ratios (avg price) come from the additive parts at the end —
    * the IVM rule that only additive measures persist. */
  def q41IvmDay2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val aggT = graft.sources.LayoutOps.stateTable("graft_state_q41_agg", dir)
    val isNew = pmod(graft.functions.EngineFns.md5Long(
      concat($"l_orderkey".cast("string"), lit(":"),
        $"l_linenumber".cast("string"), lit(":q41"))), lit(5L)) === 0L
    def aggOf(df: DataFrame): DataFrame = df
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("decimal(28,8)")).as("sum_qty"),
        sum(money($"l_extendedprice").cast("decimal(28,8)")).as("sum_price"))
    if (!spark.catalog.tableExists(aggT)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, aggT)
      aggOf(t(spark, dir, "lineitem").filter(!isNew))
        .write.mode("overwrite").format("parquet").saveAsTable(aggT)
    }
    val delta = aggOf(t(spark, dir, "lineitem").filter(isNew))
    spark.table(aggT).unionByName(delta)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum($"n_rows").as("n_rows"),
        sum($"sum_qty").as("q"), sum($"sum_price").as("p"))
      .select($"l_returnflag", $"l_linestatus", $"n_rows",
        $"q".cast("double").as("sum_qty"),
        $"p".cast("double").as("sum_price"),
        // one IEEE divide of the two exact doubles (q36's rule) — a
        // decimal division would round differently across engines
        ($"p".cast("double") / $"n_rows".cast("double")).as("avg_price"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q41IvmDay2Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)
      |    AS sum_qty,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
      |                     AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)
      |    AS sum_price,
      |  (CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
      |                      AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)
      |   / CAST(COUNT(*) AS DOUBLE)) AS avg_price
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --------------------------------------------------------------- q39
  /** Convergence-driven graph rank: q37's superstep iterated to the
    * EXACT integer fix-point instead of a pinned round count — the
    * shape every real ranking/propagation job has (run until the
    * vector stops moving), and the query that actually exercises the
    * long-chain lineage/checkpoint story q37's 2 rounds only assert.
    *
    * Determinism across engines without a pinned round count: the
    * recurrence `rank' = 125 + Σ(rank div deg) div 2` is a
    * deterministic map, so once any round r satisfies
    * vec(r) == vec(r-1), every later round is identical — the oracle
    * can therefore unroll a fixed [[Q39MaxRounds]] supersteps and
    * output the LAST one, while Spark early-exits at the first
    * unchanged round; both describe the same vector. The α=1/2
    * damping (vs q37's 0.85) halves the residual per round, and the
    * DEGREE-PROPORTIONAL start (rank₀ = 250·deg) makes convergence a
    * THEOREM, not an observation: rank₀(u) div deg_u = 250 exactly
    * (no floor error), so vec₁(v) = 125 + 125·deg_v ≤ vec₀(v)
    * pointwise, and the recurrence is a monotone map on an integer
    * lattice bounded below — the sequence decreases to an exact
    * fix-point in finitely many rounds (a uniform start has no such
    * guarantee: floor jitter at coarse units produced a genuine
    * 2-cycle at sf0.1 that rode the round cap). The warm start is
    * also the FAST one — an undirected random walk's stationary mass
    * is degree-proportional, so iteration starts near the answer. The reported `rounds` column is the first
    * fix-point round on both sides (Spark: loop exit; oracle: MIN r
    * with zero changed nodes).
    *
    * Scale shape: the per-round plan is q37's — bucketed standing
    * edges probe with ZERO exchange, only the |V|-sized rank vector
    * shuffles. The loop is d8's storage discipline: each round's
    * vector is LAZILY checkpointed and materialized by the same
    * change-count action that tests convergence (one job per round),
    * then the superseded round's blocks are released immediately — at
    * any instant storage holds ONE rank vector, not O(rounds)
    * copies. */
  private[operators] val Q39MaxRounds = 24
  private[operators] val Q39StepsPerAction = 4

  /** q39's standing edges: [[graphEdges]]'s symmetric list with the
    * DESTINATION degree riding each edge (u, v, deg_v), bucketed by u.
    * Paying 8 extra bytes per edge at build time buys a self-contained
    * superstep: the rank vector carries (node, deg, rank), the join
    * supplies deg_u for the contribution and deg_v re-enters the
    * vector through the aggregate — so a round is ONE join + ONE
    * aggregate, with no per-round degree re-join and two fewer stages
    * of driver latency per superstep. */
  private[operators] def q39Edges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t39 = graft.sources.LayoutOps.stateTable("graft_state_q39_edges", dir)
    if (!spark.catalog.tableExists(t39)) {
      val base = graphEdges(spark, dir)
      val deg = base.groupBy($"u").agg(count(lit(1)).as("deg"))
      graft.sources.LayoutOps.writeBucketed(
        base.join(deg.select($"u".as("v"), $"deg".as("deg_v")), Seq("v"))
          .select($"u", $"v", $"deg_v"),
        t39, "u", graft.sources.LayoutOps.stateBuckets(spark))
    }
    spark.table(t39)
  }

  /** One superstep: rank mass flows along the bucketed edges, lands
    * aggregated by destination, with the destination's degree pulled
    * from the edge rows so the output vector is loop-ready. Factored
    * out so the plan guard can inspect a single round's physical
    * plan. `ranks` carries (node, deg, rank). */
  private[operators] def q39Superstep(edges: DataFrame,
                                      ranks: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges
      .join(ranks.hint("shuffle_hash"), edges("u") === col("node"))
      .select($"v".as("node"), expr("rank div deg").as("c"), $"deg_v")
      .groupBy($"node")
      .agg(expr("CAST(125 AS BIGINT) + sum(c) div 2").as("rank"),
        max($"deg_v").as("deg"))
  }

  /** Edge-count bound under which the whole rank iteration runs on the
    * driver over ONE bounded collect — [[DedupOps.componentsFrom]]'s
    * sanctioned-exception pattern applied to q39 (r11 verdict item #4):
    * the recurrence is exact integer arithmetic over a vector that is
    * provably tiny at testbed scale (1.17M symmetric edges at sf0.1),
    * yet every distributed round pays ~0.7–1 s of fixed driver
    * scheduling — 13 genuinely sequential supersteps made q39 the
    * slowest solo query (10.8–15.9 s) while the actual arithmetic is
    * ~30 ms. The collect is memory-bounded BY CONSTRUCTION
    * (limit(bound+1) of specialized (Long, Long) tuples: ≤ 64 MB at
    * the bound, plus primitive long[]/int[] loop state — the honest
    * budget, not serialized bytes); a graph over the bound falls back
    * to the superstep loop, which is the right shape at crawl scale
    * and is spec-forced on a planted graph. A/B at sf0.1, same host,
    * solo child JVM: superstep arm 10.7 s → driver arm 1.4 s. */
  private[operators] val Q39DriverBound = 2000000

  def q39GraphRankConverged(spark: SparkSession, dir: String): DataFrame =
    q39RankFrom(q39Edges(spark, dir))

  /** Both arms of q39 over an explicit (u, v, deg_v) symmetric edge
    * frame. `driverBound` is parameterized ONLY so the spec can force
    * the distributed arm on a planted graph (componentsFrom's
    * discipline: every testbed graph is under the production bound,
    * which would otherwise leave the at-scale path untested). */
  private[operators] def q39RankFrom(edges: DataFrame,
      driverBound: Int = Q39DriverBound): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val probe = edges.limit(driverBound + 1)
      .select($"u".cast("long"), $"v".cast("long"))
      .as[(Long, Long)].collect()
    if (probe.length <= driverBound) return q39RankDriver(spark, probe)
    q39RankDistributed(edges)
  }

  /** The small-graph arm: the exact integer recurrence on primitive
    * arrays over the collected symmetric edge list. Degree is derived
    * by counting each node's SOURCE occurrences (the list is
    * symmetric, so this equals the deg_v the standing table carries);
    * the fix-point test, round accounting and top-50 shape match the
    * distributed loop exactly — the arms are output-indistinguishable
    * and the oracle certifies either. */
  private def q39RankDriver(spark: SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val ids0 = new Array[Long](edges.length * 2)
    var k = 0
    edges.foreach { case (u, v) => ids0(k) = u; ids0(k + 1) = v; k += 2 }
    java.util.Arrays.sort(ids0)
    var n = 0
    var i = 0
    while (i < ids0.length) {
      if (n == 0 || ids0(i) != ids0(n - 1)) { ids0(n) = ids0(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(ids0, n)
    val m = edges.length
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    val deg = new Array[Long](n)
    i = 0
    edges.foreach { case (u, v) =>
      val su = java.util.Arrays.binarySearch(ids, u)
      src(i) = su
      dst(i) = java.util.Arrays.binarySearch(ids, v)
      deg(su) += 1
      i += 1
    }
    // rank₀ = 250·deg — the degree-proportional warm start whose
    // convergence proof lives on q39GraphRankConverged's scaladoc
    var rank = Array.tabulate(n)(j => 250L * deg(j))
    var rounds = 0
    var converged = false
    while (!converged && rounds < Q39MaxRounds) {
      val acc = new Array[Long](n)
      var e = 0
      while (e < m) {
        acc(dst(e)) += rank(src(e)) / deg(src(e))
        e += 1
      }
      val next = new Array[Long](n)
      var j = 0
      converged = true
      while (j < n) {
        next(j) = 125L + acc(j) / 2
        if (next(j) != rank(j)) converged = false
        j += 1
      }
      rank = next
      rounds += 1
    }
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"q39: driver arm over $m edges, $n nodes, $rounds rounds")
    val order = Array.tabulate(n)(identity).sortBy(j => (-rank(j), ids(j)))
    val top = (0 until math.min(50, n)).map { r =>
      val j = order(r)
      (r + 1, ids(j), rank(j), rounds)
    }
    top.toDF("rnk", "node", "rank", "rounds").localCheckpoint()
  }

  private def q39RankDistributed(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var ranks = edges.groupBy($"u").agg(count(lit(1)).as("deg"))
      .select($"u".as("node"), $"deg", (lit(250L) * $"deg").as("rank"))
      .localCheckpoint(eager = false)
    var rounds = 0
    var converged = false
    try {
      // Driver latency, not data volume, dominates an iterative loop
      // whose per-round frames are small: BATCH Q39StepsPerAction
      // supersteps into ONE action. The block's vectors chain as lazy
      // checkpoints; a single collect over the unioned per-step change
      // counts materializes all of them (checkpoint caching computes
      // each step once) and still reports the EXACT first fix-point
      // round — the per-step deltas are (node-colocated, |V|-sized)
      // joins, so precision costs no extra exchange. Measured 27.6 s →
      // ~9 s at sf0.1 vs the one-action-per-round form.
      while (!converged && rounds < Q39MaxRounds) {
        val steps = Iterator.iterate(ranks)(r =>
            q39Superstep(edges, r).localCheckpoint(eager = false))
          .slice(1, 1 + Q39StepsPerAction).toSeq
        val deltas = steps.zip(ranks +: steps.init).zipWithIndex.map {
          case ((nxt, prv), i) =>
            nxt.join(prv.select($"node", $"rank".as("prev")), Seq("node"))
              .filter($"rank" =!= $"prev")
              .agg(count(lit(1)).as("c"))
              .select(lit(i + 1).as("step"), $"c")
        }
        // the one job per block; on failure the block's partial
        // checkpoint caches are unreachable from `ranks` — release them
        val counts = try {
          deltas.reduce(_ unionByName _).collect()
            .sortBy(_.getInt(0)).map(_.getLong(1))
        } catch {
          case t: Throwable =>
            steps.foreach(DedupOps.unpersistCheckpointed); throw t
        }
        val firstZero = counts.indexWhere(_ == 0L)
        converged = firstZero >= 0
        rounds += (if (converged) firstZero + 1 else Q39StepsPerAction)
        // once a step is a fix-point every later step in the block is
        // identical, so the block's LAST vector is always the right
        // carry; every superseded vector's blocks drop now
        (ranks +: steps.init).foreach(DedupOps.unpersistCheckpointed)
        ranks = steps.last
      }
      // not converged by the cap is still well-defined output (the
      // oracle describes exactly vec(Q39MaxRounds)) — never a throw
      val w = Window.orderBy($"rank".desc, $"node".asc)
      ranks.orderBy($"rank".desc, $"node".asc).limit(50)
        .withColumn("rnk", row_number().over(w))
        .select($"rnk", $"node", $"rank",
          lit(rounds).cast("int").as("rounds"))
        .orderBy($"rnk")
        .localCheckpoint()   // eager: backs the result past the finally
    } finally {
      DedupOps.unpersistCheckpointed(ranks)
    }
  }

  val q39GraphRankConvergedSql: String = {
    val M = Q39MaxRounds
    // every r$r is referenced 3× (next step + two change checks):
    // MATERIALIZED stops DuckDB's CTE inlining from recomputing the
    // whole prefix per reference (exponential blowup over 24 rounds)
    val steps = (1 to M).map { r =>
      s"""c$r AS (
         |  SELECT e.v AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS s
         |  FROM edges e JOIN r${r - 1} r ON e.u = r.node JOIN deg d ON e.u = d.u
         |  GROUP BY e.v),
         |r$r AS MATERIALIZED (
         |  SELECT node, CAST(125 + s // 2 AS BIGINT) AS rank FROM c$r)"""
        .stripMargin
    }.mkString(",\n")
    val chgs = (1 to M).map { r =>
      s"""chg$r AS (
         |  SELECT $r AS r, COUNT(*) AS n
         |  FROM r$r a JOIN r${r - 1} b ON a.node = b.node
         |  WHERE a.rank <> b.rank)""".stripMargin
    }.mkString(",\n")
    val chgUnion = (1 to M).map(r => s"SELECT r, n FROM chg$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ed0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT u, v FROM ed0 UNION ALL SELECT v AS u, u AS v FROM ed0),
       |deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
       |r0 AS (SELECT u AS node, CAST(250 * deg AS BIGINT) AS rank FROM deg),
       |$steps,
       |$chgs,
       |fixp AS (
       |  SELECT COALESCE(MIN(r), $M) AS rounds
       |  FROM ($chgUnion) WHERE n = 0),
       |ranked AS (
       |  SELECT node, rank,
       |    ROW_NUMBER() OVER (ORDER BY rank DESC, node ASC) AS rnk
       |  FROM r$M)
       |SELECT rnk, node, rank,
       |  CAST((SELECT rounds FROM fixp) AS INT) AS rounds
       |FROM ranked WHERE rnk <= 50
       |ORDER BY rnk""".stripMargin
  }

  // ------------------------------------------------------------ registry
  // --------------------------------------------------------------- q42
  /** Mergeable-sketch maintenance — the day-2 story for q33's KMV
    * distinct-count sketch, and the reason sketches exist at scale:
    * the standing state is each group's k=64 minimum distinct hashes
    * (a ≤64-row-per-group table, metadata-sized however large the
    * fact table grows), and today's arrivals fold in by UNION +
    * re-take-64-minimum — never by rescanning history.
    *
    * The merge is EXACT by the KMV theorem: the k smallest of
    * (k smallest of A) ∪ (k smallest of B) equal the k smallest of
    * A ∪ B, so the merged sketch — and therefore the estimate — is
    * bit-identical to the from-scratch sketch over all rows. The
    * oracle IS q33's from-scratch SQL. If the merged sketch holds
    * fewer than k hashes, both inputs were uncapped, the sketch is
    * the entire distinct set, and the estimate is exact — the same
    * exact/estimated split q33 documents.
    *
    * Scale shape: the daily increment hashes + dedups only today's
    * partition (codegen'd hash-agg), takes its per-group minima
    * map-side-combined (a top-k-by-min window over ≤ groups·k rows
    * after the partial agg), and the union+re-rank runs over
    * ≤ 2·64 rows per group. The read is idempotent: state is written
    * once, the delta never persists (q41's discipline). */
  def q42KmvDay2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val k = 64
    val stateT = graft.sources.LayoutOps.stateTable("graft_state_q42_kmv", dir)
    val li = t(spark, dir, "lineitem")
    val isNew = pmod(md5Long(concat($"l_orderkey".cast("string"), lit(":q42"))),
      lit(5L)) === 0L
    // bottom-k via the BOUNDED mergeable aggregator, never a per-group
    // window: a window sorts every distinct hash of a group in one task
    // (a corpus-sized sort per group at 100 TB), while the Aggregator's
    // buffer caps at k longs, partials combine map-side, and the shuffle
    // carries ≤ k values per group — q33's discipline, kept for both the
    // day-1 build and the daily delta.
    def sketchRows(df: DataFrame): DataFrame = {
      val kmvSet = new graft.functions.KmvSetAgg(k).toColumn
      df.select($"l_returnflag",
          md5Long($"l_orderkey".cast("string")).as("h"))
        .distinct() // dedup in codegen'd hash-agg land first (q33's note)
        .as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(kmvSet.name("hs"))
        .toDF("l_returnflag", "hs")
        .select($"l_returnflag", explode($"hs").as("h"))
    }
    if (!spark.catalog.tableExists(stateT)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, stateT)
      sketchRows(li.filter(!isNew))
        .write.mode("overwrite").format("parquet").saveAsTable(stateT)
    }
    val kmvSet = new graft.functions.KmvSetAgg(k).toColumn
    spark.table(stateT)
      .unionByName(sketchRows(li.filter(isNew)))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(kmvSet.name("hs"))
      .toDF("l_returnflag", "hs")
      .select($"l_returnflag",
        size($"hs").cast("int").as("n_kept"),
        array_max($"hs").as("kth_hash"))
      .withColumn("est_distinct",
        when($"n_kept" < k, $"n_kept".cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(graft.functions.KmvAgg.HashSpace) /
            $"kth_hash".cast("double")))
      .orderBy($"l_returnflag")
  }

  // --------------------------------------------------------------- q43
  /** Data-quality audit — the dbt-test / deequ-style constraint sweep a
    * pipeline runs before trusting a day's data: primary-key
    * uniqueness, referential integrity, domain ranges and null checks
    * across the star schema, emitted as one (check, n_violations,
    * n_checked) frame a scheduler can alert on.
    *
    * Scale shape: every check is a narrow aggregate in its table's own
    * scan — domain/null checks collapse map-side to a single row
    * (conditional sums inside one pass per table, NOT one scan per
    * check); PK checks are a hash-agg on the key (partial-agg
    * collapses duplicates map-side); referential checks are LEFT ANTI
    * joins that shuffle only the key column. The audit union is
    * check-count-sized. No check ever materializes violating ROWS —
    * production would bolt a `.filter(...).limit(100)` sample per
    * failed check, same plans.
    *
    * The audit earns its keep on this very repo's testdata: it
    * surfaces that (l_orderkey, l_linenumber) is NOT unique in the
    * synthetic lineitem (2,562 duplicate-keyed rows at sf0.001) —
    * every other check audits clean. The spec cross-verifies the
    * reported count independently. */
  def q43QualityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li  = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val cus = t(spark, dir, "customer")

    def one(name: String, violations: Column, checked: Column,
            src: DataFrame): DataFrame =
      src.agg(violations.cast("long").as("n_violations"),
          checked.cast("long").as("n_checked"))
        .select(lit(name).as("check"), $"n_violations", $"n_checked")

    // one scan of lineitem serves all its domain checks
    val liDomain = li.agg(
      sum(when($"l_quantity" <= 0, 1).otherwise(0)).as("bad_qty"),
      sum(when($"l_discount" < 0 || $"l_discount" > 1, 1).otherwise(0))
        .as("bad_disc"),
      sum(when($"l_shipdate".isNull, 1).otherwise(0)).as("null_ship"),
      count(lit(1)).as("n"))
    // one stack over the single aggregate row, not one select per
    // check: the per-check union re-evaluated liDomain (a full
    // lineitem scan + aggregate) once per check row — three corpus
    // scans for one row of numbers (r16-opt plan audit).
    val liChecks = liDomain.select(
      expr("""stack(3,
             |  'lineitem_quantity_positive', bad_qty,
             |  'lineitem_discount_in_range', bad_disc,
             |  'lineitem_shipdate_not_null', null_ship)
             |  AS (check, n_violations)""".stripMargin),
      $"n".cast("long").as("n_checked"))
      .select($"check", $"n_violations".cast("long").as("n_violations"),
        $"n_checked")

    val ordDomain = one("orders_totalprice_positive",
      sum(when($"o_totalprice" <= 0, 1).otherwise(0)), count(lit(1)), ord)
    val cusNull = one("customer_name_not_null",
      sum(when($"c_name".isNull || $"c_name" === "", 1).otherwise(0)),
      count(lit(1)), cus)

    def pkUnique(name: String, src: DataFrame, keys: Column*): DataFrame = {
      val dups = src.groupBy(keys: _*).agg(count(lit(1)).as("c"))
        .agg(sum(when($"c" > 1, $"c").otherwise(0)).as("v"),
          sum($"c").as("n"))
      dups.select(lit(name).as("check"), $"v".cast("long").as("n_violations"),
        $"n".cast("long").as("n_checked"))
    }
    val ordPk = pkUnique("orders_pk_unique", ord, $"o_orderkey")
    val liPk  = pkUnique("lineitem_pk_unique", li, $"l_orderkey", $"l_linenumber")

    def orphans(name: String, fact: DataFrame, factKey: String,
                dim: DataFrame, dimKey: String): DataFrame = {
      val v = fact.select(col(factKey))
        .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_anti")
        .agg(count(lit(1)).as("v"))
      val n = fact.agg(count(lit(1)).as("n"))
      v.crossJoin(n).select(lit(name).as("check"),
        $"v".cast("long").as("n_violations"), $"n".cast("long").as("n_checked"))
    }
    val ordRef = orphans("orders_custkey_refs_customer", ord, "o_custkey",
      cus, "c_custkey")
    val liRef = orphans("lineitem_orderkey_refs_orders", li, "l_orderkey",
      ord, "o_orderkey")

    liChecks.unionByName(ordDomain).unionByName(cusNull)
      .unionByName(ordPk).unionByName(liPk)
      .unionByName(ordRef).unionByName(liRef)
      .orderBy($"check")
  }

  val q43QualityAuditSql: String =
    """WITH li AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc,
      |    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ship,
      |    COUNT(*) AS n
      |  FROM lineitem),
      |checks AS (
      |  SELECT 'lineitem_quantity_positive' AS check, bad_qty AS n_violations, n AS n_checked FROM li
      |  UNION ALL
      |  SELECT 'lineitem_discount_in_range', bad_disc, n FROM li
      |  UNION ALL
      |  SELECT 'lineitem_shipdate_not_null', null_ship, n FROM li
      |  UNION ALL
      |  SELECT 'orders_totalprice_positive',
      |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(*) FROM orders
      |  UNION ALL
      |  SELECT 'customer_name_not_null',
      |    CAST(SUM(CASE WHEN c_name IS NULL OR c_name = '' THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(*) FROM customer
      |  UNION ALL
      |  SELECT 'orders_pk_unique',
      |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT),
      |    CAST(SUM(c) AS BIGINT)
      |  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_pk_unique',
      |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT),
      |    CAST(SUM(c) AS BIGINT)
      |  FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
      |  UNION ALL
      |  SELECT 'orders_custkey_refs_customer',
      |    (SELECT COUNT(*) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |    COUNT(*) FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_orderkey_refs_orders',
      |    (SELECT COUNT(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
      |    COUNT(*) FROM lineitem)
      |SELECT "check", n_violations, n_checked FROM checks
      |ORDER BY "check"""".stripMargin

  // ------------------------------------------------- basket pair builder
  /** Items-per-basket cap applied before ANY co-occurrence pair
    * generation (q44/q46/q47/q48 all derive their part graph from
    * per-order pair explosion). Per-basket fan-out is O(b²): the
    * declared testdata's baskets are schema-bounded (≤ ~12 lines per
    * order, and a TPC-H scale-up adds orders, not lines per order), but
    * these operators are general basket miners, and ONE pathological
    * basket — a bot session, a malformed feed — with 10⁵ items means
    * 10¹⁰ pairs inside a single task. d11's cap + honest-flag
    * discipline, applied to baskets: keep the first [[BasketItemCap]]
    * items by item id (deterministic — the basket frame is distinct
    * (o, p)), surface the truncation as a per-basket flag. 256²/2 = 32k
    * pairs is the post-cap worst case per basket; at the declared data
    * the cap is a no-op (every oracle applies the identical rule, so
    * the queries stay hash-green by construction, not by luck). */
  private[operators] val BasketItemCap = 256

  /** A basket stream `(o, p)` → the capped item stream with a
    * per-basket `overflow` flag reporting truncation. The window's
    * hash partitioning on `o` is exactly what the downstream pair
    * self-join needs, so the cap adds a sort but no extra exchange. */
  private[operators] def cappedBasketItems(pl: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    import pl.sparkSession.implicits._
    pl.select($"o", $"p",
        row_number().over(Window.partitionBy($"o").orderBy($"p")).as("__rn"),
        count(lit(1)).over(Window.partitionBy($"o")).as("__n"))
      .filter($"__rn" <= cap)
      .select($"o", $"p", ($"__n" > cap).as("overflow"))
  }

  /** Co-occurrence pairs `(a < b)` from a capped basket stream — the
    * ONE pair generator every basket-graph operator goes through. Not
    * distinct: each call site owns its dedup/count semantics. */
  private[graft] def basketPairs(pl: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    val spark = pl.sparkSession
    import spark.implicits._
    val c = cappedBasketItems(pl, cap).select($"o", $"p")
    c.as("x").join(c.as("y"), $"x.o" === $"y.o" && $"x.p" < $"y.p")
      .select($"x.p".as("a"), $"y.p".as("b"))
  }

  /** The capped `pl` CTE both engines share: DISTINCT (o, p) then the
    * first [[BasketItemCap]] items per basket by item id. */
  private val basketPlSql: String =
    s"""pl0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pl AS (
       |  SELECT o, p FROM (
       |    SELECT o, p, ROW_NUMBER() OVER (PARTITION BY o ORDER BY p) AS rn
       |    FROM pl0)
       |  WHERE rn <= $BasketItemCap)""".stripMargin

  /** 1-row honest-truncation frame: how many baskets [[cappedBasketItems]]
    * truncated. Round 10 capped the builder but dropped the overflow
    * flag before the query surface, so a consumer of q44/q46/q47/q48
    * could not tell a complete graph from a truncated one (r10 verdict
    * "What's wrong #3") — every basket-graph query now carries this
    * count as a constant output column, mirrored in its oracle. */
  private[graft] def truncatedBaskets(pl: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    import pl.sparkSession.implicits._
    pl.groupBy($"o").agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(when($"__n" > cap, 1L)), lit(0L))
        .as("truncated_baskets"))
  }

  /** Append a 1-row frame's columns to every row of `df`: a broadcast
    * nested-loop join whose build side is ONE row — a constant append,
    * not a join in any cost sense (a constant-key equi-join was tried
    * and Catalyst folds the key away, planning the same BNLJ). The
    * equi-join-only plan guard (Round9bOpsSpec) exempts BNLJ nodes
    * that carry `truncated_baskets` for exactly this reason. */
  private def withOneRow(df: DataFrame, one: DataFrame): DataFrame =
    df.crossJoin(broadcast(one))

  /** [[truncatedBaskets]] as a `trunc` CTE over the shared `pl0`. */
  private val basketTruncSql: String =
    s"""trunc AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS truncated_baskets
       |  FROM (SELECT o FROM pl0 GROUP BY o
       |        HAVING COUNT(*) > $BasketItemCap) tq)""".stripMargin

  // --------------------------------------------------------------- q44
  /** Local triangle counting + clustering coefficient on the part
    * co-purchase graph (parts are adjacent when some order contains
    * both) — the graph-analytics primitive behind community detection,
    * link prediction and spam/fraud scoring, and the classic "quadratic
    * unless you know the trick" operator.
    *
    * The trick is DEGREE ORIENTATION (Chiba–Nishizeki / MR triangle
    * counting): orient every undirected edge from its lower-(degree,id)
    * endpoint to the higher one. Each triangle then has exactly ONE
    * node with two out-edges, so enumerating wedges over OUT-edges
    * finds every triangle once, and a node's out-degree is bounded by
    * O(√|E|) regardless of how hot the hub parts are — the wedge join
    * is O(Σ out-deg²) ≤ O(|E|^1.5) instead of Σ deg² (measured here:
    * 83M oriented wedges vs 298M unoriented at sf0.1, and the hottest
    * part's 222 undirected degree orients down to ≤ 97 out-edges — the
    * orientation IS the hot-node cap, no df-cap heuristic needed).
    *
    * Scale shape: co-purchase pair generation is a self-join on the
    * order key with per-order fan-out hard-bounded by [[BasketItemCap]]
    * (≤ 12 lines per order at the declared data, so the cap is a no-op
    * there; see [[cappedBasketItems]] for why it exists anyway);
    * the close is adjacency-intersection (in-body note): every shuffle
    * carries |E| rows, the O(wedges) work runs in-core inside a
    * codegen'd array_intersect, and no wedge ever rides an exchange.
    * Output is per-node counts (each triangle explodes to its 3
    * corners) with the exact integer clustering coefficient in
    * permille. */
  def q44Triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the co-purchase edge list is a loop-invariant ARTIFACT of the
    // warehouse, not of this query: read the standing bucketed table
    // q47 shares (built on first use), so repeated analytics pay the
    // per-order pair explosion once per warehouse, the degree hash-agg
    // plans zero exchange off the bucketed scan, and this query starts
    // from |E| rows instead of |lineitem|².
    val sym = q47Edges(spark, dir)
    q44TrianglesFromEdges(
      sym.filter($"u" < $"v").select($"u".as("a"), $"v".as("b")),
      sym.groupBy($"u").agg(count(lit(1)).as("d"))
        .select($"u".as("n"), $"d"))
      .transform(withOneRow(_, q47TruncCount(spark, dir)))
      .orderBy($"n_triangles".desc, $"p_partkey")
  }

  /** [[q44Triangles]] over an arbitrary (o, p) membership frame —
    * planted-graph specs enter here (with an explicit `cap` to exercise
    * the mega-basket truncation). */
  private[operators] def q44TrianglesFrom(pl: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    val spark = pl.sparkSession
    import spark.implicits._
    val ed = basketPairs(pl, cap).distinct()
    val und = ed.unionByName(ed.select($"b".as("a"), $"a".as("b")))
    q44TrianglesFromEdges(ed, und.groupBy($"a".as("n")).agg(count(lit(1)).as("d")))
      .transform(withOneRow(_, truncatedBaskets(pl, cap)))
      .orderBy($"n_triangles".desc, $"p_partkey")
  }

  /** The triangle core over an undirected edge list `ed(a, b), a<b`
    * and its degree frame `deg(n, d)`. */
  private[operators] def q44TrianglesFromEdges(ed: DataFrame,
                                               deg: DataFrame): DataFrame = {
    val spark = ed.sparkSession
    import spark.implicits._
    val perNode = q44TrianglesCorners(ed, deg)
      .groupBy($"n").agg(count(lit(1)).as("n_triangles"))
    perNode.join(deg, Seq("n"))
      .select($"n".as("p_partkey"), $"d".as("deg"), $"n_triangles")
      .withColumn("cc_permille",
        expr("CASE WHEN deg >= 2 THEN (2000 * n_triangles) div (deg * (deg - 1)) ELSE CAST(0 AS BIGINT) END"))
      .orderBy($"n_triangles".desc, $"p_partkey").limit(25)
  }

  /** One row per (triangle, corner) — the enumeration q44 aggregates
    * and q48's day-1 build persists. */
  private[graft] def q44TrianglesCorners(ed: DataFrame,
                                             deg: DataFrame): DataFrame = {
    val spark = ed.sparkSession
    import spark.implicits._
    val lower = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
    val orient = ed
      .join(deg.select($"n".as("a"), $"d".as("da")), "a")
      .join(deg.select($"n".as("b"), $"d".as("db")), "b")
      .select(
        when(lower, $"a").otherwise($"b").as("u"),
        when(lower, $"b").otherwise($"a").as("v"),
        when(lower, $"db").otherwise($"da").as("dv"))
    // Adjacency-intersection close (GraphX's strategy): ship each
    // endpoint's OUT-neighbor list to the edge and intersect in a
    // codegen'd array op. An explicit wedge enumeration would push
    // O(Σ out-deg²) rows (83M at sf0.1) through a shuffle only to
    // discard 98% at the closing join; here the shuffles carry |E|
    // rows (two adjacency joins) and the wedge work happens in-core
    // inside array_intersect. Out-lists are the ones bounded by the
    // orientation theorem (≤ O(√|E|) per node — in-lists have no such
    // bound, so the intersection MUST run on out-neighbors). The
    // shuffle_hash hints matter: sort-merge would sort 1.2M rows
    // DRAGGING ~500-byte adjacency arrays through the sorter
    // (measured 10.5 s SMJ vs 7.6 s SHJ vs 8.9 s for the wedge-join
    // form, sf0.1 same host).
    val adj = orient.groupBy($"u").agg(collect_list($"v").as("nbrs"))
    val tri = orient.as("e")
      .join(adj.select($"u".as("ju"), $"nbrs".as("nu")).hint("shuffle_hash"),
        $"e.u" === $"ju")
      .join(adj.select($"u".as("jv"), $"nbrs".as("nv")).hint("shuffle_hash"),
        $"e.v" === $"jv")
      .select($"e.u".as("tu"), $"e.v".as("tv"),
        explode(array_intersect($"nu", $"nv")).as("tw"))
    tri.select(explode(array($"tu", $"tv", $"tw")).as("n"))
  }

  val q44TrianglesSql: String =
    s"""WITH $basketPlSql,
      |$basketTruncSql,
      |ed AS (
      |  SELECT DISTINCT x.p AS a, y.p AS b
      |  FROM pl x JOIN pl y ON x.o = y.o AND x.p < y.p),
      |und AS (SELECT a AS u, b AS v FROM ed UNION ALL SELECT b AS u, a AS v FROM ed),
      |deg AS (SELECT u AS n, COUNT(*) AS d FROM und GROUP BY 1),
      |orient AS (
      |  SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
      |         CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v,
      |         CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS dv
      |  FROM ed JOIN deg da ON da.n = ed.a JOIN deg db ON db.n = ed.b),
      |tri AS (
      |  SELECT o1.u AS tu, o1.v AS tv, o2.v AS tw
      |  FROM orient o1
      |  JOIN orient o2 ON o1.u = o2.u AND ((o1.dv, o1.v) < (o2.dv, o2.v))
      |  JOIN orient o3 ON o3.u = o1.v AND o3.v = o2.v),
      |pn AS (
      |  SELECT n, COUNT(*) AS n_triangles FROM (
      |    SELECT tu AS n FROM tri
      |    UNION ALL SELECT tv FROM tri
      |    UNION ALL SELECT tw FROM tri)
      |  GROUP BY n)
      |SELECT pn.n AS p_partkey, deg.d AS deg, pn.n_triangles,
      |  CASE WHEN deg.d >= 2
      |       THEN (2000 * pn.n_triangles) // (deg.d * (deg.d - 1))
      |       ELSE CAST(0 AS BIGINT) END AS cc_permille,
      |  trunc.truncated_baskets
      |FROM pn JOIN deg ON deg.n = pn.n
      |CROSS JOIN trunc
      |ORDER BY n_triangles DESC, p_partkey
      |LIMIT 25""".stripMargin

  // --------------------------------------------------------------- q45
  /** Pairwise set-similarity between segments via KMV bottom-k
    * sketches — "how much do the customer bases of two order
    * priorities overlap?" answered WITHOUT ever joining the two
    * (corpus-sized) sets against each other. Per segment the standing
    * artifact is q33/q42's k=64 minimum distinct hashes; a pair's
    * Jaccard estimate is then pure sketch arithmetic (Bar-Yossef et
    * al. / Beyer et al.): take the union sketch (bottom-k of the two
    * sketches' union — exact bottom-k of the true union by the KMV
    * theorem) and count how many of its members appear in BOTH input
    * sketches; that count over k estimates J(A,B). Every step is
    * deterministic integer/hash arithmetic, so the estimate — unlike
    * HLL intersections — is cross-engine exact and oracle-checkable.
    *
    * Scale shape: each segment's sketch is built by the BOUNDED
    * mergeable aggregator (q42's discipline — map-side partials, ≤ k
    * longs per group on the shuffle, zero WindowExec); the pairing
    * stage is a self-join of a |segments|-sized frame of ≤ k-long
    * arrays — metadata-sized at any corpus scale, which is exactly
    * why production overlap matrices (audience overlap, source
    * contamination grids) are sketch-based. */
  def q45KmvJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    q45KmvJaccardFrom(t(spark, dir, "orders")
      .select($"o_orderpriority".as("g"),
        md5Long($"o_custkey".cast("string")).as("h")), k = 64)
  }

  /** [[q45KmvJaccard]] over an arbitrary (g, h) element frame —
    * planted-set specs enter here with raw longs as "hashes". */
  private[operators] def q45KmvJaccardFrom(gh: DataFrame, k: Int): DataFrame = {
    val spark = gh.sparkSession
    import spark.implicits._
    val kmvSet = new graft.functions.KmvSetAgg(k).toColumn
    val sk = gh
      .distinct() // dedup in codegen'd hash-agg land first (q33's note)
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(kmvSet.name("hs"))
      .toDF("g", "hs")
    sk.as("a").join(sk.as("b"), $"a.g" < $"b.g")
      .select($"a.g".as("prio_a"), $"b.g".as("prio_b"),
        slice(array_sort(array_union($"a.hs", $"b.hs")), 1, k).as("hu"),
        $"a.hs".as("ha"), $"b.hs".as("hb"))
      .select($"prio_a", $"prio_b",
        size($"hu").cast("int").as("n_union_kept"),
        size(array_intersect(array_intersect($"hu", $"ha"), $"hb"))
          .cast("int").as("n_common"))
      .withColumn("jaccard_permille",
        expr("CAST((1000 * n_common) div n_union_kept AS BIGINT)"))
      .orderBy($"prio_a", $"prio_b")
  }

  val q45KmvJaccardSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val h = sqlMd5Long("CAST(o_custkey AS VARCHAR)")
    s"""WITH hs AS (
       |  SELECT DISTINCT o_orderpriority AS g, $h AS h FROM orders),
       |rk AS (
       |  SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
       |  FROM hs),
       |sk AS (
       |  SELECT g, list(h ORDER BY h) AS hs FROM rk WHERE rn <= 64 GROUP BY g),
       |pr AS (
       |  SELECT a.g AS prio_a, b.g AS prio_b,
       |    list_slice(list_sort(list_distinct(a.hs || b.hs)), 1, 64) AS hu,
       |    a.hs AS ha, b.hs AS hb
       |  FROM sk a JOIN sk b ON a.g < b.g)
       |SELECT prio_a, prio_b,
       |  CAST(len(hu) AS INT) AS n_union_kept,
       |  CAST(len(list_intersect(list_intersect(hu, ha), hb)) AS INT) AS n_common,
       |  CAST((1000 * len(list_intersect(list_intersect(hu, ha), hb))) // len(hu) AS BIGINT)
       |    AS jaccard_permille
       |FROM pr
       |ORDER BY prio_a, prio_b""".stripMargin
  }

  // --------------------------------------------------------------- q46
  /** Association-rule mining over market baskets — directional rules
    * `ant → cons` scored by support / confidence / lift, the Apriori
    * output every recommender and assortment planner starts from
    * (here at pair length, the level that dominates real basket
    * workloads). All three metrics are exact integer arithmetic:
    * support and confidence in ppm, lift in micro (1e6 =
    * independence), with lift computed as
    * `(conf_ppm · N) div n_cons` — the nested-floor order matters
    * because it keeps every intermediate ≤ N·10⁶ and therefore inside
    * BIGINT at ANY corpus size, where the textbook
    * `n_ab·N·10⁶ / (n_a·n_b)` overflows 64 bits past ~10¹³ baskets.
    *
    * Scale shape: q44's per-order pair generation (fan-out bounded by
    * basket size, order-sized not corpus-sized); pair counts collapse
    * map-side in the (a,b) hash-agg; the min-support filter (≥2
    * baskets) prunes the singleton tail BEFORE the metric joins, which
    * shuffle only (pair, count) rows against the |parts|-sized
    * per-item counts; N rides in as a broadcast 1-row frame. Top-25 is
    * a TakeOrdered, no global sort. */
  def q46AssocRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    q46AssocRulesFrom(t(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct())
  }

  /** [[q46AssocRules]] over an arbitrary (o, p) basket frame —
    * planted-basket specs enter here. The cap applies to the ITEM
    * stream (not just the pairs) so support/confidence/lift stay
    * mutually consistent: n_ant/n_cons count exactly the items that
    * were allowed to form pairs. */
  private[operators] def q46AssocRulesFrom(pl: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    val spark = pl.sparkSession
    import spark.implicits._
    // cpl is referenced four times (n_orders, the item counts, and both
    // sides of the pair self-join); each uncheckpointed reference
    // re-ran the basket-cap window — scan + per-basket sort — so the
    // plan carried 4 windows over the corpus for one logical stream
    // (r16-opt plan audit: 30 exchanges / 8 scans). A lazy checkpoint
    // computes the capped stream once; at 100 TB that is one
    // scan+window instead of four.
    val cpl = cappedBasketItems(pl, cap).select($"o", $"p")
      .localCheckpoint(eager = false)
    val nOrders = cpl.agg(count_distinct($"o").as("n_orders"))
    val cnt = cpl.groupBy($"p").agg(count(lit(1)).as("n_p"))
    val pairs = cpl.as("x").join(cpl.as("y"), $"x.o" === $"y.o" && $"x.p" < $"y.p")
      .groupBy($"x.p".as("a"), $"y.p".as("b"))
      .agg(count(lit(1)).as("n_both"))
      .filter($"n_both" >= 2)
    val rules = pairs.select($"a".as("ant"), $"b".as("cons"), $"n_both")
      .unionByName(pairs.select($"b".as("ant"), $"a".as("cons"), $"n_both"))
    rules
      .join(cnt.select($"p".as("ant"), $"n_p".as("n_ant")), "ant")
      .join(cnt.select($"p".as("cons"), $"n_p".as("n_cons")), "cons")
      .crossJoin(broadcast(nOrders))
      .select($"ant", $"cons", $"n_ant", $"n_cons", $"n_both",
        expr("(n_both * 1000000) div n_orders").as("support_ppm"),
        expr("(n_both * 1000000) div n_ant").as("conf_ppm"),
        expr("((n_both * 1000000) div n_ant) * n_orders div n_cons")
          .as("lift_micro"))
      .orderBy($"lift_micro".desc, $"ant", $"cons").limit(25)
      .transform(withOneRow(_, truncatedBaskets(pl, cap)))
      .orderBy($"lift_micro".desc, $"ant", $"cons")
  }

  val q46AssocRulesSql: String =
    s"""WITH $basketPlSql,
      |$basketTruncSql,
      |n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM pl),
      |cnt AS (SELECT p, COUNT(*) AS n_p FROM pl GROUP BY p),
      |pairs AS (
      |  SELECT x.p AS a, y.p AS b, COUNT(*) AS n_both
      |  FROM pl x JOIN pl y ON x.o = y.o AND x.p < y.p
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2),
      |rules AS (
      |  SELECT a AS ant, b AS cons, n_both FROM pairs
      |  UNION ALL
      |  SELECT b AS ant, a AS cons, n_both FROM pairs)
      |SELECT r.ant, r.cons, ca.n_p AS n_ant, cc.n_p AS n_cons, r.n_both,
      |  (r.n_both * 1000000) // n.n_orders AS support_ppm,
      |  (r.n_both * 1000000) // ca.n_p AS conf_ppm,
      |  ((r.n_both * 1000000) // ca.n_p) * n.n_orders // cc.n_p AS lift_micro,
      |  trunc.truncated_baskets
      |FROM rules r
      |JOIN cnt ca ON ca.p = r.ant
      |JOIN cnt cc ON cc.p = r.cons
      |CROSS JOIN n
      |CROSS JOIN trunc
      |ORDER BY lift_micro DESC, ant, cons
      |LIMIT 25""".stripMargin

  // --------------------------------------------------------------- q47
  /** k-core decomposition (iterative peel) of the part co-purchase
    * graph — repeatedly remove nodes whose degree in the SURVIVING
    * subgraph falls below k until the set is stable. The k-core is the
    * standard "dense backbone" primitive (community seeding, spam-ring
    * detection, graph sparsification), and the third iterative graph
    * workload here after q37/q39's rank supersteps — different in that
    * the STATE is a shrinking vertex set, not a value vector.
    *
    * k is corpus-derived (⌊0.7·average-degree⌋, p11's
    * derive-from-the-data discipline — a fixed k is trivially empty or
    * trivially full as the corpus grows; the oracle computes the same
    * integer formula).
    *
    * The peel is DECREMENTAL, the production form: instead of
    * recomputing induced degrees each round (two corpus-sized
    * semi-joins per round), each round joins the edges against the
    * JUST-DIED node set and subtracts the lost degree — per-round cost
    * is proportional to edges incident to newly-dead nodes, a frame
    * that shrinks to nothing as the peel converges. The symmetric edge
    * list is a BUCKETED standing table (q37's lesson), so the
    * dead-side semi-join plans zero exchange on the edges; only the
    * (v, lost) loss counts — bounded by the dying fringe — shuffle.
    * Supersteps run [[Q47StepsPerAction]]-per-action with lazily
    * checkpointed vertex frames and ONE change-count collect per block
    * (q39's loop discipline, d8's storage release).
    *
    * The cap counts peel steps, including the zero-kill step that
    * confirms the fix-point. Over the benchmark generator's sf0.01
    * tables (`perfbench/gen.py`, seeds 901–940) the peel reached its
    * fix-point in 5–14 steps on 39 seeds and in 20 on one, which the
    * old cap of 16 aborted; 32 leaves headroom. [[q47KCoreSql]] unrolls
    * to the same cap. */
  private[operators] val Q47MaxRounds = 32
  private[operators] val Q47StepsPerAction = 4
  // The superstep loop advances in whole blocks and may accept a
  // fix-point anywhere inside the last one, while the driver arm stops
  // hard at Q47MaxRounds: the two arms share a round cap only when the
  // block size divides it.
  require(Q47MaxRounds % Q47StepsPerAction == 0,
    s"Q47MaxRounds ($Q47MaxRounds) must be a multiple of " +
      s"Q47StepsPerAction ($Q47StepsPerAction)")

  /** q47's standing symmetric co-purchase edges, bucketed by u. The
    * basket-cap truncation count is persisted ALONGSIDE the edges
    * (same build, same corpus scan) so queries that start from the
    * standing graph can surface it without re-scanning lineitem —
    * see [[q47TruncCount]]. */
  private[operators] def q47Edges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t47 = graft.sources.LayoutOps.stateTable("graft_state_q47_pedges_v2", dir)
    val tTr = graft.sources.LayoutOps.stateTable("graft_state_q47_trunc_v2", dir)
    if (!spark.catalog.tableExists(t47) || !spark.catalog.tableExists(tTr)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, tTr)
      val pl = t(spark, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      val ed = basketPairs(pl)
        .select($"a".as("u"), $"b".as("v")).distinct()
      graft.sources.LayoutOps.writeBucketed(
        ed.unionByName(ed.select($"v".as("u"), $"u".as("v"))), t47, "u",
        graft.sources.LayoutOps.stateBuckets(spark))
      truncatedBaskets(pl)
        .write.mode("overwrite").format("parquet").saveAsTable(tTr)
    }
    spark.table(t47)
  }

  /** The persisted 1-row truncation count paired with [[q47Edges]]
    * (which guarantees it exists). */
  private[operators] def q47TruncCount(spark: SparkSession,
                                       dir: String): DataFrame =
    spark.table(graft.sources.LayoutOps.stateTable(
      "graft_state_q47_trunc_v2", dir))

  /** One decremental peel round: drop `alive` rows below k, subtract
    * the degree they take with them from their surviving neighbors.
    * `alive` carries (n, d). Idempotent once no row is below k. */
  private[operators] def q47Peel(edges: DataFrame, alive: DataFrame,
                                 k: Long): DataFrame = {
    import edges.sparkSession.implicits._
    val dead = alive.filter($"d" < k).select($"n".as("du"))
    val loss = edges
      .join(dead.hint("shuffle_hash"), edges("u") === $"du", "left_semi")
      .groupBy($"v").agg(count(lit(1)).as("lost"))
    alive.filter($"d" >= k)
      .join(loss, $"n" === $"v", "left")
      .select($"n", ($"d" - coalesce($"lost", lit(0L))).as("d"))
  }

  def q47KCore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    q47KCoreOf(q47Edges(spark, dir), None, DriverPeelBound)
      .transform(withOneRow(_, q47TruncCount(spark, dir)))
      .orderBy($"p_partkey")
  }

  /** q47's k from the symmetric edge rows and their distinct first
    * endpoints: 7/10 of the mean degree, floored. */
  private def q47K(edgeRows: Long, nodes: Long): Long =
    (7L * edgeRows) / (10L * nodes)

  /** Symmetric-edge-row bound under which the whole peel runs as a
    * driver-side simulation over ONE bounded collect —
    * [[DedupOps.componentsFrom]]'s DriverCcBound discipline applied to
    * the peel loop. The rationale is identical: every per-round cost of
    * the superstep loop (plan+codegen compile, 2 joins + 1 aggregate of
    * scheduling, one collect per 4-step block) is pure overhead when
    * the graph fits one bounded collect, and the simulation applies the
    * EXACT same simultaneous peel step, so the two arms are
    * output-indistinguishable (spec-forced, including the `rounds`
    * column). Honest heap budget at the bound: 4M specialized
    * (Long, Long) tuples ≈ 128 MB + two 4M long/int arrays (CSR
    * adjacency) ≈ 44 MB + |V|-sized degree/alive arrays — transient,
    * released when the small result frame's localCheckpoint
    * distributes it; a crawl-scale co-purchase graph exceeds the bound
    * and keeps the superstep loop, which is the right shape there. */
  private val DriverPeelBound = 4000000

  /** [[q47KCore]]'s peel loop over an arbitrary symmetric edge frame
    * `(u, v)` and explicit k — planted-graph specs enter here. Throws
    * (componentsFrom's non-convergence discipline) if the peel does not
    * reach its fix-point within [[Q47MaxRounds]]: silently returning
    * the partially-peeled set labeled as a k-core would be a semantic
    * miss the SQL oracle — which mirrors the same round cap — could
    * never catch.
    *
    * `driverBound` is parameterized ONLY so the spec can force the
    * superstep arm on a planted graph (componentsFrom's discipline). */
  private[operators] def q47KCoreFrom(edges: DataFrame, k: Long,
      driverBound: Int = DriverPeelBound): DataFrame =
    q47KCoreOf(edges, Some(k), driverBound)

  /** [[q47KCoreFrom]] with k either fixed or, when `fixedK` is None,
    * derived by [[q47K]] from the graph itself: from the probe on the
    * driver arm, which holds every edge row, and from one aggregate over
    * the edges on the superstep arm. */
  private def q47KCoreOf(edges: DataFrame, fixedK: Option[Long],
      driverBound: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Size probe + small-graph fast path in one pass (componentsFrom's
    // shape): limit() bounds the driver memory, not the upstream work;
    // a graph over the bound pays one extra |bound|-row pass, amortized
    // against ~rounds × 3 jobs of superstep scheduling at that scale.
    val ec = edges.columns
    val probe = edges.limit(driverBound + 1)
      .select(col(ec(0)).cast("long"), col(ec(1)).cast("long"))
      .as[(Long, Long)].collect()
    if (probe.length <= driverBound) return driverKCore(spark, probe, fixedK)
    val k = fixedK.getOrElse {
      val r = edges.agg(count(lit(1)), count_distinct($"u")).head()
      q47K(r.getLong(0), r.getLong(1))
    }
    var alive = edges.groupBy($"u").agg(count(lit(1)).as("d"))
      .select($"u".as("n"), $"d")
      .localCheckpoint(eager = false)
    var rounds = 0
    var converged = false
    try {
      while (!converged && rounds < Q47MaxRounds) {
        val steps = Iterator.iterate(alive)(a =>
            q47Peel(edges, a, k).localCheckpoint(eager = false))
          .slice(1, 1 + Q47StepsPerAction).toSeq
        // per-step change = |prev| - |next| = nodes that step killed;
        // zero = fix-point. Touching BOTH frames matters: it is what
        // materializes every lazy checkpoint in the block — including
        // the carried last step — before the init frames are released
        // (a prv-only count left steps.last unmaterialized and its
        // released parent's blocks unreachable: CHECKPOINT_RDD_BLOCK_
        // ID_NOT_FOUND, caught by the sf0.001 gate).
        val deltas = steps.zip(alive +: steps.init).zipWithIndex.map {
          case ((nxt, prv), i) =>
            prv.agg(count(lit(1)).as("a"))
              .crossJoin(nxt.agg(count(lit(1)).as("b")))
              .select(lit(i + 1).as("step"), ($"a" - $"b").as("c"))
        }
        val counts = try {
          deltas.reduce(_ unionByName _).collect()
            .sortBy(_.getInt(0)).map(_.getLong(1))
        } catch {
          case t: Throwable =>
            steps.foreach(DedupOps.unpersistCheckpointed); throw t
        }
        val firstZero = counts.indexWhere(_ == 0L)
        converged = firstZero >= 0
        rounds += (if (converged) firstZero + 1 else Q47StepsPerAction)
        (alive +: steps.init).foreach(DedupOps.unpersistCheckpointed)
        alive = steps.last
      }
      if (!converged)
        throw new IllegalStateException(
          s"q47KCore: decremental peel did not converge in $Q47MaxRounds rounds")
      alive
        .select($"n".as("p_partkey"), $"d".as("core_deg"),
          lit(k).as("k"), lit(rounds).cast("int").as("rounds"))
        .orderBy($"p_partkey")
        .localCheckpoint() // eager: backs the result past the finally
    } finally {
      DedupOps.unpersistCheckpointed(alive)
    }
  }

  /** The small-graph arm of [[q47KCoreFrom]]: the SAME simultaneous
    * decremental peel ([[q47Peel]]'s step, exactly), simulated over the
    * collected symmetric edge rows on primitive arrays
    * (componentsFrom's driverComponents discipline). Step semantics are
    * replicated bit-for-bit so the arms are output-indistinguishable:
    * nodes are the distinct FIRST endpoints with degree = their edge
    * ROW count (duplicates count, as in the loop's groupBy count); one
    * step marks every alive node with d < k dead SIMULTANEOUSLY, then
    * survivors (old-d ≥ k) lose one degree per edge row from a dead
    * node; a step that kills nobody is the zero-delta step that the
    * loop's convergence count INCLUDES in `rounds`; a peel still
    * killing at [[Q47MaxRounds]] steps throws the loop's exact
    * non-convergence error. */
  private def driverKCore(spark: SparkSession, rows: Array[(Long, Long)],
      fixedK: Option[Long]): DataFrame = {
    import spark.implicits._
    // CSR adjacency over the rows, grouped by first endpoint
    java.util.Arrays.sort(rows, Ordering.by((t: (Long, Long)) => t._1))
    val m = rows.length
    // dense node index = distinct sorted srcs
    val ids0 = new Array[Long](m)
    var n = 0
    var i = 0
    while (i < m) {
      val u = rows(i)._1
      if (n == 0 || ids0(n - 1) != u) { ids0(n) = u; n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(ids0, n)
    val k = fixedK.getOrElse(q47K(m, n))
    val start = new Array[Int](n + 1) // CSR offsets into rows
    val deg = new Array[Long](n)
    i = 0
    var ni = 0
    while (i < m) {
      while (ids(ni) != rows(i)._1) { ni += 1; start(ni) = i }
      deg(ni) += 1
      i += 1
    }
    var fill = ni + 1
    while (fill <= n) { start(fill) = m; fill += 1 }
    val aliveArr = Array.fill(n)(true)
    var rounds = 0
    var converged = false
    val dead = new Array[Int](n)
    while (!converged && rounds < Q47MaxRounds) {
      var nd = 0
      var j = 0
      while (j < n) {
        if (aliveArr(j) && deg(j) < k) { dead(nd) = j; nd += 1 }
        j += 1
      }
      rounds += 1 // the zero-kill step counts, exactly as the loop's
                  // per-step delta count includes the first zero delta
      if (nd == 0) converged = true
      else {
        // mark first (simultaneous step: survivor test uses OLD d)
        var di = 0
        while (di < nd) { aliveArr(dead(di)) = false; di += 1 }
        di = 0
        while (di < nd) {
          val u = dead(di)
          var e = start(u)
          val end = start(u + 1)
          while (e < end) {
            val v = rows(e)._2
            val vi = java.util.Arrays.binarySearch(ids, v)
            if (vi >= 0 && aliveArr(vi)) deg(vi) -= 1
            e += 1
          }
          di += 1
        }
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"q47KCore: decremental peel did not converge in $Q47MaxRounds rounds")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    i = 0
    while (i < n) {
      if (aliveArr(i)) out += ((ids(i), deg(i), k, rounds))
      i += 1
    }
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"q47KCore: driver peel over $m edge rows, $n nodes, $rounds rounds")
    // ids ascend, so the rows are already in p_partkey order
    out.toSeq.toDF("p_partkey", "core_deg", "k", "rounds")
      .localCheckpoint() // same eager-checkpointed contract as the loop
  }

  val q47KCoreSql: String = {
    val M = Q47MaxRounds
    val steps = (1 to M).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT e.u AS n, COUNT(*) AS d
         |  FROM edges e
         |  JOIN s${r - 1} x ON e.u = x.n
         |  JOIN s${r - 1} y ON e.v = y.n
         |  GROUP BY e.u
         |  HAVING COUNT(*) >= (SELECT k FROM kk))""".stripMargin
    }.mkString(",\n")
    val chgs = (1 to M).map { r =>
      s"""chg$r AS (
         |  SELECT $r AS r,
         |    (SELECT COUNT(*) FROM s${r - 1}) - (SELECT COUNT(*) FROM s$r) AS c)"""
        .stripMargin
    }.mkString(",\n")
    val chgUnion = (1 to M).map(r => s"SELECT r, c FROM chg$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $basketPlSql,
       |$basketTruncSql,
       |ed AS (
       |  SELECT DISTINCT x.p AS u, y.p AS v
       |  FROM pl x JOIN pl y ON x.o = y.o AND x.p < y.p),
       |edges AS MATERIALIZED (
       |  SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed),
       |kk AS (
       |  SELECT (7 * (SELECT COUNT(*) FROM edges))
       |         // (10 * (SELECT COUNT(DISTINCT u) FROM edges)) AS k),
       |s0 AS MATERIALIZED (
       |  SELECT u AS n, COUNT(*) AS d FROM edges GROUP BY u),
       |$steps,
       |$chgs,
       |fixp AS (
       |  SELECT COALESCE(MIN(r), $M) AS rounds
       |  FROM ($chgUnion) q WHERE c = 0)
       |SELECT n AS p_partkey, d AS core_deg,
       |  CAST((SELECT k FROM kk) AS BIGINT) AS k,
       |  CAST((SELECT rounds FROM fixp) AS INT) AS rounds,
       |  trunc.truncated_baskets
       |FROM s$M
       |CROSS JOIN trunc
       |ORDER BY p_partkey""".stripMargin
  }

  // --------------------------------------------------------------- q48
  /** Day-2 TRIANGLE maintenance — the graph member of the day-2 family
    * (q40 dimensions, q41 aggregates, q42 sketches, s11 indexes,
    * d16/d17 dedup state): per-node triangle counts persist as
    * standing state, and today's orders fold in by counting ONLY the
    * triangles that touch a new edge — never re-enumerating the graph.
    * Output is q44's exact top-25 frame over the full corpus, so the
    * oracle IS q44's from-scratch SQL (q40's maintained-equals-rebuilt
    * discipline).
    *
    * Correctness rests on two facts: (1) triangle counts are
    * orientation-independent (orientation is an enumeration trick, so
    * day-1 counts and day-2 deltas may each pick their own), and
    * (2) a triangle of the new graph either has all-old edges (already
    * in the standing counts — old edges between old nodes are
    * unchanged by edge ARRIVALS) or touches ≥1 new edge (found by the
    * delta pass). The delta pass enumerates per NEW edge, so a
    * triangle with 2–3 new edges is found multiple times — the
    * sorted-triple `distinct` collapses it before corners explode
    * (the delta triangle set is |ΔE|-proportional, so the distinct is
    * a small shuffle).
    *
    * Scale shape: the delta probe fans out from each new edge's
    * SMALLER-degree endpoint (min-deg probing, the standard trick —
    * a hub's new edge probes its cheap end, so per-edge work is
    * bounded by min-degree, not hub degree; and unlike an
    * array-intersection close, the row form never ships a hub's full
    * adjacency anywhere); the close check is an equi-join against the
    * canonical (low, high) edge set. Day-2 cost is O(|ΔE| · min-deg)
    * + one |V|-sized count merge — the from-scratch q44 is
    * O(|E|^1.5) every day.
    *
    * Honesty note on the measured numbers: the synthetic coin makes
    * the "daily" batch 20% of orders → ΔE ≈ 12% of E on an unusually
    * dense graph (avg degree 120), and there day-2 measures
    * 9.2–9.5 s solo vs ~2.3 s from-scratch (q44) at sf0.1 with the
    * capped builder and truncation surfacing in both paths
    * (pre-cap round-9 numbers were 6.6 vs 3.1) — maintenance LOSES
    * when the batch is that large a slice, and the |ΔE|·min-deg probe
    * is the measured dominant term. The operator's regime is the
    * production one (daily arrivals ≪ the standing graph, probe work
    * ∝ |ΔE|·min-deg vs |E|^1.5 rebuilds); the oracle equality is
    * what this query certifies, the crossover is the user's dial. */
  def q48TrianglesDay2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val triT = graft.sources.LayoutOps.stateTable("graft_state_q48_tri_v2", dir)
    val edT = graft.sources.LayoutOps.stateTable("graft_state_q48_edges_v2", dir)
    val trT = graft.sources.LayoutOps.stateTable("graft_state_q48_trunc_v2", dir)
    val degT = graft.sources.LayoutOps.stateTable("graft_state_q48_deg_v2", dir)
    val pl = t(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val isNew = pmod(md5Long(concat($"o".cast("string"), lit(":q48"))),
      lit(5L)) === 0L
    def edgesOf(m: DataFrame): DataFrame = basketPairs(m).distinct()
    // ---- day 1 (first call only): full count over the OLD graph,
    // persisted with the old edge set — including the old baskets'
    // truncation count AND the per-node degree vector, so day 2
    // surfaces corpus-wide values by adding BATCH-sized aggregates
    // instead of re-counting the corpus (baskets are disjoint across
    // the old/new split; old/delta edge sets are disjoint by the
    // anti-join below, so degrees fold by ADDITION exactly like the
    // triangle counts).
    if (!spark.catalog.tableExists(triT) || !spark.catalog.tableExists(trT)
        || !spark.catalog.tableExists(degT)) {
      Seq(triT, edT, trT, degT)
        .foreach(graft.sources.LayoutOps.clearStaleLocation(spark, _))
      q48InitState(edgesOf(pl.filter(!isNew)), edT, triT)
      truncatedBaskets(pl.filter(!isNew))
        .write.mode("overwrite").format("parquet").saveAsTable(trT)
      val edOldD = spark.table(edT)
      edOldD.unionByName(edOldD.select($"b".as("a"), $"a".as("b")))
        .groupBy($"a".as("n")).agg(count(lit(1)).as("d"))
        .write.mode("overwrite").format("parquet").saveAsTable(degT)
    }
    // ---- day 2 (every call): delta triangles touching new edges.
    // Every co-purchase pair lives inside ONE order, so pairs from old
    // orders are already in the standing edge set and
    // ΔE = pairs(new orders) \ E_old — the day-2 pass generates pairs
    // for the BATCH only and never re-derives the corpus pair set
    // (first cut did; 11.4 → 6.7 s at sf0.1). State stays day-1
    // (q42's idempotent-read discipline: the delta never persists).
    val edOld = spark.table(edT)
    // delta is referenced five times downstream (dd, the probe, and
    // edNew's three uses inside the triangle close); without a
    // materialization Spark re-evaluates the whole batch derivation —
    // basket-pair window + anti-join — once per reference (the
    // r16-opt plan audit counted 39 parquet scans / 90 exchanges in
    // ONE day-2 plan). A lazy checkpoint computes it once and the
    // other references read the blocks: at 100 TB that is one batch
    // pass instead of five. Lazy, not eager: an eager checkpoint
    // serializes the materialization into its own blocking jobs and
    // measured 22.9 s vs 9.3-9.6 s for lazy/none at sf0.1 (the
    // redundant subtrees ran in PARALLEL on idle cores, so truncating
    // them buys little locally — the win is the scan count at scale).
    // deg stays un-checkpointed for the same reason: its three
    // re-evaluations are |V|-sized aggregates off the standing degree
    // table plus the (now checkpointed) delta, and checkpointing it
    // measured 11.5 s (stats-less RDDs also lose AQE broadcasts).
    val delta = edgesOf(pl.filter(isNew))
      .join(edOld, Seq("a", "b"), "left_anti")
      .localCheckpoint(eager = false)
    // degrees of the new graph: standing |V|-sized vector + the
    // delta's batch-sized contributions. The second cut re-aggregated
    // 2·|E| undirected edge rows per call for a vector that changes
    // only where delta edges land. Honest A/B at sf0.1: 9.9 → 9.2–9.5 s
    // solo (within the noise band) — at THIS sf the |ΔE|·min-deg probe
    // dominates, not the degree re-agg — but the fold is kept because
    // it is the right asymptotic shape: at 100× the 2·|E| shuffle is a
    // real per-call cost while the standing vector merge stays |V|+batch.
    val dd = delta.select($"a".as("n")).unionByName(delta.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val deg = spark.table(degT).select($"n", $"d").unionByName(dd)
      .groupBy($"n").agg(sum($"d").as("d"))
    val deltaTri = q48DeltaTrianglesWithDeg(edOld, delta, deg)
    spark.table(triT)
      .join(deltaTri, Seq("n"), "full_outer")
      .select($"n",
        (coalesce($"tri", lit(0L)) + coalesce($"dtri", lit(0L))).as("n_triangles"))
      .filter($"n_triangles" > 0)
      .join(deg, Seq("n"))
      .select($"n".as("p_partkey"), $"d".as("deg"), $"n_triangles")
      .withColumn("cc_permille",
        expr("CASE WHEN deg >= 2 THEN (2000 * n_triangles) div (deg * (deg - 1)) ELSE CAST(0 AS BIGINT) END"))
      .orderBy($"n_triangles".desc, $"p_partkey").limit(25)
      .transform(withOneRow(_,
        withOneRow(
          spark.table(trT).select($"truncated_baskets".as("__told")),
          truncatedBaskets(pl.filter(isNew))
            .select($"truncated_baskets".as("__tnew")))
          .select(($"__told" + $"__tnew").as("truncated_baskets"))))
      .orderBy($"n_triangles".desc, $"p_partkey")
  }

  /** Day-1 of the triangle standing state: persist the bucketed edge
    * set and the per-node triangle counts (shared by batch q48 and the
    * streaming dual [[graft.streaming.StreamOps.streamingTriangles]]). */
  private[graft] def q48InitState(ed: DataFrame, edT: String,
                                  triT: String): Unit = {
    val spark = ed.sparkSession
    import spark.implicits._
    graft.sources.LayoutOps.writeBucketed(ed, edT, "a",
      graft.sources.LayoutOps.stateBuckets(spark))
    val und = ed.unionByName(ed.select($"b".as("a"), $"a".as("b")))
    q44TrianglesCorners(ed,
        und.groupBy($"a".as("n")).agg(count(lit(1)).as("d")))
      .groupBy($"n").agg(count(lit(1)).as("tri"))
      .write.mode("overwrite").format("parquet").saveAsTable(triT)
  }

  /** Per-node counts of the triangles of E_old ∪ delta that touch at
    * least one delta edge — q48's maintenance core, shared by the
    * batch day-2 query and the streaming dual. `delta` must be
    * canonical (a < b), deduplicated, and disjoint from `edOld`;
    * probing fans out from each delta edge's smaller-degree endpoint
    * so per-edge work is bounded by min-degree, and a triangle with
    * 2-3 delta edges collapses in the sorted-triple distinct. */
  private[graft] def q48DeltaTriangles(edOld: DataFrame,
                                       delta: DataFrame): DataFrame = {
    val spark = edOld.sparkSession
    import spark.implicits._
    val edNew = edOld.unionByName(delta)
    val und = edNew.unionByName(edNew.select($"b".as("a"), $"a".as("b")))
    val deg = und.groupBy($"a".as("n")).agg(count(lit(1)).as("d"))
    q48DeltaTrianglesWithDeg(edOld, delta, deg)
  }

  /** Canonical-edge-row bound (old + delta together) under which the
    * delta-triangle close runs as a driver-side probe over ONE bounded
    * collect per input — [[DedupOps.componentsFrom]]/[[q47KCoreFrom]]'s
    * driver-arm discipline applied to q48's maintenance core. The
    * distributed close is 2 shuffle-hash joins + a distinct + an
    * aggregate of scheduling per call; under the bound the identical
    * min-deg probe (orient at the smaller-degree endpoint, walk its
    * adjacency, close against the canonical edge set, dedupe sorted
    * triples) runs on primitive arrays. Honest heap budget at the
    * bound: 4M packed-long canonical edges ≈ 32 MB + the 8M-entry
    * symmetric CSR ≈ 64 MB + the found-triple buffer — transient,
    * released when the (node, dtri) result frame distributes. Two
    * fallbacks keep the at-scale shape honest: a graph over the bound,
    * or any node id outside [0, 2³¹) (the packing precondition), takes
    * the distributed close. */
  private val DriverTriBound = 4000000

  /** [[q48DeltaTriangles]] with the new graph's degree vector supplied
    * by the caller — batch q48 maintains degrees as standing state and
    * folds the delta in by addition, so recomputing them here from a
    * 2·|E| undirected explode (the no-deg overload's path, kept for the
    * streaming dual) would redo per call what the state already
    * knows.
    *
    * `driverBound` is parameterized ONLY so the spec can force the
    * distributed arm on a planted graph (componentsFrom's discipline).
    * The driver arm ignores the supplied `deg` frame and derives the
    * same integer degree vector from the collected edges — identical
    * by the caller contract (deg IS the new graph's degree vector),
    * spec-asserted against the distributed arm including orientation
    * ties.
    *
    * Not lazy: the two size probes below are Spark jobs that run when
    * this method builds the plan, so EXPLAIN and plan-only callers (and
    * the streaming `store.transact` body) launch them even if the
    * returned frame never executes. */
  private[graft] def q48DeltaTrianglesWithDeg(edOld: DataFrame,
      delta: DataFrame, deg: DataFrame,
      driverBound: Int = DriverTriBound): DataFrame = {
    val spark = edOld.sparkSession
    import spark.implicits._
    // Size probe + small-graph fast path (componentsFrom's shape); the
    // two bounded collects overlap (guide §2.6).
    val (oldRows, deltaRows) = ParActions.both(
      edOld.limit(driverBound + 1)
        .select($"a".cast("long"), $"b".cast("long"))
        .as[(Long, Long)].collect())(
      delta.limit(driverBound + 1)
        .select($"a".cast("long"), $"b".cast("long"))
        .as[(Long, Long)].collect())
    val inIdRange = (t: (Long, Long)) =>
      t._1 >= 0 && t._1 < (1L << 31) && t._2 >= 0 && t._2 < (1L << 31)
    if (oldRows.length + deltaRows.length <= driverBound &&
        oldRows.forall(inIdRange) && deltaRows.forall(inIdRange))
      return driverDeltaTriangles(spark, oldRows, deltaRows)
    val edNew = edOld.unionByName(delta)
    val und = edNew.unionByName(edNew.select($"b".as("a"), $"a".as("b")))
    // probe from the smaller-degree endpoint of each delta edge
    val probed = delta
      .join(deg.select($"n".as("a"), $"d".as("da")), "a")
      .join(deg.select($"n".as("b"), $"d".as("db")), "b")
      .select(
        when($"da" <= $"db", $"a").otherwise($"b").as("lo"),
        when($"da" <= $"db", $"b").otherwise($"a").as("hi"))
    val cand = probed
      .join(und.select($"a".as("lo"), $"b".as("w")).hint("shuffle_hash"), "lo")
      .filter($"w" =!= $"hi")
    val closed = cand.join(
      edNew.select($"a".as("ca"), $"b".as("cb")).hint("shuffle_hash"),
      least($"hi", $"w") === $"ca" && greatest($"hi", $"w") === $"cb")
    closed
      .select(array_sort(array($"lo", $"hi", $"w")).as("t")).distinct()
      .select(explode($"t").as("n"))
      .groupBy($"n").agg(count(lit(1)).as("dtri"))
  }

  /** The small-graph arm of [[q48DeltaTrianglesWithDeg]]: the SAME
    * min-deg probe on primitive arrays. Ids are < 2³¹ (caller-checked),
    * so an edge packs into one long (src<<32 | dst): the symmetric
    * adjacency is one sorted long[] walked as CSR ranges, the canonical
    * edge set one sorted long[] binary-searched per candidate, and the
    * sorted-triple dedup a sort over the found buffer — exactly the
    * distributed close's distinct. Degrees derive from the collected
    * edges (= the caller's deg vector by contract); orientation ties
    * break at the first endpoint like the loop's `da <= db`. */
  private def driverDeltaTriangles(spark: SparkSession,
      oldRows: Array[(Long, Long)],
      deltaRows: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val m = oldRows.length + deltaRows.length
    // symmetric adjacency of the NEW graph, packed + sorted
    val und = new Array[Long](2 * m)
    var i = 0
    def put(a: Long, b: Long): Unit = {
      und(i) = (a << 32) | b; und(i + 1) = (b << 32) | a; i += 2
    }
    oldRows.foreach { case (a, b) => put(a, b) }
    deltaRows.foreach { case (a, b) => put(a, b) }
    java.util.Arrays.sort(und)
    // canonical edge set for the close
    val edSet = new Array[Long](m)
    i = 0
    oldRows.foreach { case (a, b) => edSet(i) = (a << 32) | b; i += 1 }
    deltaRows.foreach { case (a, b) => edSet(i) = (a << 32) | b; i += 1 }
    java.util.Arrays.sort(edSet)
    // The caller contract (canonical a < b, no duplicate, delta disjoint
    // from the old edges) is what makes the counting below exact: the
    // distributed arm's sorted-triple DISTINCT would absorb a repeated
    // edge, this arm would count its triangles twice. Ids are < 2³¹, so
    // the packed order is the (a, b) order and one pass checks it all.
    i = 0
    while (i < m) {
      val e = edSet(i)
      require((e >>> 32) < (e & 0xFFFFFFFFL),
        s"q48: edge (${e >>> 32}, ${e & 0xFFFFFFFFL}) is not canonical (a < b)")
      require(i == 0 || edSet(i - 1) < e,
        s"q48: duplicate edge (${e >>> 32}, ${e & 0xFFFFFFFFL})")
      i += 1
    }
    def degOf(v: Long): Long = {
      // count of und rows with src = v: range [v<<32, v<<32 | max-dst]
      // (the closed upper key cannot overflow for v < 2³¹, unlike
      // (v+1)<<32 at v = 2³¹−1)
      var lo = java.util.Arrays.binarySearch(und, v << 32)
      if (lo < 0) lo = -lo - 1
      var hi = java.util.Arrays.binarySearch(und, (v << 32) | 0xFFFFFFFFL)
      if (hi < 0) hi = -hi - 1 else hi += 1
      (hi - lo).toLong
    }
    // probe: per delta edge, walk the smaller-degree endpoint's
    // adjacency and close against the canonical set
    // The distributed arm dedupes multi-delta-edge triangles with a
    // sorted-triple DISTINCT; here each triangle is counted exactly
    // once INSTEAD — only by its smallest canonical delta side (the
    // other two sides are membership-checked against the delta set) —
    // which enumerates the identical triangle set with no dedup buffer
    // at all (a first cut buffered + distinct'd boxed triples and
    // measured 12.2 s vs the distributed arm's 8.0 at sf0.1; this form
    // plus the parallel probe below measures 5.6 s).
    val deltaSet = new Array[Long](deltaRows.length)
    i = 0
    deltaRows.foreach { case (a, b) => deltaSet(i) = (a << 32) | b; i += 1 }
    java.util.Arrays.sort(deltaSet)
    // dense node index + primitive count vector (ids = distinct srcs)
    val ids0 = new Array[Long](und.length)
    var n = 0
    i = 0
    while (i < und.length) {
      val u = und(i) >>> 32
      if (n == 0 || ids0(n - 1) != u) { ids0(n) = u; n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(ids0, n)
    // The per-candidate work (binary probes over shared read-only
    // arrays) is embarrassingly parallel across delta edges, and a
    // dense day's candidate count is tens of millions (26M at sf0.1) —
    // single-threaded it measured 6.2 s where the distributed close
    // uses every core. Parallel over the same cores local[N] would use;
    // writes are the (rare) found-triangle increments, so an atomic
    // count vector carries negligible contention.
    val counts = new java.util.concurrent.atomic.AtomicLongArray(n)
    val nTri = new java.util.concurrent.atomic.LongAdder
    java.util.stream.IntStream.range(0, deltaRows.length).parallel()
      .forEach { di =>
        val (a, b) = deltaRows(di)
        val e = (a << 32) | b
        val (lo, hi) = if (degOf(a) <= degOf(b)) (a, b) else (b, a)
        var p = java.util.Arrays.binarySearch(und, lo << 32)
        if (p < 0) p = -p - 1
        while (p < und.length && (und(p) >>> 32) == lo) {
          val w = und(p) & 0xFFFFFFFFL
          if (w != hi) {
            val ca = math.min(hi, w); val cb = math.max(hi, w)
            val s3 = (ca << 32) | cb
            if (java.util.Arrays.binarySearch(edSet, s3) >= 0) {
              val la = math.min(lo, w); val lb = math.max(lo, w)
              val s2 = (la << 32) | lb
              val owned =
                (e <= s2 || java.util.Arrays.binarySearch(deltaSet, s2) < 0) &&
                (e <= s3 || java.util.Arrays.binarySearch(deltaSet, s3) < 0)
              if (owned) {
                counts.getAndIncrement(java.util.Arrays.binarySearch(ids, lo))
                counts.getAndIncrement(java.util.Arrays.binarySearch(ids, hi))
                counts.getAndIncrement(java.util.Arrays.binarySearch(ids, w))
                nTri.increment()
              }
            }
          }
          p += 1
        }
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    i = 0
    while (i < n) {
      if (counts.get(i) > 0) out += ((ids(i), counts.get(i)))
      i += 1
    }
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"q48: driver delta-triangle probe over $m edges, " +
        s"${deltaRows.length} delta, ${nTri.sum} triangles")
    out.toSeq.toDF("n", "dtri")
  }

  // --------------------------------------------------------------- q49
  /** Connected components of the co-purchase AFFINITY graph — parts
    * are adjacent when ≥ 2 distinct orders contain both (q46's
    * min-support rule, which prunes the one-off co-occurrence noise
    * that would fuse the catalog into a single giant blob). Components
    * are the "product family" primitive behind catalog clustering,
    * substitution groups and recommendation candidate pools, and the
    * fourth iterative graph workload here (q37/q39 rank, q47 peel,
    * q44/q48 triangles) — its state is a LABEL vector converging by
    * min-propagation, not a numeric vector or a shrinking set.
    *
    * The engine is [[DedupOps.componentsFrom]] — min-label propagation
    * with pointer doubling, shared with d8's duplicate clusters — so
    * convergence takes O(log diameter) rounds, each ONE join + ONE
    * aggregate over the |E|-sized pruned edge frame, never an
    * all-pairs anything. Output is per component: id (the component's
    * minimum part key — the exact label the propagation converges to
    * on both engines), member count, internal edge count; top-50 by
    * size with a total tiebreak.
    *
    * Scale shape: pair support counting collapses map-side in the
    * (a, b) hash-agg (pair fan-out basket-bounded by
    * [[BasketItemCap]]); the ≥2 filter prunes BEFORE the propagation
    * loop, so per-round shuffles carry only the pruned |E|; label
    * state is |V|-sized. At 100× rounds grow with log(diameter) —
    * pointer doubling is what keeps a deep chain from costing
    * diameter-many supersteps. */
  def q49Components(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    q49ComponentsFrom(t(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct())
  }

  /** Support threshold shared by q49/q50 and their oracles: an edge
    * exists when ≥ [[Q49MinSupport]] distinct baskets contain the pair. */
  private[graft] val Q49MinSupport = 2

  /** [[q49Components]] over an arbitrary (o, p) basket frame —
    * planted-graph specs enter here. */
  private[operators] def q49ComponentsFrom(pl: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    val spark = pl.sparkSession
    import spark.implicits._
    val ed = basketPairs(pl, cap)
      .groupBy($"a", $"b").agg(count(lit(1)).as("n"))
      .filter($"n" >= Q49MinSupport)
      .select($"a", $"b")
      .localCheckpoint() // the corpus-sized pair agg feeds BOTH the
                         // propagation loop and the summary — run it once
    try {
      val labels = q50Labels(ed.select($"a".as("i"), $"b".as("j")))
      try
        q49Summary(ed, labels)
          .transform(withOneRow(_, truncatedBaskets(pl, cap)))
          .orderBy($"n_members".desc, $"component_id")
          .localCheckpoint() // eager: backs the result past the finally
      finally DedupOps.unpersistCheckpointed(labels)
    } finally DedupOps.unpersistCheckpointed(ed)
  }

  /** Per-component summary over a canonical (a < b) edge frame and its
    * (id, lbl) component labels — shared by q49 and q50's maintained
    * path, so both describe the same shape and the oracle can certify
    * maintained-equals-derived. */
  private def q49Summary(ed: DataFrame, labels: DataFrame): DataFrame = {
    val spark = ed.sparkSession
    import spark.implicits._
    val mem = labels.groupBy($"lbl").agg(count(lit(1)).as("n_members"))
    val ne = ed.join(labels.select($"id".as("a"), $"lbl"), "a")
      .groupBy($"lbl").agg(count(lit(1)).as("n_edges"))
    mem.join(ne, "lbl")
      .select($"lbl".as("component_id"), $"n_members", $"n_edges")
      .orderBy($"n_members".desc, $"component_id").limit(50)
  }

  val q49ComponentsSql: String =
    s"""WITH RECURSIVE $basketPlSql,
      |$basketTruncSql,
      |ed AS MATERIALIZED (
      |  SELECT x.p AS a, y.p AS b
      |  FROM pl x JOIN pl y ON x.o = y.o AND x.p < y.p
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= $Q49MinSupport),
      |edges AS (SELECT a AS src, b AS dst FROM ed
      |          UNION ALL SELECT b, a FROM ed),
      |reach AS (
      |  SELECT DISTINCT src AS id, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |labels AS MATERIALIZED (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id),
      |mem AS (SELECT lbl, COUNT(*) AS n_members FROM labels GROUP BY 1),
      |ne AS (SELECT l.lbl, COUNT(*) AS n_edges
      |       FROM ed JOIN labels l ON l.id = ed.a GROUP BY 1)
      |SELECT mem.lbl AS component_id, mem.n_members, ne.n_edges,
      |  trunc.truncated_baskets
      |FROM mem JOIN ne ON ne.lbl = mem.lbl
      |CROSS JOIN trunc
      |ORDER BY n_members DESC, component_id
      |LIMIT 50""".stripMargin

  // --------------------------------------------------------------- q50
  /** Incremental connected-component maintenance — q49's affinity
    * components kept fresh as new baskets arrive WITHOUT re-running
    * label propagation over the standing graph. Day 1 persists the
    * pair SUPPORT COUNTS (bucketed on the full (a, b) fold key — see
    * [[graft.sources.LayoutOps.writeBucketed]]'s multi-column note)
    * and the converged label vector; every read derives the day's
    * delta counts from the new baskets only, folds them into the
    * standing counts by ADDITION (support only grows, so components
    * only MERGE — the monotonicity that makes incremental CC sound),
    * and repairs labels through the CONTRACTED graph: each edge whose
    * support crossed ≥ [[Q49MinSupport]] in this fold maps to its
    * endpoints' standing labels (an unlabeled endpoint is its own
    * proxy), self-loops drop, and [[DedupOps.componentsFrom]] runs on
    * that delta-sized graph of component ids. Min over a merged group
    * of old labels — each already its component's min part key — IS
    * the merged component's global min, so relabeling through the
    * contraction map reproduces the from-scratch labels exactly; the
    * oracle certifies it (maintained-equals-rebuilt). q41's read-only
    * IVM discipline: the delta never persists, so a replayed read is
    * structurally incapable of double-counting.
    *
    * Output is q49's summary over the folded graph plus
    * `n_new_edges` — how many edges crossed the support threshold in
    * this fold — so a consumer can see the incremental path working
    * (and the spec can pin it).
    *
    * Scale shape: daily cost is the batch's pair explosion
    * (basket-bounded), a delta-sized shuffle into the (a, b)-bucketed
    * standing counts (the fold join co-partitions on ALL keys, so the
    * standing side plans zero exchange — spec-guarded), and a CC run
    * over a contracted graph whose nodes are the labels TOUCHED by
    * crossing edges — delta-sized, never |V|. The from-scratch
    * alternative re-propagates labels over |E| every day. */
  def q50ComponentsDay2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val pl = t(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val isNew = pmod(md5Long(concat($"o".cast("string"), lit(":q50"))),
      lit(5L)) === 0L
    q50From(
      graft.sources.LayoutOps.stateTable("graft_state_q50_cnt", dir),
      graft.sources.LayoutOps.stateTable("graft_state_q50_lbl", dir),
      graft.sources.LayoutOps.stateTable("graft_state_q50_tr", dir),
      pl.filter(!isNew), pl.filter(isNew))
  }

  /** [[q50ComponentsDay2]]'s maintained core over explicit old/new
    * basket frames and state table names — planted-graph specs enter
    * here. Builds day-1 state on first call; every call folds the new
    * frame's counts in at read time. */
  private[operators] def q50From(cntT: String, lblT: String, trT: String,
      plOld: DataFrame, plNew: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    val spark = plOld.sparkSession
    import spark.implicits._
    // ---- day 1 (first call only): standing counts + converged labels,
    // plus the old corpus's truncation count (q48's pattern — a read
    // must not re-scan the standing corpus just to report truncation;
    // the persisted day-1 count folds with a BATCH-sized delta).
    if (!spark.catalog.tableExists(cntT) || !spark.catalog.tableExists(lblT)
        || !spark.catalog.tableExists(trT)) {
      q50InitState(plOld, cntT, lblT, cap)
      graft.sources.LayoutOps.clearStaleLocation(spark, trT)
      truncatedBaskets(plOld, cap)
        .write.mode("overwrite").format("parquet").saveAsTable(trT)
    }
    val qual = q50Fold(cntT, plNew, cap).filter($"n" >= Q49MinSupport)
      .select($"a", $"b", ($"n_old" < Q49MinSupport).as("is_new"))
      .localCheckpoint() // consumed 3× below — fold runs once
    try {
      val finalLbl = q50Relabel(spark.table(lblT), qual)
      try
        q49Summary(qual.select($"a", $"b"), finalLbl)
          .transform(withOneRow(_, qual.filter($"is_new")
            .agg(count(lit(1)).as("n_new_edges"))))
          .transform(withOneRow(_,
            withOneRow(
              spark.table(trT).select($"truncated_baskets".as("__told")),
              truncatedBaskets(plNew, cap)
                .select($"truncated_baskets".as("__tnew")))
              .select(($"__told" + $"__tnew").as("truncated_baskets"))))
          .orderBy($"n_members".desc, $"component_id")
          .localCheckpoint() // eager: backs the result past the finally
      finally DedupOps.unpersistCheckpointed(finalLbl)
    } finally DedupOps.unpersistCheckpointed(qual)
  }

  /** Day-1 of the component standing state: support counts bucketed on
    * the (a, b) fold key, plus the converged label vector over the
    * edges at/above [[Q49MinSupport]] — shared by batch [[q50From]]
    * and the streaming dual
    * [[graft.streaming.StreamOps.streamingComponents]]. */
  private[graft] def q50InitState(plOld: DataFrame, cntT: String,
      lblT: String, cap: Int = BasketItemCap): Unit = {
    val spark = plOld.sparkSession
    import spark.implicits._
    graft.sources.LayoutOps.clearStaleLocation(spark, lblT)
    graft.sources.LayoutOps.writeBucketed(
      basketPairs(plOld, cap).groupBy($"a", $"b").agg(count(lit(1)).as("n")),
      cntT, Seq("a", "b"), graft.sources.LayoutOps.stateBuckets(spark))
    val lbl = q50Labels(spark.table(cntT).filter($"n" >= Q49MinSupport)
      .select($"a".as("i"), $"b".as("j")))
    try lbl.write.mode("overwrite").format("parquet").saveAsTable(lblT)
    finally DedupOps.unpersistCheckpointed(lbl)
  }

  /** The contracted-graph label repair — q50's maintenance core,
    * shared by the batch day-2 query and the streaming dual. `qual`
    * carries the folded graph's qualifying edges `(a, b, is_new)`;
    * crossing edges map to their endpoints' standing labels (an
    * unlabeled endpoint is its own proxy), self-loops drop, and the
    * component engine runs on that delta-sized graph of component
    * ids. Returns the repaired (id, lbl) vector, EAGERLY checkpointed
    * (caller releases via [[DedupOps.unpersistCheckpointed]]). */
  private[graft] def q50Relabel(standing: DataFrame,
                                qual: DataFrame): DataFrame = {
    val spark = standing.sparkSession
    import spark.implicits._
    val newEdges = qual.filter($"is_new").select($"a", $"b")
    val contracted = newEdges
      .join(standing.select($"id".as("a"), $"lbl".as("la")), Seq("a"), "left")
      .join(standing.select($"id".as("b"), $"lbl".as("lb")), Seq("b"), "left")
      .select(coalesce($"la", $"a").as("i"), coalesce($"lb", $"b").as("j"))
      .filter($"i" =!= $"j")
    val relabel = q50Labels(contracted)
    try {
      // nodes first seen in a crossing edge label themselves
      val newNodes = newEdges
        .select(explode(array($"a", $"b")).as("id")).distinct()
        .join(standing, Seq("id"), "left_anti")
        .select($"id", $"id".as("lbl"))
      standing.unionByName(newNodes)
        .join(relabel.select($"id".as("old"), $"lbl".as("newl")),
          $"lbl" === $"old", "left")
        .select($"id", coalesce($"newl", $"lbl").as("lbl"))
        .localCheckpoint() // eager: backs the result past the finally
    } finally DedupOps.unpersistCheckpointed(relabel)
  }

  /** The read-time fold: delta-sized shuffle into the bucketed
    * standing counts. The delta is explicitly repartitioned to the
    * standing table's exact (a, b, [[graft.sources.LayoutOps
    * .tableBuckets]]) layout so the full-outer fold
    * co-partitions under ANY session shuffle-partition setting — the
    * standing side plans zero exchange (spec-guarded), the delta pays
    * one delta-sized shuffle. Factored out of [[q50From]] so the plan
    * guard can inspect the fold BEFORE the result checkpoint hides it. */
  private[graft] def q50Fold(cntT: String, plNew: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    val spark = plNew.sparkSession
    import spark.implicits._
    spark.table(cntT)
      .select($"a", $"b", $"n".as("n_old"))
      .join(basketPairs(plNew, cap)
          .groupBy($"a", $"b").agg(count(lit(1)).as("n_new"))
          // sized off the standing table's ACTUAL bucket spec, so the
          // fold co-partitions even if graft.state.buckets changed
          // after the table was written (r14 verdict item 5)
          .repartition(graft.sources.LayoutOps.tableBuckets(spark, cntT),
            $"a", $"b"),
        Seq("a", "b"), "full_outer")
      .select($"a", $"b",
        (coalesce($"n_old", lit(0L)) + coalesce($"n_new", lit(0L))).as("n"),
        coalesce($"n_old", lit(0L)).as("n_old"))
  }

  /** [[DedupOps.componentsFrom]], including the empty-pair case (a
    * fold with no crossing edges — the common day-2 case on a quiet
    * corpus): an empty frame is below the driver union-find bound by
    * definition, so it resolves to an empty (id, lbl) frame there. */
  private def q50Labels(pairs: DataFrame): DataFrame =
    DedupOps.componentsFrom(pairs)

  val q50ComponentsDay2Sql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val coin = sqlMd5Long("CAST(o AS VARCHAR) || ':q50'") + " % 5 = 0"
    s"""WITH RECURSIVE $basketPlSql,
      |$basketTruncSql,
      |oc AS MATERIALIZED (
      |  SELECT o, $coin AS isnew FROM (SELECT DISTINCT o FROM pl0)),
      |pc AS MATERIALIZED (
      |  SELECT x.p AS a, y.p AS b, oc.isnew, COUNT(*) AS n
      |  FROM pl x JOIN pl y ON x.o = y.o AND x.p < y.p
      |  JOIN oc ON oc.o = x.o
      |  GROUP BY 1, 2, 3),
      |cntA AS MATERIALIZED (SELECT a, b, SUM(n) AS n FROM pc GROUP BY 1, 2),
      |cnt1 AS (SELECT a, b, n FROM pc WHERE NOT isnew),
      |ed AS MATERIALIZED (SELECT a, b FROM cntA WHERE n >= $Q49MinSupport),
      |newe AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_new_edges
      |  FROM cntA LEFT JOIN cnt1 USING (a, b)
      |  WHERE cntA.n >= $Q49MinSupport
      |    AND COALESCE(cnt1.n, 0) < $Q49MinSupport),
      |edges AS (SELECT a AS src, b AS dst FROM ed
      |          UNION ALL SELECT b, a FROM ed),
      |reach AS (
      |  SELECT DISTINCT src AS id, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |labels AS MATERIALIZED (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id),
      |mem AS (SELECT lbl, COUNT(*) AS n_members FROM labels GROUP BY 1),
      |ne AS (SELECT l.lbl, COUNT(*) AS n_edges
      |       FROM ed JOIN labels l ON l.id = ed.a GROUP BY 1)
      |SELECT mem.lbl AS component_id, mem.n_members, ne.n_edges,
      |  newe.n_new_edges, trunc.truncated_baskets
      |FROM mem JOIN ne ON ne.lbl = mem.lbl
      |CROSS JOIN newe CROSS JOIN trunc
      |ORDER BY n_members DESC, component_id
      |LIMIT 50""".stripMargin
  }

  // --------------------------------------------------------------- q51
  /** Mergeable histogram quantiles with day-2 maintenance — the
    * production quantile path at 100 TB, where an exact percentile
    * (q25) costs a full sort every day. Prices bin into fixed $128
    * buckets on EXACT integer cents (decimal-cast first — the engine's
    * double→decimal rule — so both engines bin identically); the
    * standing state is the per-(returnflag, bin) count table —
    * metadata-sized, additive, and therefore mergeable by a
    * union+re-aggregate exactly like q41's summary. Every read folds
    * the day's arrivals in and answers p50/p90/p99 as the lower edge
    * of the first bin whose cumulative count reaches ⌈k·N/100⌉ — all
    * integer arithmetic, so the result is bit-identical across engines
    * and the oracle certifies maintained-equals-derived from scratch.
    * Unlike q15's HLL/KLL surface (rows-only by construction: sketch
    * internals differ across engines), the deterministic histogram is
    * the sketch the correctness gate CAN hash — the error model is
    * explicit (≤ one bin width) instead of implementation-defined.
    *
    * Scale shape: the day-2 cost is one batch-sized scan collapsing
    * map-side into ≤ |flags|·|bins| rows; the fold and the cumulative
    * window run on the metadata-sized histogram, never the corpus.
    * `n_delta_rows` rides along so the incremental path is visible. */
  private[operators] val Q51BinCents = 12800L

  def q51QuantileDay2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val histT = graft.sources.LayoutOps.stateTable("graft_state_q51_hist", dir)
    val isNew = pmod(md5Long(concat($"l_orderkey".cast("string"), lit(":"),
      $"l_linenumber".cast("string"), lit(":q51"))), lit(5L)) === 0L
    def histOf(df: DataFrame): DataFrame = df
      .select($"l_returnflag",
        expr(s"CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)" +
          s" div $Q51BinCents").as("bin"))
      .groupBy($"l_returnflag", $"bin").agg(count(lit(1)).as("n"))
    val li = t(spark, dir, "lineitem")
    if (!spark.catalog.tableExists(histT)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, histT)
      histOf(li.filter(!isNew))
        .write.mode("overwrite").format("parquet").saveAsTable(histT)
    }
    val delta = histOf(li.filter(isNew))
    val hist = spark.table(histT).unionByName(delta)
      .groupBy($"l_returnflag", $"bin").agg(sum($"n").as("n"))
    val w = Window.partitionBy($"l_returnflag").orderBy($"bin")
    val cum = hist
      .withColumn("cum", sum($"n").over(w))
      .withColumn("total", sum($"n").over(Window.partitionBy($"l_returnflag")))
    def pick(k: Int) = min(when(
      $"cum" * 100 >= $"total" * k, $"bin" * Q51BinCents)).as(s"p${k}_cents")
    cum.groupBy($"l_returnflag")
      .agg(max($"total").as("n_rows"), pick(50), pick(90), pick(99))
      .transform(withOneRow(_,
        delta.agg(coalesce(sum($"n"), lit(0L)).as("n_delta_rows"))))
      .orderBy($"l_returnflag")
  }

  val q51QuantileDay2Sql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val coin = sqlMd5Long(
      "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) || ':q51'") +
      " % 5 = 0"
    val B = Q51BinCents
    s"""WITH hist AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) // $B
      |      AS bin,
      |    COUNT(*) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |delta AS (
      |  SELECT CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS n_delta_rows
      |  FROM lineitem WHERE $coin),
      |cum AS (
      |  SELECT l_returnflag, bin, n,
      |    SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
      |    SUM(n) OVER (PARTITION BY l_returnflag) AS total
      |  FROM hist)
      |SELECT l_returnflag, CAST(MAX(total) AS BIGINT) AS n_rows,
      |  MIN(CASE WHEN cum * 100 >= total * 50 THEN bin * $B END) AS p50_cents,
      |  MIN(CASE WHEN cum * 100 >= total * 90 THEN bin * $B END) AS p90_cents,
      |  MIN(CASE WHEN cum * 100 >= total * 99 THEN bin * $B END) AS p99_cents,
      |  delta.n_delta_rows
      |FROM cum CROSS JOIN delta
      |GROUP BY l_returnflag, delta.n_delta_rows
      |ORDER BY l_returnflag""".stripMargin
  }

  // --------------------------------------------------------------- q52
  /** DECREMENTAL component maintenance — edge retraction, the case
    * q50's merge-only fold cannot express (r11 "What's missing" #3):
    * basket deletions (GDPR erasure, order retractions) DECREMENT pair
    * support, and an edge crossing DOWN through the threshold can
    * SPLIT a component — the non-monotone direction, where min-label
    * folding is unsound and the standard shape is detect-affected +
    * bounded recompute. Day 1 persists q50's standing state (support
    * counts bucketed on the (a, b) fold key, converged labels, the
    * corpus truncation count); every read derives the DELETED baskets'
    * pair counts from the deletion feed only and folds them in by
    * SUBTRACTION (whole baskets delete, and the item cap is
    * per-basket, so the subtraction is exact against a from-scratch
    * rebuild).
    *
    * Label repair: an edge that crossed downward names its standing
    * component (both endpoints carry the same label by construction);
    * the AFFECTED label set is delta-sized and broadcastable. Only
    * affected components' SURVIVING edges re-enter
    * [[DedupOps.componentsFrom]] — a recompute bounded by the touched
    * components, never |E| — while every unaffected node keeps its
    * standing label verbatim (support that merely DROPS without
    * crossing cannot change connectivity). A node that loses its last
    * qualifying edge drops out, exactly as a from-scratch q49 over the
    * surviving corpus drops it; min-id labels of split fragments are
    * what componentsFrom converges to, so maintained-equals-rebuilt
    * holds and the oracle certifies it from scratch over
    * corpus-minus-deletions.
    *
    * Output is q49's summary over the surviving graph plus
    * `n_removed_edges` (how many edges crossed downward — the spec
    * pins a planted bridge whose removal splits a component) and the
    * FOLDED truncation count (persisted day-1 total minus the deleted
    * baskets' own truncation — delta-sized, q48/q50's no-rescan
    * discipline). q41's read-only IVM rule: the fold never persists,
    * so a replayed read cannot double-delete.
    *
    * Scale shape: daily cost is the deletion feed's pair explosion
    * (basket-bounded), a delta-sized shuffle into the bucketed
    * standing counts (standing side plans zero exchange — the q50Fold
    * guard, spec-pinned for the subtraction fold too), a semi-join
    * against the affected label set (unhinted — AQE broadcasts it when
    * actually small; a mass-deletion sweep's million-label set takes
    * the shuffle instead of dying at the broadcast cap), and a CC run
    * over the affected subgraph. */
  def q52ComponentsRetract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val pl = t(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val isDel = pmod(md5Long(concat($"o".cast("string"), lit(":q52"))),
      lit(7L)) === 0L
    q52From(
      graft.sources.LayoutOps.stateTable("graft_state_q52_cnt", dir),
      graft.sources.LayoutOps.stateTable("graft_state_q52_lbl", dir),
      graft.sources.LayoutOps.stateTable("graft_state_q52_tr", dir),
      pl, pl.filter(isDel))
  }

  /** [[q52ComponentsRetract]]'s maintained core over explicit
    * full-corpus / deletion frames and state table names —
    * planted-graph specs enter here. Day-1 state (first call) is built
    * over the FULL corpus; every call folds the deletion frame's
    * counts OUT at read time. */
  private[operators] def q52From(cntT: String, lblT: String, trT: String,
      plAll: DataFrame, plDel: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    val spark = plAll.sparkSession
    import spark.implicits._
    if (!spark.catalog.tableExists(cntT) || !spark.catalog.tableExists(lblT)
        || !spark.catalog.tableExists(trT)) {
      q50InitState(plAll, cntT, lblT, cap)
      graft.sources.LayoutOps.clearStaleLocation(spark, trT)
      truncatedBaskets(plAll, cap)
        .write.mode("overwrite").format("parquet").saveAsTable(trT)
    }
    val folded = q52Fold(cntT, plDel, cap)
      .localCheckpoint() // consumed 3× below — fold runs once
    try {
      val removed = folded
        .filter($"n_old" >= Q49MinSupport && $"n" < Q49MinSupport)
        .select($"a", $"b")
      val survived = folded.filter($"n" >= Q49MinSupport).select($"a", $"b")
      val standing = spark.table(lblT)
      val finalLbl = q52RepairLabels(removed, survived, standing)
      try {
        q49Summary(survived, finalLbl)
          .transform(withOneRow(_,
            removed.agg(count(lit(1)).as("n_removed_edges"))))
          .transform(withOneRow(_,
            withOneRow(
              spark.table(trT).select($"truncated_baskets".as("__tall")),
              truncatedBaskets(plDel, cap)
                .select($"truncated_baskets".as("__tdel")))
              .select(($"__tall" - $"__tdel").as("truncated_baskets"))))
          .orderBy($"n_members".desc, $"component_id")
          .localCheckpoint() // eager: backs the result past the finally
      } finally DedupOps.unpersistCheckpointed(finalLbl)
    } finally DedupOps.unpersistCheckpointed(folded)
  }

  /** Detect-affected + bounded-recompute label repair after edge
    * retraction — the decremental core [[q52From]] (batch read) and the
    * streaming retraction maintainer
    * ([[graft.streaming.StreamOps.retractBatch]]) both run, so the two
    * provably apply the same rule. Unaffected nodes keep their standing
    * labels VERBATIM; only components named by a downward-crossing edge
    * re-enter [[DedupOps.componentsFrom]] (over their surviving edges),
    * which converges to min-id labels of every split fragment — so
    * maintained-equals-rebuilt holds. A node that lost its last
    * qualifying edge is in an affected component and absent from the
    * recompute's edge set, so it drops out, exactly as a from-scratch
    * build over the surviving corpus drops it. Returns an EAGER local
    * checkpoint (callers unpersist via
    * [[DedupOps.unpersistCheckpointed]]). */
  private[graft] def q52RepairLabels(removed: DataFrame, survived: DataFrame,
      standing: DataFrame): DataFrame = {
    val spark = removed.sparkSession
    import spark.implicits._
    val (affected, affEdges) = q52AffectedEdges(removed, survived, standing)
    val repaired = DedupOps.componentsFrom(affEdges)
    try {
      standing.join(affected, Seq("lbl"), "left_anti")
        .select($"id", $"lbl")
        .unionByName(repaired)
        .localCheckpoint()
    } finally DedupOps.unpersistCheckpointed(repaired)
  }

  /** The affected-label set and the affected components' surviving
    * edges. The affected set sizes with the DELETION BATCH — on the
    * GDPR-sweep regime [[q52Fold]] is designed for it can be millions
    * of labels, so it carries NO broadcast hint (the q36/p13 rule:
    * hint only provably-constant sides). AQE broadcasts it at runtime
    * when it is actually small; a sweep-sized set takes the shuffle it
    * needs instead of OOMing the driver at the broadcast cap. Factored
    * out so ScaleSpec can walk the analyzed plans and assert no
    * deletion-derived frame is hint-pinned. */
  private[graft] def q52AffectedEdges(removed: DataFrame,
      survived: DataFrame, standing: DataFrame): (DataFrame, DataFrame) = {
    val spark = removed.sparkSession
    import spark.implicits._
    val affected = removed
      .join(standing.select($"id".as("a"), $"lbl"), Seq("a"))
      .select($"lbl").distinct()
    val affEdges = survived
      .join(standing.select($"id".as("a"), $"lbl"), Seq("a"))
      .join(affected, Seq("lbl"), "left_semi")
      .select($"a".as("i"), $"b".as("j"))
    (affected, affEdges)
  }

  /** The subtraction fold: q50Fold's co-partitioned shape with the
    * delta REMOVING support. LEFT join — a deleted basket's pairs are
    * by construction a subset of the standing pairs, so deletions
    * cannot mint rows. Unlike q50's full-outer (which CANNOT
    * broadcast), a left join lets the planner broadcast the tiny
    * testbed delta and bypass the bucket layout entirely; the merge
    * hint pins the co-partitioned sort-merge shape — the one that
    * holds when the deletion batch is a GDPR sweep of millions of
    * baskets — and the bucketed standing side (bucketed AND sorted on
    * (a, b)) still plans zero exchange and zero sort under it.
    * Factored out so the plan guard can assert exactly that. */
  private[graft] def q52Fold(cntT: String, plDel: DataFrame,
      cap: Int = BasketItemCap): DataFrame = {
    val spark = plDel.sparkSession
    import spark.implicits._
    spark.table(cntT)
      .hint("merge")
      .select($"a", $"b", $"n".as("n_old"))
      .join(basketPairs(plDel, cap)
          .groupBy($"a", $"b").agg(count(lit(1)).as("n_del"))
          .repartition(graft.sources.LayoutOps.tableBuckets(spark, cntT),
            $"a", $"b"),
        Seq("a", "b"), "left")
      .select($"a", $"b",
        ($"n_old" - coalesce($"n_del", lit(0L))).as("n"), $"n_old")
  }

  val q52ComponentsRetractSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val coin = sqlMd5Long("CAST(o AS VARCHAR) || ':q52'") + " % 7 = 0"
    s"""WITH RECURSIVE $basketPlSql,
      |oc AS MATERIALIZED (
      |  SELECT o, $coin AS isdel FROM (SELECT DISTINCT o FROM pl0)),
      |pc AS MATERIALIZED (
      |  SELECT x.p AS a, y.p AS b, oc.isdel, COUNT(*) AS n
      |  FROM pl x JOIN pl y ON x.o = y.o AND x.p < y.p
      |  JOIN oc ON oc.o = x.o
      |  GROUP BY 1, 2, 3),
      |cntA AS MATERIALIZED (SELECT a, b, SUM(n) AS n FROM pc GROUP BY 1, 2),
      |cntS AS MATERIALIZED (
      |  SELECT a, b, SUM(n) AS n FROM pc WHERE NOT isdel GROUP BY 1, 2),
      |ed AS MATERIALIZED (SELECT a, b FROM cntS WHERE n >= $Q49MinSupport),
      |rme AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_removed_edges
      |  FROM cntA LEFT JOIN cntS USING (a, b)
      |  WHERE cntA.n >= $Q49MinSupport
      |    AND COALESCE(cntS.n, 0) < $Q49MinSupport),
      |edges AS (SELECT a AS src, b AS dst FROM ed
      |          UNION ALL SELECT b, a FROM ed),
      |reach AS (
      |  SELECT DISTINCT src AS id, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |labels AS MATERIALIZED (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id),
      |mem AS (SELECT lbl, COUNT(*) AS n_members FROM labels GROUP BY 1),
      |ne AS (SELECT l.lbl, COUNT(*) AS n_edges
      |       FROM ed JOIN labels l ON l.id = ed.a GROUP BY 1),
      |struncq AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS truncated_baskets
      |  FROM (SELECT p0.o FROM pl0 p0 JOIN oc ON oc.o = p0.o
      |        WHERE NOT oc.isdel
      |        GROUP BY p0.o HAVING COUNT(*) > $BasketItemCap) tq)
      |SELECT mem.lbl AS component_id, mem.n_members, ne.n_edges,
      |  rme.n_removed_edges, struncq.truncated_baskets
      |FROM mem JOIN ne ON ne.lbl = mem.lbl
      |CROSS JOIN rme CROSS JOIN struncq
      |ORDER BY n_members DESC, component_id
      |LIMIT 50""".stripMargin
  }

  // --------------------------------------------------------------- q53
  /** Hierarchy ROLLUP in one pass — the multi-level report (detail →
    * per-region subtotal → grand total) every BI layer asks of a
    * warehouse. `rollup(r_name, n_name)` computes all three levels in
    * a SINGLE aggregation: Spark expands the grouping sets map-side
    * (each input row feeds every level's partial aggregate before the
    * one shuffle), so the 100 TB cost is one scan + one exchange where
    * the naive form is three scans and three exchanges — the reason
    * ROLLUP/GROUPING SETS exist as physical operators rather than
    * UNION ALL sugar. `grouping_id()` disambiguates a rolled-up NULL
    * from a data NULL (levels here: 0 = nation detail, 1 = region
    * subtotal, 3 = grand total), matching DuckDB/Postgres
    * `GROUPING(r_name, n_name)` bit-for-bit (first argument is the
    * high bit in both engines). nation/region broadcast (bounded dims
    * at any SF); orders⋈customer is the one key shuffle. */
  def q53RollupReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .join(t(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(t(spark, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t(spark, dir, "region")),
        $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_orders"),
        dsum($"o_totalprice").as("revenue"),
        grouping_id().as("lvl"))
      .orderBy($"lvl", $"r_name", $"n_name")
  }

  val q53RollupReportSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  GROUPING(r_name, n_name) AS lvl
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY lvl, r_name, n_name""".stripMargin

  // --------------------------------------------------------------- q54
  /** Bounded-hop single-source shortest paths (BFS) over the part
    * co-purchase graph — the "blast radius" question every graph
    * surface needs next to components (q49) and ranking (q39): from
    * the smallest part in the support-pruned graph, how many parts
    * sit 1, 2, … [[Q54MaxHops]] co-purchase hops away? Output is one
    * row per hop level (n_nodes, sum of reached part ids — the
    * deterministic digest the gate can hash) plus the family's
    * honest truncation column.
    *
    * Two output-identical arms behind componentsFrom's probe shape:
    * a graph whose edge list fits the driver bound runs a driver BFS
    * (every per-round cost of the distributed loop — plan compile,
    * 32 task launches — is pure overhead on thousands of edges; same
    * measured-exception class, heap ≤ the componentsFrom budget by
    * the same typed-tuple argument), and anything larger runs the
    * frontier-expansion superstep loop: per round ONE join
    * (frontier ⋈ edges) + distinct + anti-join against the visited
    * set, each round's state eagerly checkpointed and the superseded
    * round released — O(maxHops) rounds by construction, so unlike
    * open-ended propagation the distributed arm's round count is
    * BOUNDED regardless of graph diameter. Specs force both arms
    * label-identical on planted and real graphs. */
  private[operators] val Q54MaxHops = 6
  private[operators] val Q54DriverBound = 1000000

  /** q54/q55's standing SYMMETRIC weighted co-purchase adjacency
    * (a, b, w): support-pruned pairs, both directions stored, bucketed
    * by `a` — built once per warehouse alongside its persisted 1-row
    * truncation count (q47Edges' discipline). The bucketed scan's
    * declared hashpartitioning is what lets every BFS/Bellman-Ford
    * superstep join plan ZERO exchange on the |E|-sized side (r13
    * verdict #3: the previous per-call `basketPairs → groupBy →
    * localCheckpoint` re-derived the graph per query and re-shuffled
    * |E| on every superstep round against a stats-less LogicalRDD).
    * One table serves both queries — q54 drops the weight, q55 keeps
    * it; the graph (cap, support threshold) is identical. */
  private[operators] def q54Adjacency(spark: SparkSession,
                                      dir: String): DataFrame = {
    import spark.implicits._
    val tA = graft.sources.LayoutOps.stateTable("graft_state_q54_adj", dir)
    val tTr = graft.sources.LayoutOps.stateTable("graft_state_q54_trunc", dir)
    if (!spark.catalog.tableExists(tA) || !spark.catalog.tableExists(tTr)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, tTr)
      val pl = t(spark, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      val ed = basketPairs(pl)
        .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
        .filter($"w" >= Q49MinSupport)
      graft.sources.LayoutOps.writeBucketed(
        ed.unionByName(ed.select($"b".as("a"), $"a".as("b"), $"w")),
        tA, "a", graft.sources.LayoutOps.stateBuckets(spark))
      truncatedBaskets(pl)
        .write.mode("overwrite").format("parquet").saveAsTable(tTr)
    }
    spark.table(tA)
  }

  /** The persisted 1-row truncation count paired with [[q54Adjacency]]
    * (which guarantees it exists). */
  private[operators] def q54TruncCount(spark: SparkSession,
                                       dir: String): DataFrame =
    spark.table(graft.sources.LayoutOps.stateTable(
      "graft_state_q54_trunc", dir))

  def q54ShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    val und = q54Adjacency(spark, dir).select("a", "b")
    val dist = q54Bfs(und, Q54MaxHops, Q54DriverBound)
    try q54Digest(dist, q54TruncCount(spark, dir))
    finally DedupOps.unpersistCheckpointed(dist)
  }

  /** The gate-facing digest over a (id, hops) distance frame: one row
    * per hop level, eagerly checkpointed past the caller's release. */
  private def q54Digest(dist: DataFrame, trunc: DataFrame): DataFrame = {
    val spark = dist.sparkSession
    import spark.implicits._
    dist.groupBy($"hops")
      .agg(count(lit(1)).as("n_nodes"), sum($"id").as("sum_ids"))
      .transform(withOneRow(_, trunc))
      .orderBy($"hops")
      .localCheckpoint()
  }

  /** [[q54ShortestPaths]]'s core over an arbitrary (o, p) basket frame
    * — planted-graph specs enter here; `driverBound` parameterized
    * ONLY so the spec can force the superstep arm. (The shipped query
    * routes through [[q54Adjacency]]'s standing bucketed table
    * instead; the graph derivation is identical.) */
  private[operators] def q54From(pl: DataFrame, cap: Int = BasketItemCap,
      driverBound: Int = Q54DriverBound): DataFrame = {
    val spark = pl.sparkSession
    import spark.implicits._
    val ed = basketPairs(pl, cap)
      .groupBy($"a", $"b").agg(count(lit(1)).as("n"))
      .filter($"n" >= Q49MinSupport).select($"a", $"b")
    val und = ed.unionByName(ed.select($"b".as("a"), $"a".as("b")))
      .localCheckpoint() // feeds the probe and every BFS round — run once
    try {
      val dist = q54Bfs(und, Q54MaxHops, driverBound)
      try q54Digest(dist, truncatedBaskets(pl, cap))
      finally DedupOps.unpersistCheckpointed(dist)
    } finally DedupOps.unpersistCheckpointed(und)
  }

  /** One BFS superstep's expansion join — the frontier (tiny, hinted
    * shuffle-hash build side) probes the SYMMETRIC adjacency; when
    * `und` is [[q54Adjacency]]'s bucketed scan the adjacency side
    * plans zero exchange (only the frontier shuffles per round).
    * Exposed so the plan guard can prove exactly that. */
  private[operators] def q54Round(und: DataFrame,
                                  frontier: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    frontier.select($"id".as("a")).hint("shuffle_hash")
      .join(und, Seq("a"))
      .select($"b".as("id")).distinct()
  }

  /** (id, hops) for every node within `maxHops` of the graph's
    * minimum node, over a SYMMETRIC (a, b) adjacency frame (every
    * undirected edge stored in both directions — the standing-table
    * orientation); result is eagerly checkpointed (caller releases). */
  private def q54Bfs(und: DataFrame, maxHops: Int,
                     driverBound: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    // size probe + small-graph fast path in one pass (componentsFrom's
    // shape: limit bounds the driver memory, not the upstream work)
    val probe = und.limit(driverBound + 1)
      .select($"a".cast("long"), $"b".cast("long"))
      .as[(Long, Long)].collect()
    if (probe.length <= driverBound) {
      if (probe.isEmpty)
        return Seq.empty[(Long, Int)].toDF("id", "hops").localCheckpoint()
      val adj = new scala.collection.mutable.HashMap[
        Long, scala.collection.mutable.ArrayBuffer[Long]]()
      // symmetric input: each direction arrives as its own row
      probe.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer()) += b
      }
      val src = probe.iterator.map(_._1).min // symmetric ⇒ min(a) is global min
      val hops = scala.collection.mutable.HashMap(src -> 0)
      var frontier = List(src)
      var h = 0
      while (h < maxHops && frontier.nonEmpty) {
        h += 1
        frontier = frontier.flatMap(adj(_))
          .filter(n => !hops.contains(n))
          .distinct
        frontier.foreach(hops.update(_, h))
      }
      return hops.toSeq.toDF("id", "hops").localCheckpoint()
    }
    // superstep arm: bounded frontier expansion
    val src = und.agg(min($"a")).first().getLong(0)
    var visited = Seq((src, 0)).toDF("id", "hops").localCheckpoint()
    var frontier = visited
    var h = 0
    var halt = false
    while (h < maxHops && !halt) {
      h += 1
      val next = q54Round(und, frontier)
        .join(visited, Seq("id"), "left_anti")
        .select($"id", lit(h).as("hops"))
        .localCheckpoint()
      if (frontier ne visited) DedupOps.unpersistCheckpointed(frontier)
      if (next.isEmpty) {
        DedupOps.unpersistCheckpointed(next)
        frontier = visited
        halt = true
      } else {
        val nv = visited.unionByName(next).localCheckpoint()
        DedupOps.unpersistCheckpointed(visited)
        visited = nv
        frontier = next
      }
    }
    if (frontier ne visited) DedupOps.unpersistCheckpointed(frontier)
    visited
  }

  val q54ShortestPathsSql: String =
    s"""WITH RECURSIVE $basketPlSql,
      |$basketTruncSql,
      |ed AS MATERIALIZED (
      |  SELECT x.p AS a, y.p AS b
      |  FROM pl x JOIN pl y ON x.o = y.o AND x.p < y.p
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= $Q49MinSupport),
      |edges AS (SELECT a AS u, b AS v FROM ed
      |          UNION ALL SELECT b, a FROM ed),
      |src AS (SELECT MIN(a) AS s FROM ed),
      |walk AS (
      |  SELECT s AS id, 0 AS hops FROM src
      |  UNION
      |  SELECT e.v AS id, w.hops + 1 AS hops
      |  FROM walk w JOIN edges e ON e.u = w.id
      |  WHERE w.hops < $Q54MaxHops),
      |dist AS (SELECT id, MIN(hops) AS hops FROM walk GROUP BY id)
      |SELECT hops, CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |  CAST(SUM(id) AS BIGINT) AS sum_ids, trunc.truncated_baskets
      |FROM dist CROSS JOIN trunc
      |GROUP BY hops, trunc.truncated_baskets
      |ORDER BY hops""".stripMargin

  // --------------------------------------------------------------- q55
  /** Bounded-hop WEIGHTED shortest paths — q54's BFS generalized to
    * integer edge costs (the co-purchase support count as the cost):
    * from the smallest part in the support-pruned graph, the cheapest
    * total cost reachable within [[Q55MaxHops]] edges, per node,
    * digested as one row per distinct cost (n_nodes, sum of ids) plus
    * the family's truncation column. Where BFS relaxes by hop count,
    * this relaxes by accumulated weight — the classic bounded
    * Bellman-Ford: after round h every node holds the exact minimum
    * cost over paths of ≤ h edges, so a cheaper-but-longer path keeps
    * winning rounds until the hop budget ends (the behavior the spec
    * plants), and round count is BOUNDED by the hop budget regardless
    * of graph diameter — never open-ended propagation.
    *
    * Two output-identical arms behind q54's probe shape: edge lists
    * within the driver bound run the relaxation loop on the driver
    * (hash-map adjacency, exactly the distributed update rule);
    * anything larger runs the superstep loop — per round ONE join
    * (frontier ⋈ edges) + a min-aggregate + an improvement anti-filter
    * against the standing distances, each round's state eagerly
    * checkpointed and the superseded round released. Only IMPROVED
    * nodes re-enter the frontier, so per-round work tracks the
    * shrinking improvement set, not |V|. Exact integer arithmetic end
    * to end, so the DuckDB recursive-CTE oracle hash-matches. */
  private[operators] val Q55MaxHops = 6
  private[operators] val Q55DriverBound = 1000000

  def q55WeightedPaths(spark: SparkSession, dir: String): DataFrame = {
    val und = q54Adjacency(spark, dir) // shared standing graph, w kept
    val dist = q55BellmanFord(und, Q55MaxHops, Q55DriverBound)
    try q55Digest(dist, q54TruncCount(spark, dir))
    finally DedupOps.unpersistCheckpointed(dist)
  }

  /** The gate-facing digest over a (id, cost) distance frame: one row
    * per distinct cost, eagerly checkpointed past the caller's
    * release. */
  private def q55Digest(dist: DataFrame, trunc: DataFrame): DataFrame = {
    val spark = dist.sparkSession
    import spark.implicits._
    dist.groupBy($"cost")
      .agg(count(lit(1)).as("n_nodes"), sum($"id").as("sum_ids"))
      .transform(withOneRow(_, trunc))
      .orderBy($"cost")
      .localCheckpoint()
  }

  /** [[q55WeightedPaths]]'s core over an arbitrary (o, p) basket frame
    * — planted-graph specs enter here; `driverBound` parameterized
    * ONLY so the spec can force the superstep arm. (The shipped query
    * routes through [[q54Adjacency]]'s standing bucketed table
    * instead; the graph derivation is identical.) */
  private[operators] def q55From(pl: DataFrame, cap: Int = BasketItemCap,
      driverBound: Int = Q55DriverBound): DataFrame = {
    val spark = pl.sparkSession
    import spark.implicits._
    val ed = basketPairs(pl, cap)
      .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
      .filter($"w" >= Q49MinSupport)
    val und = ed.unionByName(ed.select($"b".as("a"), $"a".as("b"), $"w"))
      .localCheckpoint() // feeds the probe and every relax round — run once
    try {
      val dist = q55BellmanFord(und, Q55MaxHops, driverBound)
      try q55Digest(dist, truncatedBaskets(pl, cap))
      finally DedupOps.unpersistCheckpointed(dist)
    } finally DedupOps.unpersistCheckpointed(und)
  }

  /** One Bellman-Ford superstep's relaxation join — the frontier
    * (tiny, hinted shuffle-hash build side) probes the SYMMETRIC
    * weighted adjacency; when `und` is [[q54Adjacency]]'s bucketed
    * scan the adjacency side plans zero exchange (only the frontier
    * shuffles per round). Exposed so the plan guard can prove exactly
    * that. */
  private[operators] def q55Round(und: DataFrame,
                                  frontier: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    frontier.select($"id".as("a"), $"cost").hint("shuffle_hash")
      .join(und, Seq("a"))
      .select($"b".as("id"), ($"cost" + $"w").as("nc"))
      .groupBy($"id").agg(min($"nc").as("nc"))
  }

  /** (id, cost) = exact min path cost within `maxHops` edges of the
    * graph's minimum node, over a SYMMETRIC (a, b, w) weighted
    * adjacency frame (both directions stored — the standing-table
    * orientation); result is eagerly checkpointed (caller releases). */
  private def q55BellmanFord(und: DataFrame, maxHops: Int,
                             driverBound: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val probe = und.limit(driverBound + 1)
      .select($"a".cast("long"), $"b".cast("long"), $"w".cast("long"))
      .as[(Long, Long, Long)].collect()
    if (probe.length <= driverBound) {
      if (probe.isEmpty)
        return Seq.empty[(Long, Long)].toDF("id", "cost").localCheckpoint()
      val adj = new scala.collection.mutable.HashMap[
        Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
      // symmetric input: each direction arrives as its own row
      probe.foreach { case (a, b, w) =>
        adj.getOrElseUpdate(a,
          scala.collection.mutable.ArrayBuffer()) += ((b, w))
      }
      val src = probe.iterator.map(_._1).min // symmetric ⇒ min(a) is global min
      val dist = scala.collection.mutable.HashMap(src -> 0L)
      var frontier = List(src)
      var h = 0
      while (h < maxHops && frontier.nonEmpty) {
        h += 1
        // the relax rule, verbatim: an improvement this round is a path
        // of exactly h edges cheaper than every ≤(h−1)-edge path seen
        val improved = new scala.collection.mutable.HashMap[Long, Long]()
        frontier.foreach { u =>
          val du = dist(u)
          adj(u).foreach { case (v, w) =>
            val nd = du + w
            if (nd < dist.getOrElse(v, Long.MaxValue) &&
                nd < improved.getOrElse(v, Long.MaxValue))
              improved(v) = nd
          }
        }
        improved.foreach { case (v, d) => dist(v) = d }
        frontier = improved.keys.toList
      }
      return dist.toSeq.toDF("id", "cost").localCheckpoint()
    }
    // superstep arm: bounded Bellman-Ford relaxation
    val src = und.agg(min($"a")).first().getLong(0)
    var dist = Seq((src, 0L)).toDF("id", "cost").localCheckpoint()
    var frontier = dist
    var h = 0
    var halt = false
    while (h < maxHops && !halt) {
      h += 1
      val improved = q55Round(und, frontier)
        .join(dist.select($"id", $"cost".as("__old")), Seq("id"), "left")
        .filter($"__old".isNull || $"nc" < $"__old")
        .select($"id", $"nc".as("cost"))
        .localCheckpoint()
      if (frontier ne dist) DedupOps.unpersistCheckpointed(frontier)
      if (improved.isEmpty) {
        DedupOps.unpersistCheckpointed(improved)
        frontier = dist
        halt = true
      } else {
        val nd = dist.join(improved.select($"id"), Seq("id"), "left_anti")
          .unionByName(improved).localCheckpoint()
        DedupOps.unpersistCheckpointed(dist)
        dist = nd
        frontier = improved
      }
    }
    if (frontier ne dist) DedupOps.unpersistCheckpointed(frontier)
    dist
  }

  val q55WeightedPathsSql: String =
    s"""WITH RECURSIVE $basketPlSql,
      |$basketTruncSql,
      |ed AS MATERIALIZED (
      |  SELECT x.p AS a, y.p AS b, COUNT(*) AS w
      |  FROM pl x JOIN pl y ON x.o = y.o AND x.p < y.p
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= $Q49MinSupport),
      |edges AS (SELECT a AS u, b AS v, w FROM ed
      |          UNION ALL SELECT b, a, w FROM ed),
      |src AS (SELECT MIN(a) AS s FROM ed),
      |walk AS (
      |  SELECT s AS id, 0 AS hops, CAST(0 AS BIGINT) AS cost FROM src
      |  UNION
      |  SELECT e.v AS id, w.hops + 1 AS hops, w.cost + e.w AS cost
      |  FROM walk w JOIN edges e ON e.u = w.id
      |  WHERE w.hops < $Q55MaxHops),
      |dist AS (SELECT id, MIN(cost) AS cost FROM walk GROUP BY id)
      |SELECT cost, CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |  CAST(SUM(id) AS BIGINT) AS sum_ids, trunc.truncated_baskets
      |FROM dist CROSS JOIN trunc
      |GROUP BY cost, trunc.truncated_baskets
      |ORDER BY cost""".stripMargin

  // --------------------------------------------------------------- q56
  /** Skyline (Pareto frontier) over `part`: the parts for which no
    * other part is both cheaper-or-equal AND larger-or-equal with at
    * least one strict — minimize `p_retailprice`, maximize `p_size`.
    * The multi-criteria shortlist query ("show me the undominated
    * offers") that a naive engine answers with an O(n²) NOT EXISTS
    * self-join.
    *
    * Scale arm — local-skyline-then-merge, the distributed-skyline
    * result that makes the operator shuffle-light: the global skyline
    * is contained in the union of per-partition local skylines
    * (dominance is transitive: if q dominates p, then q's partition's
    * local skyline holds a point that dominates-or-equals q and hence
    * dominates p). So: (1) hash-partition rows and compute each
    * partition's local skyline with ONE sorted-window pass —
    * `max(p_size)` over price-strictly-less (a RANGE frame to -1 on
    * exact integer cents; prices are 2-decimal so cents are lossless)
    * catches case "cheaper and at-least-as-large", and the RANGE
    * current-row frame (= all ORDER BY peers) catches "same price,
    * strictly larger" — no self-join anywhere; (2) the union of local
    * skylines is tiny (a random partition's 2-D skyline is O(log n)
    * expected), so the final pass runs the same window globally over
    * a metadata-sized frame. The only global sort in the plan sorts
    * the survivors, never the input. At 100 TB the heavy stage is an
    * embarrassingly-parallel per-partition window; the merge input
    * stays ~partitions × log(rows/partition).
    *
    * Truth arm (`q56SkylineNaive`): the NOT EXISTS anti-join,
    * spec-forced output-identical — it IS the oracle's plan shape. */
  def q56Skyline(spark: SparkSession, dir: String): DataFrame =
    q56From(t(spark, dir, "part"))

  /** [[q56Skyline]]'s merged two-pass core over an arbitrary
    * (p_partkey, p_retailprice, p_size) frame — planted-dominance
    * specs enter here. */
  private[graft] def q56From(part: DataFrame): DataFrame = {
    val spark = part.sparkSession
    import spark.implicits._
    val pts = part
      .select($"p_partkey", $"p_retailprice", $"p_size",
        // floor(x·100 + 0.5), not round(): identical half-up in both
        // engines for every sign/tie — the e30 hazard class, swept
        // repo-wide in r15 even where (like here) the value never
        // reaches an oracle.
        floor($"p_retailprice" * 100 + 0.5).cast("long").as("__cents"))
    // (1) per-partition local skyline: one window pass inside each
    // hash partition — no exchange beyond the initial hash. The count
    // tracks the SESSION's shuffle parallelism (r13 verdict #5: a
    // hardcoded 32 would cap the heavy stage at 32 tasks on a
    // 1000-executor cluster); the merge-pass input grows only as
    // partitions × log(rows/partition), still metadata-sized.
    val nPart = spark.sessionState.conf.numShufflePartitions
    val local = localSkyline(
      pts.repartition(nPart, $"p_partkey"), Some(spark_partition_id()))
    // (2) survivors are O(parts × log n): one global pass finishes.
    localSkyline(local, None)
      .select($"p_partkey", $"p_retailprice", $"p_size")
      .orderBy($"p_retailprice", $"p_partkey")
  }

  /** One sorted-window skyline pass over `pts` (expects `__cents`).
    * `bucket` = Some(expr) partitions the windows by that expression
    * (local skylines); None runs one global pass (only ever fed the
    * metadata-sized union of local skylines). Keeps a row iff no row
    * in the same bucket dominates it:
    *   dominated ⟺ max(size | price < p)  ≥ p.size   (strictly cheaper)
    *             ∨ max(size | price = p)  > p.size    (peer, larger)  */
  private def localSkyline(pts: DataFrame,
      bucket: Option[Column]): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = bucket match {
      case Some(b) => Window.partitionBy(b)
      case None    => Window.partitionBy()
    }
    val wLt = base.orderBy($"__cents")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = base.orderBy($"__cents").rangeBetween(0, 0)
    pts
      .withColumn("__max_lt", max($"p_size").over(wLt))
      .withColumn("__max_eq", max($"p_size").over(wEq))
      .filter(!(coalesce($"__max_lt" >= $"p_size", lit(false)) ||
        $"__max_eq" > $"p_size"))
      .drop("__max_lt", "__max_eq")
  }

  /** Quadratic NOT EXISTS truth arm — the spec forces it identical to
    * the merged two-pass plan on planted dominance chains and ties. */
  private[operators] def q56SkylineNaive(pts: DataFrame): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val other = pts.select($"p_retailprice".as("bp"), $"p_size".as("bs"))
    pts.join(other,
        ($"bp" <= $"p_retailprice") && ($"bs" >= $"p_size") &&
          (($"bp" < $"p_retailprice") || ($"bs" > $"p_size")),
        "left_anti")
      .select($"p_partkey", $"p_retailprice", $"p_size")
      .orderBy($"p_retailprice", $"p_partkey")
  }

  val q56SkylineSql: String =
    """SELECT a.p_partkey, a.p_retailprice, a.p_size
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice
      |    AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice
      |         OR b.p_size > a.p_size))
      |ORDER BY a.p_retailprice, a.p_partkey""".stripMargin

  // --------------------------------------------------------------- q57
  /** KMV sketch SET ALGEBRA: union, intersection, and Jaccard
    * estimates between two audiences (distinct `view` users vs
    * distinct `purchase` users) computed entirely on two bottom-k
    * sketches — the q33 primitive promoted to the operation sketches
    * actually exist for. Counting either audience exactly is easy;
    * the 100 TB win is that ONE distributed pass builds a ≤ k-long
    * sketch per audience and every set operation after that is O(k)
    * driver arithmetic on metadata — overlap matrices across hundreds
    * of segments never touch the data again (and the sketches are the
    * same mergeable state q42 maintains incrementally).
    *
    * Estimators (Beyer et al., SIGMOD'07 — public): the union sketch
    * is the bottom-k of the two sketches' union with threshold τ =
    * its k-th value; ρ = |K_A ∩ K_B ∩ {h ≤ τ}| items agree under τ,
    * so Ĵ = ρ/|union kept| and |A∩B| ≈ Ĵ·|A∪B|-hat. Degenerate
    * small-side case (union < k) is EXACT by construction — the
    * sketches are the whole sets. Like q33 and unlike HLL, every
    * step — md5 hashing, order statistics, the few IEEE doubles — is
    * engine-deterministic, so the DuckDB oracle checks the estimates
    * bit for bit. */
  def q57KmvSetops(spark: SparkSession, dir: String): DataFrame =
    q57From(t(spark, dir, "events"), "view", "purchase")

  /** [[q57KmvSetops]]'s core; audiences parameterized for specs. */
  private[operators] def q57From(ev: DataFrame, typeA: String,
      typeB: String): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    import graft.functions.{KmvAgg, KmvSetAgg}
    val k = 64
    val kmv = new KmvSetAgg(k).toColumn
    // one distributed pass: dedup in codegen'd hash-agg land first
    // (q33's shape), then the typed sketch fold on ~#distinct rows
    val sketches = ev
      .filter($"event_type".isin(typeA, typeB))
      .select($"event_type", md5Long($"user_id".cast("string")).as("h"))
      .distinct()
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(kmv.name("s"))
      .collect().toMap // 2 rows × ≤ k longs — metadata by construction
    val ka = sketches.getOrElse(typeA, Nil)
    val kb = sketches.getOrElse(typeB, Nil)
    // sketch algebra — O(k), never touches the data again
    val u = (ka ++ kb).distinct.sorted.take(k)
    val nu = u.size
    val tau = if (u.isEmpty) 0L else u.last
    val rho = ka.toSet.intersect(kb.toSet).count(_ <= tau).toLong
    def est(s: List[Long]) =
      KmvAgg.estimate(k, s.size, if (s.isEmpty) 0L else s.last)
    val estU = KmvAgg.estimate(k, nu, tau)
    val jacMilli = if (nu == 0) 0L else 1000L * rho / nu
    val estI = if (nu == 0) 0.0
      else rho.toDouble / nu.toDouble * estU
    Seq((ka.size, kb.size, est(ka), est(kb), nu, estU, rho,
      jacMilli, estI))
      .toDF("n_a", "n_b", "est_a", "est_b", "n_union_kept",
        "est_union", "rho", "jaccard_milli", "est_intersect")
  }

  val q57KmvSetopsSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val h = sqlMd5Long("CAST(user_id AS VARCHAR)")
    s"""WITH ha AS (SELECT DISTINCT $h AS h FROM events
       |            WHERE event_type = 'view'),
       |hb AS (SELECT DISTINCT $h AS h FROM events
       |       WHERE event_type = 'purchase'),
       |ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
       |kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
       |u AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
       |      ORDER BY h LIMIT 64),
       |su AS (SELECT COUNT(*) AS nu, MAX(h) AS tau FROM u),
       |sa AS (SELECT COUNT(*) AS na, MAX(h) AS ta FROM ka),
       |sb AS (SELECT COUNT(*) AS nb, MAX(h) AS tb FROM kb),
       |sr AS (SELECT COUNT(*) AS rho FROM ka JOIN kb USING (h), su
       |       WHERE h <= tau)
       |SELECT CAST(na AS INT) AS n_a, CAST(nb AS INT) AS n_b,
       |  CASE WHEN na < 64 THEN CAST(na AS DOUBLE)
       |       ELSE 63.0 * 1152921504606846976.0 / CAST(ta AS DOUBLE)
       |  END AS est_a,
       |  CASE WHEN nb < 64 THEN CAST(nb AS DOUBLE)
       |       ELSE 63.0 * 1152921504606846976.0 / CAST(tb AS DOUBLE)
       |  END AS est_b,
       |  CAST(nu AS INT) AS n_union_kept,
       |  CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
       |       ELSE 63.0 * 1152921504606846976.0 / CAST(tau AS DOUBLE)
       |  END AS est_union,
       |  CAST(rho AS BIGINT) AS rho,
       |  CASE WHEN nu = 0 THEN 0
       |       ELSE CAST(1000 * rho // nu AS BIGINT)
       |  END AS jaccard_milli,
       |  CASE WHEN nu = 0 THEN 0.0
       |       ELSE CAST(rho AS DOUBLE) / CAST(nu AS DOUBLE) *
       |         (CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
       |               ELSE 63.0 * 1152921504606846976.0 /
       |                 CAST(tau AS DOUBLE) END)
       |  END AS est_intersect
       |FROM sa, sb, su, sr""".stripMargin
  }

  // --------------------------------------------------------------- q58
  /** Day-2 skyline maintenance: q56's Pareto frontier kept current as
    * new parts arrive, WITHOUT rescanning the standing corpus. The
    * merge-reducibility that powers q56's distributed arm is also its
    * incremental-view-maintenance theorem: skyline(A ∪ Δ) =
    * skyline(skyline(A) ∪ Δ), so the standing state is just
    * yesterday's skyline — metadata-sized (a random 2-D skyline is
    * O(log n)) — and the daily fold runs q56's two-pass core over
    * {standing skyline ∪ Δ}: the delta's points can both EVICT
    * dominated standing points and be rejected by them, with no
    * retraction machinery because insertion-only dominance never
    * resurrects a loser. At 100 TB yesterday's corpus is never read
    * again; the fold's cost is the delta scan. (Deletions WOULD need
    * the q52-style retraction shape — a dropped skyline point must be
    * re-derived from the corpus; out of scope here and stated.)
    *
    * Same gate contract as every day-2 twin (q40/q41/q42/q48/q50):
    * the oracle is the FULL-table q56 SQL, so the maintained result
    * must hash-match a from-scratch rebuild. */
  def q58SkylineDay2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val stateT =
      graft.sources.LayoutOps.stateTable("graft_state_q58_skyline", dir)
    val part = t(spark, dir, "part")
    val isNew = pmod(
      md5Long(concat($"p_partkey".cast("string"), lit(":q58"))),
      lit(5L)) === 0L
    if (!spark.catalog.tableExists(stateT)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, stateT)
      q56From(part.filter(!isNew))
        .write.mode("overwrite").format("parquet").saveAsTable(stateT)
    }
    q56From(spark.table(stateT).unionByName(part.filter(isNew)
      .select($"p_partkey", $"p_retailprice", $"p_size")))
  }

  // --------------------------------------------------------------- q59
  /** Decremental skyline — the delete twin of q58's insert fold,
    * completing the family the way q52 completes components
    * (q49 batch / q50 day-2 / q52 retraction). The scenario: the best
    * offer is WITHDRAWN — the cheapest point of the current frontier
    * (min price, then min key) is retracted; what is the new frontier?
    *
    * Deleting a skyline point is the hard direction: its replacements
    * must be re-derived from points it was hiding, and a naive engine
    * rescans the corpus. The layered-skyline theorem makes the fold
    * metadata-only: keep TWO layers, L1 = skyline(corpus) and
    * L2 = skyline(corpus ∖ L1). Every point below L2 is dominated by
    * some L2 point (skyline property of corpus ∖ L1), and a single
    * deletion x ∈ L1 deletes no L2 point, so that dominator survives
    * — no layer-3 point can surface. Hence
    * skyline(corpus ∖ x) = skyline((L1 ∖ x) ∪ L2), both layers
    * O(log n)-sized, the fold never reads the corpus (ScaleSpec pins
    * ≤ 1 part scan including the L1-pick probe). k deletions per
    * repair cycle need k+1 layers, and layer repair after a fold is
    * one corpus pass — amortizable, stated honestly; the q52 contrast
    * is that dominance deletion CANNOT be purely subtractive, so the
    * bounded-promotion layer is the right standing state.
    *
    * Oracle: full NOT EXISTS skyline over part minus the same
    * deterministic point — the maintained result must hash-match the
    * from-scratch rebuild. */
  def q59SkylineRetract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = t(spark, dir, "part")
      .select($"p_partkey", $"p_retailprice", $"p_size")
    val l1T =
      graft.sources.LayoutOps.stateTable("graft_state_q59_l1", dir)
    val l2T =
      graft.sources.LayoutOps.stateTable("graft_state_q59_l2", dir)
    if (!spark.catalog.tableExists(l1T)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, l1T)
      q56From(part)
        .write.mode("overwrite").format("parquet").saveAsTable(l1T)
    }
    if (!spark.catalog.tableExists(l2T)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, l2T)
      q56From(part.join(spark.table(l1T).select($"p_partkey"),
          Seq("p_partkey"), "left_anti"))
        .write.mode("overwrite").format("parquet").saveAsTable(l2T)
    }
    q59Fold(spark.table(l1T), spark.table(l2T))
  }

  /** The metadata-only fold: drop the (min price, min key) point of
    * L1 and re-run the skyline over the two layers. Planted specs
    * enter here. */
  private[operators] def q59Fold(l1: DataFrame, l2: DataFrame): DataFrame = {
    val spark = l1.sparkSession
    import spark.implicits._
    // both layers are O(log n); the pick is a one-row probe
    val x = l1.orderBy($"p_retailprice", $"p_partkey").limit(1)
      .select($"p_partkey").as[Long].collect().headOption
    val kept = x match {
      case Some(k) => l1.filter($"p_partkey" =!= k)
      case None    => l1
    }
    q56From(kept.unionByName(l2))
  }

  // --------------------------------------------------------------- q63
  /** The first `n` skyline layers of `pts`: L1 = skyline(pts),
    * L_i = skyline(pts ∖ L1 ∪ … ∪ L_{i-1}) — the standing state the
    * k-deletion theorem needs (see [[q63SkylineBatchRetract]]). Each
    * layer is O(log n) on random 2-D data; building n layers costs n
    * corpus passes — the day-1 init / post-cycle REPAIR job, amortized
    * over a whole deletion cycle. Returned frames are eagerly
    * checkpointed; the CALLER releases them
    * (DedupOps.unpersistCheckpointed). */
  private[graft] def skylineLayers(pts: DataFrame,
                                       n: Int): Seq[DataFrame] = {
    val spark = pts.sparkSession
    import spark.implicits._
    var rest = pts
    (1 to n).map { _ =>
      val li = q56From(rest).localCheckpoint()
      rest = rest.join(li.select($"p_partkey"), Seq("p_partkey"), "left_anti")
      li
    }
  }

  /** The k-deletion fold: frontier after deleting `delKeys` =
    * skyline(⋃ layers ∖ delKeys). Exact whenever |delKeys| < #layers
    * (the generalized bounded-promotion theorem, proof at
    * [[q63SkylineBatchRetract]]); metadata-only — never reads the
    * corpus. */
  private[graft] def q63Fold(layers: Seq[DataFrame],
                                 delKeys: DataFrame): DataFrame = {
    val spark = layers.head.sparkSession
    import spark.implicits._
    q56From(layers.reduce(_ unionByName _)
      .join(delKeys, Seq("p_partkey"), "left_anti"))
  }

  /** BATCH-deletion skyline — q59 generalized from one retraction to a
    * batch of k, completing the r13 verdict's item 4: the k cheapest
    * frontier points are withdrawn at once (k = [[Q63Layers]] − 1) and
    * the new frontier folds from k+1 standing layers WITHOUT reading
    * the corpus.
    *
    * THEOREM (k+1-layer bounded promotion): if p ∉ L1 ∪ … ∪ L_j then p
    * has ≥ j DISTINCT dominators, one per layer above it — p ∉ L1
    * gives a maximal dominator q1 ∈ L1; p ∈ corpus ∖ L1 and p ∉ L2
    * gives q2 ∈ L2; induction. So after deleting any D with |D| ≤ k,
    * every point below the stored k+1 layers retains ≥ k+1 − k ≥ 1
    * live dominator and can never surface:
    * skyline(corpus ∖ D) = skyline(⋃ L1..L_{k+1} ∖ D). q59 is the
    * k = 1 special case. The planted spec proves both directions:
    * 2 deletions through 2 layers produce the WRONG frontier, through
    * 3 layers the exact one.
    *
    * After a fold cycle the layers are no longer the true layers of
    * the surviving corpus — REPAIR ([[skylineLayers]] over
    * corpus ∖ D) is the one amortized corpus pass that resets the
    * deletion budget; the repair-cycle spec drives
    * fold → repair → fold and matches from-scratch at every step, and
    * the streaming dual ([[graft.streaming.StreamOps]] skyline
    * maintainer) runs the same cores behind EpochStore with an
    * automatic repair trigger.
    *
    * Oracle: from-scratch NOT EXISTS skyline over part minus the same
    * deterministic k-batch.
    *
    * Staleness caveat (r14 ADVICE): both the deletion batch and the
    * fold read the standing `graft_state_q63_l*` tables while the
    * oracle recomputes from `part` — they agree only while the layers
    * are fresh. State names are DIR-hash keyed, so regenerating the
    * parquet under the SAME directory silently keeps the old layers:
    * clear `graft_state_*` after regenerating data (the standing
    * contract every `graft_state` consumer shares — q58's day-2 fold
    * documents the same discipline). */
  private[graft] val Q63Layers = 3

  def q63SkylineBatchRetract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = t(spark, dir, "part")
      .select($"p_partkey", $"p_retailprice", $"p_size")
    val lT = (1 to Q63Layers).map(i =>
      graft.sources.LayoutOps.stateTable(s"graft_state_q63_l$i", dir))
    if (!lT.forall(spark.catalog.tableExists)) {
      val layers = skylineLayers(part, Q63Layers)
      try lT.zip(layers).foreach { case (tn, l) =>
        graft.sources.LayoutOps.clearStaleLocation(spark, tn)
        l.write.mode("overwrite").format("parquet").saveAsTable(tn)
      } finally layers.foreach(DedupOps.unpersistCheckpointed)
    }
    // the deterministic batch: the k cheapest frontier points — read
    // from the standing L1, so the fold's plan touches ONLY the layer
    // tables (ScaleSpec pins no corpus scan)
    val del = spark.table(lT.head)
      .orderBy($"p_retailprice", $"p_partkey").limit(Q63Layers - 1)
      .select($"p_partkey")
    q63Fold(lT.map(spark.table), del)
  }

  val q63SkylineBatchRetractSql: String =
    s"""WITH sky AS (
      |  SELECT a.p_partkey, a.p_retailprice, a.p_size FROM part a
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM part b
      |    WHERE b.p_retailprice <= a.p_retailprice
      |      AND b.p_size >= a.p_size
      |      AND (b.p_retailprice < a.p_retailprice
      |           OR b.p_size > a.p_size))),
      |x AS (SELECT p_partkey FROM sky
      |      ORDER BY p_retailprice, p_partkey LIMIT ${Q63Layers - 1}),
      |rest AS (SELECT * FROM part
      |         WHERE p_partkey NOT IN (SELECT p_partkey FROM x))
      |SELECT a.p_partkey, a.p_retailprice, a.p_size
      |FROM rest a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM rest b
      |  WHERE b.p_retailprice <= a.p_retailprice
      |    AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice
      |         OR b.p_size > a.p_size))
      |ORDER BY a.p_retailprice, a.p_partkey""".stripMargin

  val q59SkylineRetractSql: String =
    """WITH sky AS (
      |  SELECT a.p_partkey, a.p_retailprice, a.p_size FROM part a
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM part b
      |    WHERE b.p_retailprice <= a.p_retailprice
      |      AND b.p_size >= a.p_size
      |      AND (b.p_retailprice < a.p_retailprice
      |           OR b.p_size > a.p_size))),
      |x AS (SELECT p_partkey FROM sky
      |      ORDER BY p_retailprice, p_partkey LIMIT 1),
      |rest AS (SELECT * FROM part
      |         WHERE p_partkey <> (SELECT p_partkey FROM x))
      |SELECT a.p_partkey, a.p_retailprice, a.p_size
      |FROM rest a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM rest b
      |  WHERE b.p_retailprice <= a.p_retailprice
      |    AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice
      |         OR b.p_size > a.p_size))
      |ORDER BY a.p_retailprice, a.p_partkey""".stripMargin

  // --------------------------------------------------------------- q64
  /** BUFFERED decremental TOP-K — top-k orders per customer kept
    * correct under a deletion batch without touching the base table
    * for any group that doesn't need it. Deletion is the direction
    * plain top-k state cannot absorb (an insert compares against the
    * k-th element; a delete may promote a row the state never kept),
    * and the classical fix is a SLACK BUFFER: keep top (k+s) per
    * group. A deletion batch then splits groups three ways: untouched
    * groups serve from their buffer verbatim; touched groups with ≥ k
    * surviving buffer rows serve from the buffer too (every surviving
    * buffer row still dominates every non-buffer survivor, so the
    * buffer's top-k IS the survivors' top-k); only groups whose FULL
    * buffer lost more than s rows (surviving < k while the buffer held
    * k+s — rows below the buffer might now qualify) refill by
    * recomputing from the base's survivors — q52's detect-affected +
    * bounded-recompute at group grain. A buffer that was never full
    * holds its ENTIRE group, so it cannot underflow into a refill.
    * q41's read-only IVM rule: the fold never persists, so replayed
    * reads cannot double-delete.
    *
    * Scale shape: the standing buffer is groups×(k+s) rows —
    * metadata-sized — bucketed on the group key; the anti/semi probes,
    * both per-group counts, and the serve window all ride that
    * bucketing with zero exchange (single-column group key = the
    * bucket key); the deletion batch repartitions to the buffer's
    * bucket spec; the ONLY base read on day 2 is the refill scan,
    * semi-join pruned to the underflowed groups (≈ 3% of groups at
    * the sf0.01 deletion rate: P[Binomial(6, 1/4) ≥ 4]). A
    * from-scratch refresh re-windows the whole corpus every time. */
  private[graft] val Q64K = 3
  private[graft] val Q64S = 3

  def q64TopkRetract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val all = t(spark, dir, "orders").select($"o_custkey".as("g"),
      $"o_orderkey".as("id"), $"o_totalprice".as("v"))
    val bufT = graft.sources.LayoutOps.stateTable("graft_state_q64_topk", dir)
    if (!spark.catalog.tableExists(bufT))
      graft.sources.LayoutOps.writeBucketed(
        q64Buffer(all), bufT, Seq("g"),
        graft.sources.LayoutOps.stateBuckets(spark))
    val isDel = pmod(md5Long(concat($"id".cast("string"), lit(":q64"))),
      lit(4L)) === 0L
    q64Fold(bufT, all.filter(isDel).select($"g", $"id"), all.filter(!isDel))
  }

  /** Standing per-group top-(k+s) buffer rows. */
  private[graft] def q64Buffer(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base.withColumn("rn", row_number().over(
        Window.partitionBy($"g").orderBy($"v".desc, $"id")))
      .filter($"rn" <= Q64K + Q64S).select($"g", $"id", $"v")
  }

  /** The fold: serve untouched and still-covered groups from the
    * buffer; refill ONLY underflowed-while-full groups from the
    * surviving base rows. */
  private[graft] def q64Fold(bufT: String, dels: DataFrame,
      survivors: DataFrame): DataFrame = {
    val spark = dels.sparkSession
    import spark.implicits._
    val buf = spark.table(bufT)
    val delsK = dels.repartition(
      graft.sources.LayoutOps.tableBuckets(spark, bufT), $"g")
    val survBuf = buf.join(delsK, Seq("g", "id"), "left_anti")
    val nBuf = buf.groupBy($"g").agg(count(lit(1)).as("n_buf"))
    val nSurv = survBuf.groupBy($"g").agg(count(lit(1)).as("n_surv"))
    val refillG = nBuf.join(nSurv, Seq("g"), "left")
      .filter($"n_buf" === (Q64K + Q64S) &&
        coalesce($"n_surv", lit(0L)) < Q64K)
      .select($"g")
    val byG = Window.partitionBy($"g").orderBy($"v".desc, $"id")
    val fromBuf = survBuf.join(refillG, Seq("g"), "left_anti")
      .withColumn("rank", row_number().over(byG).cast("long"))
      .filter($"rank" <= Q64K)
    val refill = survivors.join(refillG, Seq("g"), "left_semi")
      .withColumn("rank", row_number().over(byG).cast("long"))
      .filter($"rank" <= Q64K)
    fromBuf.select($"g", $"rank", $"id", $"v")
      .unionByName(refill.select($"g", $"rank", $"id", $"v"))
      .orderBy($"g", $"rank")
  }

  // The oracle is the from-scratch per-group top-k over the SURVIVING
  // orders: the buffered fold must be indistinguishable from
  // re-windowing the whole corpus without the deleted rows.
  val q64TopkRetractSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val kept =
      "NOT (" + sqlMd5Long("CAST(o_orderkey AS VARCHAR) || ':q64'") +
        " % 4 = 0)"
    s"""WITH kept AS (
       |  SELECT o_custkey AS g, o_orderkey AS id, o_totalprice AS v
       |  FROM orders WHERE $kept),
       |r AS (
       |  SELECT g, id, v,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id)
       |      AS BIGINT) AS rank
       |  FROM kept)
       |SELECT g, rank, id, v FROM r
       |WHERE rank <= $Q64K
       |ORDER BY g, rank""".stripMargin
  }

  // --------------------------------------------------------------- q65
  /** FUNCTIONAL-DEPENDENCY profiling — the TANE-family data-profiling
    * primitive q43's domain checks don't cover: for each candidate
    * dependency lhs → rhs, the EXACT g3 repair distance (the minimum
    * number of rows to delete for the FD to hold: n − Σ_lhs max_rhs
    * count), plus exact-hold and 1%-approximate-hold verdicts. This is
    * what schema-discovery and data-cleaning stacks rank candidates
    * by (TANE/Huhtala et al. 1999 is public); an FD that "holds at
    * 1%" flags a latent constraint worth enforcing, and g3 names the
    * exact cleaning cost.
    *
    * Scale shape: each candidate is a two-level hash aggregate —
    * (lhs, rhs) counts collapse map-side, then per-lhs max/sum, then
    * one row — so a candidate costs one corpus pass with partial
    * aggregation and the union is candidate-count×1 rows. Profilers
    * at 100 TB run the same shape per candidate (or over a sampled
    * slab — the operator is grain-agnostic). */
  private[graft] val Q65Candidates: Seq[(String, String, String)] = Seq(
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("lineitem", "l_orderkey", "l_shipdate"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("part", "p_name", "p_brand"),
    ("part", "p_brand", "p_type"),
    ("events", "user_id", "event_type"))

  def q65FdProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Q65Candidates
      .map { case (tn, lhs, rhs) => q65One(t(spark, dir, tn), tn, lhs, rhs) }
      .reduce(_ unionByName _)
      .orderBy($"fd")
  }

  /** One candidate's exact g3 profile. */
  private[graft] def q65One(df: DataFrame, table: String, lhs: String,
      rhs: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(lhs).as("a"), col(rhs).as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("cnt"))
      .groupBy($"a").agg(sum($"cnt").as("n_a"), max($"cnt").as("mx"))
      .agg(sum($"n_a").as("n_rows"), count(lit(1)).as("n_lhs"),
        sum($"n_a" - $"mx").as("g3"))
      .select(lit(s"$table.$lhs->$rhs").as("fd"), $"n_rows", $"n_lhs",
        $"g3", ($"g3" === 0L).as("holds"),
        ($"g3" * 100 <= $"n_rows").as("holds_1pct"))
  }

  val q65FdProfileSql: String =
    Q65Candidates.map { case (tn, lhs, rhs) =>
      s"""SELECT '$tn.$lhs->$rhs' AS fd,
         |  CAST(SUM(n_a) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_lhs,
         |  CAST(SUM(n_a - mx) AS BIGINT) AS g3,
         |  SUM(n_a - mx) = 0 AS holds,
         |  SUM(n_a - mx) * 100 <= SUM(n_a) AS holds_1pct
         |FROM (SELECT a, SUM(cnt) AS n_a, MAX(cnt) AS mx
         |      FROM (SELECT $lhs AS a, $rhs AS b, COUNT(*) AS cnt
         |            FROM $tn GROUP BY 1, 2)
         |      GROUP BY a)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY fd")

  // --------------------------------------------------------------- q60
  /** Snapshot diff (CDC reconciliation): classify every key of two
    * table snapshots as INSERT / DELETE / UPDATE / unchanged — the
    * operator that turns the reference's drop-and-recreate sync
    * (`TableSync`, its entire dataflow) into an incremental one: ship
    * the diff, not the table. The "old" snapshot is derived
    * deterministically from orders (5% of keys absent = inserts-to-be,
    * a disjoint 5% carrying a shifted price = updates-to-be), so the
    * oracle can rebuild the exact same pair.
    *
    * Scale shape: ONE full-outer join hash-partitioned on the primary
    * key — both sides shuffle once, change classification is a
    * map-side projection over the joined row (null-safe per-column
    * compares on the value columns; a row-hash compare works too but
    * double→string rendering differs across engines, so explicit
    * column compares keep the oracle exact). No window, no second
    * scan; at 100 TB this is the reconciliation pass every CDC
    * pipeline runs, and bucketing both snapshots on the key would
    * remove even the exchange. Unchanged rows are dropped before the
    * (tiny) ordered output. */
  def q60SyncDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val now = t(spark, dir, "orders")
    val isIns = pmod(md5Long(concat($"o_orderkey".cast("string"),
      lit(":q60i"))), lit(20L)) === 0L
    val isUpd = pmod(md5Long(concat($"o_orderkey".cast("string"),
      lit(":q60u"))), lit(20L)) === 1L
    val isDel = pmod(md5Long(concat($"o_orderkey".cast("string"),
      lit(":q60d"))), lit(20L)) === 2L
    // yesterday's snapshot: insert keys absent; update keys carry the
    // pre-change price (the +100.00 shift is exact in doubles at this
    // magnitude in BOTH engines — same IEEE add); a disjoint 5% exists
    // ONLY in the old snapshot (negated keys, which today's table
    // cannot contain) = deletes-to-be
    val old = now.filter(!isIns)
      .select($"o_orderkey", $"o_orderstatus",
        when(isUpd, $"o_totalprice" + 100.0)
          .otherwise($"o_totalprice").as("o_totalprice"))
      .unionByName(now.filter(isDel)
        .select((-$"o_orderkey").as("o_orderkey"), $"o_orderstatus",
          $"o_totalprice"))
    q60DiffFrom(old,
      now.select($"o_orderkey", $"o_orderstatus", $"o_totalprice"))
  }

  /** The reconciliation core: classify keys of two (o_orderkey,
    * o_orderstatus, o_totalprice) snapshots. Planted specs enter
    * here. */
  private[operators] def q60DiffFrom(old: DataFrame,
      now: DataFrame): DataFrame = {
    val spark = old.sparkSession
    import spark.implicits._
    old.as("o")
      .join(now.as("n"), $"o.o_orderkey" === $"n.o_orderkey", "full_outer")
      .select(
        coalesce($"n.o_orderkey", $"o.o_orderkey").as("o_orderkey"),
        when($"o.o_orderkey".isNull, "insert")
          .when($"n.o_orderkey".isNull, "delete")
          .when(!($"o.o_totalprice" <=> $"n.o_totalprice") ||
            !($"o.o_orderstatus" <=> $"n.o_orderstatus"), "update")
          .otherwise("same").as("change"))
      .filter($"change" =!= "same")
      .orderBy($"o_orderkey")
  }

  val q60SyncDiffSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val hi = sqlMd5Long("CAST(o_orderkey AS VARCHAR) || ':q60i'")
    val hu = sqlMd5Long("CAST(o_orderkey AS VARCHAR) || ':q60u'")
    val hd = sqlMd5Long("CAST(o_orderkey AS VARCHAR) || ':q60d'")
    s"""WITH old AS (
       |  SELECT o_orderkey, o_orderstatus,
       |    CASE WHEN $hu % 20 = 1 THEN o_totalprice + 100.0
       |         ELSE o_totalprice END AS o_totalprice
       |  FROM orders WHERE $hi % 20 <> 0
       |  UNION ALL
       |  SELECT -o_orderkey AS o_orderkey, o_orderstatus, o_totalprice
       |  FROM orders WHERE $hd % 20 = 2),
       |now_s AS (SELECT o_orderkey, o_orderstatus, o_totalprice
       |          FROM orders),
       |j AS (
       |  SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
       |    CASE WHEN o.o_orderkey IS NULL THEN 'insert'
       |         WHEN n.o_orderkey IS NULL THEN 'delete'
       |         WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
       |           OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       |           THEN 'update'
       |         ELSE 'same' END AS change
       |  FROM old o FULL OUTER JOIN now_s n
       |    ON o.o_orderkey = n.o_orderkey)
       |SELECT o_orderkey, change FROM j
       |WHERE change <> 'same'
       |ORDER BY o_orderkey""".stripMargin
  }

  // --------------------------------------------------------------- q61
  /** Bootstrap confidence interval for a mean — resampling statistics
    * as a SCALABLE aggregate, not a driver loop. The naive bootstrap
    * materializes B resampled copies of the data (B× the corpus — dead
    * at 100 TB); the Poissonized bootstrap replaces "draw n rows with
    * replacement" with an independent Poisson(1) multiplicity per
    * (row, replica) — the standard large-n approximation (the
    * multinomial's cell counts converge to independent Poisson(1); the
    * same trick streaming bootstrap papers use) — so each replica is a
    * WEIGHTED aggregate computed map-side in one scan: the shuffle
    * carries B partial sums per partition, never resampled data.
    *
    * Every step is engine-deterministic: the per-(row, replica) weight
    * inverts the Poisson(1) CDF at u = md5-uniform (CDF literals are
    * exact double constants, identical text in both engines), replica
    * sums run in DECIMAL (the dsum discipline), and the interval is
    * the 2nd-smallest / 2nd-largest of the B = 32 replica means
    * (≈ 3rd/97th percentile) over a metadata-sized frame. Output:
    * point mean, bootstrap interval, replica count. */
  private val Q61B = 32
  private val Q61PoissonCdf = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712)

  def q61BootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val o = t(spark, dir, "orders").select($"o_orderkey", $"o_totalprice")
    val point = o.agg(
      (sum($"o_totalprice".cast("decimal(28,8)")).cast("double") /
        count(lit(1)).cast("double")).as("point_mean"))
    val rep = o.select($"o_orderkey", $"o_totalprice",
        explode(sequence(lit(0), lit(Q61B - 1))).as("b"))
      .withColumn("u",
        (pmod(md5Long(concat($"o_orderkey".cast("string"), lit(":"),
          $"b".cast("string"), lit(":q61"))), lit(1000000000L))
          .cast("double")) / lit(1000000000.0))
      .withColumn("w",
        Q61PoissonCdf.zipWithIndex.foldRight(lit(7): Column) {
          case ((c, k), e) => when($"u" < c, k).otherwise(e)
        })
    // All-zero-weight replicas (unreachable beyond toy n — P ≈ e^-n
    // per replica — but the tiny-input spec path could hit one) would
    // mean-divide by zero: NaN in Spark, an error/NULL split in
    // DuckDB. Both arms drop such replicas explicitly (r13 advice).
    val means = rep.groupBy($"b").agg(
      (sum(($"w" * $"o_totalprice").cast("decimal(28,8)")).cast("double") /
        sum($"w").cast("double")).as("m"),
      sum($"w").as("sw"))
      .filter($"sw" > 0).select($"b", $"m")
    val lo = Window.orderBy($"m")
    val hi = Window.orderBy($"m".desc)
    val ranked = means
      .withColumn("ra", row_number().over(lo))
      .withColumn("rd", row_number().over(hi))
    point
      .crossJoin(ranked.filter($"ra" === 2).select($"m".as("boot_lo")))
      .crossJoin(ranked.filter($"rd" === 2).select($"m".as("boot_hi")))
      .withColumn("n_replicas", lit(Q61B))
  }

  val q61BootstrapCiSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val h = sqlMd5Long(
      "CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR) || ':q61'")
    val cdfCase = Q61PoissonCdf.zipWithIndex
      .map { case (c, k) => s"WHEN u < $c THEN $k" }
      .mkString("CASE ", " ", " ELSE 7 END")
    s"""WITH pt AS (
       |  SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8)))
       |      AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS point_mean
       |  FROM orders),
       |r AS (
       |  SELECT o_orderkey, o_totalprice, b,
       |    CAST($h % 1000000000 AS DOUBLE) / 1000000000.0 AS u
       |  FROM orders, unnest(generate_series(0, ${Q61B - 1})) t(b)),
       |wt AS (SELECT b, o_totalprice, $cdfCase AS w FROM r),
       |m AS (
       |  SELECT b,
       |    CAST(CAST(SUM(CAST(w * o_totalprice AS DECIMAL(28,8)))
       |      AS VARCHAR) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
       |  FROM wt GROUP BY b HAVING SUM(w) > 0),
       |rk AS (
       |  SELECT m,
       |    ROW_NUMBER() OVER (ORDER BY m) AS ra,
       |    ROW_NUMBER() OVER (ORDER BY m DESC) AS rd
       |  FROM m)
       |SELECT pt.point_mean,
       |  (SELECT m FROM rk WHERE ra = 2) AS boot_lo,
       |  (SELECT m FROM rk WHERE rd = 2) AS boot_hi,
       |  $Q61B AS n_replicas
       |FROM pt""".stripMargin
  }

  // --------------------------------------------------------------- q62
  /** Group-wise ordinary least squares — revenue trend (price vs
    * order date) per order priority — via SUFFICIENT STATISTICS: the
    * five sums (n, Σx, Σy, Σx², Σxy) are one map-side-partial hash
    * aggregate (partials merge by addition — the textbook mergeable
    * shape), and slope/intercept fall out of the closed form on the
    * metadata-sized group frame. No ML library, no per-group data
    * pass, no iteration; at 100 TB the cost is exactly one scan and
    * one groups-sized exchange — regression as an aggregate, the way
    * a SQL engine should do it.
    *
    * Engine-exactness discipline: x (days since 1990-01-01) and y
    * (price CENTS) are integers, so every sum is EXACT integer
    * arithmetic in both engines — Σx in int64 (≲ 1e16 even at 1e12
    * rows) and Σy/Σx²/Σxy widened to decimal(38,0) / HUGEINT
    * accumulators, because those sums wrap int64 around ~3e8 rows
    * (silently under Spark's non-ANSI mode, loudly in DuckDB — the
    * exact divergence the r13 advice flagged). The closed-form
    * combination then casts the exact sums to double with one pinned
    * parenthesization on both sides — deterministic IEEE, so the
    * slopes hash-match the oracle bit for bit at any scale. */
  def q62TrendRegression(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    q62From(t(spark, dir, "orders")
      .select($"o_orderpriority",
        datediff(to_date($"o_orderdate"), lit("1990-01-01").cast("date"))
          .cast("long").as("x"),
        // floor(x·100 + 0.5) mirrors the oracle exactly for every
        // sign/tie (e30's round-on-DOUBLE hazard class, swept in r15)
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("yc")))
  }

  /** [[q62TrendRegression]]'s core over an arbitrary
    * (o_orderpriority, x, yc) frame — planted exact-line specs enter
    * here. */
  private[operators] def q62From(o: DataFrame): DataFrame = {
    val spark = o.sparkSession
    import spark.implicits._
    // Per-row products fit int64 with room (x ≲ 2e4 days, yc ≲ 6e7
    // cents → x·yc ≲ 1.2e12), but their SUMS would wrap int64 around
    // ~3e8 rows — silently under Spark's non-ANSI mode, loudly in
    // DuckDB. The accumulators therefore widen to decimal(38,0)
    // (exact to 1e38 ≈ 1e26 rows; map-side-partial-friendly fixed
    // width) before the closed form casts them to double; sx stays
    // int64 (≲ 1e16 even at 1e12 rows). Mirrored in the oracle via
    // HUGEINT sums.
    val s = o.groupBy($"o_orderpriority").agg(
      count(lit(1)).as("n"),
      sum($"x").as("sx"),
      sum($"yc".cast("decimal(38,0)")).as("sy"),
      sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
      sum(($"x" * $"yc").cast("decimal(38,0)")).as("sxy"))
    val nd = $"n".cast("double")
    val (sx, sy, sxx, sxy) = ($"sx".cast("double"), $"sy".cast("double"),
      $"sxx".cast("double"), $"sxy".cast("double"))
    val slopeC = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    s.withColumn("slope_per_day", slopeC / lit(100.0))
      .withColumn("intercept",
        (($"sy".cast("double") - slopeC * $"sx".cast("double")) / nd)
          / lit(100.0))
      .select($"o_orderpriority", $"n", $"slope_per_day", $"intercept")
      .orderBy($"o_orderpriority")
  }

  val q62TrendRegressionSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority,
      |    CAST(date_diff('day', DATE '1990-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS yc
      |  FROM orders),
      |s AS (
      |  SELECT o_orderpriority, COUNT(*) AS n,
      |    SUM(x) AS sx,
      |    SUM(CAST(yc AS HUGEINT)) AS sy,
      |    SUM(CAST(x * x AS HUGEINT)) AS sxx,
      |    SUM(CAST(x * yc AS HUGEINT)) AS sxy
      |  FROM o GROUP BY 1)
      |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
      |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / 100.0
      |    AS slope_per_day,
      |  ((CAST(sy AS DOUBLE)
      |      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      |        * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE)) / 100.0 AS intercept
      |FROM s
      |ORDER BY o_orderpriority""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"             -> (q1Agg _),
    "q2_filter_project"  -> (q2FilterProject _),
    "q3_join_agg"        -> (q3JoinAgg _),
    "q4_topk"            -> (q4TopK _),
    "q5_window_topn"     -> (q5WindowTopN _),
    "q6_semi_join"       -> (q6SemiJoin _),
    "q7_anti_join"       -> (q7AntiJoin _),
    "q8_set_ops"         -> (q8SetOps _),
    "q9_rollup"          -> (q9Rollup _),
    "q10_distinct_agg"   -> (q10DistinctAgg _),
    "q11_scalar_subquery" -> (q11ScalarSubquery _),
    "q12_string_date"    -> (q12StringDate _),
    "q13_sql_frontend"   -> (q13SqlFrontend _),
    "q14_window_funcs"   -> (q14WindowFuncs _),
    "q15_approx_sketch"  -> (q15ApproxSketch _),
    "q16_outer_join"     -> (q16OuterJoin _),
    "q17_cube"           -> (q17Cube _),
    "q18_pivot"          -> (q18Pivot _),
    "q19_typed_udaf"     -> (q19TypedUdaf _),
    "q20_profit"         -> (q20Profit _),
    "q21_salted_join"    -> (q21SaltedJoin _),
    "q22_grouping_sets"  -> (q22GroupingSets _),
    "q23_exists_subquery" -> (q23ExistsSubquery _),
    "q24_lateral_explode" -> (q24LateralExplode _),
    "q25_percentiles"    -> (q25Percentiles _),
    "q26_collect_sort"   -> (q26CollectSort _),
    "q27_regex"          -> (q27Regex _),
    "q28_window_frames"  -> (q28WindowFrames _),
    "q29_avgqty_subquery" -> (q29AvgQtySubquery _),
    "q30_late_suppliers" -> (q30LateSuppliers _),
    "q31_higher_order"   -> (q31HigherOrder _),
    "q32_recursive_cte"  -> (q32RecursiveCte _),
    "q33_kmv_sketch"     -> (q33KmvSketch _),
    "q34_bloom_prefilter" -> (q34BloomPrefilter _),
    "q35_unpivot"        -> (q35Unpivot _),
    "q36_market_share"   -> (q36MarketShare _),
    "q37_graph_rank"     -> (q37GraphRank _),
    "q38_scd2_pit"       -> (q38Scd2PointInTime _),
    "q39_graph_converge" -> (q39GraphRankConverged _),
    "q40_scd2_day2"      -> (q40Scd2Day2 _),
    "q41_ivm_day2"       -> (q41IvmDay2 _),
    "q42_kmv_day2"       -> (q42KmvDay2 _),
    "q43_quality_audit"  -> (q43QualityAudit _),
    "q44_triangles"      -> (q44Triangles _),
    "q45_kmv_jaccard"    -> (q45KmvJaccard _),
    "q46_assoc_rules"    -> (q46AssocRules _),
    "q47_kcore"          -> (q47KCore _),
    "q48_triangles_day2" -> (q48TrianglesDay2 _),
    "q49_components"     -> (q49Components _),
    "q50_components_day2" -> (q50ComponentsDay2 _),
    "q51_quantile_day2"  -> (q51QuantileDay2 _),
    "q52_components_retract" -> (q52ComponentsRetract _),
    "q53_rollup_report"  -> (q53RollupReport _),
    "q54_shortest_paths" -> (q54ShortestPaths _),
    "q55_weighted_paths" -> (q55WeightedPaths _),
    "q56_skyline"        -> (q56Skyline _),
    "q57_kmv_setops"     -> (q57KmvSetops _),
    "q58_skyline_day2"   -> (q58SkylineDay2 _),
    "q59_skyline_retract" -> (q59SkylineRetract _),
    "q63_skyline_batch_retract" -> (q63SkylineBatchRetract _),
    "q64_topk_retract"   -> (q64TopkRetract _),
    "q65_fd_profile"     -> (q65FdProfile _),
    "q60_sync_diff"      -> (q60SyncDiff _),
    "q61_bootstrap_ci"   -> (q61BootstrapCi _),
    "q62_trend_regression" -> (q62TrendRegression _),
  )

  // --------------------------------------------------------------- q15
  /** Sketch aggregates: HyperLogLog++ distinct estimate and approximate
    * quantiles per segment. Rows-only check (sketch estimates are
    * implementation-specific, so no cross-engine oracle); the smoke spec
    * bounds the HLL error against an exact count it computes itself.
    * Deliberately no exact countDistinct here — mixing expand-based
    * distinct with sketch aggregates doubles the ObjectHashAggregate
    * stages (measured 2×). */
  def q15ApproxSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        approx_count_distinct($"o_custkey", rsd = 0.02).as("approx_customers"),
        percentile_approx($"o_totalprice", lit(0.5), lit(1000)).as("p50_price"),
        percentile_approx($"o_totalprice", lit(0.99), lit(1000)).as("p99_price"))
      .orderBy($"o_orderpriority")
  }

  def oracles: Map[String, String] = Map(
    "q1_agg"             -> q1AggSql,
    "q2_filter_project"  -> q2FilterProjectSql,
    "q3_join_agg"        -> q3JoinAggSql,
    "q4_topk"            -> q4TopKSql,
    "q5_window_topn"     -> q5WindowTopNSql,
    "q6_semi_join"       -> q6SemiJoinSql,
    "q7_anti_join"       -> q7AntiJoinSql,
    "q8_set_ops"         -> q8SetOpsSql,
    "q9_rollup"          -> q9RollupSql,
    "q10_distinct_agg"   -> q10DistinctAggSql,
    "q11_scalar_subquery" -> q11ScalarSubquerySql,
    "q12_string_date"    -> q12StringDateSql,
    "q13_sql_frontend"   -> q13SqlFrontendSql,
    "q14_window_funcs"   -> q14WindowFuncsSql,
    // q15_approx_sketch: rows-only BY IMPOSSIBILITY, not by neglect
    // (r14 verdict item 6, revisited once). The query's point is
    // Spark's NATIVE sketch aggregates — approx_count_distinct is
    // HLL++ over xxhash64 with Spark's register layout, and
    // percentile_approx is Spark's Greenwald-Khanna QuantileSummaries
    // — while DuckDB's approx_count_distinct/approx_quantile are its
    // own HLL and t-digest. Both engines are deterministic but
    // deterministically DIFFERENT: the estimate is a function of
    // engine-internal hash/sketch parameters neither engine exposes
    // or lets callers pin, so no cross-engine oracle can exist for
    // these outputs (this is unlike the KMV family q33/q42/q45/q57,
    // which hash-match exactly BECAUSE the sketch is implemented from
    // the same md5 definition in both arms). Re-implementing HLL by
    // hand on both sides would gate a different query — the KMV family
    // already covers "sketch implemented in both engines"; q15 covers
    // "the sketch aggregates Spark actually ships". Coverage instead:
    // the golden-pin spec fixes the exact output at fixed data, and
    // the error-bound spec checks the estimates against exact
    // counts/percentiles it computes itself.
    "q16_outer_join"     -> q16OuterJoinSql,
    "q17_cube"           -> q17CubeSql,
    "q18_pivot"          -> q18PivotSql,
    "q19_typed_udaf"     -> q19TypedUdafSql,
    "q20_profit"         -> q20ProfitSql,
    "q21_salted_join"    -> q21SaltedJoinSql,
    "q22_grouping_sets"  -> q22GroupingSetsSql,
    "q23_exists_subquery" -> q23ExistsSubquerySql,
    "q24_lateral_explode" -> q24LateralExplodeSql,
    "q25_percentiles"    -> q25PercentilesSql,
    "q26_collect_sort"   -> q26CollectSortSql,
    "q27_regex"          -> q27RegexSql,
    "q28_window_frames"  -> q28WindowFramesSql,
    "q29_avgqty_subquery" -> q29AvgQtySubquerySql,
    "q30_late_suppliers" -> q30LateSuppliersSql,
    "q31_higher_order"   -> q31HigherOrderSql,
    "q32_recursive_cte"  -> q32RecursiveCteSql,
    "q33_kmv_sketch"     -> q33KmvSketchSql,
    "q34_bloom_prefilter" -> q34BloomPrefilterSql,
    "q35_unpivot"        -> q35UnpivotSql,
    "q36_market_share"   -> q36MarketShareSql,
    "q37_graph_rank"     -> q37GraphRankSql,
    "q38_scd2_pit"       -> q38Scd2PointInTimeSql,
    "q39_graph_converge" -> q39GraphRankConvergedSql,
    // day-2 form: result identical to q38 (maintained dim == rebuilt dim)
    "q40_scd2_day2"      -> q38Scd2PointInTimeSql,
    // day-2 form: result identical to the from-scratch aggregate
    "q41_ivm_day2"       -> q41IvmDay2Sql,
    // merge == from-scratch by the KMV theorem: oracle is q33's SQL
    "q42_kmv_day2"       -> q33KmvSketchSql,
    "q43_quality_audit"  -> q43QualityAuditSql,
    "q44_triangles"      -> q44TrianglesSql,
    "q45_kmv_jaccard"    -> q45KmvJaccardSql,
    "q46_assoc_rules"    -> q46AssocRulesSql,
    "q47_kcore"          -> q47KCoreSql,
    // maintained counts == from-scratch counts: oracle is q44's SQL
    "q48_triangles_day2" -> q44TrianglesSql,
    "q49_components"     -> q49ComponentsSql,
    "q50_components_day2" -> q50ComponentsDay2Sql,
    "q51_quantile_day2"  -> q51QuantileDay2Sql,
    "q52_components_retract" -> q52ComponentsRetractSql,
    "q53_rollup_report"  -> q53RollupReportSql,
    "q54_shortest_paths" -> q54ShortestPathsSql,
    "q55_weighted_paths" -> q55WeightedPathsSql,
    "q56_skyline"        -> q56SkylineSql,
    "q57_kmv_setops"     -> q57KmvSetopsSql,
    "q58_skyline_day2"   -> q56SkylineSql,
    "q59_skyline_retract" -> q59SkylineRetractSql,
    "q63_skyline_batch_retract" -> q63SkylineBatchRetractSql,
    "q64_topk_retract"   -> q64TopkRetractSql,
    "q65_fd_profile"     -> q65FdProfileSql,
    "q60_sync_diff"      -> q60SyncDiffSql,
    "q61_bootstrap_ci"   -> q61BootstrapCiSql,
    "q62_trend_regression" -> q62TrendRegressionSql,
  )
}
