package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / OLAP core.
  *
  * Every operator is a declarative DataFrame plan (Catalyst handles
  * pushdown, pruning, join selection; AQE handles runtime re-planning).
  * Aggregate money math uses exact decimals (see [[graft.functions.Exact]])
  * so results are partition-order independent — required both for cluster
  * reproducibility and for the DuckDB oracle to hash-match.
  *
  * Scale notes (100 TB):
  *  - dims (region/nation/supplier/part) are broadcast explicitly; the
  *    fact-fact joins (orders⋈lineitem) shuffle on the join key and AQE
  *    handles skew.
  *  - windows partition by an entity key (customer/user), never global.
  *  - top-N is TakeOrderedAndProject (per-partition top-N, then merge on
  *    the driver side of the final stage) — no global sort materialized.
  */
object Relational {

  /** Q1-style pricing summary: filter + groupBy multi-aggregate. */
  def pricingSummary(t: Tables): DataFrame =
    t.lineitem
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
        sum(charge(col("l_extendedprice"), col("l_discount"), col("l_tax"))).cast("double").as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(rate(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST((1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2))) AS DECIMAL(8,4))) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      | CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Selective scan: predicate pushdown + column pruning reach the parquet
    * reader (PushedFilters / ReadSchema — asserted in specs).
    */
  def filterProject(t: Tables): DataFrame =
    t.part
      .where(col("p_size").between(10, 20) && col("p_type") === "PROMO" &&
        col("p_retailprice") > 950.0)
      .select("p_partkey", "p_name", "p_brand", "p_retailprice")
      .orderBy("p_partkey")

  val filterProjectSql: String =
    """SELECT p_partkey, p_name, p_brand, p_retailprice
      |FROM part
      |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'PROMO' AND p_retailprice > 950.0
      |ORDER BY p_partkey""".stripMargin

  /** Q3-style shipping priority: 3-way join + agg + top-N. */
  def shippingPriority(t: Tables): DataFrame = {
    val c = t.customer.where(col("c_mktsegment") === "BUILDING")
    val o = t.orders.where(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val l = t.lineitem.where(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val shippingPrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  /** Q4-style: EXISTS semi-join (late lineitems per order) + count. */
  def orderPriority(t: Tables): DataFrame = {
    val o = t.orders.where(
      col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
    val l = t.lineitem
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val orderPrioritySql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Q5-style: 6-way star join, revenue per nation. Dims broadcast. */
  def localSupplier(t: Tables): DataFrame = {
    val o = t.orders.where(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    t.lineitem
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val localSupplierSql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Q6-style: tight-range filter aggregate. */
  def forecastRevenue(t: Tables): DataFrame =
    t.lineitem
      .where(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24)
      .agg(
        sum(dec(col("l_extendedprice")) * rate(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n"))

  val forecastRevenueSql: String =
    """SELECT
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin

  /** HAVING: post-aggregation filter (pushed to the agg, not a subquery). */
  def groupByHaving(t: Tables): DataFrame =
    t.orders
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .where(col("n_orders") >= 15)
      .orderBy("o_custkey")

  val groupByHavingSql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY o_custkey
      |HAVING COUNT(*) >= 15
      |ORDER BY o_custkey""".stripMargin

  /** COUNT(DISTINCT) per group (expands to a two-phase distinct agg). */
  def distinctAgg(t: Tables): DataFrame =
    t.customer
      .groupBy("c_mktsegment")
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")

  val distinctAggSql: String =
    """SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations, COUNT(*) AS n_customers
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Top-k per group via ranked window (per-partition, never global). */
  def topkPerGroup(t: Tables): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
    t.customer
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select("c_nationkey", "rk", "c_custkey", "c_name", "c_acctbal")
      .orderBy("c_nationkey", "rk")
  }

  val topkPerGroupSql: String =
    """SELECT c_nationkey, rk, c_custkey, c_name, c_acctbal FROM (
      | SELECT c_nationkey, c_custkey, c_name, c_acctbal,
      |  ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
      | FROM customer)
      |WHERE rk <= 3
      |ORDER BY c_nationkey, rk""".stripMargin

  /** Cumulative (running) sum per customer over order history. */
  def runningSum(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_total"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val runningSumSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** lag/lead neighbouring-event comparison per user. */
  def lagLead(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t.events.select(
        col("user_id"), col("event_id"), col("ts"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
      .orderBy("user_id", "ts", "event_id")
  }

  val lagLeadSql: String =
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      | LAG(value, 1) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_value,
      | LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_value
      |FROM events
      |ORDER BY user_id, CAST(ts AS TIMESTAMP), event_id""".stripMargin

  /** ROLLUP hierarchical totals (grand total + per-flag + per-pair). */
  def rollupTotals(t: Tables): DataFrame =
    t.lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val rollupTotalsSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Pivot: conditional aggregation, one column per event type. */
  def pivotEventValues(t: Tables): DataFrame = {
    def bucket(et: String) =
      sum(when(col("event_type") === et, dec(col("value")))).cast("double").as(et)
    t.events
      .groupBy("user_id")
      .agg(bucket("click"), bucket("view"), bucket("purchase"), bucket("signup"),
        bucket("error"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  val pivotEventValuesSql: String =
    """SELECT user_id,
      | CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS click,
      | CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS view,
      | CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase,
      | CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS signup,
      | CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS error,
      | COUNT(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** UNION + distinct across two inputs. */
  def unionDedup(t: Tables): DataFrame =
    t.customer.select(col("c_nationkey").as("nationkey"))
      .union(t.supplier.select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")

  val unionDedupSql: String =
    """SELECT DISTINCT nationkey FROM (
      | SELECT c_nationkey AS nationkey FROM customer
      | UNION ALL
      | SELECT s_nationkey AS nationkey FROM supplier)
      |ORDER BY nationkey""".stripMargin

  /** NOT EXISTS anti-join: customers with no orders since 2001. */
  def antiJoin(t: Tables): DataFrame =
    t.customer
      .join(
        t.orders.where(col("o_orderdate") >= lit("2001-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  val antiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  /** Exact percentiles (median / p90) per segment. */
  def percentiles(t: Tables): DataFrame =
    t.customer
      .groupBy("c_mktsegment")
      .agg(
        round(expr("percentile(c_acctbal, 0.5)"), 4).as("median_acctbal"),
        round(expr("percentile(c_acctbal, 0.9)"), 4).as("p90_acctbal"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  val percentilesSql: String =
    """SELECT c_mktsegment,
      | ROUND(quantile_cont(c_acctbal, 0.5), 4) AS median_acctbal,
      | ROUND(quantile_cont(c_acctbal, 0.9), 4) AS p90_acctbal,
      | COUNT(*) AS n
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Descriptive stats built from exact decimal sums, so stddev/corr are
    * bit-reproducible (no single-pass float accumulation).
    */
  def stats(t: Tables): DataFrame = {
    // CENTS-INTEGER power sums, held exactly in scale-0 decimals, and
    // converted to double via a hi/lo split at 10⁹ — a scale-4
    // decimal→double cast is double-rounded in DuckDB (caught at
    // sf0.001), and beyond ~1.8e19 DuckDB's int128→double TRUNCATES; the
    // split parts each convert exactly, so both engines perform the same
    // two IEEE ops and agree bitwise for sums up to ~9e24.
    val qc = (dec(col("l_quantity")) * 100).cast("long")
    val pc = cents(dec(col("l_extendedprice")))
    val toD = graft.functions.Exact.decToDouble _
    val base = t.lineitem.groupBy("l_returnflag").agg(
      count(lit(1)).cast("double").as("n"),
      (toD(sum(qc.cast(d38))) / 100.0).as("sum_q"),
      (toD(sum((qc * qc).cast(d38))) / 10000.0).as("sum_q2"),
      (toD(sum(pc.cast(d38))) / 100.0).as("sum_p"),
      (toD(sum((pc * pc).cast(d38))) / 10000.0).as("sum_p2"),
      (toD(sum((qc * pc).cast(d38))) / 10000.0).as("sum_qp"))
    base.select(
        col("l_returnflag"),
        col("n").cast("long").as("n"),
        (col("sum_q") / col("n")).as("mean_qty"),
        sqrt((col("sum_q2") - col("sum_q") * col("sum_q") / col("n")) / (col("n") - 1)).as("std_qty"),
        ((col("n") * col("sum_qp") - col("sum_q") * col("sum_p")) /
          (sqrt(col("n") * col("sum_q2") - col("sum_q") * col("sum_q")) *
            sqrt(col("n") * col("sum_p2") - col("sum_p") * col("sum_p")))).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  val statsSql: String = {
    val toD = graft.functions.Exact.decToDoubleSql _
    s"""SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      | sum_q / n AS mean_qty,
      | sqrt((sum_q2 - sum_q * sum_q / n) / (n - 1)) AS std_qty,
      | (n * sum_qp - sum_q * sum_p) /
      |   (sqrt(n * sum_q2 - sum_q * sum_q) * sqrt(n * sum_p2 - sum_p * sum_p)) AS corr_qty_price
      |FROM (
      | SELECT l_returnflag,
      |  CAST(COUNT(*) AS DOUBLE) AS n,
      |  ${toD("SUM(qc)")} / 100.0 AS sum_q,
      |  ${toD("SUM(qc * qc)")} / 10000.0 AS sum_q2,
      |  ${toD("SUM(pc)")} / 100.0 AS sum_p,
      |  ${toD("SUM(pc * pc)")} / 10000.0 AS sum_p2,
      |  ${toD("SUM(qc * pc)")} / 10000.0 AS sum_qp
      | FROM (
      |  SELECT l_returnflag,
      |   CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qc,
      |   CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
      |  FROM lineitem)
      | GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin
  }

  /** As-of join: for each purchase, the most recent prior view's value for
    * the same user. One-pass union+window formulation — at scale this
    * avoids the quadratic range join entirely (single shuffle on user_id).
    */
  def asofJoin(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .where(col("event_type").isin("view", "purchase"))
      .withColumn("view_value", when(col("event_type") === "view", col("value")))
      .withColumn("asof_view_value", last(col("view_value"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value", "asof_view_value")
      .orderBy("user_id", "ts", "event_id")
  }

  val asofJoinSql: String =
    """SELECT event_id, user_id, ts, value, asof_view_value FROM (
      | SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
      |  LAST_VALUE(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_value
      | FROM events
      | WHERE event_type IN ('view', 'purchase'))
      |WHERE event_type = 'purchase'
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** Tolerance for [[asofNearest]], seconds. */
  private val NearestTolSec = 3600.0

  /** Nearest-direction as-of join (the pandas `merge_asof
    * direction='nearest'` twin of [[asofJoin]]): each purchase takes the
    * CLOSEST view value within ±[[NearestTolSec]] — backward or forward
    * — with ties to the backward candidate. Two window passes per user
    * (carry the last view backward, the first view forward; the
    * candidate's timestamp and value ride as null-together columns so
    * IGNORE NULLS stays consistent), then a row-local pick — no
    * self-join, no range explosion, the same key-partitioned shuffle as
    * every per-user window op. Output surfaces the chosen direction and
    * gap so tolerance tuning is auditable.
    */
  def asofNearest(t: Tables): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wB = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val base = t.events
      .where(col("event_type").isin("view", "purchase"))
      .withColumn("view_s",
        when(col("event_type") === "view", col("ts").cast("double")))
      .withColumn("view_v",
        when(col("event_type") === "view", col("value")))
      .withColumn("bs", last(col("view_s"), ignoreNulls = true).over(wB))
      .withColumn("bv", last(col("view_v"), ignoreNulls = true).over(wB))
      .withColumn("fs", first(col("view_s"), ignoreNulls = true).over(wF))
      .withColumn("fv", first(col("view_v"), ignoreNulls = true).over(wF))
      .where(col("event_type") === "purchase")
      .withColumn("bd", col("ts").cast("double") - col("bs"))
      .withColumn("fd", col("fs") - col("ts").cast("double"))
      .withColumn("bok", col("bs").isNotNull && col("bd") <= NearestTolSec)
      .withColumn("fok", col("fs").isNotNull && col("fd") <= NearestTolSec)
    base.select(col("event_id"), col("user_id"), col("ts"), col("value"),
        when(col("bok") && (!col("fok") || col("bd") <= col("fd")), col("bv"))
          .when(col("fok"), col("fv")).as("nearest_view_value"),
        when(col("bok") && (!col("fok") || col("bd") <= col("fd")), lit("backward"))
          .when(col("fok"), lit("forward")).as("direction"),
        when(col("bok") && (!col("fok") || col("bd") <= col("fd")), col("bd"))
          .when(col("fok"), col("fd")).as("gap_sec"))
      .orderBy("user_id", "ts", "event_id")
  }

  val asofNearestSql: String =
    s"""SELECT event_id, user_id, ts, value,
       | CASE WHEN bok AND (NOT fok OR bd <= fd) THEN bv
       |      WHEN fok THEN fv END AS nearest_view_value,
       | CASE WHEN bok AND (NOT fok OR bd <= fd) THEN 'backward'
       |      WHEN fok THEN 'forward' END AS direction,
       | CASE WHEN bok AND (NOT fok OR bd <= fd) THEN bd
       |      WHEN fok THEN fd END AS gap_sec
       |FROM (
       | SELECT event_id, user_id, ts, event_type, value, bs, bv, fs, fv,
       |  epoch(ts) - bs AS bd, fs - epoch(ts) AS fd,
       |  bs IS NOT NULL AND epoch(ts) - bs <= $NearestTolSec AS bok,
       |  fs IS NOT NULL AND fs - epoch(ts) <= $NearestTolSec AS fok
       | FROM (
       |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
       |   LAST_VALUE(CASE WHEN event_type = 'view' THEN epoch(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
       |     OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bs,
       |   LAST_VALUE(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
       |     OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bv,
       |   FIRST_VALUE(CASE WHEN event_type = 'view' THEN epoch(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
       |     OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
       |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fs,
       |   FIRST_VALUE(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
       |     OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
       |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fv
       |  FROM events
       |  WHERE event_type IN ('view', 'purchase'))
       | WHERE event_type = 'purchase')
       |ORDER BY user_id, ts, event_id""".stripMargin

  /** Events with their 30-minute-gap session id attached — the ONE
    * definition of the gap rule (1800 s on the epoch-seconds double,
    * (ts, event_id) ordering), shared by [[sessionize]] and
    * [[Analytics.sessionPaths]] so the two reports can never
    * disagree on what a session is.
    */
  private[operators] def sessionized(t: Tables): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .withColumn("prev_s", lag(col("ts").cast("double"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev_s").isNull || col("ts").cast("double") - col("prev_s") > 1800.0, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(wRun))
      .drop("prev_s", "is_new")
  }

  /** Gap-based sessionization (30-minute inactivity gap) per user. */
  def sessionize(t: Tables): DataFrame = {
    sessionized(t)
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy("user_id", "session_id")
  }

  val sessionizeSql: String =
    """SELECT user_id, session_id, COUNT(*) AS n_events,
      | MIN(ts) AS session_start, MAX(ts) AS session_end,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM (
      | SELECT user_id, ts, value,
      |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      | FROM (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |   CASE WHEN prev_s IS NULL OR epoch(CAST(ts AS TIMESTAMP)) - prev_s > 1800.0 THEN 1 ELSE 0 END AS is_new
      |  FROM (
      |   SELECT user_id, event_id, ts, value,
      |    LAG(epoch(CAST(ts AS TIMESTAMP)), 1) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_s
      |   FROM events)))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Tumbling 1-hour event-time window aggregate — the batch twin of the
    * Structured Streaming pipeline in [[graft.streaming.Streams]].
    */
  def tumblingAgg(t: Tables): DataFrame =
    t.events
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy("hour_start", "event_type")

  val tumblingAggSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin

  /** JSON extraction from the event payload (the Kafka value shape in the
    * reference — extractors.py:531 parses JSON event values).
    */
  def jsonExtract(t: Tables): DataFrame =
    t.events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy("k_bucket")

  val jsonExtractSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1
      |ORDER BY k_bucket""".stripMargin
}
