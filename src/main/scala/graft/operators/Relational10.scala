package graft.operators

import graft.Tables
import graft.functions.Exact.{cents, d19, d38, dec, discPrice, microUnits}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Audience analytics and transaction auditing — round-11 widening of
  * the OLAP core (reference scope: the reference's pandas rollups stop
  * at sums; these are the set-overlap and fuzzy-duplicate questions a
  * reporting engine answers next).
  *
  * Both collapse the fact table FIRST and do pair math on bounded
  * domains (event-type pairs; per-customer-bucket payment groups), the
  * Relational8 precedent for 100 TB safety.
  */
object Relational10 {

  /** Pairwise audience overlap between event types — the "how much do
    * these segments share users" question behind campaign planning:
    * for every unordered type pair, the exact intersection, union, and
    * Jaccard of their user audiences. The fact table collapses to
    * DISTINCT (type, user) memberships once; the pair join runs on the
    * membership relation keyed by user (each user contributes its
    * type-pair combinations — bounded by types², never users²), and
    * audience sizes re-attach from a types-sized aggregate. One double
    * division over exact integers.
    */
  def audienceOverlap(t: Tables): DataFrame = {
    val m = t.events.select(col("event_type").as("typ"), col("user_id"))
      .distinct()
    val sizes = m.groupBy("typ").agg(count(lit(1)).as("n"))
    val inter = m.as("a")
      .join(m.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.typ") < col("b.typ"))
      .groupBy(col("a.typ").as("type_a"), col("b.typ").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(sizes.select(col("typ").as("type_a"), col("n").as("n_a")), "type_a")
      .join(sizes.select(col("typ").as("type_b"), col("n").as("n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        (col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both"))).as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  val audienceOverlapSql: String =
    """WITH m AS (SELECT DISTINCT event_type AS typ, user_id FROM events),
      |sizes AS (SELECT typ, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY 1),
      |inter AS (
      | SELECT a.typ AS type_a, b.typ AS type_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_both
      | FROM m a JOIN m b ON a.user_id = b.user_id AND a.typ < b.typ
      | GROUP BY 1, 2)
      |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
      | CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.typ = type_a
      |JOIN sizes sb ON sb.typ = type_b
      |ORDER BY type_a, type_b""".stripMargin

  /** Window for [[dupPayments]] (days) and the amount bucket (whole
    * dollars per bucket).
    */
  private val DupWindowDays = 90
  private val DupBucketDollars = 20000L

  /** Duplicate-payment suspects — the classic AP audit (same payer,
    * near-same amount, close in time usually means a double entry):
    * order pairs from the same customer whose totals land in the same
    * [[DupBucketDollars]]-dollar bucket within [[DupWindowDays]] days.
    * The self-join is keyed on (customer, amount bucket) — the
    * candidate space is Σ|group|² over same-customer-same-bucket
    * groups, never orders², the blocking discipline every dedup
    * operator here uses — and the date-window predicate prunes inside
    * the group. Bucket edges are exact integer division of cents
    * (portable truncation on positive amounts).
    */
  def dupPayments(t: Tables): DataFrame = {
    val o = t.orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate").cast("date").as("d"),
      cents(dec(col("o_totalprice"))).as("cents"))
      .withColumn("bucket", expr(s"cents div ${DupBucketDollars * 100}L"))
    o.as("a")
      .join(o.as("b"),
        col("a.o_custkey") === col("b.o_custkey")
          && col("a.bucket") === col("b.bucket")
          && col("a.o_orderkey") < col("b.o_orderkey"))
      .where(abs(datediff(col("b.d"), col("a.d"))) <= DupWindowDays)
      .select(col("a.o_custkey").as("c_custkey"),
        col("a.o_orderkey").as("order_a"), col("b.o_orderkey").as("order_b"),
        col("a.cents").as("cents_a"), col("b.cents").as("cents_b"),
        abs(datediff(col("b.d"), col("a.d"))).cast("long").as("days_apart"))
      .orderBy("c_custkey", "order_a", "order_b")
  }

  val dupPaymentsSql: String =
    s"""WITH o AS (
       | SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d,
       |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
       |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
       |    // ${DupBucketDollars * 100} AS bucket
       | FROM orders)
       |SELECT a.o_custkey AS c_custkey,
       | a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       | a.cents AS cents_a, b.cents AS cents_b,
       | CAST(ABS(date_diff('day', a.d, b.d)) AS BIGINT) AS days_apart
       |FROM o a JOIN o b
       |  ON a.o_custkey = b.o_custkey AND a.bucket = b.bucket
       | AND a.o_orderkey < b.o_orderkey
       |WHERE ABS(date_diff('day', a.d, b.d)) <= $DupWindowDays
       |ORDER BY c_custkey, order_a, order_b""".stripMargin

  /** Policy boundary for [[didPromoImpact]] (ship-date cutoff between
    * the pre and post periods).
    */
  private val DidCutoff = "1998-01-01"

  /** Difference-in-differences estimate of the PROMO assortment's
    * revenue impact — the workhorse quasi-experimental design when
    * there's no randomized control (compare the treated group's
    * before/after change against the control group's, so shared trends
    * cancel): treatment = PROMO-type parts, control = all others,
    * periods split at [[DidCutoff]] on ship date. Per nation:
    * DiD = (T_post − T_pre) − (C_post − C_pre), every term an exact
    * integer micro-dollar sum from ONE fact aggregation over the
    * bounded (nation × group × period) grid — conditional aggregation,
    * no self-joins, no windows. (A per-unit design would normalize by
    * line counts; this is the aggregate-revenue form.)
    */
  def didPromoImpact(t: Tables): DataFrame = {
    val micros = microUnits(discPrice(col("l_extendedprice"), col("l_discount")))
    t.lineitem
      .join(broadcast(t.part.select(col("p_partkey"),
        col("p_type").startsWith("PROMO").as("treated"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .withColumn("post", col("l_shipdate") >= lit(DidCutoff).cast("date"))
      .groupBy("n_name")
      .agg(
        sum(when(col("treated") && col("post"), micros)
          .otherwise(lit(0).cast(d19)).cast(d38)).as("t_post"),
        sum(when(col("treated") && !col("post"), micros)
          .otherwise(lit(0).cast(d19)).cast(d38)).as("t_pre"),
        sum(when(!col("treated") && col("post"), micros)
          .otherwise(lit(0).cast(d19)).cast(d38)).as("c_post"),
        sum(when(!col("treated") && !col("post"), micros)
          .otherwise(lit(0).cast(d19)).cast(d38)).as("c_pre"))
      .select(col("n_name"), col("t_pre").cast("long").as("t_pre"),
        col("t_post").cast("long").as("t_post"),
        col("c_pre").cast("long").as("c_pre"),
        col("c_post").cast("long").as("c_post"),
        (col("t_post") - col("t_pre") - (col("c_post") - col("c_pre")))
          .cast("long").as("did_micros"))
      .orderBy("n_name")
  }

  val didPromoImpactSql: String =
    s"""WITH f AS (
       | SELECT n_name,
       |  p_type LIKE 'PROMO%' AS treated,
       |  CAST(l_shipdate AS DATE) >= DATE '$DidCutoff' AS post,
       |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
       |    * 1000000 AS DECIMAL(19,0)) AS micros
       | FROM lineitem
       | JOIN part ON l_partkey = p_partkey
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation ON s_nationkey = n_nationkey),
       |g AS (
       | SELECT n_name,
       |  CAST(SUM(CASE WHEN treated AND post THEN micros ELSE 0 END)
       |    AS BIGINT) AS t_post,
       |  CAST(SUM(CASE WHEN treated AND NOT post THEN micros ELSE 0 END)
       |    AS BIGINT) AS t_pre,
       |  CAST(SUM(CASE WHEN NOT treated AND post THEN micros ELSE 0 END)
       |    AS BIGINT) AS c_post,
       |  CAST(SUM(CASE WHEN NOT treated AND NOT post THEN micros ELSE 0 END)
       |    AS BIGINT) AS c_pre
       | FROM f GROUP BY 1)
       |SELECT n_name, t_pre, t_post, c_pre, c_post,
       | t_post - t_pre - (c_post - c_pre) AS did_micros
       |FROM g ORDER BY n_name""".stripMargin

  /** Movers reported by [[topMovers]]. */
  private val MoversK = 20

  /** Top month-over-month revenue movers — the "what changed the most"
    * screen at the top of every sales review: per (part, month) exact
    * micro revenue, the previous month's value via a part-partitioned
    * lag (window domain = the part's active months — calendar-bounded),
    * and the [[MoversK]] largest absolute swings corpus-wide. The
    * global cut is an ORDER BY + LIMIT — Spark plans TakeOrdered (a
    * per-partition heap + driver merge of K rows), never a full global
    * sort, so the "top movers of 100 TB" is one narrow pass. Fully
    * tie-broken ordering keeps the cut deterministic.
    */
  def topMovers(t: Tables): DataFrame = {
    // ONE exchange for both the aggregation and the window: partitioning
    // by l_partkey up front satisfies the (l_partkey, mon) aggregation's
    // clustering requirement AND the window's — the old plan exchanged
    // the fact rows for the agg and then re-exchanged every monthly row
    // for the lag window (guide §2.4: two operations keyed the same way
    // share one exchange)
    val monthly = t.lineitem
      .select(col("l_partkey"), trunc(col("l_shipdate"), "month").as("mon"),
        microUnits(discPrice(col("l_extendedprice"), col("l_discount")))
          .as("rm"))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("mon"))
      .agg(sum(col("rm")).cast("long").as("cur"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_partkey").orderBy("mon")
    monthly
      .withColumn("prev", lag(col("cur"), 1).over(w))
      .where(col("prev").isNotNull)
      .withColumn("change", col("cur") - col("prev"))
      .select(col("l_partkey").as("p_partkey"), col("mon"), col("prev"),
        col("cur"), col("change"))
      .orderBy(abs(col("change")).desc, col("p_partkey"), col("mon"))
      .limit(MoversK)
  }

  val topMoversSql: String =
    s"""WITH monthly AS (
       | SELECT l_partkey, date_trunc('month', CAST(l_shipdate AS DATE)) AS mon,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
       |    * 1000000 AS DECIMAL(19,0))) AS BIGINT) AS cur
       | FROM lineitem GROUP BY 1, 2),
       |lagged AS (
       | SELECT l_partkey AS p_partkey, mon,
       |  LAG(cur) OVER (PARTITION BY l_partkey ORDER BY mon) AS prev, cur
       | FROM monthly)
       |SELECT p_partkey, mon, prev, cur, cur - prev AS change
       |FROM lagged WHERE prev IS NOT NULL
       |ORDER BY ABS(cur - prev) DESC, p_partkey, mon
       |LIMIT $MoversK""".stripMargin

  /** Largest power-of-two gap bucket for [[gapHistogram]] (2²⁰ s ≈ 12
    * days — everything above collapses into the top bucket).
    */
  private val GapMaxPow = 20

  /** Inter-event gap distribution — the empirical basis for choosing a
    * session timeout (the knee of this histogram IS the timeout; the
    * repo's sessionize operators take it as a parameter, this op says
    * what it should be): per user, the seconds between consecutive
    * events (one user-partitioned lag — per-user event counts bound the
    * window), bucketed into power-of-two bands by an exact integer
    * comparison ladder (no floating log, so bucket edges are
    * engine-portable), then counts, shares, and the cumulative share
    * over the ≤ [[GapMaxPow]]+2 bucket rows.
    */
  def gapHistogram(t: Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = t.events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .where(col("prev").isNotNull)
      .select((unix_timestamp(col("ts")) - unix_timestamp(col("prev")))
        .as("gap_s"))
    val bucket = (1 to GapMaxPow).foldLeft(
      when(col("gap_s") === 0L, 0)) { (acc, p) =>
      acc.when(col("gap_s") < (1L << p), p)
    }.otherwise(GapMaxPow + 1)
    val tot = Window.partitionBy()
    val cum = Window.orderBy("bucket_pow")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gaps.select(bucket.as("bucket_pow"))
      .groupBy("bucket_pow").agg(count(lit(1)).as("n_gaps"))
      .withColumn("share",
        col("n_gaps").cast("double") / sum(col("n_gaps")).over(tot))
      .withColumn("cum_share",
        sum(col("n_gaps")).over(cum).cast("double")
          / sum(col("n_gaps")).over(tot))
      .orderBy("bucket_pow")
  }

  val gapHistogramSql: String = {
    val ladder = (1 to GapMaxPow)
      .map(p => s"WHEN gap_s < ${1L << p} THEN $p")
      .mkString("\n      ")
    s"""WITH gaps AS (
       | SELECT date_diff('second', prev, ts2) AS gap_s FROM (
       |  SELECT CAST(ts AS TIMESTAMP) AS ts2,
       |   LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
       |     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
       |  FROM events)
       | WHERE prev IS NOT NULL),
       |b AS (
       | SELECT CASE WHEN gap_s = 0 THEN 0
       |      $ladder
       |      ELSE ${GapMaxPow + 1} END AS bucket_pow
       | FROM gaps),
       |g AS (SELECT bucket_pow, CAST(COUNT(*) AS BIGINT) AS n_gaps
       |      FROM b GROUP BY 1)
       |SELECT bucket_pow, n_gaps,
       | CAST(n_gaps AS DOUBLE) / SUM(n_gaps) OVER () AS share,
       | CAST(SUM(n_gaps) OVER (ORDER BY bucket_pow
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |  / SUM(n_gaps) OVER () AS cum_share
       |FROM g ORDER BY bucket_pow""".stripMargin
  }

  /** Fulfillment cycle-time percentiles — the ops KPI table (how long
    * from order to each line's shipment, and how spread out an order's
    * shipments are, by priority band): stage latencies are exact
    * integer day diffs — `order_to_ship` per line, `ship_spread` per
    * order (last line ship − first line ship) — and the p50/p90 cut is
    * computed from the per-(priority, stage, days) COUNT DISTRIBUTION:
    * the day domain is calendar-bounded (~a few hundred values), so
    * the exact type-1 percentile (smallest v with cum ≥ ⌈q·n⌉, integer
    * ceil arithmetic) comes from a cumulative window over bounded
    * rows, never a fact-scale sort or percentile window. One fact
    * aggregation per stage + bounded-grid math: 100 TB-safe AND exact.
    */
  def cycleTime(t: Tables): DataFrame = {
    val joined = t.lineitem
      .join(t.orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
    val s1 = joined.select(col("o_orderpriority").as("priority"),
      lit("order_to_ship").as("stage"),
      datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days"))
    val s2 = joined
      .groupBy(col("o_orderkey"), col("o_orderpriority").as("priority"))
      .agg(datediff(max(col("l_shipdate")), min(col("l_shipdate")))
        .cast("long").as("days"))
      .select(col("priority"), lit("ship_spread").as("stage"), col("days"))
    val dist = s1.unionAll(s2).groupBy("priority", "stage", "days")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("priority", "stage").orderBy("days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("priority", "stage")
    val cum = dist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    cum.groupBy("priority", "stage")
      .agg(max(col("n")).as("n_rows"),
        min(when(col("cum") >= expr("(n + 1L) div 2L"), col("days")))
          .as("p50_days"),
        min(when(col("cum") >= expr("(9L * n + 9L) div 10L"), col("days")))
          .as("p90_days"))
      .orderBy("priority", "stage")
  }

  val cycleTimeSql: String =
    """WITH j AS (
      | SELECT o_orderkey, o_orderpriority AS priority,
      |  CAST(o_orderdate AS DATE) AS od, CAST(l_shipdate AS DATE) AS sd
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |staged AS (
      | SELECT priority, 'order_to_ship' AS stage,
      |  CAST(date_diff('day', od, sd) AS BIGINT) AS days FROM j
      | UNION ALL
      | SELECT priority, 'ship_spread',
      |  CAST(date_diff('day', MIN(sd), MAX(sd)) AS BIGINT)
      | FROM j GROUP BY o_orderkey, priority),
      |dist AS (
      | SELECT priority, stage, days, CAST(COUNT(*) AS BIGINT) AS cnt
      | FROM staged GROUP BY 1, 2, 3),
      |cum AS (
      | SELECT priority, stage, days, cnt,
      |  SUM(cnt) OVER (PARTITION BY priority, stage ORDER BY days
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |  SUM(cnt) OVER (PARTITION BY priority, stage) AS n
      | FROM dist)
      |SELECT priority, stage, CAST(MAX(n) AS BIGINT) AS n_rows,
      | MIN(CASE WHEN cum >= (n + 1) // 2 THEN days END) AS p50_days,
      | MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN days END) AS p90_days
      |FROM cum GROUP BY 1, 2
      |ORDER BY priority, stage""".stripMargin

  /** Supplier scorecard — the composed vendor-performance table a
    * procurement review reads (the supplier-side twin of
    * [[Profiler.corpusReport]]): per supplier, line volume, exact
    * integer micro revenue, return share (R-flag lines), and mean
    * order-to-ship latency — every rate/mean a double over exact
    * integer sums with the oracle's tree. One fact aggregation after a
    * broadcast orders-date attach, broadcast dim joins for the nation
    * label; no windows, no driver state.
    */
  def supplierScorecard(t: Tables): DataFrame = {
    t.lineitem
      .join(t.orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(microUnits(discPrice(col("l_extendedprice"), col("l_discount")))).cast(d38).cast("long").as("revenue_micros"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).cast("long")
          .as("n_returned"),
        sum(datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
          .cast("long").as("ship_days_sum"))
      .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"), col("n_lines"),
        col("revenue_micros"),
        (col("n_returned").cast("double") / col("n_lines")).as("return_rate"),
        (col("ship_days_sum").cast("double") / col("n_lines"))
          .as("mean_ship_days"))
      .orderBy("s_suppkey")
  }

  val supplierScorecardSql: String =
    """WITH g AS (
      | SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
      |    * 1000000 AS DECIMAL(19,0))) AS BIGINT) AS revenue_micros,
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_returned,
      |  CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
      |    CAST(l_shipdate AS DATE))) AS BIGINT) AS ship_days_sum
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | GROUP BY 1)
      |SELECT s_suppkey, n_name, n_lines, revenue_micros,
      | CAST(n_returned AS DOUBLE) / n_lines AS return_rate,
      | CAST(ship_days_sum AS DOUBLE) / n_lines AS mean_ship_days
      |FROM g
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY s_suppkey""".stripMargin

  /** Years bridged by [[priceVolumeBridge]] — both fully inside the
    * lineitem span (1995-2001).
    */
  private val BridgeY1 = 1996
  private val BridgeY2 = 1997

  /** Price/volume/mix revenue bridge (the "waterfall" at the top of
    * every finance review): decompose per-brand revenue change between
    * [[BridgeY1]] and [[BridgeY2]] into volume effect (quantity change
    * at the OLD per-unit price), price effect (the exact residual on
    * parts sold in both years — residual attribution keeps the bridge
    * additive by construction), and new/lost-part effects. All exact
    * integer micros: per-part old price = r1 div q1 over positive longs
    * (truncating div ≡ DuckDB's floor `//` on positives), so
    * rev1 + volume + price + new − lost ≡ rev2 row-for-row.
    *
    * Scale: one filtered fact aggregation keyed by part (map-side
    * combine on the year split), a broadcast brand attach, one brand
    * roll-up — two narrow shuffles, no windows, no driver state. Sums
    * ride DECIMAL(38,0) internally (overflow-safe at 100 TB), BIGINT at
    * the output seam (house rule). Reference scope: transform.py's
    * revenue roll-ups (transform.py:60-96); the bridge decomposition is
    * standard public finance methodology.
    */
  def priceVolumeBridge(t: Tables): DataFrame = {
    val micros = microUnits(discPrice(col("l_extendedprice"), col("l_discount")))
    val li = t.lineitem
      .select(col("l_partkey"), year(col("l_shipdate")).as("yr"),
        micros.as("m"), (col("l_quantity") * 100).cast("long").as("qc"))
      .where(col("yr").isin(BridgeY1, BridgeY2))
    val per = li.groupBy("l_partkey").agg(
      sum(when(col("yr") === BridgeY1, col("m")).cast(d38))
        .cast("long").as("r1"),
      sum(when(col("yr") === BridgeY1, col("qc")).cast(d38))
        .cast("long").as("q1"),
      sum(when(col("yr") === BridgeY2, col("m")).cast(d38))
        .cast("long").as("r2"),
      sum(when(col("yr") === BridgeY2, col("qc")).cast(d38))
        .cast("long").as("q2"))
    val eff = per
      .withColumn("common", col("r1").isNotNull && col("r2").isNotNull)
      .withColumn("vol", when(col("common"),
        (col("q2") - col("q1")) * expr("r1 div q1")).otherwise(lit(0L)))
      .withColumn("prc", when(col("common"),
        col("r2") - col("r1") - col("vol")).otherwise(lit(0L)))
      .withColumn("newr", when(col("r1").isNull, col("r2")).otherwise(lit(0L)))
      .withColumn("lost", when(col("r2").isNull, col("r1")).otherwise(lit(0L)))
    eff.join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        sum(coalesce(col("r1"), lit(0L)).cast(d38)).cast("long")
          .as("rev1_micros"),
        sum(col("vol").cast(d38)).cast("long").as("volume_micros"),
        sum(col("prc").cast(d38)).cast("long").as("price_micros"),
        sum(col("newr").cast(d38)).cast("long").as("new_micros"),
        sum(col("lost").cast(d38)).cast("long").as("lost_micros"),
        sum(coalesce(col("r2"), lit(0L)).cast(d38)).cast("long")
          .as("rev2_micros"))
      .orderBy("p_brand")
  }

  /** Oracle: the identical year split, per-part truncating old-price
    * division (`//` ≡ `div` on positives), residual price effect, and
    * brand roll-up.
    */
  val priceVolumeBridgeSql: String =
    s"""WITH li AS (
       | SELECT l_partkey, year(CAST(l_shipdate AS DATE)) AS yr,
       |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
       |    * 1000000 AS DECIMAL(19,0)) AS m,
       |  CAST(l_quantity * 100 AS BIGINT) AS qc
       | FROM lineitem
       | WHERE year(CAST(l_shipdate AS DATE)) IN ($BridgeY1, $BridgeY2)),
       |per AS (
       | SELECT l_partkey,
       |  CAST(SUM(CASE WHEN yr = $BridgeY1 THEN m END) AS BIGINT) AS r1,
       |  CAST(SUM(CASE WHEN yr = $BridgeY1 THEN qc END) AS BIGINT) AS q1,
       |  CAST(SUM(CASE WHEN yr = $BridgeY2 THEN m END) AS BIGINT) AS r2,
       |  CAST(SUM(CASE WHEN yr = $BridgeY2 THEN qc END) AS BIGINT) AS q2
       | FROM li GROUP BY 1),
       |eff AS (
       | SELECT l_partkey, r1, r2,
       |  CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
       |       THEN (q2 - q1) * (r1 // q1) ELSE 0 END AS vol,
       |  CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
       |       THEN r2 - r1 - (q2 - q1) * (r1 // q1) ELSE 0 END AS prc,
       |  CASE WHEN r1 IS NULL THEN r2 ELSE 0 END AS newr,
       |  CASE WHEN r2 IS NULL THEN r1 ELSE 0 END AS lost
       | FROM per)
       |SELECT p_brand,
       | CAST(SUM(COALESCE(r1, 0)) AS BIGINT) AS rev1_micros,
       | CAST(SUM(vol) AS BIGINT) AS volume_micros,
       | CAST(SUM(prc) AS BIGINT) AS price_micros,
       | CAST(SUM(newr) AS BIGINT) AS new_micros,
       | CAST(SUM(lost) AS BIGINT) AS lost_micros,
       | CAST(SUM(COALESCE(r2, 0)) AS BIGINT) AS rev2_micros
       |FROM eff JOIN part ON p_partkey = l_partkey
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
