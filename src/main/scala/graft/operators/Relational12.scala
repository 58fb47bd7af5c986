package graft.operators

import graft.Tables
import graft.functions.Exact.{d38, wholeUnits}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 relational/statistical additions: lagged series association
  * (cross-correlation, Kendall's τ-b), interval algebra (temporal
  * coalesce), data-contract auditing (functional-dependency violations),
  * multiple-testing control (Benjamini–Hochberg), and closed-form
  * hierarchy rollup.
  *
  * House rules as everywhere: exact integer/decimal aggregates with one
  * final double per output column, calendar-bounded windows only, no
  * driver-side loops over unbounded data.
  *
  * Reference scope: the reference's ETL surface (/root/reference
  * src/etl/etl.py) stops at point aggregates; this file is part of the
  * analytics extension surface.
  */
object Relational12 {

  /** Shared daily frame: epoch day, revenue in WHOLE currency units
    * (micros div 10⁶ — keeps every moment sum inside DECIMAL(38,0) at
    * any SF; the truncating div is identical in both engines), and the
    * line count. Calendar-bounded (one row per ship day).
    */
  private def dailyRevCnt(t: Tables): DataFrame =
    Facts.dailyRevenue(t)
      .select(Facts.epochDay(col("d")).cast("long").as("ed"),
        wholeUnits(col("rev")).as("x"), col("lines").as("y"))

  private val MaxLag = 7

  /** Lagged cross-correlation between daily revenue and daily line
    * count: Pearson r of (x_d, y_{d+ℓ}) for ℓ = 0..[[MaxLag]] — the
    * "does volume lead revenue" diagnostic. The heavy pass is ONE fact
    * aggregation to the calendar-bounded daily frame; lag pairing is an
    * equi-join of that tiny frame against itself (explode the lag,
    * shift the day — never a non-equi join), and every moment
    * (Σx, Σy, Σx², Σy², Σxy) accumulates in exact DECIMAL(38,0) before
    * the single double correlation formula, so both engines compute
    * identical doubles from identical integers.
    */
  def crossCorrelation(t: Tables): DataFrame = {
    val daily = dailyRevCnt(t).localCheckpoint(true)
    val pairs = daily
      .select(col("ed"), col("x"),
        explode(expr(s"sequence(0, $MaxLag)")).as("lag"))
      .withColumn("ed2", col("ed") + col("lag"))
      .join(daily.select(col("ed").as("ed2"), col("y").as("y2")), Seq("ed2"))
    pairs.groupBy("lag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(d38)).cast("double").as("sx"),
        sum(col("y2").cast(d38)).cast("double").as("sy"),
        sum((col("x") * col("x")).cast(d38)).cast("double").as("sxx"),
        sum((col("y2") * col("y2")).cast(d38)).cast("double").as("syy"),
        sum((col("x") * col("y2")).cast(d38)).cast("double").as("sxy"))
      .select(col("lag").cast("long").as("lag"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("r"))
      .orderBy("lag")
  }

  val crossCorrelationSql: String =
    s"""WITH daily AS (
       | SELECT CAST(date_diff('day', DATE '1970-01-01',
       |    CAST(l_shipdate AS DATE)) AS BIGINT) AS ed,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) // 1000000 AS BIGINT) AS x,
       |  CAST(COUNT(*) AS BIGINT) AS y
       | FROM lineitem GROUP BY 1),
       |lags AS (SELECT unnest(range(0, ${MaxLag + 1})) AS lag),
       |pairs AS (
       | SELECT l.lag, a.x, b.y AS y2
       | FROM daily a CROSS JOIN lags l
       | JOIN daily b ON b.ed = a.ed + l.lag),
       |m AS (
       | SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
       |  CAST(SUM(CAST(y2 AS HUGEINT)) AS DOUBLE) AS sy,
       |  CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
       |  CAST(SUM(CAST(y2 AS HUGEINT) * y2) AS DOUBLE) AS syy,
       |  CAST(SUM(CAST(x AS HUGEINT) * y2) AS DOUBLE) AS sxy
       | FROM pairs GROUP BY 1)
       |SELECT CAST(lag AS BIGINT) AS lag, n,
       | (n * sxy - sx * sy) /
       |   sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r
       |FROM m ORDER BY lag""".stripMargin

  /** Kendall's τ-b between daily revenue and daily line count — the
    * rank-based association twin of [[crossCorrelation]] (robust to the
    * revenue tail a Pearson r follows). Exact pair counting over the
    * CALENDAR-BOUNDED day domain: day pairs (d₁ < d₂) are built with
    * the theil_sen sequence-explode + equi-join (never a non-equi
    * join); concordant / discordant / tied classes are integer counts,
    * and τ-b = (nc − nd)/√((P−Tx)(P−Ty)) is one final double. Pair
    * count is days², constant in SF.
    */
  def kendallTau(t: Tables): DataFrame = {
    val daily = dailyRevCnt(t).localCheckpoint(true)
    val span = daily.agg(max(col("ed")).as("mxd"))
    val pairs = daily.crossJoin(broadcast(span))
      .where(col("ed") < col("mxd"))
      .select(col("ed").as("d1"), col("x").as("x1"), col("y").as("y1"),
        explode(expr("sequence(1, mxd - ed)")).as("g"))
      .withColumn("ed2", col("d1") + col("g"))
      .join(daily.select(col("ed").as("ed2"), col("x").as("x2"),
        col("y").as("y2")), Seq("ed2"))
      .select(
        signum(col("x2") - col("x1")).cast("long").as("dx"),
        signum(col("y2") - col("y1")).cast("long").as("dy"))
    pairs.groupBy()
      .agg(
        count(lit(1)).as("pairs"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("nd"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"))
      .select(col("pairs"), col("nc"), col("nd"), col("tx"), col("ty"),
        ((col("nc") - col("nd")).cast("double") /
          sqrt((col("pairs") - col("tx")).cast("double") *
            (col("pairs") - col("ty")).cast("double"))).as("tau_b"))
  }

  val kendallTauSql: String =
    """WITH daily AS (
      | SELECT CAST(date_diff('day', DATE '1970-01-01',
      |    CAST(l_shipdate AS DATE)) AS BIGINT) AS ed,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
      |    * 1000000 AS HUGEINT) // 1000000 AS BIGINT) AS x,
      |  CAST(COUNT(*) AS BIGINT) AS y
      | FROM lineitem GROUP BY 1),
      |p AS (
      | SELECT CAST(sign(b.x - a.x) AS BIGINT) AS dx,
      |  CAST(sign(b.y - a.y) AS BIGINT) AS dy
      | FROM daily a JOIN daily b ON b.ed > a.ed),
      |c AS (
      | SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
      |  CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |  CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
      |  CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
      |  CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
      | FROM p)
      |SELECT pairs, nc, nd, tx, ty,
      | CAST(nc - nd AS DOUBLE) /
      |   sqrt(CAST(pairs - tx AS DOUBLE) * CAST(pairs - ty AS DOUBLE)) AS tau_b
      |FROM c""".stripMargin

  /** Shipment-interval length in days for [[temporalCoalesce]]. */
  private val IntervalDays = 7L

  /** Temporal coalesce (interval union) per supplier: each distinct
    * ship day opens a 7-day activity interval [d, d+7); overlapping or
    * adjacent intervals merge into islands, and the per-supplier report
    * carries interval count, island count, covered days and the longest
    * island — the classic packing/coverage primitive (SCD compaction,
    * availability windows, sensor uptime). All windows PARTITIONED BY
    * supplier (per-key sequences, never a global ordering): a new
    * island starts where the day exceeds the running max end of every
    * preceding interval.
    */
  def temporalCoalesce(t: Tables): DataFrame = {
    val iv = t.lineitem
      .select(col("l_suppkey"),
        datediff(col("l_shipdate").cast("date"),
          to_date(lit("1970-01-01"))).cast("long").as("s"))
      .distinct()
    val wPrev = Window.partitionBy("l_suppkey").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("l_suppkey").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = iv
      .withColumn("prev_end", max(col("s") + lit(IntervalDays)).over(wPrev))
      .withColumn("is_new",
        when(col("prev_end").isNull || col("s") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(wRun))
      .groupBy("l_suppkey", "island")
      .agg(min(col("s")).as("i_start"),
        (max(col("s")) + lit(IntervalDays)).as("i_end"),
        count(lit(1)).as("n_iv"))
    islands.groupBy("l_suppkey")
      .agg(
        sum(col("n_iv")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_days"),
        max(col("i_end") - col("i_start")).as("longest_island"))
      .select(col("l_suppkey"), col("n_intervals"), col("n_islands"),
        col("covered_days"), col("longest_island"))
      .orderBy("l_suppkey")
  }

  val temporalCoalesceSql: String =
    s"""WITH iv AS (
       | SELECT DISTINCT l_suppkey,
       |  CAST(date_diff('day', DATE '1970-01-01',
       |    CAST(l_shipdate AS DATE)) AS BIGINT) AS s
       | FROM lineitem),
       |marked AS (
       | SELECT l_suppkey, s,
       |  MAX(s + $IntervalDays) OVER (PARTITION BY l_suppkey ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       | FROM iv),
       |isl AS (
       | SELECT l_suppkey, s,
       |  SUM(CASE WHEN prev_end IS NULL OR s > prev_end THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY l_suppkey ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       | FROM marked),
       |g AS (
       | SELECT l_suppkey, island, MIN(s) AS i_start,
       |  MAX(s) + $IntervalDays AS i_end, CAST(COUNT(*) AS BIGINT) AS n_iv
       | FROM isl GROUP BY 1, 2)
       |SELECT l_suppkey,
       | CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
       | CAST(COUNT(*) AS BIGINT) AS n_islands,
       | CAST(SUM(i_end - i_start) AS BIGINT) AS covered_days,
       | CAST(MAX(i_end - i_start) AS BIGINT) AS longest_island
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** Functional-dependency audit over the star schema: for each
    * candidate `lhs → rhs` report how many lhs groups exist, how many
    * VIOLATE the dependency (more than one distinct rhs), the violation
    * rate, and the worst fan-out — the data-contract screen that
    * catches "this column was supposed to be determined by that one"
    * drift before a join multiplies it. One groupBy per candidate on
    * its own dimension table; the union row count is #candidates.
    */
  def fdViolations(t: Tables): DataFrame = {
    def audit(df: DataFrame, tbl: String, lhs: String, rhs: String): DataFrame =
      df.groupBy(col(lhs))
        .agg(countDistinct(col(rhs)).as("k"))
        .agg(
          count(lit(1)).as("n_lhs"),
          sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("k")).as("max_rhs_per_lhs"))
        .select(
          lit(s"$tbl.$lhs -> $tbl.$rhs").as("fd"),
          col("n_lhs"), col("n_violating"), col("max_rhs_per_lhs"),
          (col("n_violating").cast("double") /
            col("n_lhs").cast("double")).as("violation_rate"))
    audit(t.part, "part", "p_name", "p_brand")
      .unionByName(audit(t.part, "part", "p_brand", "p_type"))
      .unionByName(audit(t.customer, "customer", "c_nationkey", "c_mktsegment"))
      .unionByName(audit(t.orders, "orders", "o_custkey", "o_orderpriority"))
      .unionByName(audit(t.documents, "documents", "source", "lang"))
      .orderBy("fd")
  }

  val fdViolationsSql: String = {
    def one(tbl: String, lhs: String, rhs: String): String =
      s"""SELECT '$tbl.$lhs -> $tbl.$rhs' AS fd,
         | CAST(COUNT(*) AS BIGINT) AS n_lhs,
         | CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         | CAST(MAX(k) AS BIGINT) AS max_rhs_per_lhs,
         | CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |   / CAST(COUNT(*) AS DOUBLE) AS violation_rate
         |FROM (SELECT $lhs, CAST(COUNT(DISTINCT $rhs) AS BIGINT) AS k
         |      FROM $tbl GROUP BY 1)""".stripMargin
    Seq(
      one("part", "p_name", "p_brand"),
      one("part", "p_brand", "p_type"),
      one("customer", "c_nationkey", "c_mktsegment"),
      one("orders", "o_custkey", "o_orderpriority"),
      one("documents", "source", "lang"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  /** BH false-discovery-rate level. */
  private val BhQ = 0.10
  /** Brand count (the fixed test family size m). */
  private val BhM = 25

  /** Inverse standard-normal CDF (Acklam's rational approximation,
    * |ε| < 1.15e-9) — used ONLY driver-side at registration time to
    * precompute the [[BhM]] critical |z| literals that BOTH the Spark
    * plan and the oracle SQL embed verbatim, so neither engine ever
    * evaluates Φ⁻¹ itself.
    */
  private def invNorm(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }

  /** Critical |z| at BH rank i (1-based): Φ⁻¹(1 − (i·q/m)/2). */
  private lazy val bhCrits: IndexedSeq[Double] =
    (1 to BhM).map(i => invNorm(1.0 - (i * BhQ / BhM) / 2.0))

  /** Benjamini–Hochberg multiple-testing control over the 25-brand
    * family: per brand, a one-sample proportion z-test of "this brand's
    * PROMO line share equals the global PROMO share", then the BH
    * step-up at q = [[BhQ]] decides which brands' deviations survive
    * FDR control — the screen that stops 25 simultaneous tests from
    * manufacturing discoveries. z is a fixed double formula over exact
    * integer counts; the step-up compares |z| at rank i against
    * PRECOMPUTED Φ⁻¹ literals (identical in both engines — see
    * [[invNorm]]), so no engine evaluates a normal quantile. The only
    * windows run over the 25-row brand family.
    */
  def benjaminiHochberg(t: Tables): DataFrame = {
    val lines = t.lineitem.select(col("l_partkey"))
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"),
        (col("p_type") === "PROMO").cast("long").as("promo"))),
        col("l_partkey") === col("p_partkey"))
    val perBrand = lines.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum(col("promo")).as("k"))
    val tot = perBrand.agg(sum(col("n")).as("nn"), sum(col("k")).as("kk"))
    val z = perBrand.crossJoin(broadcast(tot))
      .withColumn("p0", col("kk").cast("double") / col("nn").cast("double"))
      .withColumn("z",
        (col("k").cast("double") - col("n").cast("double") * col("p0")) /
          sqrt(col("n").cast("double") * col("p0") * (lit(1.0) - col("p0"))))
    val wRank = Window.orderBy(abs(col("z")).desc, col("p_brand"))
    val crit = bhCrits.zipWithIndex.foldLeft(lit(Double.NaN)) {
      case (acc, (c, i)) => when(col("rank") === (i + 1), lit(c)).otherwise(acc)
    }
    val wAll = Window.partitionBy(lit(1))
    z.withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("crit", crit)
      .withColumn("hit", when(abs(col("z")) >= col("crit"), col("rank"))
        .otherwise(lit(0L)))
      .withColumn("kstar", max(col("hit")).over(wAll))
      .select(col("p_brand"), col("n"), col("k"), col("z"), col("rank"),
        col("crit"), (col("rank") <= col("kstar")).as("rejected"))
      .orderBy("rank")
  }

  val benjaminiHochbergSql: String = {
    val critCase = bhCrits.zipWithIndex
      .map { case (c, i) => s"WHEN ${i + 1} THEN $c" }
      .mkString("CASE rank ", " ", " END")
    s"""WITH lines AS (
       | SELECT p_brand,
       |  CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS promo
       | FROM lineitem JOIN part ON l_partkey = p_partkey),
       |per_brand AS (
       | SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(promo) AS BIGINT) AS k
       | FROM lines GROUP BY 1),
       |tot AS (
       | SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(k) AS BIGINT) AS kk
       | FROM per_brand),
       |z AS (
       | SELECT p_brand, n, k,
       |  (CAST(k AS DOUBLE) - CAST(n AS DOUBLE) *
       |     (CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))) /
       |   sqrt(CAST(n AS DOUBLE) * (CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
       |     * (1.0 - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))) AS z
       | FROM per_brand CROSS JOIN tot),
       |ranked AS (
       | SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY abs(z) DESC, p_brand)
       |    AS BIGINT) AS rank
       | FROM z),
       |crit AS (SELECT *, $critCase AS crit FROM ranked),
       |hits AS (
       | SELECT *, CASE WHEN abs(z) >= crit THEN rank ELSE 0 END AS hit
       | FROM crit),
       |ks AS (SELECT MAX(hit) AS kstar FROM hits)
       |SELECT p_brand, n, k, z, rank, crit,
       | rank <= ks.kstar AS rejected
       |FROM hits CROSS JOIN ks
       |ORDER BY rank""".stripMargin
  }

  /** Closed-form hierarchy rollup: parts form an implicit decimal tree
    * (parent(k) = k div 10, root 0), and every node reports its
    * SUBTREE revenue and part count — the BOM/org-chart rollup shape
    * without a recursive join: each part's ancestor chain is computable
    * ROW-LOCALLY (k div 10ʲ, deduplicated), so the whole rollup is one
    * fact aggregation, one bounded ancestor explode (≤ 14 rows per
    * part at any key width), and one re-aggregation — zero self-joins,
    * zero iteration, any depth.
    *
    * Node revenue reports in WHOLE currency units (per-part revenue
    * truncated before the subtree sum, the dailyRevCnt convention): the root aggregates the entire corpus, and a micros
    * sum would overflow BIGINT around sf30 (r13 ADVICE).
    */
  def hierarchyRollup(t: Tables): DataFrame = {
    val ancestors = (0 to 13).map(j => expr(s"l_partkey div ${pow10(j)}L"))
    Facts.partRevenue(t)
      .select(wholeUnits(col("rev")).as("rev1"),
        explode(array_distinct(array(ancestors: _*))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_parts"), sum(col("rev1")).as("rev"))
      .orderBy("node")
  }

  private def pow10(j: Int): Long = { var r = 1L; (1 to j).foreach(_ => r *= 10); r }

  /** Order backlog curve: per calendar day, cumulative orders placed
    * minus cumulative order-lines fully shipped — the operational
    * work-in-flight series, plus the peak-backlog day. Placements and
    * completions are two calendar-bounded daily counts unioned into one
    * ±delta stream; the cumulative sum rides
    * [[Ranks.withGlobalPrefixAggs]] (range repartition + local window +
    * broadcast offsets), so no unpartitioned window exists at any
    * scale. An order counts as shipped on its LAST ship date (max over
    * its lines — one fact aggregation).
    */
  def backlogCurve(t: Tables): DataFrame = {
    val placed = t.orders
      .groupBy(datediff(col("o_orderdate").cast("date"),
        to_date(lit("1970-01-01"))).cast("long").as("ed"))
      .agg(count(lit(1)).as("delta"))
    val shipped = t.lineitem
      .groupBy("l_orderkey")
      .agg(max(datediff(col("l_shipdate").cast("date"),
        to_date(lit("1970-01-01"))).cast("long")).as("ed"))
      .groupBy("ed").agg((-count(lit(1))).as("delta"))
    val deltas = placed.unionByName(shipped)
      .groupBy("ed").agg(sum(col("delta")).as("delta"))
    Ranks.withGlobalPrefixAggs(deltas, Seq(col("ed")),
        Seq(("backlog", col("delta"), "sum", true)))
      .select(col("ed"), col("delta"), col("backlog"))
      .orderBy("ed")
  }

  val backlogCurveSql: String =
    """WITH placed AS (
      | SELECT CAST(date_diff('day', DATE '1970-01-01',
      |    CAST(o_orderdate AS DATE)) AS BIGINT) AS ed,
      |  CAST(COUNT(*) AS BIGINT) AS delta
      | FROM orders GROUP BY 1),
      |shipped AS (
      | SELECT ed, CAST(-COUNT(*) AS BIGINT) AS delta FROM (
      |  SELECT l_orderkey,
      |   MAX(CAST(date_diff('day', DATE '1970-01-01',
      |     CAST(l_shipdate AS DATE)) AS BIGINT)) AS ed
      |  FROM lineitem GROUP BY 1)
      | GROUP BY 1),
      |deltas AS (
      | SELECT ed, CAST(SUM(delta) AS BIGINT) AS delta
      | FROM (SELECT * FROM placed UNION ALL SELECT * FROM shipped)
      | GROUP BY 1)
      |SELECT ed, delta,
      | CAST(SUM(delta) OVER (ORDER BY ed
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |   AS backlog
      |FROM deltas ORDER BY ed""".stripMargin

  /** Seasonal-naive MASE: the forecast-quality floor every model must
    * beat — MAE of the "same day last week" forecast over MAE of the
    * one-day naive, on the daily revenue series. Both numerator and
    * denominator are exact integer |Δ| sums built by EQUI-JOINING the
    * calendar-bounded daily frame against itself at lags 7 and 1 (no
    * window at all); one final double ratio. MASE < 1 means weekly
    * seasonality carries real signal.
    */
  def maseSeasonalNaive(t: Tables): DataFrame = {
    val daily = dailyRevCnt(t).select(col("ed"), col("x")).localCheckpoint(true)
    def lagJoin(lag: Int): DataFrame = daily
      .join(daily.select((col("ed") + lag).as("ed"), col("x").as("xl")), Seq("ed"))
      .select(abs(col("x") - col("xl")).as("ae"))
    val season = lagJoin(7).agg(count(lit(1)).as("n7"), sum(col("ae")).as("s7"))
    val naive = lagJoin(1).agg(count(lit(1)).as("n1"), sum(col("ae")).as("s1"))
    season.crossJoin(broadcast(naive))
      .select(col("n7"), col("s7"), col("n1"), col("s1"),
        ((col("s7").cast("double") / col("n7").cast("double")) /
          (col("s1").cast("double") / col("n1").cast("double"))).as("mase"))
  }

  val maseSeasonalNaiveSql: String =
    """WITH daily AS (
      | SELECT CAST(date_diff('day', DATE '1970-01-01',
      |    CAST(l_shipdate AS DATE)) AS BIGINT) AS ed,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
      |    * 1000000 AS HUGEINT) // 1000000 AS BIGINT) AS x
      | FROM lineitem GROUP BY 1),
      |s7 AS (
      | SELECT CAST(COUNT(*) AS BIGINT) AS n7,
      |  CAST(SUM(abs(a.x - b.x)) AS BIGINT) AS s7
      | FROM daily a JOIN daily b ON a.ed = b.ed + 7),
      |s1 AS (
      | SELECT CAST(COUNT(*) AS BIGINT) AS n1,
      |  CAST(SUM(abs(a.x - b.x)) AS BIGINT) AS s1
      | FROM daily a JOIN daily b ON a.ed = b.ed + 1)
      |SELECT n7, s7, n1, s1,
      | (CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE)) /
      |   (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS mase
      |FROM s7 CROSS JOIN s1""".stripMargin

  val hierarchyRollupSql: String = {
    val terms = (0 to 13).map(j => s"l_partkey // ${pow10(j)}").mkString(", ")
    s"""WITH per_part AS (
       | SELECT l_partkey,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS BIGINT) AS units
       | FROM lineitem GROUP BY 1),
       |anc AS (
       | SELECT units // 1000000 AS rev1,
       |  unnest(list_distinct([$terms])) AS node
       | FROM per_part)
       |SELECT CAST(node AS BIGINT) AS node,
       | CAST(COUNT(*) AS BIGINT) AS n_parts,
       | CAST(SUM(rev1) AS BIGINT) AS rev
       |FROM anc GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
