package graft.operators

import graft.Tables
import graft.functions.Exact.{d38, dec, decToDouble, decToDoubleSql, decToDoubleSigned,
  decToDoubleSignedSql, discPrice, wholeUnits}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-14 third wave: inference and forecasting diagnostics — Welch's
  * unequal-variance t-test, intraclass correlation (reliability), the
  * Syntetos–Boylan intermittent-demand classification, and a
  * lag-1 Granger-causality F-test, all in the house exact-integer +
  * portable-rounding conventions.
  */
object Relational15 {

  // ------------------------------------------------------ Welch t-test

  /** Welch's unequal-variance t-test of per-customer revenue between
    * the BUILDING segment and everyone else — the two-sample mean
    * comparison [[Relational11.effectSize]] sizes and
    * [[Relational14.leveneBf]] justifies (Welch does NOT assume the
    * homogeneity BF tests, so it is the safe default). Per-group exact
    * DECIMAL(38,0) power sums of whole-unit revenue; t and the
    * Welch–Satterthwaite df are fixed double formulas of those sums
    * via the hi/lo split, identical trees both engines, 12-dec.
    */
  def welchTtest(t: Tables): DataFrame = {
    val per = Facts.customerRevenue(t)
      .select(col("o_custkey"), wholeUnits(col("rev")).as("x"))
      .join(broadcast(t.customer.select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select((col("c_mktsegment") === "BUILDING").as("g"), col("x"))
    val byG = per.groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("s"),
        sum(col("x").cast(d38) * col("x")).as("q"))
    val a = byG.where(col("g")).select(col("n").as("n1"), col("s").as("s1"),
      col("q").as("q1"))
    val b = byG.where(!col("g")).select(col("n").as("n0"), col("s").as("s0"),
      col("q").as("q0"))
    def mean(s: Column, n: Column): Column = decToDouble(s) / n
    def varN(q: Column, s: Column, n: Column): Column =
      (decToDouble(q) - decToDouble(s) * decToDouble(s) / n) / (n - 1)
    a.crossJoin(b)
      .select(col("n1").cast("long").as("n_treat"),
        col("n0").cast("long").as("n_ctrl"),
        mean(col("s1"), col("n1")).as("m1"),
        mean(col("s0"), col("n0")).as("m0"),
        (varN(col("q1"), col("s1"), col("n1")) / col("n1")).as("se1"),
        (varN(col("q0"), col("s0"), col("n0")) / col("n0")).as("se0"),
        col("n1"), col("n0"))
      .select(col("n_treat"), col("n_ctrl"),
        (col("m1") - col("m0")).cast(DecimalType(24, 12)).cast("double")
          .as("mean_diff"),
        ((col("m1") - col("m0")) / sqrt(col("se1") + col("se0")))
          .cast(DecimalType(24, 12)).cast("double").as("t_welch"),
        (((col("se1") + col("se0")) * (col("se1") + col("se0"))) /
          (col("se1") * col("se1") / (col("n1") - 1) +
            col("se0") * col("se0") / (col("n0") - 1)))
          .cast(DecimalType(24, 12)).cast("double").as("df_ws"))
  }

  val welchTtestSql: String = {
    def m(s: String, n: String) = s"${decToDoubleSql(s)} / $n"
    def v(q: String, s: String, n: String) =
      s"(${decToDoubleSql(q)} - ${decToDoubleSql(s)} * ${decToDoubleSql(s)} / $n) / ($n - 1)"
    s"""WITH per AS (
       | SELECT c_mktsegment = 'BUILDING' AS g,
       |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 1000000
       |    AS HUGEINT) // 1000000 AS BIGINT) AS x
       | FROM orders JOIN customer ON o_custkey = c_custkey
       | GROUP BY g, o_custkey),
       |by_g AS (
       | SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(x) AS HUGEINT) AS s,
       |  CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
       | FROM per GROUP BY 1),
       |ab AS (
       | SELECT
       |  (SELECT n FROM by_g WHERE g) AS n1,
       |  (SELECT s FROM by_g WHERE g) AS s1,
       |  (SELECT q FROM by_g WHERE g) AS q1,
       |  (SELECT n FROM by_g WHERE NOT g) AS n0,
       |  (SELECT s FROM by_g WHERE NOT g) AS s0,
       |  (SELECT q FROM by_g WHERE NOT g) AS q0),
       |se AS (
       | SELECT n1, n0,
       |  ${m("s1", "n1")} AS m1, ${m("s0", "n0")} AS m0,
       |  ${v("q1", "s1", "n1")} / n1 AS se1,
       |  ${v("q0", "s0", "n0")} / n0 AS se0
       | FROM ab)
       |SELECT n1 AS n_treat, n0 AS n_ctrl,
       | CAST(CAST(m1 - m0 AS DECIMAL(24,12)) AS DOUBLE) AS mean_diff,
       | CAST(CAST((m1 - m0) / sqrt(se1 + se0) AS DECIMAL(24,12)) AS DOUBLE)
       |   AS t_welch,
       | CAST(CAST(((se1 + se0) * (se1 + se0)) /
       |   (se1 * se1 / (n1 - 1) + se0 * se0 / (n0 - 1))
       |   AS DECIMAL(24,12)) AS DOUBLE) AS df_ws
       |FROM se""".stripMargin
  }

  // ------------------------------------------------------------- ICC

  /** One-way random-effects intraclass correlation ICC(1) of monthly
    * revenue across brands — "how much of month-to-month variance is a
    * stable BRAND effect", the reliability coefficient behind any
    * per-entity score the pipeline reuses across periods. Balanced
    * design enforced explicitly: only months observed for EVERY brand
    * enter (dims-bounded semi-join). MS_between/MS_within come from
    * exact DECIMAL(38,0) power sums (whole units) with the per-brand
    * term folded in brand order; ICC = (MSB−MSW)/(MSB+(k−1)·MSW).
    */
  def icc(t: Tables): DataFrame = {
    val cell = t.lineitem
      .join(t.part.select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), trunc(col("l_shipdate"), "month").as("mon"))
      .agg(wholeUnits(sum(discPrice(col("l_extendedprice"), col("l_discount"))))
        .cast("long").as("x"))
    // NOT pinned (r15): cell feeds the completeness count AND the
    // balanced join; a localCheckpoint barrier was measured (r15) at
    // no better than the dims-bounded recompute at sf0.1 AND gen-sf1,
    // so keep the plan without the materialization job (the sibling
    // durbinWatson measured the pin strictly worse, 0.23 → 1.1 s)
    val nBrands = t.part.select("p_brand").distinct().count()
    val complete = cell.groupBy("mon").agg(count(lit(1)).as("nb"))
      .where(col("nb") === nBrands).select("mon")
    val bal = cell.join(broadcast(complete), Seq("mon"))
    val byBrand = bal.groupBy("p_brand")
      .agg(count(lit(1)).as("k"),
        sum(col("x").cast(d38)).as("s"),
        sum(col("x").cast(d38) * col("x")).as("q"))
    val gterm = decToDouble(col("s")) * decToDouble(col("s")) /
      col("k").cast("double")
    byBrand
      .agg(count(lit(1)).as("n_brands"),
        first(col("k")).as("k"),
        sum(col("s")).cast(d38).as("s_all"),
        sum(col("q")).cast(d38).as("q_all"),
        sort_array(collect_list(struct(col("p_brand"), gterm.as("term"))))
          .as("arr"))
      .select(col("n_brands").cast("long").as("n_brands"),
        col("k").cast("long").as("k_months"),
        col("s_all"), col("q_all"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
          " (a, x) -> a + x.term)").as("tsum"))
      .select(col("n_brands"), col("k_months"),
        ((col("tsum") - decToDouble(col("s_all")) * decToDouble(col("s_all")) /
          (col("n_brands") * col("k_months")).cast("double")) /
          (col("n_brands") - 1).cast("double")).as("msb"),
        ((decToDouble(col("q_all")) - col("tsum")) /
          (col("n_brands").cast("double") * (col("k_months") - 1).cast("double")))
          .as("msw"),
        col("k_months").as("km2"))
      // only DIMENSIONLESS outputs: the mean squares are units² and grow
      // as SF², overflowing the 12-integer-digit portable rounding
      .select(col("n_brands"), col("k_months"),
        (col("msb") / col("msw"))
          .cast(DecimalType(24, 12)).cast("double").as("f_ratio"),
        ((col("msb") - col("msw")) /
          (col("msb") + (col("km2") - 1).cast("double") * col("msw")))
          .cast(DecimalType(24, 12)).cast("double").as("icc1"))
  }

  val iccSql: String = {
    val sAllD = decToDoubleSql("s_all")
    val qAllD = decToDoubleSql("q_all")
    val sD = decToDoubleSql("s")
    s"""WITH cell AS (
       | SELECT p_brand, date_trunc('month', CAST(l_shipdate AS DATE)) AS mon,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) // 1000000 AS BIGINT) AS x
       | FROM lineitem JOIN part ON l_partkey = p_partkey
       | GROUP BY 1, 2),
       |nb AS (SELECT CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n FROM part),
       |complete AS (
       | SELECT mon FROM cell GROUP BY mon
       | HAVING COUNT(*) = (SELECT n FROM nb)),
       |bal AS (SELECT cell.* FROM cell JOIN complete USING (mon)),
       |by_brand AS (
       | SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(SUM(x) AS HUGEINT) AS s,
       |  CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
       | FROM bal GROUP BY 1),
       |folded AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
       |  CAST(MIN(k) AS BIGINT) AS k_months,
       |  CAST(SUM(s) AS HUGEINT) AS s_all,
       |  CAST(SUM(q) AS HUGEINT) AS q_all,
       |  list_reduce(list($sD * $sD / CAST(k AS DOUBLE) ORDER BY p_brand),
       |    (a, x) -> a + x) AS tsum
       | FROM by_brand),
       |ms AS (
       | SELECT n_brands, k_months,
       |  (tsum - $sAllD * $sAllD / CAST(n_brands * k_months AS DOUBLE)) /
       |    CAST(n_brands - 1 AS DOUBLE) AS msb,
       |  ($qAllD - tsum) /
       |    (CAST(n_brands AS DOUBLE) * CAST(k_months - 1 AS DOUBLE)) AS msw
       | FROM folded)
       |SELECT n_brands, k_months,
       | CAST(CAST(msb / msw AS DECIMAL(24,12)) AS DOUBLE) AS f_ratio,
       | CAST(CAST((msb - msw) / (msb + CAST(k_months - 1 AS DOUBLE) * msw)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS icc1
       |FROM ms""".stripMargin
  }

  // ------------------------------------- intermittent-demand classes

  /** Syntetos–Boylan cutoffs: ADI 1.32 (×100 as integer hundredths),
    * CV² 0.49. */
  private val AdiCut100 = 132L
  private val Cv2Cut = 0.49

  /** Syntetos–Boylan intermittent-demand classification per part —
    * ADI (average inter-demand interval, here span-months over
    * demand-months) × CV² of the nonzero monthly demand, cut at
    * (1.32, 0.49) into smooth / intermittent / erratic / lumpy: the
    * routing decision between Croston-style and standard forecasting
    * that [[TimeSeries.forecastBacktest]] assumes away. The month
    * span is each part's OWN first→last demand month (calendar
    * arithmetic, exact); ADI compares as exact integers scaled ×100;
    * CV² is one double formula of DECIMAL(38,0) sums, 12-dec. Output
    * is the class census per brand (dims-bounded) so the frame stays
    * small at any corpus.
    */
  def demandClasses(t: Tables): DataFrame = {
    val monthly = t.lineitem
      .join(t.part.select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("l_partkey").as("pk"),
        trunc(col("l_shipdate"), "month").as("mon"))
      .agg((sum(dec(col("l_quantity"))) * 100).cast("long").as("d"))
    val perPart = monthly.groupBy("p_brand", "pk")
      .agg(count(lit(1)).as("nz"),
        (months_between(max(col("mon")), min(col("mon"))).cast("long") + 1)
          .as("span"),
        sum(col("d").cast(d38)).as("s"),
        sum(col("d").cast(d38) * col("d")).as("q"))
      .withColumn("cv2",
        // CV² = n·Σd²/(Σd)² − 1 over the NONZERO demands
        (col("nz") * decToDouble(col("q")) /
          (decToDouble(col("s")) * decToDouble(col("s"))) - lit(1.0)))
      .withColumn("cls",
        when(col("span") * 100 <= col("nz") * AdiCut100,
          when(col("cv2") <= Cv2Cut, "smooth").otherwise("erratic"))
          .otherwise(
            when(col("cv2") <= Cv2Cut, "intermittent").otherwise("lumpy")))
    perPart.groupBy("p_brand", "cls")
      .agg(count(lit(1)).as("n_parts"),
        graft.functions.Exact.portableMean(col("cv2")).as("avg_cv2"))
      .orderBy("p_brand", "cls")
  }

  val demandClassesSql: String = {
    val sD = decToDoubleSql("s")
    val qD = decToDoubleSql("q")
    s"""WITH monthly AS (
       | SELECT p_brand, l_partkey AS pk,
       |  date_trunc('month', CAST(l_shipdate AS DATE)) AS mon,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS d
       | FROM lineitem JOIN part ON l_partkey = p_partkey
       | GROUP BY 1, 2, 3),
       |per_part AS (
       | SELECT p_brand, pk, CAST(COUNT(*) AS BIGINT) AS nz,
       |  CAST(date_diff('month', MIN(mon), MAX(mon)) AS BIGINT) + 1 AS span,
       |  CAST(SUM(d) AS HUGEINT) AS s,
       |  CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS q
       | FROM monthly GROUP BY 1, 2),
       |cls AS (
       | SELECT p_brand,
       |  nz * $qD / ($sD * $sD) - 1.0 AS cv2,
       |  CASE WHEN span * 100 <= nz * $AdiCut100
       |       THEN CASE WHEN nz * $qD / ($sD * $sD) - 1.0 <= $Cv2Cut
       |                 THEN 'smooth' ELSE 'erratic' END
       |       ELSE CASE WHEN nz * $qD / ($sD * $sD) - 1.0 <= $Cv2Cut
       |                 THEN 'intermittent' ELSE 'lumpy' END END AS cls
       | FROM per_part)
       |SELECT p_brand, cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
       | CAST(CAST(CAST(SUM(CAST(cv2 AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS avg_cv2
       |FROM cls GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------ Granger causality

  /** Lag-1 Granger-causality F-test: does YESTERDAY'S order-line count
    * improve the prediction of TODAY'S revenue beyond yesterday's
    * revenue alone — the predictive-precedence screen behind
    * [[Relational12.crossCorrelation]]'s symmetric lag view.
    * Restricted (xₜ ~ xₜ₋₁) and unrestricted (xₜ ~ xₜ₋₁ + yₜ₋₁) OLS
    * both close over centered second moments of the calendar-adjacent
    * pair frame (gap days yield no pair, one bounded-day-domain
    * self-join); the 2×2 normal equations solve in closed form.
    * Every moment is an exact DECIMAL(38,0) sum of whole-unit ×
    * count products; the centered moments, coefficients, RSS ratio
    * and F evaluate in ONE double expression tree per engine, with
    * the coefficients and F 12-dec rounded at the output seam.
    */
  def grangerLag1(t: Tables): DataFrame = {
    val daily = Facts.dailyRevenue(t)
      .select(Facts.epochDay(col("d")).as("ed"),
        wholeUnits(col("rev")).cast("long").as("x"), col("lines").as("y"))
      .localCheckpoint(true) // both pair sides
    val prev = daily.select(col("ed").as("pd"), col("x").as("x1"),
      col("y").as("y1"))
    val pairs = daily.join(broadcast(prev), col("ed") === col("pd") + 1)
    val mom = pairs.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("x1").cast(d38)).as("sa"),
      sum(col("y1").cast(d38)).as("sb"),
      sum(col("x").cast(d38) * col("x")).as("sxx"),
      sum(col("x1").cast(d38) * col("x1")).as("saa"),
      sum(col("y1").cast(d38) * col("y1")).as("sbb"),
      sum(col("x").cast(d38) * col("x1")).as("sxa"),
      sum(col("x").cast(d38) * col("y1")).as("sxb"),
      sum(col("x1").cast(d38) * col("y1")).as("sab"))
    // centered moments (doubles of exact sums — identical trees)
    val n = col("n").cast("double")
    def c2(spq: Column, sp: Column, sq: Column): Column =
      decToDouble(spq) - decToDoubleSigned(sp) * decToDoubleSigned(sq) / n
    val cxx = c2(col("sxx"), col("sx"), col("sx"))
    val caa = c2(col("saa"), col("sa"), col("sa"))
    val cbb = c2(col("sbb"), col("sb"), col("sb"))
    val cxa = c2(col("sxa"), col("sx"), col("sa"))
    val cxb = c2(col("sxb"), col("sx"), col("sb"))
    val cab = c2(col("sab"), col("sa"), col("sb"))
    val det = caa * cbb - cab * cab
    val bU = (cxa * cbb - cxb * cab) / det
    val cU = (cxb * caa - cxa * cab) / det
    val rssR = cxx - cxa * cxa / caa
    val rssU = cxx - (bU * cxa + cU * cxb)
    mom.select(col("n").cast("long").as("n_pairs"),
      bU.cast(DecimalType(24, 12)).cast("double").as("beta_lag_rev"),
      cU.cast(DecimalType(24, 12)).cast("double").as("beta_lag_cnt"),
      ((rssR - rssU) * (n - 3) / rssU)
        .cast(DecimalType(24, 12)).cast("double").as("f_granger"))
  }

  val grangerLag1Sql: String = {
    def c2(spq: String, sp: String, sq: String): String =
      s"(${decToDoubleSql(spq)} - ${decToDoubleSignedSql(sp)} * " +
        s"${decToDoubleSignedSql(sq)} / CAST(n AS DOUBLE))"
    val cxx = c2("sxx", "sx", "sx")
    val caa = c2("saa", "sa", "sa")
    val cbb = c2("sbb", "sb", "sb")
    val cxa = c2("sxa", "sx", "sa")
    val cxb = c2("sxb", "sx", "sb")
    val cab = c2("sab", "sa", "sb")
    s"""WITH daily AS (
       | SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
       |   AS ed,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) // 1000000 AS BIGINT) AS x,
       |  CAST(COUNT(*) AS BIGINT) AS y
       | FROM lineitem GROUP BY 1),
       |pairs AS (
       | SELECT a.x AS x, b.x AS x1, b.y AS y1
       | FROM daily a JOIN daily b ON a.ed = b.ed + 1),
       |mom AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(x1) AS HUGEINT) AS sa,
       |  CAST(SUM(y1) AS HUGEINT) AS sb,
       |  CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |  CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS saa,
       |  CAST(SUM(CAST(y1 AS HUGEINT) * y1) AS HUGEINT) AS sbb,
       |  CAST(SUM(CAST(x AS HUGEINT) * x1) AS HUGEINT) AS sxa,
       |  CAST(SUM(CAST(x AS HUGEINT) * y1) AS HUGEINT) AS sxb,
       |  CAST(SUM(CAST(x1 AS HUGEINT) * y1) AS HUGEINT) AS sab
       | FROM pairs),
       |sol AS (
       | SELECT n,
       |  ($cxa * $cbb - $cxb * $cab) / ($caa * $cbb - $cab * $cab) AS b_u,
       |  ($cxb * $caa - $cxa * $cab) / ($caa * $cbb - $cab * $cab) AS c_u,
       |  $cxx - $cxa * $cxa / $caa AS rss_r,
       |  $cxx AS cxx, $cxa AS cxa, $cxb AS cxb
       | FROM mom)
       |SELECT n AS n_pairs,
       | CAST(CAST(b_u AS DECIMAL(24,12)) AS DOUBLE) AS beta_lag_rev,
       | CAST(CAST(c_u AS DECIMAL(24,12)) AS DOUBLE) AS beta_lag_cnt,
       | CAST(CAST((rss_r - (cxx - (b_u * cxa + c_u * cxb)))
       |   * (CAST(n AS DOUBLE) - 3) / (cxx - (b_u * cxa + c_u * cxb))
       |   AS DECIMAL(24,12)) AS DOUBLE) AS f_granger
       |FROM sol""".stripMargin
  }

  // ------------------------------------------- Shapley attribution

  /** The four touch channels, alphabetical, with their bit positions —
    * a SCHEMA constant of the events feed (not corpus-derived): the
    * generator emits exactly these non-conversion types. A type absent
    * at some SF simply never sets its bit and its Shapley value is 0.
    */
  private val ShapleyChannels = Seq("click", "error", "signup", "view")

  /** s!(k−1−s)!/k! coalition weights for k = 4, indexed by |S|. */
  private val ShapleyW = Seq(0.25, 1.0 / 12, 1.0 / 12, 0.25)

  /** Shapley-value channel attribution over user-day touch sets — the
    * game-theoretic split of conversion credit that last-touch/linear
    * ([[Analytics.attribution]]) only approximate: each user-day is a
    * coalition of the channels seen that day, v(S) = conversion rate
    * of days whose EXACT touch set is S (0 for unobserved coalitions,
    * the Zhao et al. simplified-Shapley convention), and
    * φᵢ = Σ_{S∌i} |S|!(k−1−|S|)!/k! · (v(S∪i) − v(S)). The fact table
    * collapses to ≤2ᵏ coalition rows FIRST (one aggregation); the
    * whole Shapley evaluation is a 16-row grid self-join with literal
    * factorial weights and per-channel folds in mask order — bounded
    * at any corpus size. Conversion counts are exact longs; each v is
    * one double division, φ 12-dec rounded.
    */
  def shapleyAttribution(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val bits = ShapleyChannels.zipWithIndex.map { case (c, i) =>
      when(col("event_type") === c, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val days = t.events
      .select(col("user_id"), col("ts").cast("date").as("d"),
        bits.as("bit"),
        (col("event_type") === "purchase").cast("long").as("conv"))
      .groupBy("user_id", "d")
      .agg(expr("bit_or(bit)").as("mask"), max(col("conv")).as("cv"))
    val byMask = days.groupBy("mask")
      .agg(count(lit(1)).as("n"), sum(col("cv")).as("c"))
    val grid = spark.range(1L << ShapleyChannels.size).toDF("mask")
      .join(byMask, Seq("mask"), "left")
      .select(col("mask"),
        coalesce(col("c").cast("double") / col("n"), lit(0.0)).as("v"))
      .localCheckpoint(true) // 16 rows; both sides of the marginal join
    val wCase = ShapleyW.zipWithIndex.tail.foldLeft(
      when(expr("bit_count(s.mask)") === 0, lit(ShapleyW.head))) {
      case (acc, (w, s)) => acc.when(expr("bit_count(s.mask)") === s, lit(w))
    }
    val terms = grid.as("s")
      .crossJoin(broadcast(
        ShapleyChannels.zipWithIndex.toDF("channel", "i")))
      .where(expr("(s.mask & (1 << i)) = 0"))
      .join(broadcast(grid.as("t")),
        expr("t.mask = (s.mask | (1 << i))"))
      .select(col("channel"), col("s.mask").as("mask"),
        (wCase * (col("t.v") - col("s.v"))).as("term"))
    terms.groupBy("channel")
      .agg(sort_array(collect_list(struct(col("mask"), col("term")))).as("arr"))
      .select(col("channel"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
          " (a, x) -> a + x.term)")
          .cast(DecimalType(24, 12)).cast("double").as("shapley"))
      .orderBy("channel")
  }

  val shapleyAttributionSql: String = {
    val chans = ShapleyChannels.zipWithIndex
      .map { case (c, i) => s"SELECT '$c' AS channel, $i AS i" }
      .mkString(" UNION ALL ")
    val bitExpr = ShapleyChannels.zipWithIndex
      .map { case (c, i) => s"CASE WHEN event_type = '$c' THEN ${1L << i} ELSE 0 END" }
      .mkString(" | ")
    val wCase = ShapleyW.zipWithIndex
      .map { case (w, s) => s"WHEN bit_count(s.mask) = $s THEN $w" }
      .mkString("CASE ", " ", " END")
    s"""WITH days AS (
       | SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |  bit_or($bitExpr) AS mask,
       |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
       | FROM events GROUP BY 1, 2),
       |by_mask AS (
       | SELECT mask, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cv) AS BIGINT) AS c
       | FROM days GROUP BY 1),
       |grid AS (
       | SELECT g.mask, COALESCE(CAST(c AS DOUBLE) / n, 0.0) AS v
       | FROM (SELECT unnest(range(0, ${1L << ShapleyChannels.size})) AS mask) g
       | LEFT JOIN by_mask ON by_mask.mask = g.mask),
       |chan AS ($chans),
       |terms AS (
       | SELECT chan.channel, s.mask,
       |  ($wCase) * (t.v - s.v) AS term
       | FROM grid s CROSS JOIN chan
       | JOIN grid t ON t.mask = (s.mask | (1 << chan.i))
       | WHERE (s.mask & (1 << chan.i)) = 0)
       |SELECT channel,
       | CAST(CAST(list_reduce(list(term ORDER BY mask), (a, x) -> a + x)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS shapley
       |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------- overdispersion

  /** Overdispersion diagnostic of per-customer order counts — is the
    * demand process Poisson (index ≈ 1) or clumped, and if clumped,
    * the method-of-moments negative-binomial fit (r, p) a demand
    * simulator would use. Customers with ZERO orders count (left
    * join against the customer dim — dropping them biases the index
    * up). All moments are exact DECIMAL(38,0) sums of small counts;
    * the index and NB parameters are dimensionless double formulas,
    * 12-dec rounded.
    */
  def overdispersion(t: Tables): DataFrame = {
    val per = t.customer.select(col("c_custkey").as("k"))
      .join(t.orders.groupBy("o_custkey").agg(count(lit(1)).as("cnt")),
        col("k") === col("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("x"))
    per.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("s"),
        sum(col("x").cast(d38) * col("x")).as("q"))
      .select(col("n").cast("long").as("n_customers"),
        (decToDouble(col("s")) / col("n")).as("m"),
        ((decToDouble(col("q")) -
          decToDouble(col("s")) * decToDouble(col("s")) / col("n")) /
          (col("n") - 1)).as("v"))
      .select(col("n_customers"),
        col("m").cast(DecimalType(24, 12)).cast("double").as("mean_orders"),
        col("v").cast(DecimalType(24, 12)).cast("double").as("var_orders"),
        (col("v") / col("m")).cast(DecimalType(24, 12)).cast("double")
          .as("dispersion_index"),
        (col("m") * col("m") / (col("v") - col("m")))
          .cast(DecimalType(24, 12)).cast("double").as("nb_r"),
        (col("m") / col("v")).cast(DecimalType(24, 12)).cast("double")
          .as("nb_p"))
  }

  val overdispersionSql: String = {
    val sD = decToDoubleSql("s")
    val qD = decToDoubleSql("q")
    s"""WITH per AS (
       | SELECT COALESCE(cnt, 0) AS x
       | FROM customer LEFT JOIN (
       |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
       |mom AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(x) AS HUGEINT) AS s,
       |  CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
       | FROM per),
       |mv AS (
       | SELECT n, $sD / n AS m,
       |  ($qD - $sD * $sD / n) / (n - 1) AS v
       | FROM mom)
       |SELECT n AS n_customers,
       | CAST(CAST(m AS DECIMAL(24,12)) AS DOUBLE) AS mean_orders,
       | CAST(CAST(v AS DECIMAL(24,12)) AS DOUBLE) AS var_orders,
       | CAST(CAST(v / m AS DECIMAL(24,12)) AS DOUBLE) AS dispersion_index,
       | CAST(CAST(m * m / (v - m) AS DECIMAL(24,12)) AS DOUBLE) AS nb_r,
       | CAST(CAST(m / v AS DECIMAL(24,12)) AS DOUBLE) AS nb_p
       |FROM mv""".stripMargin
  }

  // ---------------------------------------------- peaks over threshold

  /** Exceedance count for the POT fit: k = min(2000, ⌈n/50⌉) —
    * corpus-derived up to a bounded cap (hillK convention). */
  private[graft] def potK(n: Long): Int =
    math.min(2000L, math.ceil(n / 50.0).toLong).toInt

  /** Peaks-over-threshold GPD fit of order totals — the tail model
    * that uses EVERY large observation ([[Relational13.extremeValue]]'s
    * block-maxima Gumbel throws away all but one per month;
    * [[Relational13.hillTail]] assumes a pure power law, POT does
    * not): threshold u = the (k+1)-th largest order value, exceedances
    * y = x − u for the k above it, and the method-of-moments GPD
    * shape/scale ξ = ½(1 − m²/v), β = ½m(m²/v + 1). The top-(k+1)
    * reduction is a TakeOrderedAndProject (never a global sort); the
    * ≤2001 survivors fold their exact integer moment sums in rank
    * order inside one bounded array.
    */
  def potGpd(t: Tables): DataFrame = {
    val n = t.orders.count()
    val k = potK(n)
    // whole units are monotone in the price, so the top k + 1 by price
    // hold the same unit values as the top k + 1 by unit
    val top = Facts.ordersByPrice(t).limit(k + 1)
      .select(wholeUnits(col("price")).as("u"), col("ok"))
    top
      .agg(sort_array(collect_list(struct((-col("u")).as("nu"), col("ok"))))
        .as("arr"))
      .select(lit(n).as("n"), lit(k.toLong).as("k"),
        expr(s"CAST(-arr[$k].nu AS BIGINT)").as("thr_units"),
        expr(s"""aggregate(slice(arr, 1, $k), CAST(0 AS BIGINT),
          | (a, x) -> a + ((-x.nu) - (-arr[$k].nu)))""".stripMargin).as("sy"),
        expr(s"""aggregate(slice(arr, 1, $k), CAST(0 AS BIGINT),
          | (a, x) -> a + ((-x.nu) - (-arr[$k].nu))
          |             * ((-x.nu) - (-arr[$k].nu)))""".stripMargin)
          .as("syy"))
      .select(col("n"), col("k"), col("thr_units"),
        (col("sy").cast("double") / col("k")).as("m"),
        ((col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double") / col("k")) /
          (col("k") - 1)).as("v"))
      .select(col("n"), col("k"), col("thr_units"),
        col("m").cast(DecimalType(24, 12)).cast("double").as("mean_excess"),
        (lit(0.5) * (lit(1.0) - col("m") * col("m") / col("v")))
          .cast(DecimalType(24, 12)).cast("double").as("gpd_xi"),
        (lit(0.5) * col("m") * (col("m") * col("m") / col("v") + lit(1.0)))
          .cast(DecimalType(24, 12)).cast("double").as("gpd_beta"))
  }

  /** Oracle: identical k rule, identical rank-ordered integer folds
    * (1-based DuckDB lists; threshold at arr[k+1]).
    */
  val potGpdSql: String =
    """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
      |kk AS (SELECT n, CAST(LEAST(2000, CEIL(n / 50.0)) AS BIGINT) AS k
      |       FROM nn),
      |vals AS (
      | SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000
      |   AS HUGEINT) // 1000000 AS BIGINT) AS u, o_orderkey AS ok
      | FROM orders),
      |top AS (
      | SELECT u, ok, ROW_NUMBER() OVER (ORDER BY u DESC, ok) AS rn
      | FROM vals QUALIFY rn <= (SELECT k + 1 FROM kk)),
      |packed AS (
      | SELECT list(struct_pack(nu := -u, ok := ok) ORDER BY -u, ok) AS arr
      | FROM top),
      |folded AS (
      | SELECT n, k,
      |  CAST(-arr[CAST(k AS INT) + 1].nu AS BIGINT) AS thr_units,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(arr[1:CAST(k AS INT)],
      |      x -> ((-x.nu) - (-arr[CAST(k AS INT) + 1].nu)))),
      |    (a, x) -> a + x) AS sy,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(arr[1:CAST(k AS INT)],
      |      x -> ((-x.nu) - (-arr[CAST(k AS INT) + 1].nu))
      |         * ((-x.nu) - (-arr[CAST(k AS INT) + 1].nu)))),
      |    (a, x) -> a + x) AS syy
      | FROM packed CROSS JOIN kk),
      |mv AS (
      | SELECT n, k, thr_units,
      |  CAST(sy AS DOUBLE) / k AS m,
      |  (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / k)
      |    / (k - 1) AS v
      | FROM folded)
      |SELECT n, k, thr_units,
      | CAST(CAST(m AS DECIMAL(24,12)) AS DOUBLE) AS mean_excess,
      | CAST(CAST(0.5 * (1.0 - m * m / v) AS DECIMAL(24,12)) AS DOUBLE)
      |   AS gpd_xi,
      | CAST(CAST(0.5 * m * (m * m / v + 1.0) AS DECIMAL(24,12)) AS DOUBLE)
      |   AS gpd_beta
      |FROM mv""".stripMargin

  // ------------------------------------------------- Hurst exponent

  /** Block sizes for the aggregated-variance Hurst fit, with ln m as
    * SHARED LITERALS (both engines splice the identical doubles — no
    * libm ln of an integer at runtime). */
  private val HurstBlocks = Seq((1L, 0.0), (2L, 0.6931471805599453), (4L, 1.3862943611198906), (8L, 2.0794415416798357), (16L, 2.772588722239781), (32L, 3.4657359027997265), (64L, 4.1588830833596715))

  /** Hurst exponent of daily revenue by the AGGREGATED-VARIANCE method
    * — long-range dependence in one number (H ≈ 0.5 memoryless,
    * H > 0.5 persistent trends, the regime where every naive forecast
    * interval is too narrow). Var(block sum over m days) ~ m^{2H}, so
    * H = slope/2 of ln Var vs ln m over block sizes 1..64. Unlike R/S
    * this needs NO sequential scan: blocks are `epoch_day div m`
    * groupings (pure aggregation at every level), partial calendar
    * blocks are dropped by an exact day-count filter, and each scale's
    * variance comes from DECIMAL(38,0) sums of whole-unit block totals
    * (envelope holds through ~sf10³). ln Var is 12-dec rounded BEFORE
    * the fit so both engines regress identical inputs; the ≤7-point
    * OLS folds in block-size order.
    */
  def hurst(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val daily = Facts.dailyRevenue(t)
      .select(Facts.epochDay(col("d")).cast("long").as("ed"),
        wholeUnits(col("rev")).as("v"))
      .localCheckpoint(true) // one scan feeds all 7 scales
    val scales = HurstBlocks.toDF("m", "lnm")
    val blocks = daily
      .crossJoin(broadcast(scales))
      .groupBy(col("m"), col("lnm"), expr("ed div m").as("blk"))
      .agg(count(lit(1)).as("days"), sum(col("v")).as("s"))
      .where(col("days") === col("m")) // complete calendar blocks only
    val perScale = blocks.groupBy("m", "lnm")
      .agg(count(lit(1)).as("nb"),
        sum(col("s").cast(d38)).as("ss"),
        sum(col("s").cast(d38) * col("s")).as("sq"))
      .where(col("nb") >= 2)
      .select(col("m"), col("lnm"), col("nb"),
        log((decToDouble(col("sq")) -
          decToDouble(col("ss")) * decToDouble(col("ss")) / col("nb")) /
          (col("nb") - 1))
          .cast(DecimalType(24, 12)).cast("double").as("lv"))
    perScale
      .agg(count(lit(1)).as("k"),
        sort_array(collect_list(struct(col("m"), col("lnm"), col("lv"))))
          .as("arr"))
      .select(col("k").cast("long").as("n_scales"),
        expr("""aggregate(arr, CAST(0.0 AS DOUBLE), (a, x) -> a + x.lnm)""")
          .as("sx"),
        expr("""aggregate(arr, CAST(0.0 AS DOUBLE), (a, x) -> a + x.lv)""")
          .as("sy"),
        expr("""aggregate(arr, CAST(0.0 AS DOUBLE),
          | (a, x) -> a + x.lnm * x.lnm)""".stripMargin).as("sxx"),
        expr("""aggregate(arr, CAST(0.0 AS DOUBLE),
          | (a, x) -> a + x.lnm * x.lv)""".stripMargin).as("sxy"))
      .select(col("n_scales"),
        ((col("n_scales") * col("sxy") - col("sx") * col("sy")) /
          (col("n_scales") * col("sxx") - col("sx") * col("sx")))
          .cast(DecimalType(24, 12)).cast("double").as("var_slope"))
      .withColumn("hurst_h",
        (col("var_slope") / 2.0).cast(DecimalType(24, 12)).cast("double"))
  }

  val hurstSql: String =
    """WITH daily AS (
      | SELECT CAST(date_diff('day', DATE '1970-01-01',
      |    CAST(l_shipdate AS DATE)) AS BIGINT) AS ed,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
      |    * 1000000 AS HUGEINT) // 1000000 AS BIGINT) AS v
      | FROM lineitem GROUP BY 1),
      |scales(m, lnm) AS (VALUES (1, 0.0e0), (2, 0.6931471805599453e0), (4, 1.3862943611198906e0), (8, 2.0794415416798357e0), (16, 2.772588722239781e0), (32, 3.4657359027997265e0), (64, 4.1588830833596715e0)),
      |blocks AS (
      | SELECT m, lnm, ed // m AS blk,
      |  CAST(COUNT(*) AS BIGINT) AS days, CAST(SUM(v) AS BIGINT) AS s
      | FROM daily CROSS JOIN scales GROUP BY 1, 2, 3),
      |complete AS (SELECT * FROM blocks WHERE days = m),
      |per_scale AS (
      | SELECT m, lnm, CAST(COUNT(*) AS BIGINT) AS nb,
      |  CAST(SUM(s) AS HUGEINT) AS ss,
      |  CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT) AS sq
      | FROM complete GROUP BY 1, 2),
      |lvs AS (
      | SELECT m, lnm,
      |  CAST(CAST(ln((DTOD_SQ - DTOD_SS * DTOD_SS / nb) / (nb - 1))
      |    AS DECIMAL(24,12)) AS DOUBLE) AS lv
      | FROM per_scale WHERE nb >= 2),
      |fit AS (
      | SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |  list_reduce(list(lnm ORDER BY m), (a, x) -> a + x) AS sx,
      |  list_reduce(list(lv ORDER BY m), (a, x) -> a + x) AS sy,
      |  list_reduce(list(lnm * lnm ORDER BY m), (a, x) -> a + x) AS sxx,
      |  list_reduce(list(lnm * lv ORDER BY m), (a, x) -> a + x) AS sxy
      | FROM lvs)
      |SELECT k AS n_scales,
      | CAST(CAST((k * sxy - sx * sy) / (k * sxx - sx * sx)
      |   AS DECIMAL(24,12)) AS DOUBLE) AS var_slope,
      | CAST(CAST(CAST(CAST((k * sxy - sx * sy) / (k * sxx - sx * sx)
      |     AS DECIMAL(24,12)) AS DOUBLE) / 2.0
      |   AS DECIMAL(24,12)) AS DOUBLE) AS hurst_h
      |FROM fit""".stripMargin
      .replace("DTOD_SQ", graft.functions.Exact.decToDoubleSql("sq"))
      .replace("DTOD_SS", graft.functions.Exact.decToDoubleSql("ss"))
}
