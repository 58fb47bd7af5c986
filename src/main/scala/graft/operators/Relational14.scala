package graft.operators

import graft.Tables
import graft.functions.Exact.{d19, d38, dec, decToDouble, decToDoubleSql,
  decToDoubleSigned, decToDoubleSignedSql, discPrice, microUnits, rate, wholeUnits}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-14 second wave: model-evaluation and diagnostic statistics —
  * ranking quality (AUC-ROC), agreement (Cohen's kappa), conditional
  * association (partial correlation), process capability (Cp/Cpk),
  * variance homogeneity (Brown–Forsythe), serial-correlation testing
  * (Ljung–Box, Durbin–Watson), non-parametric change-point detection
  * (Pettitt), and two-sample survival comparison (log-rank).
  *
  * House conventions throughout: exact integer micros for money
  * (reference semantics: etl.py:64-76 decimal normalization),
  * tie-averaged ranks kept exact in DOUBLED form (2R = 2s+c+1) over the
  * distributed prefix-scan machinery ([[Ranks.withGlobalPrefixAggs]]),
  * double TERM sums as ordered folds over BOUNDED arrays (chiSquare
  * convention), and the portable 12-decimal rounding on every log-free
  * double the oracle compares.
  */
object Relational14 {


  // ---------------------------------------------------------- AUC-ROC

  /** Rank-based AUC-ROC of order value as a predictor of urgent
    * priority — the ranking-quality score every retrieval/filter model
    * in the curation pipeline is graded by, computed exactly via the
    * Mann–Whitney identity AUC = (ΣR₊ − n₊(n₊+1)/2)/(n₊·n₋). Tie
    * ranks stay exact in DOUBLED form (2R = 2s+c+1 per score group)
    * over ONE distributed prefix scan of the score domain; the
    * positive-rank sum is Σ cp·2R in DECIMAL(38,0) (per-group counts
    * bounded by the value-domain collapse), and AUC evaluates in
    * double from exact integers through the hi/lo split. Gini = 2·AUC−1
    * derives from the ROUNDED AUC so both engines see one rounding.
    */
  def aucRoc(t: Tables): DataFrame = {
    val sc = t.orders.select(
      microUnits(dec(col("o_totalprice"))).cast("long").as("u"),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        .cast("long").as("pos"))
    val byValue = sc.groupBy("u")
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("cp"))
    val scanned = Ranks.withGlobalPrefixAggs(byValue, Seq(col("u")),
      Seq(("s0", col("c"), "sum", false)))
    val r2 = lit(2) * coalesce(col("s0"), lit(0L)) + col("c") + 1
    scanned
      .agg(sum(col("cp")).cast("long").as("n1"),
        sum(col("c") - col("cp")).cast("long").as("n0"),
        sum((col("cp") * r2).cast(d38)).as("s2p"))
      .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
        (decToDouble((col("s2p") - col("n1").cast(d38) * (col("n1") + 1))
          .cast(d38)) /
          decToDouble((lit(2).cast(d38) * col("n1") * col("n0")).cast(d38)))
          .cast(DecimalType(24, 12)).cast("double").as("auc"))
      .withColumn("gini", (lit(2.0) * col("auc") - lit(1.0))
        .cast(DecimalType(24, 12)).cast("double"))
  }

  val aucRocSql: String = {
    val numD = decToDoubleSql("(s2p - CAST(n1 AS HUGEINT) * (n1 + 1))")
    val denD = decToDoubleSql("(CAST(2 AS HUGEINT) * n1 * n0)")
    s"""WITH sc AS (
       | SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT)
       |   AS u,
       |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |       THEN 1 ELSE 0 END AS pos
       | FROM orders),
       |ranked AS (
       | SELECT pos,
       |  2 * (RANK() OVER (ORDER BY u) - 1)
       |   + CAST(COUNT(*) OVER (PARTITION BY u) AS BIGINT) + 1 AS r2
       | FROM sc),
       |s AS (
       | SELECT CAST(SUM(pos) AS BIGINT) AS n1,
       |  CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n0,
       |  CAST(SUM(CASE WHEN pos = 1 THEN CAST(r2 AS HUGEINT) ELSE 0 END)
       |    AS HUGEINT) AS s2p
       | FROM ranked),
       |a AS (
       | SELECT n1 AS n_pos, n0 AS n_neg,
       |  CAST(CAST($numD / $denD AS DECIMAL(24,12)) AS DOUBLE) AS auc
       | FROM s)
       |SELECT n_pos, n_neg, auc,
       | CAST(CAST(2.0 * auc - 1.0 AS DECIMAL(24,12)) AS DOUBLE) AS gini
       |FROM a""".stripMargin
  }

  // ----------------------------------------------------- Cohen's kappa

  /** Threshold above which an order counts as "high value" for the
    * kappa agreement grid (micros). */
  private val KappaValueMicros = 150000L * 1000000L

  /** Cohen's kappa between two binary labelings of orders — "is it
    * urgent-priority" vs "is it high-value" — the chance-corrected
    * agreement score used to audit any pair of labeling passes
    * (heuristic vs model, two annotators) before one is trusted as
    * ground truth. One fact aggregation to a 2×2 grid of exact longs;
    * pₒ and pₑ are double formulas of those four counts (n² products
    * ride DECIMAL(38,0) through the hi/lo split), 12-dec rounded.
    */
  def cohensKappa(t: Tables): DataFrame = {
    val g = t.orders.select(
      col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long").as("a"),
      (microUnits(dec(col("o_totalprice"))).cast("long") >= KappaValueMicros)
        .cast("long").as("b"))
    g.agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1) - col("b"))).as("n10"),
        sum((lit(1) - col("a")) * col("b")).as("n01"),
        sum((lit(1) - col("a")) * (lit(1) - col("b"))).as("n00"))
      .select(col("n").cast("long").as("n"),
        col("n11").cast("long").as("n11"), col("n10").cast("long").as("n10"),
        col("n01").cast("long").as("n01"), col("n00").cast("long").as("n00"))
      .withColumn("po",
        ((col("n11") + col("n00")).cast("double") / col("n"))
          .cast(DecimalType(24, 12)).cast("double"))
      .withColumn("pe",
        ((decToDouble(((col("n11") + col("n10")).cast(d38)
          * (col("n11") + col("n01"))).cast(d38)) +
          decToDouble(((col("n01") + col("n00")).cast(d38)
            * (col("n10") + col("n00"))).cast(d38))) /
          decToDouble((col("n").cast(d38) * col("n")).cast(d38)))
          .cast(DecimalType(24, 12)).cast("double"))
      .withColumn("kappa",
        ((col("po") - col("pe")) / (lit(1.0) - col("pe")))
          .cast(DecimalType(24, 12)).cast("double"))
  }

  val cohensKappaSql: String = {
    val peNum1 = decToDoubleSql("(CAST(n11 + n10 AS HUGEINT) * (n11 + n01))")
    val peNum2 = decToDoubleSql("(CAST(n01 + n00 AS HUGEINT) * (n10 + n00))")
    val peDen = decToDoubleSql("(CAST(n AS HUGEINT) * n)")
    s"""WITH g AS (
       | SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |             THEN 1 ELSE 0 END AS a,
       |  CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000
       |         AS BIGINT) >= $KappaValueMicros THEN 1 ELSE 0 END AS b
       | FROM orders),
       |c AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(a * b) AS BIGINT) AS n11,
       |  CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
       |  CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
       |  CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
       | FROM g),
       |p AS (
       | SELECT n, n11, n10, n01, n00,
       |  CAST(CAST(CAST(n11 + n00 AS DOUBLE) / n AS DECIMAL(24,12))
       |    AS DOUBLE) AS po,
       |  CAST(CAST(($peNum1 + $peNum2) / $peDen AS DECIMAL(24,12))
       |    AS DOUBLE) AS pe
       | FROM c)
       |SELECT n, n11, n10, n01, n00, po, pe,
       | CAST(CAST((po - pe) / (1.0 - pe) AS DECIMAL(24,12)) AS DOUBLE)
       |   AS kappa
       |FROM p""".stripMargin
  }

  // ----------------------------------------------- partial correlation

  /** Partial correlation of per-part revenue and shipped quantity given
    * the part's total discount exposure — "does quantity still explain
    * revenue once discounting is held fixed", the confound-removal step
    * on top of [[Relational7.corrMatrix]]'s raw pairwise view:
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)). One fact
    * aggregation to per-part exact integers (micros / hundredths), one
    * pass of DECIMAL(38,0) power sums (values stay decimal so products
    * widen exactly), each r evaluated in double through the hi/lo
    * split and 12-dec ROUNDED before composing — so both engines
    * combine identical inputs.
    */
  def partialCorr(t: Tables): DataFrame = {
    val per = t.lineitem
      .groupBy("l_partkey")
      .agg(
        microUnits(sum(discPrice(col("l_extendedprice"), col("l_discount"))))
          .as("x"),
        (sum(dec(col("l_quantity"))) * 100).cast(d19).as("y"),
        (sum(rate(col("l_discount"))) * 100).cast(d19).as("z"))
    val sums = per.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast(d38).as("sx"), sum(col("y")).cast(d38).as("sy"),
      sum(col("z")).cast(d38).as("sz"),
      sum(col("x") * col("x")).cast(d38).as("sxx"),
      sum(col("y") * col("y")).cast(d38).as("syy"),
      sum(col("z") * col("z")).cast(d38).as("szz"),
      sum(col("x") * col("y")).cast(d38).as("sxy"),
      sum(col("x") * col("z")).cast(d38).as("sxz"),
      sum(col("y") * col("z")).cast(d38).as("syz"))
    def r(sab: Column, sa: Column, sb: Column,
          saa: Column, sbb: Column): Column =
      (decToDoubleSigned((col("n") * sab - sa * sb).cast(d38)) /
        sqrt(decToDouble((col("n") * saa - sa * sa).cast(d38)) *
          decToDouble((col("n") * sbb - sb * sb).cast(d38))))
        .cast(DecimalType(24, 12)).cast("double")
    sums
      .select(col("n").cast("long").as("n"),
        r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy")).as("r_xy"),
        r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz")).as("r_xz"),
        r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz")).as("r_yz"))
      .withColumn("r_xy_given_z",
        ((col("r_xy") - col("r_xz") * col("r_yz")) /
          sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
            (lit(1.0) - col("r_yz") * col("r_yz"))))
          .cast(DecimalType(24, 12)).cast("double"))
  }

  val partialCorrSql: String = {
    def rSql(sab: String, sa: String, sb: String,
             saa: String, sbb: String): String =
      s"CAST(CAST(${decToDoubleSignedSql(s"(n * $sab - $sa * $sb)")} /" +
        s" sqrt(${decToDoubleSql(s"(n * $saa - $sa * $sa)")} *" +
        s" ${decToDoubleSql(s"(n * $sbb - $sb * $sb)")})" +
        " AS DECIMAL(24,12)) AS DOUBLE)"
    s"""WITH per AS (
       | SELECT l_partkey,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS x,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS HUGEINT) AS y,
       |  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) * 100 AS HUGEINT) AS z
       | FROM lineitem GROUP BY 1),
       |s AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
       |  CAST(SUM(z) AS HUGEINT) AS sz,
       |  CAST(SUM(x * x) AS HUGEINT) AS sxx,
       |  CAST(SUM(y * y) AS HUGEINT) AS syy,
       |  CAST(SUM(z * z) AS HUGEINT) AS szz,
       |  CAST(SUM(x * y) AS HUGEINT) AS sxy,
       |  CAST(SUM(x * z) AS HUGEINT) AS sxz,
       |  CAST(SUM(y * z) AS HUGEINT) AS syz
       | FROM per),
       |rr AS (
       | SELECT n,
       |  ${rSql("sxy", "sx", "sy", "sxx", "syy")} AS r_xy,
       |  ${rSql("sxz", "sx", "sz", "sxx", "szz")} AS r_xz,
       |  ${rSql("syz", "sy", "sz", "syy", "szz")} AS r_yz
       | FROM s)
       |SELECT n, r_xy, r_xz, r_yz,
       | CAST(CAST((r_xy - r_xz * r_yz) /
       |   sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
       |   AS DECIMAL(24,12)) AS DOUBLE) AS r_xy_given_z
       |FROM rr""".stripMargin
  }

  // ------------------------------------------------ process capability

  /** Spec limits for lineitem quantity in hundredths: TPC-H quantities
    * live in [1, 50], so the "process window" is the full domain. */
  private val CpkLsl = 100L
  private val CpkUsl = 5000L

  /** Process capability (Cp / Cpk) of shipped quantity per brand
    * against the fixed [1, 50] spec window — the SPC summary next to
    * [[TimeSeries.controlChart]]'s time view: Cp asks "is the spread
    * narrow enough", Cpk "is it also centered". One fact aggregation
    * per brand to exact hundredth-integers; μ and the (n−1)-denominator
    * σ evaluate in double from DECIMAL(38,0) power sums via the hi/lo
    * split, identical expression trees both engines, 12-dec rounded.
    */
  def processCapability(t: Tables): DataFrame = {
    val q = t.lineitem
      .join(t.part.select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        (dec(col("l_quantity")) * 100).cast("long").as("q"))
    q.groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast(d38)).as("s"),
        sum((col("q") * col("q")).cast(d38)).as("ss"))
      .select(col("p_brand"), col("n").cast("long").as("n"),
        (decToDouble(col("s")) / col("n")).as("mu"),
        sqrt((decToDouble(col("ss")) -
          decToDouble(col("s")) * decToDouble(col("s")) / col("n")) /
          (col("n") - 1)).as("sigma"))
      .select(col("p_brand"), col("n"),
        (col("mu") / 100.0).cast(DecimalType(24, 12)).cast("double")
          .as("mean_qty"),
        (col("sigma") / 100.0).cast(DecimalType(24, 12)).cast("double")
          .as("std_qty"),
        ((lit(CpkUsl.toDouble) - lit(CpkLsl.toDouble)) / (lit(6.0) * col("sigma")))
          .cast(DecimalType(24, 12)).cast("double").as("cp"),
        least(
          (lit(CpkUsl.toDouble) - col("mu")) / (lit(3.0) * col("sigma")),
          (col("mu") - lit(CpkLsl.toDouble)) / (lit(3.0) * col("sigma")))
          .cast(DecimalType(24, 12)).cast("double").as("cpk"))
      .orderBy("p_brand")
  }

  val processCapabilitySql: String = {
    val sD = decToDoubleSql("s")
    val ssD = decToDoubleSql("ss")
    s"""WITH q AS (
       | SELECT p_brand,
       |  CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q
       | FROM lineitem JOIN part ON l_partkey = p_partkey),
       |agg AS (
       | SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(q) AS HUGEINT) AS s,
       |  CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS ss
       | FROM q GROUP BY 1),
       |st AS (
       | SELECT p_brand, n, $sD / n AS mu,
       |  sqrt(($ssD - $sD * $sD / n) / (n - 1)) AS sigma
       | FROM agg)
       |SELECT p_brand, n,
       | CAST(CAST(mu / 100.0 AS DECIMAL(24,12)) AS DOUBLE) AS mean_qty,
       | CAST(CAST(sigma / 100.0 AS DECIMAL(24,12)) AS DOUBLE) AS std_qty,
       | CAST(CAST(($CpkUsl.0 - $CpkLsl.0) / (6.0 * sigma) AS DECIMAL(24,12))
       |   AS DOUBLE) AS cp,
       | CAST(CAST(LEAST(($CpkUsl.0 - mu) / (3.0 * sigma),
       |   (mu - $CpkLsl.0) / (3.0 * sigma)) AS DECIMAL(24,12)) AS DOUBLE)
       |   AS cpk
       |FROM st ORDER BY p_brand""".stripMargin
  }

  // ------------------------------------------- Brown–Forsythe (Levene)

  /** Brown–Forsythe homogeneity-of-variance test of customer revenue
    * across market segments — the gatekeeper [[Relational11.anova]]
    * silently assumes: ANOVA on |xᵢ − median_g| deviations, robust to
    * the heavy tails order revenue actually has. Group medians select
    * EXACTLY via cumulative counts on ONE distributed prefix scan of
    * the (segment, value) domain (per-segment cumulative = global
    * prefix minus the segment's bounded offset, computed from the ≤5
    * group margins), and stay exact in DOUBLED form (lo+hi), so the
    * deviations |2x − m2_g| are exact longs. F evaluates from
    * DECIMAL(38,0) power sums of those deviations (the doubling
    * cancels in the ratio); per-group terms fold in segment order.
    */
  def leveneBf(t: Tables): DataFrame = {
    val perCust = Facts.customerRevenue(t)
      .select(col("o_custkey"), microUnits(col("rev")).cast("long").as("x"))
      .join(broadcast(t.customer.select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("x"))
      .localCheckpoint(true) // feeds the value-domain scan AND the z pass
    val byGV = perCust.groupBy("seg", "x").agg(count(lit(1)).as("c"))
    val segTot = byGV.groupBy("seg").agg(sum(col("c")).cast("long").as("n_g"))
    // exclusive per-segment offsets from the ≤5 group margins (bounded
    // self-join, no window)
    val offs = segTot.as("a")
      .join(segTot.as("b"), col("b.seg") < col("a.seg"), "left")
      .groupBy(col("a.seg"), col("a.n_g"))
      .agg(coalesce(sum(col("b.n_g")), lit(0L)).as("off"))
      .toDF("seg", "n_g", "off")
    val scanned = Ranks.withGlobalPrefixAggs(byGV,
      Seq(col("seg"), col("x")), Seq(("s0", col("c"), "sum", false)))
    val cum = scanned.join(broadcast(offs), Seq("seg"))
      .withColumn("cum", coalesce(col("s0"), lit(0L)) - col("off") + col("c"))
    val med = cum.groupBy("seg")
      .agg(first(col("n_g")).as("n_g"),
        min(when(col("cum") >= expr("(n_g + 1) div 2"), col("x"))).as("lo"),
        min(when(col("cum") >= expr("n_g div 2 + 1"), col("x"))).as("hi"))
      .select(col("seg"), col("n_g"), (col("lo") + col("hi")).as("m2"))
    val z = perCust.join(broadcast(med), Seq("seg"))
      .select(col("seg"), abs(lit(2) * col("x") - col("m2")).as("z2"))
    val byG = z.groupBy("seg")
      .agg(count(lit(1)).as("ng"),
        sum(col("z2").cast(d38)).as("sz"),
        sum((col("z2").cast(d38) * col("z2")).cast(d38)).as("qz"))
    val gterm = decToDouble(col("sz")) * decToDouble(col("sz")) /
      col("ng").cast("double")
    byG
      .agg(count(lit(1)).as("k"),
        sum(col("ng")).cast("long").as("n"),
        sum(col("sz")).cast(d38).as("s_all"),
        sum(col("qz")).cast(d38).as("q_all"),
        sort_array(collect_list(struct(col("seg"), gterm.as("term")))).as("arr"))
      .select(col("n"), col("k").cast("long").as("k_groups"),
        col("s_all"), col("q_all"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
          " (a, x) -> a + x.term)").as("tsum"))
      .select(col("n"), col("k_groups"),
        ((col("n") - col("k_groups")).cast("double") /
          (col("k_groups") - 1).cast("double") *
          (col("tsum") - decToDouble(col("s_all")) * decToDouble(col("s_all")) /
            col("n").cast("double")) /
          (decToDouble(col("q_all")) - col("tsum")))
          .cast(DecimalType(24, 12)).cast("double").as("f_bf"))
  }

  val leveneBfSql: String = {
    val szD = decToDoubleSql("sz")
    val sAllD = decToDoubleSql("s_all")
    val qAllD = decToDoubleSql("q_all")
    s"""WITH per_cust AS (
       | SELECT c_mktsegment AS seg,
       |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 1000000
       |    AS HUGEINT) AS BIGINT) AS x
       | FROM orders JOIN customer ON o_custkey = c_custkey
       | GROUP BY seg, o_custkey),
       |by_gv AS (
       | SELECT seg, x, CAST(COUNT(*) AS BIGINT) AS c
       | FROM per_cust GROUP BY 1, 2),
       |cum AS (
       | SELECT seg, x, c,
       |  CAST(SUM(c) OVER (PARTITION BY seg ORDER BY x) AS BIGINT) AS cum,
       |  CAST(SUM(c) OVER (PARTITION BY seg) AS BIGINT) AS n_g
       | FROM by_gv),
       |med AS (
       | SELECT seg,
       |  MIN(CASE WHEN cum >= (n_g + 1) // 2 THEN x END) +
       |  MIN(CASE WHEN cum >= n_g // 2 + 1 THEN x END) AS m2
       | FROM cum GROUP BY 1),
       |z AS (
       | SELECT per_cust.seg, ABS(2 * x - m2) AS z2
       | FROM per_cust JOIN med ON per_cust.seg = med.seg),
       |by_g AS (
       | SELECT seg, CAST(COUNT(*) AS BIGINT) AS ng,
       |  CAST(SUM(z2) AS HUGEINT) AS sz,
       |  CAST(SUM(CAST(z2 AS HUGEINT) * z2) AS HUGEINT) AS qz
       | FROM z GROUP BY 1),
       |folded AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
       |  CAST(SUM(ng) AS BIGINT) AS n,
       |  CAST(SUM(sz) AS HUGEINT) AS s_all,
       |  CAST(SUM(qz) AS HUGEINT) AS q_all,
       |  list_reduce(list($szD * $szD / CAST(ng AS DOUBLE) ORDER BY seg),
       |    (a, x) -> a + x) AS tsum
       | FROM by_g)
       |SELECT n, k_groups,
       | CAST(CAST(CAST(n - k_groups AS DOUBLE) / CAST(k_groups - 1 AS DOUBLE)
       |   * (tsum - $sAllD * $sAllD / CAST(n AS DOUBLE))
       |   / ($qAllD - tsum) AS DECIMAL(24,12)) AS DOUBLE) AS f_bf
       |FROM folded""".stripMargin
  }

  // --------------------------------------------------------- Ljung–Box

  private val LbMaxLag = 7

  /** Ljung–Box portmanteau test on the daily revenue series at lags
    * 1..7 — "is there ANY serial correlation left", the single-number
    * gate on top of [[Relational8.autocorr]]'s per-lag view (and the
    * whiteness check behind [[TimeSeries.residualAcf]]). The fact
    * table collapses to the bounded day domain; each lag's products
    * are exact DECIMAL(38,0) sums over calendar-adjacent pairs (gap
    * days produce no pair; the per-lag pair count replaces the n−k of
    * the gapless textbook formula). ρ̂_k mean-centers with the series'
    * own mean, rounds to 12 decimals, and Q accumulates the ρ²/n_k
    * terms in lag order via one bounded in-row fold, so both engines
    * add identical doubles in the identical sequence.
    */
  def ljungBox(t: Tables): DataFrame = {
    val daily = Facts.dailyRevenue(t)
      .select(Facts.epochDay(col("d")).as("epoch_day"), microUnits(col("rev")).as("v"))
      .localCheckpoint(true) // feeds the global moments AND both pair sides
    val mom = daily.agg(count(lit(1)).as("n"),
      sum(col("v")).cast(d38).as("s"),
      sum(col("v") * col("v")).cast(d38).as("q"))
    val x = daily.select(col("epoch_day"), col("v").as("xv"))
      .withColumn("lag",
        explode(array((1 to LbMaxLag).map(k => lit(k.toLong)): _*)))
    val y = daily.select(col("epoch_day").as("y_day"), col("v").as("yv"))
    val perLag = x.join(broadcast(y), col("y_day") === col("epoch_day") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("nk"),
        sum(col("xv")).cast(d38).as("sxk"),
        sum(col("yv")).cast(d38).as("syk"),
        sum(col("xv") * col("yv")).cast(d38).as("sxyk"))
    val m = decToDouble(col("s")) / col("n").cast("double")
    val denom = decToDouble(col("q")) -
      decToDouble(col("s")) * decToDouble(col("s")) / col("n").cast("double")
    val rho = ((decToDouble(col("sxyk")) -
      m * (decToDouble(col("sxk")) + decToDouble(col("syk"))) +
      col("nk").cast("double") * m * m) / denom)
      .cast(DecimalType(24, 12)).cast("double")
    perLag.crossJoin(broadcast(mom))
      .select(col("lag"), col("nk"), col("n"), rho.as("rho"))
      .groupBy()
      .agg(first(col("n")).as("n"),
        sort_array(collect_list(struct(col("lag"), col("nk"), col("rho"),
          (col("rho") * col("rho") / col("nk").cast("double")).as("term"))))
          .as("arr"))
      .select(col("n"), posexplode(col("arr")).as(Seq("pos", "e")), col("arr"))
      .select(col("e.lag").as("lag"), col("e.nk").as("n_pairs"),
        col("e.rho").as("rho"),
        (col("n").cast("double") * (col("n").cast("double") + 2) *
          expr("""aggregate(slice(arr, 2, pos), arr[0].term,
            | (a, x) -> a + x.term)""".stripMargin))
          .cast(DecimalType(24, 12)).cast("double").as("q_lb"))
      .orderBy("lag")
  }

  val ljungBoxSql: String = {
    val sD = decToDoubleSql("s")
    val qD = decToDoubleSql("q")
    val sxkD = decToDoubleSql("sxk")
    val sykD = decToDoubleSql("syk")
    val sxykD = decToDoubleSql("sxyk")
    s"""WITH daily AS (
       | SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
       |   AS epoch_day,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS BIGINT) AS v
       | FROM lineitem GROUP BY 1),
       |mom AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS HUGEINT) AS s,
       |  CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
       | FROM daily),
       |lags AS (SELECT unnest(range(1, ${LbMaxLag + 1})) AS lag),
       |per_lag AS (
       | SELECT lag, CAST(COUNT(*) AS BIGINT) AS nk,
       |  CAST(SUM(a.v) AS HUGEINT) AS sxk,
       |  CAST(SUM(b.v) AS HUGEINT) AS syk,
       |  CAST(SUM(CAST(a.v AS HUGEINT) * b.v) AS HUGEINT) AS sxyk
       | FROM lags, daily a JOIN daily b ON b.epoch_day = a.epoch_day + lag
       | GROUP BY lag),
       |rhos AS (
       | SELECT lag, nk,
       |  CAST(CAST(($sxykD - ($sD / n) * ($sxkD + $sykD)
       |    + CAST(nk AS DOUBLE) * ($sD / n) * ($sD / n)) /
       |    ($qD - $sD * $sD / n) AS DECIMAL(24,12)) AS DOUBLE) AS rho,
       |  n
       | FROM per_lag CROSS JOIN mom)
       |SELECT r1.lag AS lag, r1.nk AS n_pairs, r1.rho AS rho,
       | CAST(CAST(CAST(r1.n AS DOUBLE) * (CAST(r1.n AS DOUBLE) + 2) *
       |   (SELECT list_reduce(
       |      list(r2.rho * r2.rho / CAST(r2.nk AS DOUBLE) ORDER BY r2.lag),
       |      (a, x) -> a + x)
       |    FROM rhos r2 WHERE r2.lag <= r1.lag)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS q_lb
       |FROM rhos r1 ORDER BY r1.lag""".stripMargin
  }

  // ------------------------------------------------------ Durbin–Watson

  /** Durbin–Watson statistic of the daily-revenue linear-trend
    * residuals — "did the trend fit leave first-order autocorrelation
    * behind" ([[TimeSeries.linearTrend]]'s adequacy check; DW ≈ 2 means
    * white residuals, ≪2 positive drift). OLS slope/intercept come
    * from exact DECIMAL(38,0) power sums over the bounded day domain
    * (12-dec rounded, so residuals are the same doubles in both
    * engines); DW's numerator needs CONSECUTIVE observations, which is
    * a sequential recurrence — it runs as ONE in-row fold over the
    * sorted day array (struct accumulator carrying (prev_e, num, den),
    * the cusum convention), replayed by the oracle as a recursive CTE
    * on scalar columns.
    */
  def durbinWatson(t: Tables): DataFrame = {
    // WHOLE currency units (micros div 10⁶), the extremeValue envelope
    // rule: the intercept sits at the series' own magnitude and must
    // fit the DECIMAL(24,12) portable rounding (micros put it at ~10¹²
    // and overflow the 12 integer digits at sf0.01 already)
    val daily = Facts.dailyRevenue(t)
      .select(Facts.epochDay(col("d")).cast("long").as("td"),
        wholeUnits(col("rev")).as("v"))
    // NOT pinned (r15): daily feeds the moment sums AND the collected
    // series, but a localCheckpoint barrier measured 0.23 → 1.1 s at
    // sf0.1 — the eager materialization job costs more than recomputing
    // a calendar-bounded aggregation twice (same finding as icc)
    val sums = daily.agg(count(lit(1)).as("n"),
      sum(col("td").cast(d38)).as("st"),
      sum((col("td") * col("td")).cast(d38)).as("stt"),
      sum(col("v").cast(d38)).as("sv"),
      sum((col("td") * col("v")).cast(d38)).as("stv"))
      .withColumn("b",
        (decToDoubleSigned((col("n") * col("stv") - col("st") * col("sv"))
          .cast(d38)) /
          decToDouble((col("n") * col("stt") - col("st") * col("st"))
            .cast(d38)))
          .cast(DecimalType(24, 12)).cast("double"))
      .withColumn("a",
        ((decToDouble(col("sv")) - col("b") * decToDouble(col("st"))) /
          col("n").cast("double"))
          .cast(DecimalType(24, 12)).cast("double"))
    daily
      .groupBy()
      .agg(array_sort(collect_list(struct(col("td"), col("v")))).as("ser"))
      .crossJoin(broadcast(sums.select("n", "a", "b")))
      .withColumn("st", expr(
        """aggregate(slice(ser, 2, size(ser) - 1),
          |  named_struct(
          |    'prev', (CAST(ser[0].v AS DOUBLE) - a) - b * CAST(ser[0].td AS DOUBLE),
          |    'num', CAST(0.0 AS DOUBLE),
          |    'den', ((CAST(ser[0].v AS DOUBLE) - a) - b * CAST(ser[0].td AS DOUBLE))
          |         * ((CAST(ser[0].v AS DOUBLE) - a) - b * CAST(ser[0].td AS DOUBLE))),
          |  (acc, x) -> named_struct(
          |    'prev', (CAST(x.v AS DOUBLE) - a) - b * CAST(x.td AS DOUBLE),
          |    'num', acc.num +
          |      (((CAST(x.v AS DOUBLE) - a) - b * CAST(x.td AS DOUBLE)) - acc.prev)
          |      * (((CAST(x.v AS DOUBLE) - a) - b * CAST(x.td AS DOUBLE)) - acc.prev),
          |    'den', acc.den +
          |      ((CAST(x.v AS DOUBLE) - a) - b * CAST(x.td AS DOUBLE))
          |      * ((CAST(x.v AS DOUBLE) - a) - b * CAST(x.td AS DOUBLE))))""".stripMargin))
      .select(col("n").as("n_days"), col("b").as("slope"),
        (col("st.num") / col("st.den"))
          .cast(DecimalType(24, 12)).cast("double").as("dw"))
      .withColumn("rho_approx",
        (lit(1.0) - col("dw") / 2.0).cast(DecimalType(24, 12)).cast("double"))
  }

  val durbinWatsonSql: String = {
    val numD = decToDoubleSignedSql("(n * stv - st * sv)")
    val denD = decToDoubleSql("(n * stt - st * st)")
    val svD = decToDoubleSql("sv")
    val stD = decToDoubleSql("st")
    s"""WITH RECURSIVE daily AS (
       | SELECT CAST(date_diff('day', DATE '1970-01-01',
       |    CAST(l_shipdate AS DATE)) AS BIGINT) AS td,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) // 1000000 AS BIGINT) AS v
       | FROM lineitem GROUP BY 1),
       |sums AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(td) AS HUGEINT) AS st,
       |  CAST(SUM(CAST(td AS HUGEINT) * td) AS HUGEINT) AS stt,
       |  CAST(SUM(v) AS HUGEINT) AS sv,
       |  CAST(SUM(CAST(td AS HUGEINT) * v) AS HUGEINT) AS stv
       | FROM daily),
       |ab AS (
       | SELECT n,
       |  CAST(CAST($numD / $denD AS DECIMAL(24,12)) AS DOUBLE) AS b
       | FROM sums),
       |ab2 AS (
       | SELECT ab.n AS n, ab.b AS b,
       |  CAST(CAST(($svD - ab.b * $stD) / ab.n AS DECIMAL(24,12)) AS DOUBLE)
       |    AS a
       | FROM ab CROSS JOIN sums),
       |o AS (
       | SELECT td, v, CAST(ROW_NUMBER() OVER (ORDER BY td) AS BIGINT) AS i
       | FROM daily),
       |f AS (
       | SELECT o.i,
       |  (CAST(o.v AS DOUBLE) - ab2.a) - ab2.b * CAST(o.td AS DOUBLE) AS prev,
       |  CAST(0.0 AS DOUBLE) AS num,
       |  ((CAST(o.v AS DOUBLE) - ab2.a) - ab2.b * CAST(o.td AS DOUBLE))
       |   * ((CAST(o.v AS DOUBLE) - ab2.a) - ab2.b * CAST(o.td AS DOUBLE)) AS den
       | FROM o CROSS JOIN ab2 WHERE o.i = 1
       | UNION ALL
       | SELECT o.i,
       |  (CAST(o.v AS DOUBLE) - ab2.a) - ab2.b * CAST(o.td AS DOUBLE),
       |  f.num + (((CAST(o.v AS DOUBLE) - ab2.a) - ab2.b * CAST(o.td AS DOUBLE))
       |    - f.prev)
       |   * (((CAST(o.v AS DOUBLE) - ab2.a) - ab2.b * CAST(o.td AS DOUBLE))
       |    - f.prev),
       |  f.den + ((CAST(o.v AS DOUBLE) - ab2.a) - ab2.b * CAST(o.td AS DOUBLE))
       |   * ((CAST(o.v AS DOUBLE) - ab2.a) - ab2.b * CAST(o.td AS DOUBLE))
       | FROM f JOIN o ON o.i = f.i + 1 CROSS JOIN ab2),
       |last AS (SELECT * FROM f WHERE i = (SELECT MAX(i) FROM o))
       |SELECT ab2.n AS n_days, ab2.b AS slope,
       | CAST(CAST(num / den AS DECIMAL(24,12)) AS DOUBLE) AS dw,
       | CAST(CAST(1.0 - CAST(CAST(num / den AS DECIMAL(24,12)) AS DOUBLE) / 2.0
       |   AS DECIMAL(24,12)) AS DOUBLE) AS rho_approx
       |FROM last CROSS JOIN ab2""".stripMargin
  }

  // ----------------------------------------------------------- Pettitt

  /** Pettitt non-parametric change-point test on daily revenue — "did
    * the level shift, and WHEN, without assuming any distribution"
    * (the rank-based companion to [[Relational8.cusum]]'s mean-based
    * scan; robust to the heavy-tailed days that drag a CUSUM). Ranks
    * of the day values stay exact in DOUBLED form (2R = 2s+c+1) via
    * one distributed prefix scan of the value domain; U_t = Σ2R − t(N+1)
    * is then EXACT INTEGER arithmetic accumulated by one in-row fold
    * over the sorted day array (cusum convention: struct accumulator,
    * strictly-greater keeps the earliest argmax). The significance
    * approximation 2·exp(−6K²/(N³+N²)) is one double formula of exact
    * longs, 12-dec rounded.
    */
  def pettitt(t: Tables): DataFrame = {
    val daily = Facts.dailyRevenue(t)
      .select(Facts.epochDay(col("d")).cast("long").as("td"),
        microUnits(col("rev")).cast("long").as("v"))
      .localCheckpoint(true) // feeds the value-domain scan AND the fold
    val byValue = daily.groupBy("v").agg(count(lit(1)).as("c"))
    val scanned = Ranks.withGlobalPrefixAggs(byValue, Seq(col("v")),
      Seq(("s0", col("c"), "sum", false)))
    val ranks = scanned.select(col("v"),
      (lit(2) * coalesce(col("s0"), lit(0L)) + col("c") + 1).as("r2"))
    daily.join(ranks, Seq("v"))
      .groupBy()
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col("td"), col("r2")))).as("ser"))
      .withColumn("st", expr(
        // U_t = w2_t − t(n+1) with w2 = Σ2R over the first t days; the
        // doubled ranks make w2 exactly 2ΣR, so U stays the textbook
        // integer statistic
        """aggregate(slice(ser, 2, size(ser) - 1),
          |  named_struct(
          |    't', CAST(1 AS BIGINT),
          |    'w2', CAST(ser[0].r2 AS BIGINT),
          |    'mx', abs(CAST(ser[0].r2 AS BIGINT) - (n + 1)),
          |    'arg', CAST(ser[0].td AS BIGINT)),
          |  (acc, x) -> named_struct(
          |    't', acc.t + 1,
          |    'w2', acc.w2 + x.r2,
          |    'mx', greatest(acc.mx, abs(acc.w2 + x.r2 - (acc.t + 1) * (n + 1))),
          |    'arg', IF(abs(acc.w2 + x.r2 - (acc.t + 1) * (n + 1)) > acc.mx,
          |      CAST(x.td AS BIGINT), acc.arg)))""".stripMargin))
      .select(col("n").as("n_days"), col("st.mx").as("k_stat"),
        col("st.arg").as("change_epoch_day"))
      .withColumn("p_value",
        (lit(2.0) * exp((lit(-6.0) * col("k_stat").cast("double")
          * col("k_stat").cast("double")) /
          (col("n_days").cast("double") * col("n_days").cast("double")
            * col("n_days").cast("double") +
            col("n_days").cast("double") * col("n_days").cast("double"))))
          .cast(DecimalType(24, 12)).cast("double"))
  }

  val pettittSql: String =
    """WITH daily AS (
      | SELECT CAST(date_diff('day', DATE '1970-01-01',
      |    CAST(l_shipdate AS DATE)) AS BIGINT) AS td,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
      |    * 1000000 AS HUGEINT) AS BIGINT) AS v
      | FROM lineitem GROUP BY 1),
      |ranked AS (
      | SELECT td,
      |  2 * (RANK() OVER (ORDER BY v) - 1)
      |   + CAST(COUNT(*) OVER (PARTITION BY v) AS BIGINT) + 1 AS r2,
      |  CAST(COUNT(*) OVER () AS BIGINT) AS n
      | FROM daily),
      |u AS (
      | SELECT td, n,
      |  CAST(SUM(r2) OVER (ORDER BY td) AS BIGINT)
      |   - CAST(ROW_NUMBER() OVER (ORDER BY td) AS BIGINT) * (n + 1) AS ut
      | FROM ranked),
      |best AS (
      | SELECT n AS n_days, ABS(ut) AS k_stat, td AS change_epoch_day
      | FROM u ORDER BY ABS(ut) DESC, td ASC LIMIT 1)
      |SELECT n_days, k_stat, change_epoch_day,
      | CAST(CAST(2.0 * exp((-6.0 * CAST(k_stat AS DOUBLE)
      |   * CAST(k_stat AS DOUBLE)) /
      |   (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
      |     * CAST(n_days AS DOUBLE) +
      |    CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)))
      |   AS DECIMAL(24,12)) AS DOUBLE) AS p_value
      |FROM best""".stripMargin

  // ---------------------------------------------------------- log-rank

  /** Log-rank (Mantel–Cox) test comparing the churn-survival curves of
    * BUILDING-segment customers against everyone else — "does this
    * segment actually churn differently", the two-sample inference
    * step [[Analytics.kaplanMeier]] describes but never tests. Same
    * duration/censoring accounting as KM; the per-time risk sets for
    * BOTH groups come from ONE distributed prefix scan of the duration
    * domain (two exclusive running sums in a single range shuffle);
    * O₁ is an exact long, and the E₁/variance terms fold over the
    * event times in duration order (bounded array), with χ² composed
    * from the ROUNDED sums so both engines square identical doubles.
    */
  def logRank(t: Tables): DataFrame = {
    val durations = Facts.customerLifetimes(t)
      .join(broadcast(t.customer.select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("t"), col("ev"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("g"))
    val byT = durations.groupBy("t")
      .agg(sum(col("g") * col("ev")).as("d1"),
        sum(col("g")).as("a1"),
        sum(col("ev")).as("d"),
        count(lit(1)).as("a"))
    val tot = durations.agg(sum(col("g")).cast("long").as("n1t"),
      count(lit(1)).cast("long").as("nt"))
    val scanned = Ranks.withGlobalPrefixAggs(byT, Seq(col("t")),
      Seq(("rem1", col("a1"), "sum", false), ("rem", col("a"), "sum", false)))
    val risk = scanned.crossJoin(broadcast(tot))
      .withColumn("n1", col("n1t") - coalesce(col("rem1"), lit(0L)))
      .withColumn("nn", col("nt") - coalesce(col("rem"), lit(0L)))
      .where(col("d") > 0)
      .withColumn("e1t", col("d").cast("double") *
        col("n1").cast("double") / col("nn").cast("double"))
      .withColumn("vt", when(col("nn") > 1,
        col("d").cast("double") *
          (col("n1").cast("double") / col("nn").cast("double")) *
          (lit(1.0) - col("n1").cast("double") / col("nn").cast("double")) *
          ((col("nn") - col("d")).cast("double") / (col("nn") - 1).cast("double")))
        .otherwise(lit(0.0)))
    risk
      .agg(sum(col("d1")).cast("long").as("o1"),
        first(col("n1t")).as("n_treat"),
        (first(col("nt")) - first(col("n1t"))).as("n_ctrl"),
        sort_array(collect_list(struct(col("t"), col("e1t"), col("vt"))))
          .as("arr"))
      .select(col("n_treat"), col("n_ctrl"), col("o1"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].e1t," +
          " (a, x) -> a + x.e1t)")
          .cast(DecimalType(24, 12)).cast("double").as("e1"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].vt," +
          " (a, x) -> a + x.vt)")
          .cast(DecimalType(24, 12)).cast("double").as("var1"))
      .withColumn("chi2",
        ((col("o1").cast("double") - col("e1")) *
          (col("o1").cast("double") - col("e1")) / col("var1"))
          .cast(DecimalType(24, 12)).cast("double"))
  }

  val logRankSql: String =
    s"""WITH per_cust AS (
       | SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS f,
       |  MAX(CAST(o_orderdate AS DATE)) AS l
       | FROM orders GROUP BY 1),
       |e AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS e FROM orders),
       |durations AS (
       | SELECT CAST(date_diff('day', f, l) AS BIGINT) AS t,
       |  CASE WHEN date_diff('day', l, e.e) >= ${Facts.ChurnGapDays}
       |       THEN 1 ELSE 0 END AS ev,
       |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
       | FROM per_cust
       | JOIN customer ON o_custkey = c_custkey
       | CROSS JOIN e),
       |by_t AS (
       | SELECT t, CAST(SUM(g * ev) AS BIGINT) AS d1,
       |  CAST(SUM(g) AS BIGINT) AS a1,
       |  CAST(SUM(ev) AS BIGINT) AS d,
       |  CAST(COUNT(*) AS BIGINT) AS a
       | FROM durations GROUP BY 1),
       |tot AS (
       | SELECT CAST(SUM(g) AS BIGINT) AS n1t, CAST(COUNT(*) AS BIGINT) AS nt
       | FROM durations),
       |risk AS (
       | SELECT t, d1, d,
       |  tot.n1t - CAST(COALESCE(SUM(a1) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS n1,
       |  tot.nt - CAST(COALESCE(SUM(a) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS nn,
       |  tot.n1t, tot.nt
       | FROM by_t CROSS JOIN tot),
       |terms AS (
       | SELECT t, d1, n1t, nt,
       |  CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE) AS e1t,
       |  CASE WHEN nn > 1 THEN
       |    CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE)) *
       |    (1.0 - CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE)) *
       |    (CAST(nn - d AS DOUBLE) / CAST(nn - 1 AS DOUBLE))
       |   ELSE 0.0 END AS vt
       | FROM risk WHERE d > 0),
       |folded AS (
       | SELECT CAST(SUM(d1) AS BIGINT) AS o1,
       |  CAST(MIN(n1t) AS BIGINT) AS n_treat,
       |  CAST(MIN(nt) - MIN(n1t) AS BIGINT) AS n_ctrl,
       |  CAST(CAST(list_reduce(list(e1t ORDER BY t), (a, x) -> a + x)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS e1,
       |  CAST(CAST(list_reduce(list(vt ORDER BY t), (a, x) -> a + x)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS var1
       | FROM terms)
       |SELECT n_treat, n_ctrl, o1, e1, var1,
       | CAST(CAST((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / var1
       |   AS DECIMAL(24,12)) AS DOUBLE) AS chi2
       |FROM folded""".stripMargin
}
