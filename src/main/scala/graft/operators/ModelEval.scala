package graft.operators

import graft.Tables
import graft.functions.Exact.{d38, dec, decToDouble, decToDoubleSql, microUnits}
import graft.plans.TopKPerKey
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Model-evaluation and drift-monitoring tier — the metrics a curation
  * pipeline grades its filter/ranking models with (PR-AUC, NDCG@k,
  * calibration/ECE) and the distribution-stability monitors a
  * production feed is watched by (PSI, pinball loss for quantile
  * forecasts). Completes the evaluation family started by
  * [[Relational14.aucRoc]] / [[Relational14.cohensKappa]].
  *
  * Reference tie-in: the reference's consumer (ClickHouse star schema,
  * loaders.py:45) exists to grade exactly these business questions
  * downstream; here they are first-class distributed operators.
  *
  * House conventions: exact integer micros for money (etl.py:64-76
  * decimal normalization), bounded-domain bucketing so per-threshold /
  * per-bin state never scales with row count, the distributed prefix
  * scan ([[Ranks.withGlobalPrefixAggs]]) for cumulative counts, double
  * TERM sums through exact DECIMAL(38,30) accumulation (KL-drift
  * convention — order-independent) or ordered folds over BOUNDED
  * arrays (chi-square convention), and the portable 12-decimal
  * rounding on every double the oracle compares.
  */
object ModelEval {

  private val d2412 = DecimalType(24, 12)

  private def round12(c: Column): Column = c.cast(d2412).cast("double")

  /** 6-decimal rounding for doubles of magnitude ≳10⁴ (DCG sums): the
    * 12-dec convention needs the rounding grid COARSER than the double
    * ulp on both engines — at 10⁷ the ulp is ~2·10⁻⁹, so rounding at
    * 10⁻¹² lands below it and Spark's shortest-repr double→decimal
    * conversion vs DuckDB's binary-expansion conversion disagree by an
    * ulp. 10⁻⁶ sits safely above the ulp up to ~10⁹.
    */
  private def round6(c: Column): Column =
    c.cast(DecimalType(24, 6)).cast("double")

  /** Exact DECIMAL(38,30) sum of small double terms, 12-dec rounded —
    * the KL-drift portable-sum recipe. Terms must be ≲ 10⁸ in
    * magnitude (8 integer digits of headroom).
    */
  private def portableTermSum(term: Column): Column =
    sum(term.cast(DecimalType(38, 30))).cast("double")
      .cast(d2412).cast("double")

  // ------------------------------------------------------------ PR-AUC

  /** Precision–recall AUC of order value as a predictor of urgent
    * priority — the class-imbalance-honest companion to
    * [[Relational14.aucRoc]] (ROC-AUC flatters a ranker when positives
    * are rare; the PR curve does not). Step-interpolated average
    * precision over DESCENDING score thresholds:
    * AP = Σᵢ (Δrecallᵢ)·precisionᵢ = Σᵢ (cpᵢ/n₊)·(TPᵢ/Nᵢ).
    *
    * Thresholds are BOUNDED value-domain buckets (thousand-currency
    * groups of the price micros, ≲600 over the TPC-H price domain at
    * ANY row count) so the curve's state never scales with data;
    * cumulative TP/N come from ONE distributed prefix scan over the
    * bucket frame. Each term is a ratio of exact integer products
    * (DECIMAL(38,0) through the hi/lo split — overflow-safe at any
    * scale); the term sum rides the exact DECIMAL(38,30) accumulator
    * (terms ≤ 1), 12-dec rounded.
    */
  /** Shared score frame for the threshold-curve family ([[prAuc]],
    * [[rocPoints]], [[gainsCurve]]): price micros + urgent-priority
    * label. */
  private def scoreFrame(t: Tables): DataFrame =
    t.orders.select(
      microUnits(dec(col("o_totalprice"))).cast("long").as("u"),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        .cast("long").as("pos"))

  /** Bounded descending-threshold scan shared by the curve family: one
    * fact aggregation to thousand-currency buckets `kb`, one
    * distributed prefix scan, totals broadcast — yielding per
    * threshold the exact cumulative `tp` (positives at score ≥
    * threshold), `nn` (rows at score ≥ threshold), bucket-local
    * (`c`, `cp`) and grand totals (`n`, `n1`).
    */
  private def thresholdScan(t: Tables): DataFrame = {
    val byBucket = scoreFrame(t)
      .withColumn("kb", expr("u div 1000000000"))
      .groupBy("kb")
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("cp"))
    val scanned = Ranks.withGlobalPrefixAggs(byBucket, Seq(col("kb")),
      Seq(("sc", col("c"), "sum", false), ("scp", col("cp"), "sum", false)))
    val tot = byBucket.agg(sum(col("c")).as("n"), sum(col("cp")).as("n1"))
    scanned.crossJoin(broadcast(tot))
      .withColumn("tp", col("n1") - coalesce(col("scp"), lit(0L)))
      .withColumn("nn", col("n") - coalesce(col("sc"), lit(0L)))
  }

  def prAuc(t: Tables): DataFrame = {
    val terms = thresholdScan(t)
      .withColumn("term",
        decToDouble((col("cp").cast(d38) * col("tp")).cast(d38)) /
          decToDouble((col("n1").cast(d38) * col("nn")).cast(d38)))
    terms
      .agg(first(col("n")).as("n"), first(col("n1")).as("n1"),
        count(lit(1)).as("n_thresholds"),
        portableTermSum(col("term")).as("pr_auc"))
      .select(col("n1").as("n_pos"), (col("n") - col("n1")).as("n_neg"),
        col("n_thresholds"), col("pr_auc"),
        round12(col("n1").cast("double") / col("n").cast("double"))
          .as("prevalence"))
  }

  /** DuckDB twin of [[thresholdScan]]: CTE chain ending in
    * `sp(kb, c, cp, n, n1, tp, nn)`. Prepend `WITH `, append the
    * query-specific tail. */
  private val thresholdScanSql: String =
    """sc AS (
      | SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT)
      |   AS u,
      |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |       THEN 1 ELSE 0 END AS pos
      | FROM orders),
      |b AS (
      | SELECT u // 1000000000 AS kb, CAST(COUNT(*) AS BIGINT) AS c,
      |   CAST(SUM(pos) AS BIGINT) AS cp
      | FROM sc GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |             CAST(SUM(cp) AS BIGINT) AS n1 FROM b),
      |p AS (
      | SELECT kb, c, cp,
      |  COALESCE(CAST(SUM(c) OVER (ORDER BY kb
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |    AS sc_,
      |  COALESCE(CAST(SUM(cp) OVER (ORDER BY kb
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |    AS scp
      | FROM b),
      |sp AS (
      | SELECT p.kb, p.c, p.cp, t.n, t.n1,
      |  t.n1 - p.scp AS tp, t.n - p.sc_ AS nn
      | FROM p CROSS JOIN t)""".stripMargin

  val prAucSql: String = {
    val numD = decToDoubleSql("nu")
    val denD = decToDoubleSql("de")
    s"""WITH $thresholdScanSql,
       |pr AS (
       | SELECT kb, CAST(cp AS HUGEINT) * tp AS nu,
       |  CAST(n1 AS HUGEINT) * nn AS de, n, n1
       | FROM sp),
       |terms AS (SELECT kb, $numD / $denD AS term, n, n1 FROM pr)
       |SELECT
       | MAX(n1) AS n_pos, MAX(n) - MAX(n1) AS n_neg,
       | CAST(COUNT(*) AS BIGINT) AS n_thresholds,
       | CAST(CAST(CAST(SUM(CAST(term AS DECIMAL(38,30))) AS DOUBLE)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS pr_auc,
       | CAST(CAST(CAST(MAX(n1) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS prevalence
       |FROM terms""".stripMargin
  }

  // ------------------------------------------------- ROC / gains curves

  /** Bounded ROC curve table — (threshold, TPR, FPR, precision) at each
    * descending thousand-currency score threshold — the curve artifact
    * behind [[Relational14.aucRoc]]'s scalar: what a monitoring
    * dashboard plots and an operating-point review reads. Same bounded
    * threshold scan as [[prAuc]] (value-domain buckets, one fact agg +
    * one prefix scan); every rate is an exact integer ratio, 12-dec
    * rounded. `threshold_k` is the bucket's currency-thousands floor —
    * rows at score ≥ threshold count as predicted-positive.
    */
  def rocPoints(t: Tables): DataFrame =
    thresholdScan(t)
      .select(col("kb").as("threshold_k"),
        round12(col("tp").cast("double") / col("n1").cast("double"))
          .as("tpr"),
        round12((col("nn") - col("tp")).cast("double") /
          (col("n") - col("n1")).cast("double")).as("fpr"),
        round12(col("tp").cast("double") / col("nn").cast("double"))
          .as("precision"))
      .orderBy("threshold_k")

  val rocPointsSql: String =
    s"""WITH $thresholdScanSql
       |SELECT kb AS threshold_k,
       | CAST(CAST(CAST(tp AS DOUBLE) / CAST(n1 AS DOUBLE)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS tpr,
       | CAST(CAST(CAST(nn - tp AS DOUBLE) / CAST(n - n1 AS DOUBLE)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS fpr,
       | CAST(CAST(CAST(tp AS DOUBLE) / CAST(nn AS DOUBLE)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS precision
       |FROM sp ORDER BY threshold_k""".stripMargin

  /** Cumulative gains / lift table — per descending score threshold,
    * the share of the population targeted, the share of positives
    * captured, and the lift over random targeting — the
    * model-targeting yield curve (which fraction of the corpus must a
    * gated pipeline keep to capture X% of the good documents). Lift =
    * (tp·n)/(nn·n1) stays an exact integer product ratio through the
    * hi/lo split at any scale; same bounded scan as [[prAuc]].
    */
  def gainsCurve(t: Tables): DataFrame =
    thresholdScan(t)
      .select(col("kb").as("threshold_k"),
        round12(col("nn").cast("double") / col("n").cast("double"))
          .as("target_share"),
        round12(col("tp").cast("double") / col("n1").cast("double"))
          .as("capture_rate"),
        round12(
          decToDouble((col("tp").cast(d38) * col("n")).cast(d38)) /
            decToDouble((col("nn").cast(d38) * col("n1")).cast(d38)))
          .as("lift"))
      .orderBy("threshold_k")

  val gainsCurveSql: String = {
    val numD = decToDoubleSql("nu")
    val denD = decToDoubleSql("de")
    s"""WITH $thresholdScanSql,
       |g AS (
       | SELECT kb, n, n1, tp, nn,
       |  CAST(tp AS HUGEINT) * n AS nu, CAST(nn AS HUGEINT) * n1 AS de
       | FROM sp)
       |SELECT kb AS threshold_k,
       | CAST(CAST(CAST(nn AS DOUBLE) / CAST(n AS DOUBLE)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS target_share,
       | CAST(CAST(CAST(tp AS DOUBLE) / CAST(n1 AS DOUBLE)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS capture_rate,
       | CAST(CAST($numD / $denD AS DECIMAL(24,12)) AS DOUBLE) AS lift
       |FROM g ORDER BY threshold_k""".stripMargin
  }

  // -------------------------------------------- Calibration bins / ECE

  /** Reliability diagram + expected calibration error of a normalized
    * order-value "probability" against the urgent-priority outcome —
    * the is-the-score-a-probability audit every model-gated filter
    * (quality gates, perplexity gates, dedup keep-best scores) needs
    * before its threshold means anything. Confidence = min-max
    * normalized price; bins are tenths of that range, ASSIGNED IN
    * INTEGER ARITHMETIC (10·(u−umin) div (umax−umin), capped at 9) so
    * bin placement is exact and engine-portable — no float boundary
    * ambiguity. Per bin: exact counts, accuracy = pos/n, mean
    * confidence from an exact DECIMAL(38,0) offset sum through the
    * hi/lo split. ECE = Σ (n_b/N)·|acc_b − conf_b| over the ≤10 bins
    * (gap from 12-dec-rounded operands — one rounding both engines
    * see), summed exactly. One min/max pass + one fact aggregation to
    * ≤10 rows; bounded state at any scale.
    */
  /** Shared reliability-bin frame for the calibration family
    * ([[calibrationEce]], [[brierDecomposition]]): ≤10 rows of
    * (bin, n_b, pos_b, accuracy, confidence, gap, n), bins assigned in
    * integer arithmetic, accuracy/confidence/gap 12-dec rounded.
    */
  private def reliabilityBins(t: Tables): DataFrame = {
    val sc = scoreFrame(t)
    val mm = sc.agg(min(col("u")).as("umin"), max(col("u")).as("umax"),
      count(lit(1)).as("n"))
    val binned = sc.crossJoin(broadcast(mm))
      .withColumn("d", greatest(col("umax") - col("umin"), lit(1L)))
      .withColumn("bin", least(lit(9L), expr("(10 * (u - umin)) div d")))
    val bins = binned.groupBy("bin").agg(
      count(lit(1)).as("n_b"), sum(col("pos")).as("pos_b"),
      sum((col("u") - col("umin")).cast(d38)).as("su"),
      first(col("d")).as("d"), first(col("n")).as("n"))
    bins
      .withColumn("accuracy",
        round12(col("pos_b").cast("double") / col("n_b").cast("double")))
      .withColumn("confidence",
        round12(decToDouble(col("su")) /
          decToDouble((col("n_b").cast(d38) * col("d")).cast(d38))))
      .withColumn("gap", round12(col("accuracy") - col("confidence")))
  }

  def calibrationEce(t: Tables): DataFrame = {
    val scored = reliabilityBins(t)
    val ece = scored.agg(
      portableTermSum(
        (col("n_b").cast("double") / col("n").cast("double")) *
          abs(col("gap"))).as("ece"))
    scored.crossJoin(broadcast(ece))
      .select(col("bin"), col("n_b"), col("accuracy"), col("confidence"),
        col("gap"), col("ece"))
      .orderBy("bin")
  }

  /** DuckDB twin of [[reliabilityBins]]: CTE chain ending in
    * `gapped(bin, n_b, pos_b, n, accuracy, confidence, gap)`. */
  private val reliabilityBinsSql: String = {
    val confNum = decToDoubleSql("su")
    val confDen = decToDoubleSql("nbd")
    s"""sc AS (
       | SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT)
       |   AS u,
       |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |       THEN 1 ELSE 0 END AS pos
       | FROM orders),
       |mm AS (SELECT CAST(MIN(u) AS BIGINT) AS umin,
       |              CAST(MAX(u) AS BIGINT) AS umax,
       |              CAST(COUNT(*) AS BIGINT) AS n FROM sc),
       |binned AS (
       | SELECT LEAST(9, (10 * (u - umin)) // GREATEST(umax - umin, 1))
       |   AS bin,
       |  pos, u - umin AS du, GREATEST(umax - umin, 1) AS d, n
       | FROM sc CROSS JOIN mm),
       |bins AS (
       | SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
       |  CAST(SUM(pos) AS BIGINT) AS pos_b,
       |  CAST(SUM(CAST(du AS HUGEINT)) AS HUGEINT) AS su,
       |  MAX(d) AS d, MAX(n) AS n
       | FROM binned GROUP BY 1),
       |pre AS (
       | SELECT bin, n_b, pos_b, su, n,
       |  CAST(n_b AS HUGEINT) * d AS nbd
       | FROM bins),
       |scored AS (
       | SELECT bin, n_b, pos_b, n,
       |  CAST(CAST(CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS accuracy,
       |  CAST(CAST($confNum / $confDen AS DECIMAL(24,12)) AS DOUBLE)
       |    AS confidence
       | FROM pre),
       |gapped AS (
       | SELECT bin, n_b, pos_b, n, accuracy, confidence,
       |  CAST(CAST(accuracy - confidence AS DECIMAL(24,12)) AS DOUBLE)
       |    AS gap
       | FROM scored)""".stripMargin
  }

  val calibrationEceSql: String =
    s"""WITH $reliabilityBinsSql,
       |e AS (
       | SELECT CAST(CAST(CAST(SUM(CAST(
       |    (CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)) * ABS(gap)
       |   AS DECIMAL(38,30))) AS DOUBLE) AS DECIMAL(24,12)) AS DOUBLE)
       |   AS ece
       | FROM gapped)
       |SELECT bin, n_b, accuracy, confidence, gap, e.ece
       |FROM gapped CROSS JOIN e
       |ORDER BY bin""".stripMargin

  // ----------------------------------------- Brier–Murphy decomposition

  /** Brier score of the BINNED order-value forecast with its exact
    * Murphy decomposition — brier = reliability − resolution +
    * uncertainty — the "is the score merely calibrated or actually
    * informative" split that complements [[calibrationEce]]'s scalar.
    * The forecast is the per-bin mean confidence (constant within each
    * reliability bin), for which the three-term identity is EXACT — so
    * the operator computes REL = Σ (n_b/N)·(conf_b − acc_b)², RES =
    * Σ (n_b/N)·(acc_b − ȳ)², UNC = ȳ(1−ȳ) from the shared
    * [[reliabilityBins]] frame and derives the score from the
    * identity. All inputs are 12-dec-rounded exact ratios; the ≤10
    * bin terms sum through the exact DECIMAL(38,30) accumulator.
    */
  def brierDecomposition(t: Tables): DataFrame = {
    val binsF = reliabilityBins(t)
    // ȳ comes from the aggregated totals of the bounded bin frame; the
    // ȳ-centered RES terms then need one more pass over those ≤10 rows
    // — both passes are bin-frame-sized, never fact-sized.
    val tot = binsF.agg(first(col("n")).as("n"), sum(col("pos_b")).as("p"))
      .withColumn("ybar",
        round12(col("p").cast("double") / col("n").cast("double")))
    val terms = binsF.crossJoin(broadcast(tot.select("ybar")))
      .withColumn("w", col("n_b").cast("double") / col("n").cast("double"))
      .withColumn("relTerm",
        col("w") * (col("confidence") - col("accuracy")) *
          (col("confidence") - col("accuracy")))
      .withColumn("resTerm",
        col("w") * (col("accuracy") - col("ybar")) *
          (col("accuracy") - col("ybar")))
    terms.agg(
        first(col("ybar")).as("ybar"),
        count(lit(1)).as("n_bins"),
        portableTermSum(col("relTerm")).as("reliability"),
        portableTermSum(col("resTerm")).as("resolution"))
      .select(col("n_bins"), col("ybar").as("base_rate"),
        col("reliability"), col("resolution"),
        round12(col("ybar") * (lit(1.0) - col("ybar"))).as("uncertainty"))
      .withColumn("brier",
        round12(col("reliability") - col("resolution") + col("uncertainty")))
  }

  val brierDecompositionSql: String =
    s"""WITH $reliabilityBinsSql,
       |tot AS (
       | SELECT MAX(n) AS n, CAST(SUM(pos_b) AS BIGINT) AS p,
       |  CAST(CAST(CAST(SUM(pos_b) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS ybar
       | FROM gapped),
       |terms AS (
       | SELECT g.bin,
       |  CAST(g.n_b AS DOUBLE) / CAST(g.n AS DOUBLE) AS w,
       |  (CAST(g.n_b AS DOUBLE) / CAST(g.n AS DOUBLE))
       |   * (g.confidence - g.accuracy) * (g.confidence - g.accuracy)
       |   AS rel_term,
       |  (CAST(g.n_b AS DOUBLE) / CAST(g.n AS DOUBLE))
       |   * (g.accuracy - tot.ybar) * (g.accuracy - tot.ybar) AS res_term,
       |  tot.ybar
       | FROM gapped g CROSS JOIN tot),
       |s AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n_bins, MAX(ybar) AS base_rate,
       |  CAST(CAST(CAST(SUM(CAST(rel_term AS DECIMAL(38,30))) AS DOUBLE)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS reliability,
       |  CAST(CAST(CAST(SUM(CAST(res_term AS DECIMAL(38,30))) AS DOUBLE)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS resolution,
       |  CAST(CAST(MAX(ybar) * (1.0 - MAX(ybar)) AS DECIMAL(24,12))
       |    AS DOUBLE) AS uncertainty
       | FROM terms)
       |SELECT n_bins, base_rate, reliability, resolution, uncertainty,
       | CAST(CAST(reliability - resolution + uncertainty
       |   AS DECIMAL(24,12)) AS DOUBLE) AS brier
       |FROM s""".stripMargin

  // --------------------------------------------------------------- PSI

  /** PSI terms per (`keys`…, 50k-currency `bucket`) over `orders`: the
    * base / current counts `cb` / `cc` split at the integer calendar
    * midpoint, the per-key totals `nb` / `nc` / `nbk` (bucket count), the
    * add-one-smoothed shares `p` / `q` and the 12-dec rounded `term`.
    * Shared by [[psiDrift]] (no key) and [[psiSegmented]] (`segment`).
    */
  private def psiTerms(orders: DataFrame, keys: String*): DataFrame = {
    val sc = orders.select(keys.map(col) ++ Seq(
      microUnits(dec(col("o_totalprice"))).cast("long").as("u"),
      Facts.epochDay(col("o_orderdate").cast("date")).cast("long").as("day")): _*)
    val mm = sc.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val cells = sc.crossJoin(broadcast(mm))
      .withColumn("isBase",
        (col("day") <= expr("(dmin + dmax) div 2")).cast("long"))
      .withColumn("bucket", expr("u div 50000000000"))
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(sum(col("isBase")).as("cb"),
        sum(lit(1L) - col("isBase")).as("cc"))
    val tot = cells.groupBy(keys.map(col): _*)
      .agg(sum(col("cb")).as("nb"), sum(col("cc")).as("nc"),
        count(lit(1)).as("nbk"))
    // with no key, the using-join on no columns is the one-row cross join
    cells.join(broadcast(tot), keys)
      .withColumn("p", (col("cb") + 1).cast("double") /
        (col("nb") + col("nbk")).cast("double"))
      .withColumn("q", (col("cc") + 1).cast("double") /
        (col("nc") + col("nbk")).cast("double"))
      .withColumn("term",
        round12((col("p") - col("q")) * log(col("p") / col("q"))))
  }

  /** Population stability index of the order-value distribution, first
    * calendar half vs second — THE standard production drift monitor
    * (companion to the token-level [[TextAnalysis3.klSourceDrift]] /
    * JS divergence pair): PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over
    * bounded value-domain buckets (50k-currency groups, ≈12 over the
    * TPC-H price domain), with add-one smoothing so a bucket empty on
    * one side stays finite. The period split is integer midpoint
    * arithmetic on epoch days (portable); counts are one conditional
    * fact aggregation — no join, no outer-join bucket alignment
    * needed because both sides group in the same pass. Per-bucket
    * terms are 12-dec rounded FIRST, the scalar PSI is then an exact
    * decimal sum of those rounded terms — one rounding, both engines.
    * Rule of thumb read: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.
    */
  def psiDrift(t: Tables): DataFrame = {
    val terms = psiTerms(t.orders)
    val psi = terms.agg(
      sum(col("term").cast(DecimalType(38, 12))).cast("double")
        .cast(d2412).cast("double").as("psi"))
    terms.crossJoin(broadcast(psi))
      .select(col("bucket"), col("cb").as("n_base"), col("cc").as("n_curr"),
        col("term"), col("psi"))
      .orderBy("bucket")
  }

  val psiDriftSql: String =
    """WITH sc AS (
      | SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT)
      |   AS u,
      |  CAST(date_diff('day', DATE '1970-01-01',
      |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day
      | FROM orders),
      |mm AS (SELECT CAST(MIN(day) AS BIGINT) AS dmin,
      |              CAST(MAX(day) AS BIGINT) AS dmax FROM sc),
      |cells AS (
      | SELECT u // 50000000000 AS bucket,
      |  CAST(SUM(CASE WHEN day <= (dmin + dmax) // 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS cb,
      |  CAST(SUM(CASE WHEN day <= (dmin + dmax) // 2 THEN 0 ELSE 1 END)
      |    AS BIGINT) AS cc
      | FROM sc CROSS JOIN mm GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cb) AS BIGINT) AS nb,
      |               CAST(SUM(cc) AS BIGINT) AS nc,
      |               CAST(COUNT(*) AS BIGINT) AS nbk FROM cells),
      |pq AS (
      | SELECT bucket, cb, cc,
      |  CAST(cb + 1 AS DOUBLE) / CAST(nb + nbk AS DOUBLE) AS p,
      |  CAST(cc + 1 AS DOUBLE) / CAST(nc + nbk AS DOUBLE) AS q
      | FROM cells CROSS JOIN tot),
      |terms AS (
      | SELECT bucket, cb, cc,
      |  CAST(CAST((p - q) * LN(p / q) AS DECIMAL(24,12)) AS DOUBLE) AS term
      | FROM pq),
      |s AS (
      | SELECT CAST(CAST(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
      |   AS DECIMAL(24,12)) AS DOUBLE) AS psi
      | FROM terms)
      |SELECT bucket, cb AS n_base, cc AS n_curr, term, s.psi
      |FROM terms CROSS JOIN s
      |ORDER BY bucket""".stripMargin

  // ------------------------------------------------------ Pinball loss

  /** Pinball (quantile) loss of the seasonal-naive week-ago forecast of
    * daily revenue, at τ = 0.5 and τ = 0.9 — the scoring rule quantile
    * forecasts ([[TimeSeries.forecastBacktest]], Holt-Winters) are
    * graded by, plus the empirical coverage that says whether the
    * "P90" forecast actually covers 90%. COMPLETELY EXACT: daily
    * revenue is an integer-micros rollup, the forecast join is a
    * calendar self-join on day−7, and 10·loss_τ = 10τ·(y−ŷ)⁺ +
    * (10−10τ)·(ŷ−y)⁺ is integer arithmetic throughout — the single
    * division to the currency-unit mean happens once at the end
    * through the hi/lo split. One fact aggregation + one day-grain
    * self-join (day-count-sized frames); scale-independent state.
    */
  /** Daily revenue series in exact integer micros — shared by the
    * forecast-evaluation pair ([[pinballLoss]], [[forecastDm]]). */
  private def dailyRevenue(t: Tables): DataFrame =
    Facts.dailyRevenue(t)
      .select(col("d").as("day"), microUnits(col("rev")).cast("long").as("y"))

  def pinballLoss(t: Tables): DataFrame = {
    val daily = dailyRevenue(t)
    val f = daily.select(col("day").as("fday"), col("y").as("yhat"))
    daily.join(f, col("day") === date_add(col("fday"), 7))
      .withColumn("tau10", explode(array(lit(5L), lit(9L))))
      .withColumn("loss10",
        col("tau10") * greatest(col("y") - col("yhat"), lit(0L)) +
          (lit(10L) - col("tau10")) * greatest(col("yhat") - col("y"), lit(0L)))
      .groupBy("tau10")
      .agg(count(lit(1)).as("n_days"),
        sum(col("loss10").cast(d38)).as("s"),
        sum((col("y") <= col("yhat")).cast("long")).as("cov"))
      .select(
        (col("tau10").cast("double") / lit(10.0)).as("tau"),
        col("n_days"),
        round12(decToDouble(col("s")) /
          decToDouble((col("n_days") * lit(10000000L)).cast(d38)))
          .as("mean_pinball"),
        round12(col("cov").cast("double") / col("n_days").cast("double"))
          .as("coverage"))
      .orderBy("tau")
  }

  val pinballLossSql: String = {
    val meanNum = decToDoubleSql("s")
    val meanDen = decToDoubleSql("nd")
    s"""WITH daily AS (
       | SELECT CAST(l_shipdate AS DATE) AS day,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS BIGINT) AS y
       | FROM lineitem GROUP BY 1),
       |j AS (
       | SELECT a.day, a.y, b.y AS yhat
       | FROM daily a JOIN daily b ON a.day = b.day + 7),
       |l AS (
       | SELECT t.tau10, j.day,
       |  t.tau10 * GREATEST(j.y - j.yhat, 0)
       |   + (10 - t.tau10) * GREATEST(j.yhat - j.y, 0) AS loss10,
       |  CASE WHEN j.y <= j.yhat THEN 1 ELSE 0 END AS cov
       | FROM j CROSS JOIN (VALUES (5), (9)) t(tau10)),
       |g AS (
       | SELECT tau10, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  CAST(SUM(CAST(loss10 AS HUGEINT)) AS HUGEINT) AS s,
       |  CAST(SUM(cov) AS BIGINT) AS cov
       | FROM l GROUP BY 1),
       |p AS (SELECT tau10, n_days, s, cov,
       |       CAST(n_days AS HUGEINT) * 10000000 AS nd FROM g)
       |SELECT CAST(tau10 AS DOUBLE) / 10.0 AS tau, n_days,
       | CAST(CAST($meanNum / $meanDen AS DECIMAL(24,12)) AS DOUBLE)
       |   AS mean_pinball,
       | CAST(CAST(CAST(cov AS DOUBLE) / CAST(n_days AS DOUBLE)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS coverage
       |FROM p ORDER BY tau""".stripMargin
  }

  // ------------------------------------------------------------ NDCG@k

  /** NDCG cutoff. */
  private val NdcgK = 10

  /** 1/log₂(i+1) for ranks 1..10 as exact double LITERALS — both
    * engines parse the same shortest-round-trip decimal strings to the
    * same doubles, so the discount weights carry zero libm dependence.
    */
  private val NdcgWeights: Seq[Double] = Seq(
    1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
    0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
    0.31546487678572877, 0.3010299956639812, 0.2890648263178879)

  private def ndcgWeightExpr(rank: Column): Column =
    NdcgWeights.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (w, i)) =>
      when(rank === (i + 1), lit(w)).otherwise(acc)
    }

  private val ndcgWeightSql: String =
    "CASE r " + NdcgWeights.zipWithIndex.map { case (w, i) =>
      s"WHEN ${i + 1} THEN ${w}"
    }.mkString(" ") + " ELSE 0.0 END"

  /** NDCG@10 per nation of account balance as a ranking of customer
    * spend — the position-discounted ranking-quality score every
    * retrieval stage ([[Hybrid.recallReport]] measures recall; this
    * measures ORDER) is graded by. Relevance = whole-currency customer
    * lifetime spend (exact integer); predicted ranking = balance desc;
    * ideal ranking = spend desc (both custkey-tie-broken, so fully
    * deterministic). Each top-10 cut runs through the
    * [[graft.plans.TopKPerKey]] heap plan — per-group heap state, no
    * per-nation full sort at any group size — and the ≤ K·groups
    * survivors take their in-cut ranks from a window over that bounded
    * frame. DCG terms multiply the exact relevance by LITERAL discount
    * weights ([[NdcgWeights]] — no runtime log), folded in rank order
    * (chi-square ordered-fold convention); NDCG derives from the
    * 12-dec-rounded DCG/IDCG pair so both engines round once.
    */
  def ndcgAtK(t: Tables): DataFrame = {
    val spend = Facts.customerRevenue(t)
      .select(col("o_custkey").as("custkey"),
        microUnits(col("rev")).cast("long").as("relu"))
    val cust = t.customer.select(col("c_custkey").as("custkey"),
        col("c_nationkey").as("nk"), col("c_acctbal"))
      .join(spend, Seq("custkey"), "left")
      .withColumn("relu", coalesce(col("relu"), lit(0L)))
      .withColumn("rel", expr("relu div 1000000"))
    def dcgOf(orderCol: String, name: String): DataFrame = {
      val top = TopKPerKey(cust, Seq("nk"),
        Seq((orderCol, false), ("custkey", true)), NdcgK)
      top
        .withColumn("r", row_number().over(Window.partitionBy("nk")
          .orderBy(col(orderCol).desc, col("custkey"))))
        .withColumn("term", col("rel").cast("double") * ndcgWeightExpr(col("r")))
        .groupBy("nk")
        .agg(sort_array(collect_list(struct(col("r"), col("term")))).as("arr"))
        .select(col("nk"),
          round6(expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
            " (a, x) -> a + x.term)")).as(name))
    }
    dcgOf("c_acctbal", "dcg").join(dcgOf("rel", "idcg"), Seq("nk"))
      .join(broadcast(t.nation.select(col("n_nationkey").as("nk"),
        col("n_name"))), Seq("nk"))
      .select(col("n_name"), col("dcg"), col("idcg"),
        when(col("idcg") === 0.0, lit(null).cast("double"))
          .otherwise(round12(col("dcg") / col("idcg"))).as("ndcg"))
      .orderBy("n_name")
  }

  val ndcgAtKSql: String =
    s"""WITH spend AS (
       | SELECT o_custkey AS custkey,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 1000000 AS BIGINT)
       |    AS relu
       | FROM orders GROUP BY 1),
       |cust AS (
       | SELECT c.c_custkey AS custkey, c.c_nationkey AS nk, c.c_acctbal,
       |  COALESCE(s.relu, 0) // 1000000 AS rel
       | FROM customer c LEFT JOIN spend s ON c.c_custkey = s.custkey),
       |predr AS (
       | SELECT nk, rel, ROW_NUMBER() OVER (PARTITION BY nk
       |   ORDER BY c_acctbal DESC, custkey) AS r
       | FROM cust),
       |idealr AS (
       | SELECT nk, rel, ROW_NUMBER() OVER (PARTITION BY nk
       |   ORDER BY rel DESC, custkey) AS r
       | FROM cust),
       |dcg AS (
       | SELECT nk, CAST(CAST(list_reduce(
       |   list(CAST(rel AS DOUBLE) * ($ndcgWeightSql) ORDER BY r),
       |   (a, x) -> a + x) AS DECIMAL(24,6)) AS DOUBLE) AS dcg
       | FROM predr WHERE r <= $NdcgK GROUP BY nk),
       |idcg AS (
       | SELECT nk, CAST(CAST(list_reduce(
       |   list(CAST(rel AS DOUBLE) * ($ndcgWeightSql) ORDER BY r),
       |   (a, x) -> a + x) AS DECIMAL(24,6)) AS DOUBLE) AS idcg
       | FROM idealr WHERE r <= $NdcgK GROUP BY nk)
       |SELECT n.n_name, dcg.dcg, idcg.idcg,
       | CASE WHEN idcg.idcg = 0.0 THEN NULL
       |      ELSE CAST(CAST(dcg.dcg / idcg.idcg AS DECIMAL(24,12)) AS DOUBLE)
       | END AS ndcg
       |FROM dcg JOIN idcg USING (nk)
       |JOIN nation n ON n.n_nationkey = nk
       |ORDER BY n_name""".stripMargin

  // --------------------------------------- Diebold–Mariano (iid flavor)

  /** Paired forecast comparison of the week-ago vs day-ago naive daily
    * revenue forecasts under absolute-error loss — the
    * champion/challenger test ([[TimeSeries.forecastBacktest]] scores
    * one model; this says whether a difference between two is noise).
    * The iid flavor of the Diebold–Mariano statistic: per-day loss
    * differential d_t in EXACT whole-currency units (|y−ŷ| micros,
    * floor-divided — integer arithmetic, deterministic), then
    * DM = d̄ / √((Σd²/n − d̄²)/n) with exact integer sums through the
    * hi/lo split (the signed twin for Σd) and the IEEE-correctly-
    * rounded sqrt both engines share (sqrt, unlike ln, is exact-ulp
    * portable). Sign counts are exact. One day-grain frame, two
    * calendar self-joins; bounded state at any scale.
    */
  def forecastDm(t: Tables): DataFrame = {
    import graft.functions.Exact.decToDoubleSigned
    val daily = dailyRevenue(t)
    val f7 = daily.select(col("day").as("d7"), col("y").as("yA"))
    val f1 = daily.select(col("day").as("d1"), col("y").as("yB"))
    val paired = daily
      .join(f7, col("day") === date_add(col("d7"), 7))
      .join(f1, col("day") === date_add(col("d1"), 1))
      .withColumn("la", expr("abs(y - yA) div 1000000"))
      .withColumn("lb", expr("abs(y - yB) div 1000000"))
      .withColumn("dd", col("la") - col("lb"))
    val agg = paired.agg(
      count(lit(1)).as("n"),
      sum(col("la").cast(d38)).as("sa"),
      sum(col("lb").cast(d38)).as("sb"),
      sum(col("dd").cast(d38)).as("s1"),
      sum((col("dd").cast(d38) * col("dd")).cast(d38)).as("s2"),
      sum((col("dd") < 0).cast("long")).as("n_week_better"),
      sum((col("dd") > 0).cast("long")).as("n_day_better"))
    agg.select(
        col("n").as("n_days"),
        round6(decToDouble(col("sa")) / col("n")).as("mean_loss_week"),
        round6(decToDouble(col("sb")) / col("n")).as("mean_loss_day"),
        round6(decToDoubleSigned(col("s1")) / col("n")).as("mean_diff"),
        (decToDoubleSigned(col("s1")) / col("n")).as("_dbar"),
        (decToDouble(col("s2")) / col("n")).as("_m2"),
        col("n_week_better"), col("n_day_better"))
      .withColumn("dm_stat",
        round12(col("_dbar") /
          sqrt((col("_m2") - col("_dbar") * col("_dbar")) /
            col("n_days").cast("double"))))
      .drop("_dbar", "_m2")
  }

  val forecastDmSql: String = {
    import graft.functions.Exact.decToDoubleSignedSql
    val saD = decToDoubleSql("sa")
    val sbD = decToDoubleSql("sb")
    val s1D = decToDoubleSignedSql("s1")
    val s2D = decToDoubleSql("s2")
    s"""WITH daily AS (
       | SELECT CAST(l_shipdate AS DATE) AS day,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS BIGINT) AS y
       | FROM lineitem GROUP BY 1),
       |paired AS (
       | SELECT a.day, a.y,
       |  ABS(a.y - b7.y) // 1000000 AS la,
       |  ABS(a.y - b1.y) // 1000000 AS lb,
       |  ABS(a.y - b7.y) // 1000000 - ABS(a.y - b1.y) // 1000000 AS dd
       | FROM daily a
       | JOIN daily b7 ON a.day = b7.day + 7
       | JOIN daily b1 ON a.day = b1.day + 1),
       |g AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(la AS HUGEINT)) AS HUGEINT) AS sa,
       |  CAST(SUM(CAST(lb AS HUGEINT)) AS HUGEINT) AS sb,
       |  CAST(SUM(CAST(dd AS HUGEINT)) AS HUGEINT) AS s1,
       |  CAST(SUM(CAST(dd AS HUGEINT) * CAST(dd AS HUGEINT)) AS HUGEINT)
       |    AS s2,
       |  CAST(SUM(CASE WHEN dd < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_week_better,
       |  CAST(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_day_better
       | FROM paired),
       |d AS (
       | SELECT n, sa, sb, s1, s2, n_week_better, n_day_better,
       |  $s1D / n AS dbar, $s2D / n AS m2
       | FROM g)
       |SELECT n AS n_days,
       | CAST(CAST($saD / n AS DECIMAL(24,6)) AS DOUBLE) AS mean_loss_week,
       | CAST(CAST($sbD / n AS DECIMAL(24,6)) AS DOUBLE) AS mean_loss_day,
       | CAST(CAST(dbar AS DECIMAL(24,6)) AS DOUBLE) AS mean_diff,
       | n_week_better, n_day_better,
       | CAST(CAST(dbar / SQRT((m2 - dbar * dbar) / CAST(n AS DOUBLE))
       |   AS DECIMAL(24,12)) AS DOUBLE) AS dm_stat
       |FROM d""".stripMargin
  }

  // ------------------------------------------------------ Segmented PSI

  /** [[psiDrift]] per market segment — the grouped production monitor:
    * one PSI per customer segment, so a drift alarm localizes to the
    * cohort that moved instead of washing out in the global mix. Same
    * bounded 50k-currency buckets, global calendar-midpoint split, and
    * add-one smoothing; the per-(segment, bucket) counts come from one
    * fact aggregation after the orders→customer equi-join (the star
    * join every enrichment query already pays), segment totals from a
    * second bounded rollup. Terms 12-dec rounded first; each segment's
    * PSI is the exact decimal sum of its rounded terms.
    */
  def psiSegmented(t: Tables): DataFrame = {
    val orders = t.orders
      .join(t.customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("segment")), Seq("o_custkey"))
    val terms = psiTerms(orders, "segment")
    terms.groupBy("segment")
      .agg(first(col("nb")).as("n_base"), first(col("nc")).as("n_curr"),
        count(lit(1)).as("n_buckets"),
        sum(col("term").cast(DecimalType(38, 12))).cast("double")
          .cast(d2412).cast("double").as("psi"))
      .orderBy("segment")
  }

  val psiSegmentedSql: String =
    """WITH sc AS (
      | SELECT c.c_mktsegment AS segment,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT)
      |    AS u,
      |  CAST(date_diff('day', DATE '1970-01-01',
      |    CAST(o.o_orderdate AS DATE)) AS BIGINT) AS day
      | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |mm AS (SELECT CAST(MIN(day) AS BIGINT) AS dmin,
      |              CAST(MAX(day) AS BIGINT) AS dmax FROM sc),
      |cells AS (
      | SELECT segment, u // 50000000000 AS bucket,
      |  CAST(SUM(CASE WHEN day <= (dmin + dmax) // 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS cb,
      |  CAST(SUM(CASE WHEN day <= (dmin + dmax) // 2 THEN 0 ELSE 1 END)
      |    AS BIGINT) AS cc
      | FROM sc CROSS JOIN mm GROUP BY 1, 2),
      |tot AS (
      | SELECT segment, CAST(SUM(cb) AS BIGINT) AS nb,
      |  CAST(SUM(cc) AS BIGINT) AS nc, CAST(COUNT(*) AS BIGINT) AS nbk
      | FROM cells GROUP BY 1),
      |pq AS (
      | SELECT c.segment, c.bucket, c.cb, c.cc, t.nb, t.nc, t.nbk,
      |  CAST(c.cb + 1 AS DOUBLE) / CAST(t.nb + t.nbk AS DOUBLE) AS p,
      |  CAST(c.cc + 1 AS DOUBLE) / CAST(t.nc + t.nbk AS DOUBLE) AS q
      | FROM cells c JOIN tot t USING (segment)),
      |terms AS (
      | SELECT segment, bucket, nb, nc,
      |  CAST(CAST((p - q) * LN(p / q) AS DECIMAL(24,12)) AS DOUBLE) AS term
      | FROM pq)
      |SELECT segment, MAX(nb) AS n_base, MAX(nc) AS n_curr,
      | CAST(COUNT(*) AS BIGINT) AS n_buckets,
      | CAST(CAST(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
      |   AS DECIMAL(24,12)) AS DOUBLE) AS psi
      |FROM terms GROUP BY segment
      |ORDER BY segment""".stripMargin

  // ------------------------------------------------- Croston forecast

  /** Trailing demand-event window for [[croston]] — bounded per-row
    * state regardless of a part's order history length. */
  private val CrostonWindow = 64

  /** Minimum demand events for a Croston forecast (need gaps). */
  private val CrostonMinEvents = 5

  /** Croston smoothing is α = 1/4: every update is
    * (x + 3·state)/4 — the divide-by-4 is EXACT in doubles, so the
    * recursion is three IEEE ops both engines replay identically. */
  private val CrostonFold = "(acc, x) -> (x + 3.0 * acc) / 4.0"

  /** Croston's method over per-part daily demand — THE intermittent-
    * demand forecast (the operator [[Relational15.demandClasses]]
    * classifies for): separate exponential smoothing of nonzero demand
    * SIZES and inter-demand INTERVALS, forecast rate = ẑ/p̂ per day.
    * Smoothing runs over the trailing [[CrostonWindow]] demand events
    * (entity-partitioned window, bounded per-row state at any history
    * length — the EWMA convention), α = 1/4 so every update is
    * IEEE-exact-portable arithmetic; sizes are exact integral daily
    * quantity sums and intervals exact day gaps. Output: the 25 parts
    * with the highest forecast daily demand rate (deterministic
    * tie-break on partkey) — a global TakeOrdered, never a full sort.
    */
  def croston(t: Tables): DataFrame = {
    val daily = t.lineitem
      .groupBy(col("l_partkey").as("pk"),
        col("l_shipdate").cast("date").as("d"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("qv"))
      .withColumn("dn",
        datediff(col("d"), to_date(lit("1970-01-01"))).cast("long"))
    // Only the LATEST row's trailing window survives the rk = 1 filter,
    // so don't build a 64-element array per ROW (the r17 before-plan
    // materialized ~64× the demand-event volume in window buffers and
    // threw all but one row per part away): rank descending, keep the
    // last ≤ CrostonWindow events, and collect them ONCE per part in
    // ascending-day order — the identical multiset the trailing frame
    // held at the latest row, in the identical order (d is unique per
    // part by the daily grouping, so the sort is total).
    val wLatest = Window.partitionBy("pk").orderBy(col("d").desc)
    daily
      .withColumn("rk", row_number().over(wLatest))
      .where(col("rk") <= CrostonWindow)
      .groupBy("pk")
      .agg(sort_array(collect_list(struct(col("d"), col("qv"), col("dn"))))
        .as("ev"))
      .where(size(col("ev")) >= CrostonMinEvents)
      .withColumn("qs", expr("transform(ev, e -> e.qv)"))
      .withColumn("ds", expr("transform(ev, e -> e.dn)"))
      .withColumn("gaps", expr(
        """zip_with(slice(ds, 2, size(ds) - 1), slice(ds, 1, size(ds) - 1),
          | (a, b) -> cast(a - b as double))""".stripMargin))
      .withColumn("zhat", expr(
        s"aggregate(slice(qs, 2, size(qs) - 1), qs[0], $CrostonFold)"))
      .withColumn("phat", expr(
        s"aggregate(slice(gaps, 2, size(gaps) - 1), gaps[0], $CrostonFold)"))
      .select(col("pk").as("p_partkey"),
        size(col("qs")).cast("long").as("n_events"),
        round12(col("zhat")).as("size_hat"),
        round12(col("phat")).as("interval_hat"),
        round12(col("zhat") / col("phat")).as("rate_hat"))
      .orderBy(col("rate_hat").desc, col("p_partkey"))
      .limit(25)
  }

  val crostonSql: String =
    s"""WITH daily AS (
       | SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS d,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qv,
       |  CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
       |    AS BIGINT) AS dn
       | FROM lineitem GROUP BY 1, 2, 4),
       |win AS (
       | SELECT pk, d,
       |  list(qv) OVER (PARTITION BY pk ORDER BY d
       |    ROWS BETWEEN ${CrostonWindow - 1} PRECEDING AND CURRENT ROW)
       |    AS qs,
       |  list(dn) OVER (PARTITION BY pk ORDER BY d
       |    ROWS BETWEEN ${CrostonWindow - 1} PRECEDING AND CURRENT ROW)
       |    AS ds,
       |  ROW_NUMBER() OVER (PARTITION BY pk ORDER BY d DESC) AS rk
       | FROM daily),
       |last AS (
       | SELECT pk, qs, ds FROM win
       | WHERE rk = 1 AND len(qs) >= $CrostonMinEvents),
       |folded AS (
       | SELECT pk, CAST(len(qs) AS BIGINT) AS n_events,
       |  list_reduce(qs, $CrostonFold) AS zhat,
       |  list_reduce(
       |    list_transform(generate_series(2, len(ds)),
       |      i -> CAST(ds[i] - ds[i - 1] AS DOUBLE)),
       |    $CrostonFold) AS phat
       | FROM last)
       |SELECT pk AS p_partkey, n_events,
       | CAST(CAST(zhat AS DECIMAL(24,12)) AS DOUBLE) AS size_hat,
       | CAST(CAST(phat AS DECIMAL(24,12)) AS DOUBLE) AS interval_hat,
       | CAST(CAST(zhat / phat AS DECIMAL(24,12)) AS DOUBLE) AS rate_hat
       |FROM folded
       |ORDER BY rate_hat DESC, p_partkey
       |LIMIT 25""".stripMargin

  // -------------------------------------------------- Tracking signal

  /** Monthly forecast tracking signal for the week-ago naive daily
    * revenue forecast — cumulative forecast error over mean absolute
    * deviation, the classic "has the forecast gone biased" control
    * chart beside [[TimeSeries.controlChart]]. COMPLETELY EXACT:
    * per-month CFE (signed micros sum), the MAD numerator (absolute
    * micros sum) and the alert flag |CFE|·n > 4·Σ|e| are all integer
    * arithmetic; the two reported unit means go through the hi/lo
    * split with the signed twin for CFE, and the tracking signal
    * itself is a ratio of exact integers (CFE/MAD = Σe·n / Σ|e|).
    * Month grain keeps output calendar-bounded at any scale.
    */
  def trackingSignal(t: Tables): DataFrame = {
    import graft.functions.Exact.decToDoubleSigned
    val daily = dailyRevenue(t)
    val f = daily.select(col("day").as("fday"), col("y").as("yhat"))
    daily.join(f, col("day") === date_add(col("fday"), 7))
      .withColumn("e", col("y") - col("yhat"))
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("e").cast(d38)).as("s1"),
        sum(abs(col("e")).cast(d38)).as("sa"))
      .select(col("month"), col("n_days"),
        round6(decToDoubleSigned(col("s1")) /
          decToDouble((col("n_days") * lit(1000000L)).cast(d38)))
          .as("cfe_mean_units"),
        round6(decToDouble(col("sa")) /
          decToDouble((col("n_days") * lit(1000000L)).cast(d38)))
          .as("mad_units"),
        round12(decToDoubleSigned((col("s1") * col("n_days")).cast(d38)) /
          decToDouble(col("sa").cast(d38))).as("tracking_signal"),
        (abs(col("s1")) * col("n_days") > col("sa") * lit(4)).as("alert"))
      .orderBy("month")
  }

  val trackingSignalSql: String = {
    import graft.functions.Exact.decToDoubleSignedSql
    val s1D = decToDoubleSignedSql("s1")
    val saD = decToDoubleSql("sa")
    val ndD = decToDoubleSql("nd")
    val s1n = decToDoubleSignedSql("s1n")
    s"""WITH daily AS (
       | SELECT CAST(l_shipdate AS DATE) AS day,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS BIGINT) AS y
       | FROM lineitem GROUP BY 1),
       |j AS (
       | SELECT a.day, a.y - b.y AS e
       | FROM daily a JOIN daily b ON a.day = b.day + 7),
       |g AS (
       | SELECT strftime(day, '%Y-%m') AS month,
       |  CAST(COUNT(*) AS BIGINT) AS n_days,
       |  CAST(SUM(CAST(e AS HUGEINT)) AS HUGEINT) AS s1,
       |  CAST(SUM(CAST(ABS(e) AS HUGEINT)) AS HUGEINT) AS sa
       | FROM j GROUP BY 1),
       |p AS (
       | SELECT month, n_days, s1, sa,
       |  CAST(n_days AS HUGEINT) * 1000000 AS nd,
       |  s1 * n_days AS s1n
       | FROM g)
       |SELECT month, n_days,
       | CAST(CAST($s1D / $ndD AS DECIMAL(24,6)) AS DOUBLE)
       |   AS cfe_mean_units,
       | CAST(CAST($saD / $ndD AS DECIMAL(24,6)) AS DOUBLE) AS mad_units,
       | CAST(CAST($s1n / $saD AS DECIMAL(24,12)) AS DOUBLE)
       |   AS tracking_signal,
       | ABS(s1) * n_days > sa * 4 AS alert
       |FROM p ORDER BY month""".stripMargin
  }
}
