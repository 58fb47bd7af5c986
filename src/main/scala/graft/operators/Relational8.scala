package graft.operators

import graft.Tables
import graft.functions.Exact.{d38, decToDouble, decToDoubleSql, discPrice, microUnits}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-structure and time-series diagnostics: supplier concentration
  * (Herfindahl-Hirschman) and revenue autocorrelation — the "how
  * concentrated is this market" and "does yesterday predict today"
  * questions of a reporting engine (the reference's pandas rollups stop at
  * sums; these are their second-moment companions).
  *
  * Both collapse the fact table FIRST (one map-side-combining aggregation)
  * and do all second-moment math on the bounded aggregate domain
  * (suppliers-per-nation, distinct ship days) — the rollingCorr/linearTrend
  * precedent, so the shapes hold at 100 TB.
  */
object Relational8 {

  /** Supplier revenue in micros (`units`) with the supplier's nation
    * (`n_name`): the input of [[hhi]], [[gini]] and [[lorenz]]. One fact
    * aggregation by supplier, then two broadcast dimension joins.
    */
  private def nationSupplierUnits(t: Tables): DataFrame =
    Facts.supplierRevenue(t)
      .withColumn("units", microUnits(col("rev")))
      .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))

  /** Herfindahl-Hirschman concentration of supplier revenue within each
    * nation: HHI = Σᵢ sᵢ² where sᵢ is supplier i's share of the nation's
    * lineitem revenue — computed as Σrevᵢ² / (Σrevᵢ)², so every aggregate
    * is an exact integer power sum and the single floating step (one
    * division over [[decToDouble]]-converted sums) replays bit-for-bit in
    * the oracle. Plan: one fact aggregation by suppkey (map-side
    * combine), broadcast dim joins, then a second tiny aggregation over
    * one row per supplier. No global window, no driver state: 100 TB-safe.
    */
  def hhi(t: Tables): DataFrame = {
    nationSupplierUnits(t)
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("units").cast(d38)).as("s"),
        sum(col("units") * col("units")).as("q"))
      .select(col("n_name"), col("n_suppliers"),
        (decToDouble(col("q")) /
          (decToDouble(col("s")) * decToDouble(col("s")))).as("hhi"))
      .orderBy("n_name")
  }

  val hhiSql: String = {
    s"""WITH per_supp AS (
       | SELECT l_suppkey,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS units
       | FROM lineitem GROUP BY 1),
       |per_nation AS (
       | SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       |  SUM(units) AS s, SUM(units * units) AS q
       | FROM per_supp
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation ON s_nationkey = n_nationkey
       | GROUP BY 1)
       |SELECT n_name, n_suppliers,
       | ${decToDoubleSql("q")} / (${decToDoubleSql("s")} * ${decToDoubleSql("s")}) AS hhi
       |FROM per_nation ORDER BY n_name""".stripMargin
  }

  /** Gini coefficient of supplier revenue within each nation — the
    * inequality companion to [[hhi]] (HHI says "how concentrated",
    * Gini says "how unequal across the whole distribution"): with
    * revenues sorted ascending and 1-based ranks,
    * G = (2·Σᵢ i·xᵢ)/(n·Σxᵢ) − (n+1)/n. Ranks come from a window
    * PARTITIONED BY NATION (suppliers-per-nation is the windowed
    * domain — grows like the dim table, not the fact table), both sums
    * are exact DECIMAL(38,0) integer aggregates (rank·micros products
    * overflow longs at ~100× scale), and the two divisions evaluate in
    * double from [[decToDouble]]-exact sums with the oracle's
    * expression tree. Tie-break on supplier key makes ranks — and so
    * the statistic — fully deterministic.
    */
  def gini(t: Tables): DataFrame = {
    val perSupp = nationSupplierUnits(t)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("n_name")
      .orderBy(col("units"), col("l_suppkey"))
    perSupp
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n"),
        sum(col("units").cast(d38)).as("sx"),
        sum(col("rk").cast(d38) * col("units")).as("srx"))
      .select(col("n_name"), col("n"),
        ((lit(2.0) * decToDouble(col("srx")) /
            (col("n") * decToDouble(col("sx")))) -
          (col("n") + lit(1.0)) / col("n")).as("gini"))
      .orderBy("n_name")
  }

  val giniSql: String =
    s"""WITH per_supp AS (
       | SELECT l_suppkey,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS units
       | FROM lineitem GROUP BY 1),
       |ranked AS (
       | SELECT n_name, units,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY n_name
       |    ORDER BY units, l_suppkey) AS BIGINT) AS rk
       | FROM per_supp
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation ON s_nationkey = n_nationkey),
       |agg AS (
       | SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
       |  SUM(units) AS sx, SUM(rk * units) AS srx
       | FROM ranked GROUP BY 1)
       |SELECT n_name, n,
       | (2.0 * ${decToDoubleSql("srx")} / (n * ${decToDoubleSql("sx")}))
       |   - (n + 1.0) / n AS gini
       |FROM agg ORDER BY n_name""".stripMargin

  /** Pearson chi-square independence test of event type × weekday —
    * "does behaviour depend on the day" (the drift/seasonality screen
    * run before trusting a uniform model). Observed counts and both
    * marginals are exact integers from ONE fact aggregation (the cell
    * grid is types×7 — bounded); expected counts eᵢⱼ = rᵢ·cⱼ/n and the
    * per-cell terms (o−e)²/e evaluate in double — and because double
    * ADDITION ORDER matters, the statistic folds over the
    * (type, dow)-sorted cell array IN-ROW (seeded with the first term,
    * the ewma convention) instead of a partition-order-dependent SUM.
    * Weekday is `days-since-1970-01-01 mod 7` (0 = Thursday) — the one
    * weekday formula both engines compute identically, engine DOW
    * conventions disagree (Spark 1=Sun..7, DuckDB 0=Sun..6).
    */
  def chiSquare(t: Tables): DataFrame = {
    val cells = Facts.eventWeekdayCells(t)
    val rt = cells.groupBy("typ").agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy("dow").agg(sum(col("o")).as("ct"))
    val n1 = cells.agg(sum(col("o")).as("n"))
    cells
      .join(broadcast(rt), Seq("typ"))
      .join(broadcast(ct), Seq("dow"))
      .crossJoin(broadcast(n1))
      .withColumn("term", expr(
        """(CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n)
          | * (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n)
          | / (CAST(rt * ct AS DOUBLE) / n)""".stripMargin))
      .agg(
        first(col("n")).as("n"),
        count(lit(1)).as("n_cells"),
        countDistinct(col("typ")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"),
        sort_array(collect_list(struct(col("typ"), col("dow"), col("term"))))
          .as("arr"))
      .select(col("n"), col("n_cells"),
        ((col("n_types") - 1) * (col("n_dows") - 1)).as("dof"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
          " (a, x) -> a + x.term)").as("chi2"))
  }

  val chiSquareSql: String =
    """WITH ev AS (
      | SELECT event_type AS typ,
      |  CAST(date_diff('day', DATE '1970-01-01',
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS BIGINT) AS dow
      | FROM events),
      |cells AS (
      | SELECT typ, dow, CAST(COUNT(*) AS BIGINT) AS o
      | FROM ev GROUP BY 1, 2),
      |rt AS (SELECT typ, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      |terms AS (
      | SELECT cells.typ, cells.dow,
      |  (CAST(o AS DOUBLE) - CAST(rt.rt * ct.ct AS DOUBLE) / nn.n)
      |   * (CAST(o AS DOUBLE) - CAST(rt.rt * ct.ct AS DOUBLE) / nn.n)
      |   / (CAST(rt.rt * ct.ct AS DOUBLE) / nn.n) AS term
      | FROM cells JOIN rt USING (typ) JOIN ct USING (dow) CROSS JOIN nn)
      |SELECT
      | (SELECT n FROM nn) AS n,
      | CAST(COUNT(*) AS BIGINT) AS n_cells,
      | CAST((COUNT(DISTINCT typ) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT)
      |   AS dof,
      | list_reduce(list(term ORDER BY typ, dow), (a, x) -> a + x) AS chi2
      |FROM terms""".stripMargin

  /** Part revenue in micros (`units`, long) with `promo` = 1 for PROMO
    * parts: the input of [[ksTest]] and [[mannWhitney]].
    */
  private def promoPartUnits(t: Tables): DataFrame =
    Facts.partRevenue(t)
      .withColumn("units", microUnits(col("rev")).cast("long"))
      .join(broadcast(t.part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .withColumn("promo", (col("p_type") === "PROMO").cast("long"))

  /** Two-sample Kolmogorov–Smirnov distance between the per-part
    * revenue distributions of PROMO vs non-PROMO parts — "did the promo
    * catalogue monetize differently", the distribution-level comparison
    * a mean test misses. The KS supremum is computed EXACTLY in
    * integers: with cumulative counts c₁,c₂ at each distinct revenue
    * value, D = max|c₁/n₁ − c₂/n₂| = max|c₁·n₂ − c₂·n₁| / (n₁·n₂), so
    * the argmax runs on exact longs and the single division happens
    * once at the end. CDFs step at DISTINCT values (per-value group
    * counts first — evaluating mid-tie would manufacture spurious
    * gaps). The cumulative counts ride the distributed two-level
    * prefix scan ([[Ranks.withGlobalPrefixAggs]]) — the distinct-value
    * domain never funnels through one task; the heavy pass is the one
    * fact aggregation.
    */
  def ksTest(t: Tables): DataFrame = {
    val perPart = promoPartUnits(t)
    val byValue = perPart.groupBy("units")
      .agg(sum(col("promo")).as("a"), sum(lit(1L) - col("promo")).as("b"))
      // pinned per the withGlobalPrefixAggs call-site contract: the scan
      // executes its input twice (range-bound sampling + shuffle map),
      // and this input is a full fact aggregation + dimension join (r17)
      .localCheckpoint(true)
    // cumulative CDF counts via the distributed two-level prefix scan
    // (range repartition + local window + broadcast offsets) — never an
    // unpartitioned window over the distinct-value domain
    val scanned = Ranks.withGlobalPrefixAggs(byValue, Seq(col("units")),
      Seq(("c1", col("a"), "sum", true), ("c2", col("b"), "sum", true)))
    // group totals fall out of the scan itself (inclusive counts are
    // monotone, so max = last = total) — re-reading the scan's pinned
    // blocks beats re-running the whole fact aggregation for a 2-long agg
    val tot = scanned.agg(max(col("c1")).as("n1"), max(col("c2")).as("n2"))
    scanned
      .crossJoin(broadcast(tot))
      .withColumn("diff", abs(col("c1") * col("n2") - col("c2") * col("n1")))
      .groupBy()
      .agg(
        first(col("n1")).as("n1"), first(col("n2")).as("n2"),
        max(struct(col("diff"), (-col("units")).as("nu"))).as("m"))
      .select(col("n1"), col("n2"),
        col("m.diff").as("d_num"), (-col("m.nu")).as("at_units"),
        (col("m.diff").cast("double") /
          (col("n1") * col("n2")).cast("double")).as("ks"))
  }

  val ksTestSql: String =
    s"""WITH per_part AS (
       | SELECT l_partkey,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS BIGINT) AS units
       | FROM lineitem GROUP BY 1),
       |g AS (
       | SELECT units,
       |  CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS promo
       | FROM per_part JOIN part ON l_partkey = p_partkey),
       |by_value AS (
       | SELECT units, CAST(SUM(promo) AS BIGINT) AS a,
       |  CAST(SUM(1 - promo) AS BIGINT) AS b
       | FROM g GROUP BY 1),
       |tot AS (
       | SELECT CAST(SUM(promo) AS BIGINT) AS n1,
       |  CAST(SUM(1 - promo) AS BIGINT) AS n2 FROM g),
       |cum AS (
       | SELECT units,
       |  SUM(a) OVER (ORDER BY units
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
       |  SUM(b) OVER (ORDER BY units
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
       | FROM by_value),
       |d AS (
       | SELECT units, abs(c1 * tot.n2 - c2 * tot.n1) AS diff
       | FROM cum CROSS JOIN tot)
       |SELECT tot.n1, tot.n2,
       | CAST((SELECT diff FROM d ORDER BY diff DESC, units LIMIT 1)
       |   AS BIGINT) AS d_num,
       | (SELECT units FROM d ORDER BY diff DESC, units LIMIT 1) AS at_units,
       | CAST((SELECT diff FROM d ORDER BY diff DESC, units LIMIT 1) AS DOUBLE)
       |   / CAST(tot.n1 * tot.n2 AS DOUBLE) AS ks
       |FROM tot""".stripMargin

  /** Mann–Whitney U (rank-sum) test on the same PROMO / non-PROMO
    * split as [[ksTest]] — "does one group stochastically dominate",
    * robust where the t-test's mean assumption isn't. Tie-averaged
    * ranks are kept EXACT by working in DOUBLED ranks: a tie group of
    * size c after s predecessors gives every member 2·rank = 2s+c+1
    * (an integer), so Σ2R₁ = Σ aᵥ·(2sᵥ+cᵥ+1) accumulates in exact
    * longs and U₂ = 2U = Σ2R₁ − n₁(n₁+1) stays integral; the normal
    * z-score divides once in double (no tie-variance correction — the
    * classic large-sample form, stated in the column name). Same
    * distributed two-level prefix scan as the KS CDF; one fact
    * aggregation does the heavy lifting.
    */
  def mannWhitney(t: Tables): DataFrame = {
    val perPart = promoPartUnits(t)
    val byValue = perPart.groupBy("units")
      .agg(sum(col("promo")).as("a"), count(lit(1)).as("c"))
      // pinned per the withGlobalPrefixAggs call-site contract (the scan
      // executes its input twice; this one is a fact agg + join) — r17
      .localCheckpoint(true)
    // exclusive predecessor counts via the distributed two-level prefix
    // scan — same scale contract as [[ksTest]]'s CDF. Group totals fold
    // into the SAME final aggregation (n1 = Σa, n2 = Σc − Σa) instead of
    // re-running the fact aggregation for a 2-long frame.
    Ranks.withGlobalPrefixAggs(byValue, Seq(col("units")),
        Seq(("_s0", col("c"), "sum", false)))
      .withColumn("s", coalesce(col("_s0"), lit(0L)))
      .withColumn("r2", col("a") * (lit(2L) * col("s") + col("c") + lit(1L)))
      .groupBy()
      .agg(sum(col("r2")).as("sum2r1"), sum(col("a")).as("n1"),
        (sum(col("c")) - sum(col("a"))).as("n2"))
      .select(col("n1"), col("n2"),
        (col("sum2r1") - col("n1") * (col("n1") + lit(1L))).as("u2"),
        expr("""(CAST(sum2r1 - n1 * (n1 + 1) AS DOUBLE) / 2
          | - CAST(n1 * n2 AS DOUBLE) / 2)
          | / sqrt(CAST(n1 * n2 AS DOUBLE) * CAST(n1 + n2 + 1 AS DOUBLE) / 12)"""
          .stripMargin).as("z_no_tie_corr"))
  }

  val mannWhitneySql: String =
    s"""WITH per_part AS (
       | SELECT l_partkey,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS BIGINT) AS units
       | FROM lineitem GROUP BY 1),
       |g AS (
       | SELECT units,
       |  CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS promo
       | FROM per_part JOIN part ON l_partkey = p_partkey),
       |by_value AS (
       | SELECT units, CAST(SUM(promo) AS BIGINT) AS a,
       |  CAST(COUNT(*) AS BIGINT) AS c
       | FROM g GROUP BY 1),
       |tot AS (
       | SELECT CAST(SUM(promo) AS BIGINT) AS n1,
       |  CAST(SUM(1 - promo) AS BIGINT) AS n2 FROM g),
       |cum AS (
       | SELECT units, a, c,
       |  CAST(COALESCE(SUM(c) OVER (ORDER BY units
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
       | FROM by_value),
       |acc AS (
       | SELECT CAST(SUM(a * (2 * s + c + 1)) AS BIGINT) AS sum2r1 FROM cum)
       |SELECT tot.n1, tot.n2,
       | sum2r1 - tot.n1 * (tot.n1 + 1) AS u2,
       | (CAST(sum2r1 - tot.n1 * (tot.n1 + 1) AS DOUBLE) / 2
       |  - CAST(tot.n1 * tot.n2 AS DOUBLE) / 2)
       |  / sqrt(CAST(tot.n1 * tot.n2 AS DOUBLE)
       |     * CAST(tot.n1 + tot.n2 + 1 AS DOUBLE) / 12) AS z_no_tie_corr
       |FROM acc CROSS JOIN tot""".stripMargin

  private val AcfMaxLag = 7

  /** Autocorrelation function of the daily revenue series at lags 1..7:
    * Pearson correlation between day d and day d+k revenue over all
    * calendar-adjacent pairs (gap days simply produce no pair — a
    * dense-rank lag would silently correlate across holes). The fact
    * table collapses to one row per DAY first (exact cents... micros
    * sums), so the lag self-join and the per-lag power sums run over the
    * bounded day domain — thousands of rows at any corpus size, with the
    * small side broadcast. All six power sums are exact DECIMAL(38,0)
    * aggregates (day-level micro products overflow longs at ~100×
    * scale); the correlation evaluates in double from
    * [[decToDouble]]-converted sums with the oracle's expression tree.
    */
  def autocorr(t: Tables): DataFrame = {
    val daily = Facts.dailyRevenue(t)
      .select(Facts.epochDay(col("d")).as("epoch_day"), microUnits(col("rev")).as("v"))
    val x = daily.select(col("epoch_day"), col("v").as("x"))
      .withColumn("lag", explode(array((1 to AcfMaxLag).map(k => lit(k.toLong)): _*)))
    val y = daily.select(col("epoch_day").as("y_day"), col("v").as("y"))
    x.join(broadcast(y), col("y_day") === col("epoch_day") + col("lag"))
      .groupBy("lag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("lag"), col("n"),
        ((col("n") * decToDouble(col("sxy")) -
            decToDouble(col("sx")) * decToDouble(col("sy"))) /
          (sqrt(col("n") * decToDouble(col("sxx")) -
              decToDouble(col("sx")) * decToDouble(col("sx"))) *
            sqrt(col("n") * decToDouble(col("syy")) -
              decToDouble(col("sy")) * decToDouble(col("sy"))))).as("acf"))
      .orderBy("lag")
  }

  /** The daily revenue series as (`epoch_day`, `v` = micros, long): the
    * input of [[cusum]] and [[runsTest]].
    */
  private def dailyMicros(t: Tables): DataFrame =
    Facts.dailyRevenue(t)
      .select(Facts.epochDay(col("d")).as("epoch_day"),
        microUnits(col("rev")).cast("long").as("v"))

  /** CUSUM upward-shift detection over the daily revenue series — the
    * "did the level change, and when" monitor (Page's cumulative sum):
    * Sₜ = max(0, Sₜ₋₁ + (vₜ − μ)) with μ = the series' own integer mean
    * (total div n), all in exact integer micro-dollars — zero floats
    * anywhere, so the fold is trivially engine-portable. The fact table
    * collapses to the bounded day domain first; the sequential
    * recurrence then runs as ONE in-row fold over the sorted day array
    * (a struct accumulator carrying (S, maxS, argmax day), row-local
    * and deterministic), with the oracle replaying the identical
    * recurrence as a recursive CTE on scalar columns (the
    * [[graft.operators.TimeSeries.holt]] convention — DuckDB struct
    * folds are avoided on purpose). Output: the detection summary
    * (days observed, integer mean, peak CUSUM and its day).
    */
  def cusum(t: Tables): DataFrame = {
    val daily = dailyMicros(t)
    daily
      .agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("tot"),
        array_sort(collect_list(struct(col("epoch_day"), col("v")))).as("ser"))
      .withColumn("mu", expr("tot div n"))
      .withColumn("st", expr(
        """aggregate(ser,
          |  named_struct('s', CAST(0 AS BIGINT), 'mx', CAST(0 AS BIGINT),
          |    'arg', CAST(-1 AS BIGINT)),
          |  (acc, x) -> named_struct(
          |    's', greatest(CAST(0 AS BIGINT), acc.s + (x.v - mu)),
          |    'mx', greatest(acc.mx,
          |      greatest(CAST(0 AS BIGINT), acc.s + (x.v - mu))),
          |    'arg', IF(greatest(CAST(0 AS BIGINT), acc.s + (x.v - mu)) > acc.mx,
          |      CAST(x.epoch_day AS BIGINT), acc.arg)))""".stripMargin))
      .select(col("n"), col("mu").as("mu_micros"),
        col("st.mx").as("max_cusum"), col("st.arg").as("peak_day"))
  }

  val cusumSql: String =
    s"""WITH RECURSIVE daily AS (
       | SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
       |   AS epoch_day,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS BIGINT) AS v
       | FROM lineitem GROUP BY 1),
       |m AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(v) AS BIGINT) // COUNT(*) AS mu FROM daily),
       |o AS (
       | SELECT epoch_day, v,
       |  CAST(ROW_NUMBER() OVER (ORDER BY epoch_day) AS BIGINT) AS i
       | FROM daily),
       |f AS (
       | SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS s,
       |  CAST(0 AS BIGINT) AS mx, CAST(-1 AS BIGINT) AS arg
       | UNION ALL
       | SELECT o.i,
       |  greatest(0, f.s + (o.v - m.mu)),
       |  greatest(f.mx, greatest(0, f.s + (o.v - m.mu))),
       |  CASE WHEN greatest(0, f.s + (o.v - m.mu)) > f.mx
       |       THEN o.epoch_day ELSE f.arg END
       | FROM f JOIN o ON o.i = f.i + 1 CROSS JOIN m)
       |SELECT m.n, m.mu AS mu_micros, f.mx AS max_cusum, f.arg AS peak_day
       |FROM f CROSS JOIN m
       |WHERE f.i = (SELECT MAX(i) FROM o)""".stripMargin

  /** Wald–Wolfowitz runs test for randomness of the daily revenue
    * series: days classify above/below the series' own integer mean
    * (ties count as "below" — exact integer comparison, no float
    * threshold), runs count via one LAG pass over the bounded day
    * domain, and the z-statistic evaluates in double from the exact
    * integer counts with the identical expression tree in both engines
    * (the rollingCorr recipe). Too FEW runs ⇒ trending/clustered; too
    * MANY ⇒ oscillating. One fact aggregation + one bounded-domain
    * window; n₁·n₂ products stay far under 2⁵³ for any calendar span.
    */
  def runsTest(t: Tables): DataFrame = {
    val daily = dailyMicros(t)
    val mu = daily.agg(expr("sum(v) div count(1)").as("mu"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("epoch_day")
    daily.crossJoin(broadcast(mu))
      .withColumn("up", (col("v") > col("mu")).cast("int"))
      .withColumn("chg",
        when(lag(col("up"), 1).over(w).isNull ||
          lag(col("up"), 1).over(w) =!= col("up"), 1).otherwise(0))
      .agg(
        count(lit(1)).as("n"),
        sum(col("up")).cast("long").as("n_plus"),
        sum(lit(1) - col("up")).cast("long").as("n_minus"),
        sum(col("chg")).cast("long").as("n_runs"))
      .withColumn("p", col("n_plus") * col("n_minus"))
      .select(col("n"), col("n_plus"), col("n_minus"), col("n_runs"),
        expr("1 + (2*p)/n").as("e_runs"),
        expr("(CAST(n_runs AS DOUBLE) - (1 + (2*p)/n)) / " +
          "sqrt(CAST((2*p) * (2*p - n) AS DOUBLE) / CAST(n*n AS DOUBLE)" +
          " / CAST(n - 1 AS DOUBLE))").as("z"))
  }

  val runsTestSql: String =
    s"""WITH daily AS (
       | SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
       |   AS epoch_day,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS BIGINT) AS v
       | FROM lineitem GROUP BY 1),
       |m AS (SELECT CAST(SUM(v) AS BIGINT) // COUNT(*) AS mu FROM daily),
       |s AS (
       | SELECT epoch_day, CASE WHEN v > m.mu THEN 1 ELSE 0 END AS up
       | FROM daily CROSS JOIN m),
       |c AS (
       | SELECT up,
       |  CASE WHEN LAG(up) OVER (ORDER BY epoch_day) IS NULL
       |        OR LAG(up) OVER (ORDER BY epoch_day) <> up
       |       THEN 1 ELSE 0 END AS chg
       | FROM s),
       |agg AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(up) AS BIGINT) AS n_plus,
       |  CAST(SUM(1 - up) AS BIGINT) AS n_minus,
       |  CAST(SUM(chg) AS BIGINT) AS n_runs
       | FROM c),
       |wp AS (SELECT agg.*, n_plus * n_minus AS p FROM agg)
       |SELECT n, n_plus, n_minus, n_runs,
       | 1 + (2*p)/n AS e_runs,
       | (CAST(n_runs AS DOUBLE) - (1 + (2*p)/n)) /
       |   sqrt(CAST((2*p) * (2*p - n) AS DOUBLE) / CAST(n*n AS DOUBLE)
       |    / CAST(n - 1 AS DOUBLE)) AS z
       |FROM wp""".stripMargin

  val autocorrSql: String = {
    s"""WITH daily AS (
       | SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
       |   AS epoch_day,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS v
       | FROM lineitem GROUP BY 1),
       |pairs AS (
       | SELECT l.lag, a.v AS x, b.v AS y
       | FROM daily a
       | CROSS JOIN (SELECT UNNEST(range(1, ${AcfMaxLag + 1})) AS lag) l
       | JOIN daily b ON b.epoch_day = a.epoch_day + l.lag),
       |sums AS (
       | SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
       |  SUM(x) AS sx, SUM(y) AS sy,
       |  SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
       | FROM pairs GROUP BY 1)
       |SELECT lag, n,
       | (n * ${decToDoubleSql("sxy")} -
       |    ${decToDoubleSql("sx")} * ${decToDoubleSql("sy")}) /
       |  (sqrt(n * ${decToDoubleSql("sxx")} -
       |     ${decToDoubleSql("sx")} * ${decToDoubleSql("sx")}) *
       |   sqrt(n * ${decToDoubleSql("syy")} -
       |     ${decToDoubleSql("sy")} * ${decToDoubleSql("sy")})) AS acf
       |FROM sums ORDER BY lag""".stripMargin
  }

  /** Lorenz curve of supplier revenue within each nation — the
    * distribution behind [[gini]]'s single number (an auditor wants the
    * curve, not just its area): suppliers ranked ascending by revenue,
    * cut into exact deciles, each decile reporting its own and the
    * cumulative revenue share. Decile assignment is the engine-portable
    * integer form `⌈10·rk/n⌉ = (10·rk + n − 1) div n` (NTILE semantics
    * differ across engines when n mod 10 ≠ 0); shares divide
    * exact-integer DECIMAL(38,0) micro sums in double with the oracle's
    * expression tree. The rank window partitions BY NATION (the gini
    * precedent — suppliers-per-nation grows like the dim table) and the
    * cumulative window runs over ≤ 10 decile rows per nation: both
    * bounded, 100 TB-safe.
    */
  def lorenz(t: Tables): DataFrame = {
    val perSupp = nationSupplierUnits(t)
    val w = Window.partitionBy("n_name").orderBy(col("units"), col("l_suppkey"))
    val withN = Window.partitionBy("n_name")
    val cum = Window.partitionBy("n_name").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perSupp
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(withN))
      .withColumn("decile", expr("(10L * rk + n - 1L) div n"))
      .groupBy("n_name", "decile")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("units").cast(d38)).as("dsum"))
      .withColumn("csum", sum(col("dsum")).over(cum))
      .withColumn("tsum", sum(col("dsum")).over(withN))
      .select(col("n_name"), col("decile"), col("n_suppliers"),
        (decToDouble(col("dsum")) / decToDouble(col("tsum")))
          .as("decile_share"),
        (decToDouble(col("csum")) / decToDouble(col("tsum")))
          .as("cum_share"))
      .orderBy("n_name", "decile")
  }

  val lorenzSql: String =
    s"""WITH per_supp AS (
       | SELECT l_suppkey,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS units
       | FROM lineitem GROUP BY 1),
       |ranked AS (
       | SELECT n_name, units,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY n_name
       |    ORDER BY units, l_suppkey) AS BIGINT) AS rk,
       |  CAST(COUNT(*) OVER (PARTITION BY n_name) AS BIGINT) AS n
       | FROM per_supp
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation ON s_nationkey = n_nationkey),
       |dec AS (
       | SELECT n_name, (10 * rk + n - 1) // n AS decile,
       |  CAST(COUNT(*) AS BIGINT) AS n_suppliers, SUM(units) AS dsum
       | FROM ranked GROUP BY 1, 2),
       |cum AS (
       | SELECT n_name, decile, n_suppliers, dsum,
       |  SUM(dsum) OVER (PARTITION BY n_name ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum,
       |  SUM(dsum) OVER (PARTITION BY n_name) AS tsum
       | FROM dec)
       |SELECT n_name, decile, n_suppliers,
       | ${decToDoubleSql("dsum")} / ${decToDoubleSql("tsum")} AS decile_share,
       | ${decToDoubleSql("csum")} / ${decToDoubleSql("tsum")} AS cum_share
       |FROM cum ORDER BY n_name, decile""".stripMargin

  /** Mann-Kendall trend test of monthly nation revenue — the
    * non-parametric "is this series trending" screen (the hypothesis
    * battery's time-series member: [[runsTest]] asks "is it random",
    * this asks "is it monotone"). S = Σ_{i<j} sign(xⱼ − xᵢ) over the
    * month-ordered series; the variance ships as the exact integer
    * 18·Var(S) = n(n−1)(2n+5) − Σₜ t(t−1)(2t+5) with the tie
    * correction from equal-revenue month groups — every output column
    * is pure long arithmetic, no floating step at all.
    *
    * Scale shape: the fact table collapses to (nation × month) rows
    * FIRST (one map-side-combining aggregation; the month domain is the
    * calendar — bounded), so the i<j pair self-join runs over ≤ 84 rows
    * per nation, never the fact table. The [[autocorrSql]] precedent.
    */
  def mkTrend(t: Tables): DataFrame = {
    val monthly = t.lineitem
      .groupBy(col("l_suppkey"), trunc(col("l_shipdate"), "month").as("mon"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("rev"))
      .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "mon")
      .agg(sum(microUnits(col("rev")).cast(d38)).as("units"))
      .select(col("n_name"), col("mon"), col("units"))
      // localCheckpoint, not persist: three consumers (both pair sides
      // + the tie scan) and the nation×month grid is tiny, while a
      // cacheManager persist would build the whole fact aggregation as
      // a CACHED plan with AQE restricted (the verifyJaccard mechanism)
      .localCheckpoint(true)
    val s = monthly.as("a")
      .join(monthly.as("b"),
        col("a.n_name") === col("b.n_name") && col("a.mon") < col("b.mon"))
      .groupBy(col("a.n_name").as("n_name"))
      .agg(sum(when(col("b.units") > col("a.units"), 1L)
          .when(col("b.units") < col("a.units"), -1L).otherwise(0L))
        .cast("long").as("s_stat"))
    val ties = monthly.groupBy("n_name", "units")
      .agg(count(lit(1)).as("t"))
      .groupBy("n_name")
      .agg(count(lit(1)).cast("long").as("n_groups"),
        sum(col("t")).cast("long").as("n_months"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .cast("long").as("tie_term"))
    ties.join(s, Seq("n_name"))
      .select(col("n_name"), col("n_months"), col("s_stat"),
        (col("n_months") * (col("n_months") - 1)
          * (lit(2) * col("n_months") + 5) - col("tie_term"))
          .as("var_s18"),
        when(col("s_stat") > 0, lit("increasing"))
          .when(col("s_stat") < 0, lit("decreasing"))
          .otherwise(lit("none")).as("trend"))
      .orderBy("n_name")
  }

  val mkTrendSql: String =
    s"""WITH monthly AS (
       | -- micros are integral (scale-6 price × 10⁶), so one aggregation
       | -- level here equals the Spark side's supplier-first two-level sum
       | SELECT n_name, date_trunc('month', CAST(l_shipdate AS DATE)) AS mon,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS units
       | FROM lineitem
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation ON s_nationkey = n_nationkey
       | GROUP BY 1, 2),
       |s AS (
       | SELECT a.n_name,
       |  CAST(SUM(CASE WHEN b.units > a.units THEN 1
       |           WHEN b.units < a.units THEN -1 ELSE 0 END) AS BIGINT)
       |    AS s_stat
       | FROM monthly a JOIN monthly b
       |   ON a.n_name = b.n_name AND a.mon < b.mon
       | GROUP BY 1),
       |ties AS (
       | SELECT n_name, CAST(SUM(t) AS BIGINT) AS n_months,
       |  CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
       | FROM (SELECT n_name, units, CAST(COUNT(*) AS BIGINT) AS t
       |       FROM monthly GROUP BY 1, 2)
       | GROUP BY 1)
       |SELECT ties.n_name, n_months, s_stat,
       | n_months * (n_months - 1) * (2 * n_months + 5) - tie_term AS var_s18,
       | CASE WHEN s_stat > 0 THEN 'increasing'
       |      WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend
       |FROM ties JOIN s ON s.n_name = ties.n_name
       |ORDER BY ties.n_name""".stripMargin
}
