package graft.operators

import graft.Tables
import graft.functions.Exact.{cents, d38, dec, decToDouble, decToDoubleSql,
  decToDoubleSigned, decToDoubleSignedSql, discPrice, microUnits, wholeUnits}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-14 statistics widening: information-theoretic diagnostics
  * (entropy / mutual information / Theil inequality), heavy-tail
  * estimation (Hill), observational matching (propensity/caliper), the
  * seasonal Mann-Kendall trend screen, and Spearman rank correlation
  * over the distributed tie-rank machinery.
  *
  * House conventions throughout: every count is an exact long, exact
  * money rides integer micros (reference semantics: etl.py:64-76
  * decimal normalization), double TERM sums are either ordered folds
  * over BOUNDED cell lists (chiSquare convention) or scale-30 decimal
  * sums with the portable 12-decimal rounding (klSourceDrift
  * convention) when the element count is corpus-sized.
  */
object Relational13 {

  // ---------------------------------------------------------------- entropy

  /** Shannon entropy (and perplexity) of the order-priority mix per
    * ship month — "how concentrated did the workload get" as a proper
    * information measure (the diversity twin of the share-based
    * [[Relational8.hhi]]). One fact aggregation to calendar × 5-priority
    * cells; each month's −Σ p·ln p folds over its ≤5 cells in priority
    * order (double addition made order-deterministic, the chiSquare
    * convention).
    */
  def shannonEntropy(t: Tables): DataFrame = {
    val cells = t.orders
      .groupBy(trunc(col("o_orderdate"), "month").as("mon"),
        col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("o"))
    val m = cells.groupBy("mon").agg(sum(col("o")).as("n"))
    cells
      .join(broadcast(m), Seq("mon")) // calendar-bounded dim
      .withColumn("term", expr(
        "-(CAST(o AS DOUBLE) / n) * ln(CAST(o AS DOUBLE) / n)"))
      .groupBy("mon")
      .agg(first(col("n")).as("n"),
        count(lit(1)).as("n_classes"),
        sort_array(collect_list(struct(col("prio"), col("term")))).as("arr"))
      .select(col("mon"), col("n"), col("n_classes"),
        // ln differs in the last ulp across engines' libm — the fold
        // result and anything derived from it get the portable
        // 12-decimal rounding (klSourceDrift convention)
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
          " (a, x) -> a + x.term)")
          .cast(DecimalType(24, 12)).cast("double").as("entropy_nats"))
      .withColumn("perplexity",
        exp(col("entropy_nats")).cast(DecimalType(24, 12)).cast("double"))
      .orderBy("mon")
  }

  val shannonEntropySql: String =
    """WITH cells AS (
      | SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
      |  o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS o
      | FROM orders GROUP BY 1, 2),
      |m AS (SELECT mon, CAST(SUM(o) AS BIGINT) AS n FROM cells GROUP BY 1),
      |terms AS (
      | SELECT cells.mon, prio, n,
      |  -(CAST(o AS DOUBLE) / n) * ln(CAST(o AS DOUBLE) / n) AS term
      | FROM cells JOIN m USING (mon))
      |SELECT mon, CAST(MIN(n) AS BIGINT) AS n,
      | CAST(COUNT(*) AS BIGINT) AS n_classes,
      | CAST(CAST(list_reduce(list(term ORDER BY prio), (a, x) -> a + x)
      |   AS DECIMAL(24,12)) AS DOUBLE) AS entropy_nats,
      | CAST(CAST(exp(CAST(CAST(list_reduce(list(term ORDER BY prio),
      |     (a, x) -> a + x) AS DECIMAL(24,12)) AS DOUBLE))
      |   AS DECIMAL(24,12)) AS DOUBLE) AS perplexity
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- mutual information

  /** Mutual information between event type and day-of-week (nats), with
    * both marginal entropies and the normalized MI — "does WHEN an
    * event happens carry information about WHAT it is", the
    * dependence-strength companion to [[Relational8.chiSquare]] /
    * [[Relational11.cramersV]] on the same bounded grid. All three
    * double folds (cells, row margins, column margins) run in sorted
    * key order over dims-bounded lists.
    */
  def mutualInformation(t: Tables): DataFrame = {
    val cells = Facts.eventWeekdayCells(t)
    val rt = cells.groupBy("typ").agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy("dow").agg(sum(col("o")).as("ct"))
    val n1 = cells.agg(sum(col("o")).as("n"))
    val terms = cells
      .join(broadcast(rt), Seq("typ"))
      .join(broadcast(ct), Seq("dow"))
      .crossJoin(broadcast(n1))
      .withColumn("term", expr(
        """(CAST(o AS DOUBLE) / n) *
          | ln((CAST(o AS DOUBLE) * CAST(n AS DOUBLE)) /
          |    (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))""".stripMargin))
    val hx = rt.crossJoin(broadcast(n1))
      .withColumn("hterm", expr(
        "-(CAST(rt AS DOUBLE) / n) * ln(CAST(rt AS DOUBLE) / n)"))
      .agg(sort_array(collect_list(struct(col("typ"), col("hterm")))).as("a"))
      .select(expr("aggregate(slice(a, 2, size(a) - 1), a[0].hterm," +
        " (acc, x) -> acc + x.hterm)")
        .cast(DecimalType(24, 12)).cast("double").as("h_type"))
    val hy = ct.crossJoin(broadcast(n1))
      .withColumn("hterm", expr(
        "-(CAST(ct AS DOUBLE) / n) * ln(CAST(ct AS DOUBLE) / n)"))
      .agg(sort_array(collect_list(struct(col("dow"), col("hterm")))).as("a"))
      .select(expr("aggregate(slice(a, 2, size(a) - 1), a[0].hterm," +
        " (acc, x) -> acc + x.hterm)")
        .cast(DecimalType(24, 12)).cast("double").as("h_dow"))
    terms
      .agg(first(col("n")).as("n"), count(lit(1)).as("n_cells"),
        sort_array(collect_list(struct(col("typ"), col("dow"), col("term"))))
          .as("arr"))
      .select(col("n").cast("long").as("n"), col("n_cells"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
          " (a, x) -> a + x.term)")
          .cast(DecimalType(24, 12)).cast("double").as("mi_nats"))
      .crossJoin(broadcast(hx))
      .crossJoin(broadcast(hy))
      .withColumn("nmi", (col("mi_nats") / sqrt(col("h_type") * col("h_dow")))
        .cast(DecimalType(24, 12)).cast("double"))
  }

  val mutualInformationSql: String =
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
      |  (CAST(o AS DOUBLE) / nn.n) *
      |   ln((CAST(o AS DOUBLE) * CAST(nn.n AS DOUBLE)) /
      |      (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE))) AS term
      | FROM cells JOIN rt USING (typ) JOIN ct USING (dow) CROSS JOIN nn),
      |hx AS (
      | SELECT CAST(CAST(list_reduce(list(
      |   -(CAST(rt AS DOUBLE) / nn.n) * ln(CAST(rt AS DOUBLE) / nn.n)
      |   ORDER BY typ), (a, x) -> a + x) AS DECIMAL(24,12)) AS DOUBLE)
      |   AS h_type
      | FROM rt CROSS JOIN nn),
      |hy AS (
      | SELECT CAST(CAST(list_reduce(list(
      |   -(CAST(ct AS DOUBLE) / nn.n) * ln(CAST(ct AS DOUBLE) / nn.n)
      |   ORDER BY dow), (a, x) -> a + x) AS DECIMAL(24,12)) AS DOUBLE)
      |   AS h_dow
      | FROM ct CROSS JOIN nn),
      |mi AS (
      | SELECT (SELECT n FROM nn) AS n, CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST(CAST(list_reduce(list(term ORDER BY typ, dow), (a, x) -> a + x)
      |    AS DECIMAL(24,12)) AS DOUBLE) AS mi_nats
      | FROM terms)
      |SELECT n, n_cells, mi_nats, h_type, h_dow,
      | CAST(CAST(mi_nats / sqrt(h_type * h_dow) AS DECIMAL(24,12)) AS DOUBLE)
      |   AS nmi
      |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin

  // ------------------------------------------------------ Theil index

  /** Theil T inequality of customer revenue, decomposed by nation:
    * per nation the WITHIN-group index T_g = Σ_{i∈g} (xᵢ/X_g)·ln(xᵢ·n_g/X_g)
    * and the BETWEEN contribution s_g·ln(μ_g/μ) — the additive
    * inequality decomposition ("is revenue concentration a within-market
    * or a between-market story") that Gini cannot provide
    * ([[Relational8.gini]]'s decomposable companion). Customer revenue
    * is an exact micro-integer; each term is a double formula of exact
    * arguments (corpus totals through the hi/lo split), and the
    * corpus-sized term sum rides the scale-30 decimal + 12-decimal
    * rounding (klSourceDrift convention). Global totals derive from the
    * nation margins — the fact table aggregates exactly once.
    */
  def theilIndex(t: Tables): DataFrame = {
    val perCust = Facts.customerRevenue(t)
      .select(col("o_custkey"), microUnits(col("rev")).cast("long").as("x"))
      .join(broadcast(t.customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("x"))
    val byNation = perCust.groupBy("n_name")
      .agg(count(lit(1)).as("n_g"), sum(col("x").cast(d38)).as("tot_g"))
      .localCheckpoint(true) // feeds global margins + the term join
    val global = byNation.agg(
      sum(col("n_g")).as("n"), sum(col("tot_g")).as("tot"))
    val totgD = decToDouble(col("tot_g"))
    val terms = perCust
      .join(broadcast(byNation), Seq("n_name"))
      .withColumn("term",
        (col("x").cast("double") / totgD) *
          log(col("x").cast("double") * col("n_g").cast("double") / totgD))
    terms.groupBy("n_name")
      .agg(first(col("n_g")).as("n_cust"), first(col("tot_g")).as("tot_g"),
        sum(col("term").cast(DecimalType(38, 30))).cast("double")
          .cast(DecimalType(24, 12)).cast("double").as("t_within"))
      .crossJoin(broadcast(global))
      .select(col("n_name"), col("n_cust"),
        expr("CAST(tot_g div 1000000 AS BIGINT)").as("rev"),
        col("t_within"),
        (decToDouble(col("tot_g")) / decToDouble(col("tot")))
          .cast(DecimalType(24, 12)).cast("double").as("share"),
        ((decToDouble(col("tot_g")) / decToDouble(col("tot"))) *
          log((decToDouble(col("tot_g")) * col("n").cast("double")) /
            (decToDouble(col("tot")) * col("n_cust").cast("double"))))
          .cast(DecimalType(24, 12)).cast("double").as("between_term"))
      .orderBy("n_name")
  }

  val theilIndexSql: String = {
    val totgD = decToDoubleSql("tot_g")
    val totD = decToDoubleSql("tot")
    s"""WITH per_cust AS (
       | SELECT n_name,
       |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 1000000
       |    AS HUGEINT) AS BIGINT) AS x
       | FROM orders
       | JOIN customer ON o_custkey = c_custkey
       | JOIN nation ON c_nationkey = n_nationkey
       | GROUP BY n_name, o_custkey),
       |by_nation AS (
       | SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_g,
       |  CAST(SUM(x) AS HUGEINT) AS tot_g
       | FROM per_cust GROUP BY 1),
       |g_tot AS (
       | SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(tot_g) AS HUGEINT) AS tot
       | FROM by_nation),
       |terms AS (
       | SELECT per_cust.n_name,
       |  (CAST(x AS DOUBLE) / $totgD) *
       |   ln(CAST(x AS DOUBLE) * CAST(n_g AS DOUBLE) / $totgD) AS term
       | FROM per_cust JOIN by_nation USING (n_name)),
       |within AS (
       | SELECT n_name,
       |  CAST(CAST(CAST(SUM(CAST(term AS DECIMAL(38,30))) AS DOUBLE)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS t_within
       | FROM terms GROUP BY 1)
       |SELECT by_nation.n_name, n_g AS n_cust,
       | CAST(tot_g // 1000000 AS BIGINT) AS rev,
       | t_within,
       | CAST(CAST($totgD / $totD AS DECIMAL(24,12)) AS DOUBLE) AS share,
       | CAST(CAST(($totgD / $totD) *
       |   ln(($totgD * CAST(n AS DOUBLE)) / ($totD * CAST(n_g AS DOUBLE)))
       |   AS DECIMAL(24,12)) AS DOUBLE) AS between_term
       |FROM by_nation JOIN within USING (n_name) CROSS JOIN g_tot
       |ORDER BY by_nation.n_name""".stripMargin
  }

  // -------------------------------------------------------- Hill tail

  /** Number of top order statistics the Hill estimator uses:
    * k = min(1000, ⌈n/100⌉) — corpus-derived up to a bounded cap, so
    * the top-(k+1) reduction stays a TakeOrdered at any scale.
    */
  private[graft] def hillK(n: Long): Int =
    math.min(1000L, math.ceil(n / 100.0).toLong).toInt

  /** Hill estimator of the order-value tail index: over the k largest
    * order totals x₍₁₎ ≥ … ≥ x₍ₖ₎ with threshold x₍ₖ₊₁₎,
    * 1/α = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) — "how heavy is the big-order tail",
    * the Pareto-tail companion to [[Relational8.lorenz]]. The top-(k+1)
    * reduction is a TakeOrderedAndProject (per-partition top-k then
    * merge — never a global sort); the ≤1001 survivors fold in rank
    * order inside one bounded array, so the log sum is
    * order-deterministic. One driver `count()` sizes k (the
    * corpus-derived-constant convention, heapsLadder/TwoNN precedent).
    */
  def hillTail(t: Tables): DataFrame = {
    val n = t.orders.count()
    val k = hillK(n)
    val top = Facts.ordersByPrice(t).limit(k + 1)
      .select(microUnits(col("price")).cast("long").as("u"), col("ok"))
    top
      .agg(sort_array(collect_list(struct((-col("u")).as("nu"), col("ok"))))
        .as("arr"))
      .select(lit(n).as("n"), lit(k.toLong).as("k"),
        expr(s"CAST(-arr[$k].nu AS BIGINT)").as("thr_units"),
        expr(s"""aggregate(slice(arr, 1, $k), CAST(0.0 AS DOUBLE),
          | (a, x) -> a + ln(CAST(-x.nu AS DOUBLE) /
          |                  CAST(-arr[$k].nu AS DOUBLE)))""".stripMargin)
          .cast(DecimalType(24, 12)).cast("double").as("sum_log"))
      .withColumn("alpha", (col("k").cast("double") / col("sum_log"))
        .cast(DecimalType(24, 12)).cast("double"))
      .withColumn("alpha_inv", (col("sum_log") / col("k").cast("double"))
        .cast(DecimalType(24, 12)).cast("double"))
  }

  /** Oracle: k replays the identical min(1000, ceil(n/100)) rule; the
    * ranked list folds in the same (value desc, key asc) order (DuckDB
    * lists are 1-based: threshold at arr[k+1]).
    */
  val hillTailSql: String =
    """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
      |kk AS (SELECT n, CAST(LEAST(1000, CEIL(n / 100.0)) AS BIGINT) AS k
      |       FROM nn),
      |vals AS (
      | SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT)
      |   AS u, o_orderkey AS ok
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
      |  CAST(CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(arr[1:CAST(k AS INT)],
      |      x -> ln(CAST(-x.nu AS DOUBLE) /
      |              CAST(-arr[CAST(k AS INT) + 1].nu AS DOUBLE)))),
      |    (a, x) -> a + x) AS DECIMAL(24,12)) AS DOUBLE) AS sum_log
      | FROM packed CROSS JOIN kk)
      |SELECT n, k, thr_units, sum_log,
      | CAST(CAST(CAST(k AS DOUBLE) / sum_log AS DECIMAL(24,12)) AS DOUBLE)
      |   AS alpha,
      | CAST(CAST(sum_log / CAST(k AS DOUBLE) AS DECIMAL(24,12)) AS DOUBLE)
      |   AS alpha_inv
      |FROM folded""".stripMargin

  // ---------------------------------------------- propensity matching

  private val CaliperCents = 1000L // $10.00
  private val BalShift = 100000L   // acctbal ≥ −999.99 → cents + shift ≥ 0

  /** Caliper nearest-neighbor matching: every BUILDING-segment customer
    * (treated) matched to its closest non-BUILDING customer (control)
    * by account balance within a $10 caliper — with-replacement
    * matching, ties to the smaller control key; the observational
    * step [[Relational10.did]]'s design needs. The n² nearest-neighbor
    * scan collapses to an equi-join on caliper-width balance buckets
    * (a true neighbor is in the treated row's bucket ±1), then one
    * argmin per treated row — everything equi-join + aggregation,
    * never a pair space. The oracle runs the literal all-pairs argmin.
    */
  def propensityMatch(t: Tables): DataFrame = {
    val c = t.customer.select(col("c_custkey").as("key"),
      cents(dec(col("c_acctbal"))).as("cents"),
      (col("c_mktsegment") === "BUILDING").as("treated"))
    val tr = c.where(col("treated"))
      .select(col("key").as("t_key"), col("cents").as("t_cents"),
        explode(array((-1 to 1).map(d =>
          expr(s"(cents + $BalShift) div $CaliperCents + $d")): _*))
          .as("bucket"))
    val ctl = c.where(!col("treated"))
      .select(col("key").as("c_key"), col("cents").as("c_cents"),
        expr(s"(cents + $BalShift) div $CaliperCents").as("bucket"))
    tr.join(ctl, Seq("bucket"))
      .where(abs(col("t_cents") - col("c_cents")) <= CaliperCents)
      .groupBy("t_key", "t_cents")
      .agg(min(struct(abs(col("t_cents") - col("c_cents")).as("diff"),
        col("c_key"), col("c_cents"))).as("m"))
      .select(col("t_key"), col("t_cents"), col("m.c_key").as("c_key"),
        col("m.c_cents").as("c_cents"), col("m.diff").as("diff_cents"))
      .orderBy("t_key")
  }

  val propensityMatchSql: String =
    s"""WITH c AS (
       | SELECT c_custkey AS key,
       |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
       |  c_mktsegment = 'BUILDING' AS treated
       | FROM customer),
       |m AS (
       | SELECT t.key AS t_key, t.cents AS t_cents,
       |  ctl.key AS c_key, ctl.cents AS c_cents,
       |  abs(t.cents - ctl.cents) AS diff_cents,
       |  ROW_NUMBER() OVER (PARTITION BY t.key
       |    ORDER BY abs(t.cents - ctl.cents), ctl.key) AS rn
       | FROM c t JOIN c ctl
       |   ON t.treated AND NOT ctl.treated
       |  AND abs(t.cents - ctl.cents) <= $CaliperCents)
       |SELECT t_key, t_cents, c_key, c_cents, diff_cents
       |FROM m WHERE rn = 1 ORDER BY t_key""".stripMargin

  // ------------------------------------------------- seasonal Mann-Kendall

  /** Net revenue per ship month in exact micros (`mon`, `units` as
    * DECIMAL(38,0)): the calendar-bounded input of [[seasonalMk]] and
    * [[friedmanTest]].
    */
  private def monthlyUnits(t: Tables): DataFrame =
    t.lineitem
      .groupBy(trunc(col("l_shipdate"), "month").as("mon"))
      .agg(sum(microUnits(discPrice(col("l_extendedprice"), col("l_discount")))
        .cast(d38)).as("units"))

  /** Seasonal Mann-Kendall: the [[Relational8.mkTrend]] statistic
    * computed WITHIN each month-of-year (January-to-January pairs only,
    * etc.) so a strong seasonal cycle cannot masquerade as — or mask —
    * a monotone trend. Per season: S = Σ_{i<j} sign(xⱼ−xᵢ) over that
    * season's year series and the exact integer 18·Var(S) with tie
    * correction. The fact table collapses to calendar-bounded monthly
    * revenue FIRST; the i<j self-join runs over ≤7 rows per season.
    */
  def seasonalMk(t: Tables): DataFrame = {
    val monthly = monthlyUnits(t)
      .select(month(col("mon")).cast("long").as("moy"),
        year(col("mon")).cast("long").as("yr"), col("units"))
      .localCheckpoint(true) // both pair sides + the tie scan
    val s = monthly.as("a")
      .join(monthly.as("b"),
        col("a.moy") === col("b.moy") && col("a.yr") < col("b.yr"))
      .groupBy(col("a.moy").as("moy"))
      .agg(sum(when(col("b.units") > col("a.units"), 1L)
          .when(col("b.units") < col("a.units"), -1L).otherwise(0L))
        .cast("long").as("s_stat"))
    val ties = monthly.groupBy("moy", "units")
      .agg(count(lit(1)).as("tt"))
      .groupBy("moy")
      .agg(sum(col("tt")).cast("long").as("n_years"),
        sum(col("tt") * (col("tt") - 1) * (lit(2) * col("tt") + 5))
          .cast("long").as("tie_term"))
    ties.join(s, Seq("moy"))
      .select(col("moy"), col("n_years"), col("s_stat"),
        (col("n_years") * (col("n_years") - 1)
          * (lit(2) * col("n_years") + 5) - col("tie_term")).as("var_s18"),
        when(col("s_stat") > 0, lit("increasing"))
          .when(col("s_stat") < 0, lit("decreasing"))
          .otherwise(lit("none")).as("trend"))
      .orderBy("moy")
  }

  val seasonalMkSql: String =
    """WITH monthly AS (
      | SELECT CAST(month(date_trunc('month', CAST(l_shipdate AS DATE)))
      |    AS BIGINT) AS moy,
      |  CAST(year(date_trunc('month', CAST(l_shipdate AS DATE)))
      |    AS BIGINT) AS yr,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
      |    * 1000000 AS HUGEINT) AS units
      | FROM lineitem GROUP BY 1, 2),
      |s AS (
      | SELECT a.moy,
      |  CAST(SUM(CASE WHEN b.units > a.units THEN 1
      |           WHEN b.units < a.units THEN -1 ELSE 0 END) AS BIGINT)
      |    AS s_stat
      | FROM monthly a JOIN monthly b ON a.moy = b.moy AND a.yr < b.yr
      | GROUP BY 1),
      |ties AS (
      | SELECT moy, CAST(SUM(tt) AS BIGINT) AS n_years,
      |  CAST(SUM(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT) AS tie_term
      | FROM (SELECT moy, units, CAST(COUNT(*) AS BIGINT) AS tt
      |       FROM monthly GROUP BY 1, 2)
      | GROUP BY 1)
      |SELECT ties.moy, n_years, s_stat,
      | n_years * (n_years - 1) * (2 * n_years + 5) - tie_term AS var_s18,
      | CASE WHEN s_stat > 0 THEN 'increasing'
      |      WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend
      |FROM ties JOIN s ON s.moy = ties.moy
      |ORDER BY ties.moy""".stripMargin

  // ---------------------------------------------------------- Spearman

  /** Spearman rank correlation between per-part revenue and per-part
    * shipped quantity — "does moving more units move more money,
    * MONOTONICALLY" (Pearson's outlier-immune sibling;
    * [[Relational12.kendallTau]]'s O(n·distinct) companion at pure
    * aggregation cost). Tie-averaged ranks stay EXACT in DOUBLED form
    * (a tie group of c after s predecessors gives every member
    * 2R = 2s+c+1, the mannWhitney identity); BOTH metrics' predecessor
    * counts ride ONE distributed prefix scan by tagging value groups
    * with a metric id and range-partitioning on (metric, value) — the
    * cross-metric prefix leak is exactly the other metric's total n,
    * subtracted back. Pearson over the doubled ranks runs on
    * DECIMAL(38,0) power sums (4n³ overflows longs at corpus scale)
    * with one final double conversion through the hi/lo split.
    */
  def spearman(t: Tables): DataFrame = {
    val per = t.lineitem
      .groupBy("l_partkey")
      .agg(microUnits(sum(discPrice(col("l_extendedprice"), col("l_discount"))))
          .cast("long").as("ux"),
        (sum(dec(col("l_quantity"))) * 100).cast("long").as("uy"))
      .localCheckpoint(true) // feeds the tagged scan + the rank joins
    // one scan, both metrics: value groups tagged m ∈ {0 = revenue,
    // 1 = quantity}; the exclusive prefix over (m, v) order gives
    // metric 1 an offset of n (metric 0's total) — subtracted below
    val tagged = per.select(lit(0L).as("m"), col("ux").as("v"))
      .unionByName(per.select(lit(1L).as("m"), col("uy").as("v")))
      .groupBy("m", "v").agg(count(lit(1)).as("c"))
    val scanned = graft.operators.Ranks.withGlobalPrefixAggs(tagged,
      Seq(col("m"), col("v")), Seq(("s0", col("c"), "sum", false)))
    val nRow = per.agg(count(lit(1)).as("n"))
    val ranks = scanned
      .crossJoin(broadcast(nRow))
      .select(col("m"), col("v"),
        (lit(2) * (coalesce(col("s0"), lit(0L)) - col("m") * col("n"))
          + col("c") + 1).as("r2"))
    val rx = ranks.where(col("m") === 0).select(col("v").as("ux"), col("r2").as("rx2"))
    val ry = ranks.where(col("m") === 1).select(col("v").as("uy"), col("r2").as("ry2"))
    per.join(rx, Seq("ux")).join(ry, Seq("uy"))
      .agg(count(lit(1)).as("n"),
        sum(col("rx2").cast(d38)).as("sx"),
        sum(col("ry2").cast(d38)).as("sy"),
        sum((col("rx2") * col("rx2")).cast(d38)).as("sxx"),
        sum((col("ry2") * col("ry2")).cast(d38)).as("syy"),
        sum((col("rx2") * col("ry2")).cast(d38)).as("sxy"))
      .select(col("n").cast("long").as("n"),
        (decToDoubleSigned(col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt(decToDouble(col("n") * col("sxx") - col("sx") * col("sx")) *
            decToDouble(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("spearman_rho"))
  }

  val spearmanSql: String = {
    s"""WITH per AS (
       | SELECT l_partkey,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS BIGINT) AS ux,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS uy
       | FROM lineitem GROUP BY 1),
       |ranked AS (
       | SELECT
       |  2 * (RANK() OVER (ORDER BY ux) - 1)
       |   + CAST(COUNT(*) OVER (PARTITION BY ux) AS BIGINT) + 1 AS rx2,
       |  2 * (RANK() OVER (ORDER BY uy) - 1)
       |   + CAST(COUNT(*) OVER (PARTITION BY uy) AS BIGINT) + 1 AS ry2
       | FROM per),
       |sums AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(rx2) AS HUGEINT) AS sx, CAST(SUM(ry2) AS HUGEINT) AS sy,
       |  CAST(SUM(CAST(rx2 AS HUGEINT) * rx2) AS HUGEINT) AS sxx,
       |  CAST(SUM(CAST(ry2 AS HUGEINT) * ry2) AS HUGEINT) AS syy,
       |  CAST(SUM(CAST(rx2 AS HUGEINT) * ry2) AS HUGEINT) AS sxy
       | FROM ranked)
       |SELECT n,
       | ${decToDoubleSignedSql("(n * sxy - sx * sy)")} /
       |  sqrt(${decToDoubleSql("(n * sxx - sx * sx)")} *
       |       ${decToDoubleSql("(n * syy - sy * sy)")}) AS spearman_rho
       |FROM sums""".stripMargin
  }

  // ------------------------------------------------- Kruskal-Wallis

  /** Kruskal–Wallis rank test of customer revenue across market
    * segments — the >2-group non-parametric ANOVA completing the
    * hypothesis battery ([[Relational11.anova]] assumes normality;
    * [[Relational8.mannWhitney]] handles two groups). Tie-averaged
    * ranks stay exact in DOUBLED form (2R = 2s+c+1 per value group, the
    * mannWhitney identity) over ONE distributed prefix scan of the
    * value domain; each group's rank sum is then Σ cnt_{g,v}·2R(v) in
    * exact DECIMAL(38,0). H folds over the ≤#segments group terms in
    * segment order; the tie correction 1 − Σ(t³−t)/(N³−N) uses exact
    * integer tie counts. All log-free doubles take the 12-dec rounding.
    */
  def kruskalWallis(t: Tables): DataFrame = {
    val perCust = Facts.customerRevenue(t)
      .select(col("o_custkey"), microUnits(col("rev")).cast("long").as("x"))
      .join(broadcast(t.customer.select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("x"))
    val byValue = perCust.groupBy("x").agg(count(lit(1)).as("c"))
    val scanned = Ranks.withGlobalPrefixAggs(byValue, Seq(col("x")),
      Seq(("s0", col("c"), "sum", false)))
    val ranks = scanned.select(col("x"),
      (lit(2) * coalesce(col("s0"), lit(0L)) + col("c") + 1).as("r2"),
      col("c"))
    val bySegVal = perCust.groupBy("seg", "x").agg(count(lit(1)).as("cnt"))
    val groupSums = bySegVal.join(ranks, Seq("x"))
      .groupBy("seg")
      .agg(sum(col("cnt")).cast("long").as("n_g"),
        sum((col("cnt") * col("r2")).cast(d38)).as("sum2r"))
    val ties = byValue.agg(
      sum(col("c")).cast("long").as("n"),
      sum((col("c") * col("c") * col("c") - col("c")).cast(d38)).as("tie3"))
    groupSums
      .withColumn("term",
        (decToDouble(col("sum2r")) * decToDouble(col("sum2r")) /
          (lit(4.0) * col("n_g").cast("double"))))
      .agg(count(lit(1)).as("k_groups"),
        sort_array(collect_list(struct(col("seg"), col("term")))).as("arr"))
      .select(col("k_groups").cast("long").as("k_groups"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
          " (a, x) -> a + x.term)").as("rsum"))
      .crossJoin(broadcast(ties))
      .select(col("n"), col("k_groups"),
        ((lit(12.0) / (col("n").cast("double") * (col("n").cast("double") + 1)))
          * col("rsum") - lit(3.0) * (col("n").cast("double") + 1))
          .cast(DecimalType(24, 12)).cast("double").as("h"),
        (((lit(12.0) / (col("n").cast("double") * (col("n").cast("double") + 1)))
          * col("rsum") - lit(3.0) * (col("n").cast("double") + 1)) /
          (lit(1.0) - decToDouble(col("tie3")) /
            (col("n").cast("double") * col("n").cast("double")
              * col("n").cast("double") - col("n").cast("double"))))
          .cast(DecimalType(24, 12)).cast("double").as("h_tie_corrected"))
  }

  val kruskalWallisSql: String = {
    val s2rD = decToDoubleSql("sum2r")
    val tie3D = decToDoubleSql("tie3")
    s"""WITH per_cust AS (
       | SELECT c_mktsegment AS seg,
       |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 1000000
       |    AS HUGEINT) AS BIGINT) AS x
       | FROM orders JOIN customer ON o_custkey = c_custkey
       | GROUP BY seg, o_custkey),
       |ranked AS (
       | SELECT seg, x,
       |  2 * (RANK() OVER (ORDER BY x) - 1)
       |   + CAST(COUNT(*) OVER (PARTITION BY x) AS BIGINT) + 1 AS r2
       | FROM per_cust),
       |grp AS (
       | SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_g,
       |  CAST(SUM(r2) AS HUGEINT) AS sum2r
       | FROM ranked GROUP BY 1),
       |ties AS (
       | SELECT CAST(SUM(c) AS BIGINT) AS n,
       |  CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS tie3
       | FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM per_cust GROUP BY 1)),
       |folded AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
       |  list_reduce(list($s2rD * $s2rD / (4.0 * CAST(n_g AS DOUBLE))
       |    ORDER BY seg), (a, x) -> a + x) AS rsum
       | FROM grp)
       |SELECT n, k_groups,
       | CAST(CAST((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)))
       |   * rsum - 3.0 * (CAST(n AS DOUBLE) + 1) AS DECIMAL(24,12))
       |   AS DOUBLE) AS h,
       | CAST(CAST(((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)))
       |   * rsum - 3.0 * (CAST(n AS DOUBLE) + 1)) /
       |   (1.0 - $tie3D / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
       |     * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
       |   AS DECIMAL(24,12)) AS DOUBLE) AS h_tie_corrected
       |FROM folded CROSS JOIN ties""".stripMargin
  }

  // ---------------------------------------------------- Friedman test

  /** Friedman rank test: do the 12 calendar months rank consistently
    * across COMPLETE years — the repeated-measures companion to
    * [[seasonalMk]] (MK asks "monotone across years per season",
    * Friedman asks "is there ANY consistent month effect"). Blocks =
    * years with all 12 months observed; ranks are tie-averaged DOUBLED
    * ranks WITHIN each year (a bounded 12-row window partitioned by
    * year — never global); χ²_F = 12/(n·k·(k+1))·ΣR_j² − 3n(k+1) folds
    * over the 12 month terms in month order.
    */
  def friedmanTest(t: Tables): DataFrame = {
    val monthly = monthlyUnits(t)
      .select(year(col("mon")).cast("long").as("yr"),
        month(col("mon")).cast("long").as("moy"), col("units"))
    val complete = monthly.groupBy("yr").agg(count(lit(1)).as("km"))
      .where(col("km") === 12).select("yr")
    val inBlocks = monthly.join(broadcast(complete), Seq("yr"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("yr").orderBy("units")
    val wTies = org.apache.spark.sql.expressions.Window
      .partitionBy("yr", "units")
    val ranked = inBlocks
      .withColumn("r2", lit(2) * (rank().over(wRank) - 1)
        + count(lit(1)).over(wTies) + 1)
    val perMonth = ranked.groupBy("moy")
      .agg(count(lit(1)).as("n_b"), sum(col("r2")).cast("long").as("r2sum"))
    perMonth
      .agg(first(col("n_b")).as("n_blocks"), count(lit(1)).as("k"),
        sort_array(collect_list(struct(col("moy"),
          (col("r2sum").cast("double") * col("r2sum").cast("double") / 4.0)
            .as("term")))).as("arr"))
      .select(col("n_blocks").cast("long").as("n_blocks"),
        col("k").cast("long").as("k"),
        expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
          " (a, x) -> a + x.term)").as("rsum"))
      .select(col("n_blocks"), col("k"),
        ((lit(12.0) / (col("n_blocks").cast("double") * col("k").cast("double")
          * (col("k").cast("double") + 1))) * col("rsum")
          - lit(3.0) * col("n_blocks").cast("double") * (col("k").cast("double") + 1))
          .cast(DecimalType(24, 12)).cast("double").as("chi2_f"))
  }

  val friedmanTestSql: String =
    """WITH monthly AS (
      | SELECT CAST(year(date_trunc('month', CAST(l_shipdate AS DATE)))
      |    AS BIGINT) AS yr,
      |  CAST(month(date_trunc('month', CAST(l_shipdate AS DATE)))
      |    AS BIGINT) AS moy,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
      |    * 1000000 AS HUGEINT) AS units
      | FROM lineitem GROUP BY 1, 2),
      |complete AS (
      | SELECT yr FROM monthly GROUP BY yr HAVING COUNT(*) = 12),
      |ranked AS (
      | SELECT moy,
      |  2 * (RANK() OVER (PARTITION BY yr ORDER BY units) - 1)
      |   + CAST(COUNT(*) OVER (PARTITION BY yr, units) AS BIGINT) + 1 AS r2
      | FROM monthly JOIN complete USING (yr)),
      |per_month AS (
      | SELECT moy, CAST(COUNT(*) AS BIGINT) AS n_b,
      |  CAST(SUM(r2) AS BIGINT) AS r2sum
      | FROM ranked GROUP BY 1),
      |folded AS (
      | SELECT CAST(MIN(n_b) AS BIGINT) AS n_blocks,
      |  CAST(COUNT(*) AS BIGINT) AS k,
      |  list_reduce(list(CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE) / 4.0
      |    ORDER BY moy), (a, x) -> a + x) AS rsum
      | FROM per_month)
      |SELECT n_blocks, k,
      | CAST(CAST((12.0 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
      |   * (CAST(k AS DOUBLE) + 1))) * rsum
      |   - 3.0 * CAST(n_blocks AS DOUBLE) * (CAST(k AS DOUBLE) + 1)
      |   AS DECIMAL(24,12)) AS DOUBLE) AS chi2_f
      |FROM folded""".stripMargin

  // ------------------------------------------------- extreme value

  /** Euler–Mascheroni constant for the Gumbel moment fit. */
  private val EulerGamma = 0.5772156649015329

  /** Extreme-value (Gumbel) fit of monthly-maximum daily revenue by the
    * method of moments — "how bad can a peak day get": block maxima
    * (calendar months) reduce the fact table twice (daily totals, then
    * monthly maxima — both calendar-bounded), the sample mean/std of
    * the maxima come from exact integer power sums, and
    * β = s·√6/π, μ = m − γ·β give the 100-block return level
    * μ − β·ln(−ln(1 − 1/100)). Every double is a fixed formula of
    * exact integers (constants as literals), 12-dec rounded.
    */
  def extremeValue(t: Tables): DataFrame = {
    // WHOLE currency units (micros div 10⁶), not micros: Σmx² must stay
    // inside decToDouble's exactness envelope (hi < 2⁵³, i.e. sums
    // < ~9·10²⁴ — micros squared blow past it and the hi conversion
    // rounding is then engine-specific)
    val daily = Facts.dailyRevenue(t)
      .select(col("d"), wholeUnits(col("rev")).cast(d38).as("units"))
    val monthlyMax = daily
      .groupBy(trunc(col("d"), "month").as("mon"))
      .agg(max(col("units")).as("mx"))
    monthlyMax
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("mx")).as("sx"),
        sum(col("mx") * col("mx")).as("sxx"))
      .select(col("n_blocks").cast("long").as("n_blocks"),
        (decToDouble(col("sx")) / col("n_blocks")).as("m"),
        sqrt((decToDouble(col("sxx")) -
          decToDouble(col("sx")) * decToDouble(col("sx")) / col("n_blocks")) /
          (col("n_blocks") - 1)).as("s"))
      .select(col("n_blocks"),
        col("m").cast(DecimalType(24, 12)).cast("double").as("mean_max"),
        col("s").cast(DecimalType(24, 12)).cast("double").as("std_max"),
        (col("s") * sqrt(lit(6.0)) / lit(math.Pi))
          .cast(DecimalType(24, 12)).cast("double").as("gumbel_beta"),
        (col("m") - lit(EulerGamma) * col("s") * sqrt(lit(6.0)) / lit(math.Pi))
          .cast(DecimalType(24, 12)).cast("double").as("gumbel_mu"),
        ((col("m") - lit(EulerGamma) * col("s") * sqrt(lit(6.0)) / lit(math.Pi))
          - (col("s") * sqrt(lit(6.0)) / lit(math.Pi))
            * log(-log(lit(1.0) - lit(0.01))))
          .cast(DecimalType(24, 12)).cast("double").as("return_level_100"))
  }

  val extremeValueSql: String = {
    val sxD = decToDoubleSql("sx")
    val sxxD = decToDoubleSql("sxx")
    s"""WITH daily AS (
       | SELECT CAST(l_shipdate AS DATE) AS d,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) // 1000000 AS units
       | FROM lineitem GROUP BY 1),
       |mm AS (
       | SELECT date_trunc('month', d) AS mon, MAX(units) AS mx
       | FROM daily GROUP BY 1),
       |agg AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
       |  CAST(SUM(mx) AS HUGEINT) AS sx,
       |  CAST(SUM(mx * mx) AS HUGEINT) AS sxx
       | FROM mm),
       |stats AS (
       | SELECT n_blocks,
       |  $sxD / n_blocks AS m,
       |  sqrt(($sxxD - $sxD * $sxD / n_blocks) / (n_blocks - 1)) AS s
       | FROM agg)
       |SELECT n_blocks,
       | CAST(CAST(m AS DECIMAL(24,12)) AS DOUBLE) AS mean_max,
       | CAST(CAST(s AS DECIMAL(24,12)) AS DOUBLE) AS std_max,
       | CAST(CAST(s * sqrt(6.0) / pi() AS DECIMAL(24,12)) AS DOUBLE)
       |   AS gumbel_beta,
       | CAST(CAST(m - $EulerGamma * s * sqrt(6.0) / pi()
       |   AS DECIMAL(24,12)) AS DOUBLE) AS gumbel_mu,
       | CAST(CAST((m - $EulerGamma * s * sqrt(6.0) / pi())
       |   - (s * sqrt(6.0) / pi()) * ln(-ln(1.0 - 0.01))
       |   AS DECIMAL(24,12)) AS DOUBLE) AS return_level_100
       |FROM stats""".stripMargin
  }
}
