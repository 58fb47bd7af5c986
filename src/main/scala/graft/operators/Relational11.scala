package graft.operators

import graft.Tables
import graft.functions.Exact.{cents, d38, dec, discPrice, microUnits}
import graft.functions.PortableHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-12 statistical inference operators: resampling-based
  * uncertainty (Poisson bootstrap), experiment-health auditing
  * (sample-ratio mismatch), and categorical association screening
  * (Cramér's V) — the inference layer an analytics engine needs on top
  * of point estimates.
  *
  * House rules throughout: every random draw is a PORTABLE HASH of the
  * row key (never rand() — reruns, retries, and the DuckDB oracle
  * reproduce the exact decision), every aggregate is exact-integer (or
  * an ordered fold where a double sum is unavoidable), and every double
  * in the output is a single final division of exact integers.
  *
  * Reference scope: the reference's ETL surface (see /root/reference
  * src/etl/etl.py) stops at point aggregates; this file is part of the
  * analytics extension surface.
  */
object Relational11 {

  /** Bootstrap resamples. 32 keeps the resample axis a bounded in-task
    * fan-out (the explode collapses under map-side combine) while the
    * 2nd/31st order statistics bracket a ~94% percentile interval.
    */
  private val BootB = 32

  /** Cumulative Poisson(1) CDF thresholds in 2⁶⁰ units — the inverse-CDF
    * ladder mapping a uniform 60-bit hash to a Poisson(1) resample
    * weight. Integer literals (precomputed once) so BOTH engines compare
    * the raw 60-bit hash against identical longs: no float parsing, no
    * libm, bit-identical weights everywhere.
    */
  private val PoisCdf60 = Seq(
    424136118829305344L,  // P(X<=0)
    848272237658610688L,  // P(X<=1)
    1060340297073263360L, // P(X<=2)
    1131029650211480917L, // P(X<=3)
    1148701988496035306L, // P(X<=4)
    1152236456152946184L) // P(X<=5)

  /** Poisson(1) weight of resample `b` for key column `k` (long). */
  private def poisWeight(k: Column, b: Column): Column = {
    val h = PortableHash.hash60(k * lit(BootB.toLong) + b)
    PoisCdf60.zipWithIndex.foldRight(lit(6): Column) { case ((t, i), acc) =>
      when(h < lit(t), lit(i)).otherwise(acc)
    }
  }

  /** Poisson bootstrap confidence intervals for mean order value per
    * order priority — THE scalable bootstrap (Chamandy et al.'s Poisson
    * approximation, public knowledge): instead of B full resamples (B
    * shuffles of the data), every row draws an independent Poisson(1)
    * weight per resample from a hash of its key, so all B resamples
    * ride ONE scan — the explode(0..B−1) fans out in-task and map-side
    * combine collapses it to B·|groups| partial rows before the only
    * shuffle. Per (group, b): mean_b = Σ w·x_micros / Σ w (exact integer
    * sums, one double division). The interval is the percentile
    * bootstrap: 2nd/31st order statistics of the 32 resample means,
    * picked from a sorted bounded array (B-bounded, never data-sized).
    *
    * Scale: one fact scan + one shuffle of B·|groups| rows; the 32×
    * fan-out never reaches the wire. Deterministic end to end — the
    * oracle replays every weight from the same hash ladder.
    */
  def bootstrapCi(t: Tables): DataFrame = {
    val rows = t.orders.select(
      col("o_orderpriority").as("grp"),
      col("o_orderkey").as("k"),
      microUnits(dec(col("o_totalprice"))).cast("long")
        .as("x"))
    val resamples = rows
      .select(col("grp"), col("k"), col("x"),
        explode(sequence(lit(0L), lit(BootB - 1L))).as("b"))
      .withColumn("w", poisWeight(col("k"), col("b")))
      .groupBy("grp", "b")
      .agg(sum(col("w") * col("x")).cast("long").as("sx"),
        sum(col("w")).cast("long").as("sw"))
      .select(col("grp"), col("b"),
        (col("sx").cast("double") / col("sw")).as("mean_b"))
    val point = rows.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).cast("long").as("sx"))
      .select(col("grp"), col("n"),
        (col("sx").cast("double") / col("n")).as("mean_micros"))
    resamples.groupBy("grp")
      .agg(sort_array(collect_list(col("mean_b"))).as("ms"))
      .select(col("grp"), element_at(col("ms"), 2).as("ci_lo_micros"),
        element_at(col("ms"), BootB - 1).as("ci_hi_micros"))
      .join(point, Seq("grp"))
      .select(col("grp"), col("n"), col("mean_micros"),
        col("ci_lo_micros"), col("ci_hi_micros"))
      .orderBy("grp")
  }

  /** Oracle: identical hash→Poisson ladder, exact sums, order
    * statistics. The weight CASE compares the same 60-bit hash against
    * the same integer thresholds.
    */
  val bootstrapCiSql: String = {
    val h = "CAST('0x' || substr(md5(CAST(o_orderkey * 32 + b AS VARCHAR)), 1, 15) AS BIGINT)"
    val ladder = PoisCdf60.zipWithIndex
      .map { case (t, i) => s"WHEN $h < $t THEN $i" }
      .mkString(" ")
    s"""WITH rows_ AS (
       | SELECT o_orderpriority AS grp, o_orderkey AS k,
       |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS x
       | FROM orders),
       |fan AS (
       | SELECT grp, k, x, unnest(range(0, $BootB)) AS b FROM rows_),
       |wt AS (
       | SELECT grp, b, CASE $ladder ELSE 6 END AS w, x
       | FROM (SELECT grp, k AS o_orderkey, x, b FROM fan)),
       |rs AS (
       | SELECT grp, b,
       |  CAST(SUM(w * x) AS DOUBLE) / CAST(SUM(w) AS BIGINT) AS mean_b
       | FROM wt GROUP BY 1, 2),
       |ci AS (
       | SELECT grp, ms[2] AS ci_lo_micros, ms[${BootB - 1}] AS ci_hi_micros
       | FROM (SELECT grp, list(mean_b ORDER BY mean_b) AS ms
       |       FROM rs GROUP BY 1)),
       |pt AS (
       | SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mean_micros
       | FROM rows_ GROUP BY 1)
       |SELECT pt.grp, n, mean_micros, ci_lo_micros, ci_hi_micros
       |FROM pt JOIN ci USING (grp)
       |ORDER BY grp""".stripMargin
  }

  /** χ² critical value ×10⁶ at p=0.05, dof=1 (3.841459), for the SRM
    * verdict — integer so the flag needs no libm.
    */
  private val SrmChi2CritMicros = 3841459L

  /** Sample-ratio-mismatch audit of a deterministic 50/50 experiment
    * assignment — the FIRST health check every A/B platform runs before
    * reading a metric (a biased split invalidates everything after it).
    * Each event_type stands in for an experiment; a user's arm is a
    * hash of (user, experiment) — so arms are independent across
    * experiments, stable across reruns, and replayable by the oracle.
    * Per experiment: distinct users per arm and the 1-dof χ² statistic
    * against the intended 50/50, computed EXACTLY in scaled integers:
    * χ²·10⁶ = (a−b)²·10⁶ div (a+b). Flag iff it clears the p=0.05
    * critical value ([[SrmChi2CritMicros]]).
    *
    * Scale: one distinct (experiment, user) aggregation + a
    * |experiments|-bounded conditional roll-up — linear, no joins.
    */
  def srmCheck(t: Tables): DataFrame = {
    val assigned = t.events
      .select(col("event_type").as("experiment"), col("user_id"))
      .distinct()
      .withColumn("arm",
        pmod(PortableHash.hash60(
          concat(col("user_id").cast("string"), lit(":"), col("experiment"))),
          lit(2L)))
    assigned.groupBy("experiment")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long").as("arm_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long").as("arm_b"))
      .withColumn("chi2_micros",
        expr("((arm_a - arm_b) * (arm_a - arm_b) * 1000000L) div (arm_a + arm_b)"))
      .withColumn("srm", col("chi2_micros") > lit(SrmChi2CritMicros))
      .orderBy("experiment")
  }

  /** Oracle: same hash-arm assignment and exact integer χ². */
  val srmCheckSql: String =
    s"""WITH a AS (
       | SELECT DISTINCT event_type AS experiment, user_id FROM events),
       |arms AS (
       | SELECT experiment,
       |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || experiment),
       |    1, 15) AS BIGINT) % 2 AS arm
       | FROM a),
       |c AS (
       | SELECT experiment,
       |  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS arm_a,
       |  CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS arm_b
       | FROM arms GROUP BY 1)
       |SELECT experiment, arm_a, arm_b,
       | ((arm_a - arm_b) * (arm_a - arm_b) * 1000000) // (arm_a + arm_b)
       |   AS chi2_micros,
       | ((arm_a - arm_b) * (arm_a - arm_b) * 1000000) // (arm_a + arm_b)
       |   > $SrmChi2CritMicros AS srm
       |FROM c ORDER BY experiment""".stripMargin

  /** Cramér's V association screen across categorical attribute pairs —
    * the "which dimensions actually relate" matrix a modeling or
    * feature-selection pass starts from, normalizing χ² to [0,1] so
    * pairs with different cardinalities compare on one scale:
    * V = √(χ² / (n·min(r−1, c−1))). Three representative pairs
    * (customer segment × nation, order status × priority, part brand ×
    * container size class) each reduce to one contingency-cell
    * aggregation (bounded grid) + broadcast margins; χ² accumulates as
    * an ORDERED fold over the bounded cell list (the [[Relational8]]
    * chiSquare convention — double addition made order-deterministic),
    * and V is one sqrt of one division (IEEE-exact in both engines).
    *
    * Scale: per pair, one fact-table aggregation to a dims-bounded
    * grid; everything after the grid is broadcast-sized.
    */
  def cramersV(t: Tables): DataFrame = {
    def pair(name: String, df: DataFrame): DataFrame = {
      // df has columns x, y
      val cells = df.groupBy("x", "y").agg(count(lit(1)).as("o"))
      val rt = cells.groupBy("x").agg(sum(col("o")).as("rt"))
      val ct = cells.groupBy("y").agg(sum(col("o")).as("ct"))
      val n1 = cells.agg(sum(col("o")).as("n"))
      cells
        .join(broadcast(rt), Seq("x"))
        .join(broadcast(ct), Seq("y"))
        .crossJoin(broadcast(n1))
        .withColumn("term", expr(
          """(CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n)
            | * (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n)
            | / (CAST(rt * ct AS DOUBLE) / n)""".stripMargin))
        .agg(first(col("n")).as("n"),
          countDistinct(col("x")).as("r"),
          countDistinct(col("y")).as("c"),
          sort_array(collect_list(struct(col("x"), col("y"), col("term"))))
            .as("arr"))
        .select(lit(name).as("pair"), col("n").cast("long").as("n"),
          col("r").cast("long").as("r"), col("c").cast("long").as("c"),
          expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0].term," +
            " (a, x) -> a + x.term)").as("chi2"))
        .withColumn("cramers_v",
          sqrt(col("chi2") / (col("n") *
            least(col("r") - 1, col("c") - 1))))
    }
    val segNation = t.customer
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_mktsegment").as("x"), col("n_name").as("y"))
    val statusPrio = t.orders
      .select(col("o_orderstatus").as("x"), col("o_orderpriority").as("y"))
    val brandSize = t.part
      .select(col("p_brand").as("x"),
        expr("CAST(CAST(p_size AS BIGINT) div 10 AS STRING)").as("y"))
    pair("segment_x_nation", segNation)
      .unionAll(pair("status_x_priority", statusPrio))
      .unionAll(pair("brand_x_sizeclass", brandSize))
      .orderBy("pair")
  }

  /** Oracle: the three contingency replays share one CTE template; the
    * χ² fold runs over the identically-ordered cell list.
    */
  val cramersVSql: String = {
    def block(name: String, src: String): String =
      s"""SELECT '$name' AS pair, n, r, c, chi2,
         | sqrt(chi2 / (n * least(r - 1, c - 1))) AS cramers_v
         |FROM (
         | SELECT
         |  (SELECT CAST(SUM(o) AS BIGINT) FROM cells_$name) AS n,
         |  CAST(COUNT(DISTINCT x) AS BIGINT) AS r,
         |  CAST(COUNT(DISTINCT y) AS BIGINT) AS c,
         |  list_reduce(list(term ORDER BY x, y), (a, t) -> a + t) AS chi2
         | FROM (
         |  SELECT cells.x, cells.y,
         |   (CAST(o AS DOUBLE) - CAST(rt.rt * ct.ct AS DOUBLE) / nn.n)
         |    * (CAST(o AS DOUBLE) - CAST(rt.rt * ct.ct AS DOUBLE) / nn.n)
         |    / (CAST(rt.rt * ct.ct AS DOUBLE) / nn.n) AS term
         |  FROM cells_$name cells
         |  JOIN (SELECT x, CAST(SUM(o) AS BIGINT) AS rt FROM cells_$name GROUP BY 1) rt
         |    USING (x)
         |  JOIN (SELECT y, CAST(SUM(o) AS BIGINT) AS ct FROM cells_$name GROUP BY 1) ct
         |    USING (y)
         |  CROSS JOIN (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells_$name) nn))""".stripMargin
    s"""WITH seg AS (
       | SELECT c_mktsegment AS x, n_name AS y
       | FROM customer JOIN nation ON c_nationkey = n_nationkey),
       |cells_segment_x_nation AS (
       | SELECT x, y, CAST(COUNT(*) AS BIGINT) AS o FROM seg GROUP BY 1, 2),
       |sp AS (SELECT o_orderstatus AS x, o_orderpriority AS y FROM orders),
       |cells_status_x_priority AS (
       | SELECT x, y, CAST(COUNT(*) AS BIGINT) AS o FROM sp GROUP BY 1, 2),
       |bs AS (
       | SELECT p_brand AS x, CAST(CAST(p_size AS BIGINT) // 10 AS VARCHAR) AS y
       | FROM part),
       |cells_brand_x_sizeclass AS (
       | SELECT x, y, CAST(COUNT(*) AS BIGINT) AS o FROM bs GROUP BY 1, 2)
       |SELECT * FROM (
       |${block("segment_x_nation", "seg")}
       |UNION ALL
       |${block("status_x_priority", "sp")}
       |UNION ALL
       |${block("brand_x_sizeclass", "bs")})
       |ORDER BY pair""".stripMargin
  }

  /** One-way ANOVA of order value across order priorities — the "does
    * the grouping explain any variance at all" screen that precedes
    * per-pair tests (run it first; if F is noise, skip the pairwise
    * sweep): SS_between/SS_within from EXACT per-group power sums
    * (n, Σx as long micros, Σx² widened inside DECIMAL(38,0) — micro²
    * products overflow longs immediately), combined in one ordered
    * fold over the priority-bounded group list (the chiSquare
    * convention: double addition made order-deterministic), then
    * F = (SSB/(k−1)) / (SSW/(n−k)) — three divisions at the seam.
    *
    * Scale: one fact aggregation to k=|priorities| rows; the fold and
    * every division run on that bounded list. Linear, one shuffle.
    */
  def anova(t: Tables): DataFrame = {
    val groups = t.orders
      .select(col("o_orderpriority").as("grp"),
        microUnits(dec(col("o_totalprice"))).cast("long")
          .as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).cast("long").as("s1"),
        sum(col("x").cast(d38) * col("x").cast(d38)).cast(d38).as("s2"))
      .select(col("grp"), col("n"), col("s1"),
        graft.functions.Exact.decToDouble(col("s2")).as("s2d"))
    groups
      .agg(sum(col("n")).cast("long").as("n_total"),
        count(lit(1)).cast("long").as("k"),
        sum(col("s1")).cast("long").as("s1_total"),
        sort_array(collect_list(struct(col("grp"), col("n"), col("s1"),
          col("s2d")))).as("gs"))
      .withColumn("mean", col("s1_total").cast("double") / col("n_total"))
      .withColumn("ss_between", expr(
        """aggregate(gs, CAST(0.0 AS DOUBLE), (a, g) ->
          | a + g.n * (CAST(g.s1 AS DOUBLE) / g.n - mean)
          |         * (CAST(g.s1 AS DOUBLE) / g.n - mean))""".stripMargin))
      .withColumn("ss_within", expr(
        """aggregate(gs, CAST(0.0 AS DOUBLE), (a, g) ->
          | a + (g.s2d - CAST(g.s1 AS DOUBLE) * CAST(g.s1 AS DOUBLE) / g.n))"""
          .stripMargin))
      .select(col("n_total"), col("k"), col("ss_between"), col("ss_within"),
        (col("k") - 1).as("df1"), (col("n_total") - col("k")).as("df2"),
        ((col("ss_between") / (col("k") - 1)) /
          (col("ss_within") / (col("n_total") - col("k")))).as("f_stat"))
  }

  /** Oracle: identical exact power sums (HUGEINT for Σx²) and the same
    * group-ordered fold.
    */
  val anovaSql: String =
    s"""WITH g AS (
       | SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(x) AS BIGINT) AS s1,
       |  ${graft.functions.Exact.decToDoubleSql("SUM(CAST(x AS HUGEINT) * x)")} AS s2d
       | FROM (SELECT o_orderpriority,
       |   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS x
       |  FROM orders)
       | GROUP BY 1),
       |tot AS (
       | SELECT CAST(SUM(n) AS BIGINT) AS n_total,
       |  CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(SUM(s1) AS BIGINT) AS s1_total,
       |  list({'grp': grp, 'n': n, 's1': s1, 's2d': s2d} ORDER BY grp) AS gs
       | FROM g),
       |m AS (
       | SELECT *, CAST(s1_total AS DOUBLE) / n_total AS mean FROM tot),
       |ss AS (
       | SELECT n_total, k, mean,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    [g.n * (CAST(g.s1 AS DOUBLE) / g.n - mean)
       |         * (CAST(g.s1 AS DOUBLE) / g.n - mean) FOR g IN gs]),
       |    (a, v) -> a + v) AS ss_between,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    [g.s2d - CAST(g.s1 AS DOUBLE) * CAST(g.s1 AS DOUBLE) / g.n
       |     FOR g IN gs]),
       |    (a, v) -> a + v) AS ss_within
       | FROM m)
       |SELECT n_total, k, ss_between, ss_within,
       | k - 1 AS df1, n_total - k AS df2,
       | (ss_between / (k - 1)) / (ss_within / (n_total - k)) AS f_stat
       |FROM ss""".stripMargin

  /** Tukey-fence outlier report per market segment — the box-plot
    * screen that flags tail orders without assuming any distribution:
    * exact type-1 quartiles by rank (q1 at ceil(n/4), q3 at
    * ceil(3n/4) over (value, key)-ordered rows — integer positions,
    * no interpolation), fences at quartile ∓ 1.5·IQR computed as
    * `(3·iqr) div 2` (exact — IQR is nonnegative), and the count and
    * ppm share outside the fences.
    *
    * Scale: one rank window partitioned by segment (shuffle on the
    * grouping key, each partition sorts locally), one bounded
    * per-segment quartile frame broadcast back for the outlier count.
    */
  def tukeyOutliers(t: Tables): DataFrame = {
    val orders = t.orders
      .join(t.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        col("o_orderkey").as("k"),
        microUnits(dec(col("o_totalprice"))).cast("long")
          .as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy("v", "k")
    val ranked = orders
      .withColumn("rn", row_number().over(w))
      .localCheckpoint(true)
    val quart = ranked.groupBy("seg").agg(count(lit(1)).as("n"))
    val qs = ranked
      .join(broadcast(quart), Seq("seg"))
      .groupBy("seg")
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 3) div 4"), col("v"))).as("q1"),
        max(when(col("rn") === expr("(3 * n + 3) div 4"), col("v"))).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("fence_lo", expr("q1 - (3 * iqr) div 2"))
      .withColumn("fence_hi", expr("q3 + (3 * iqr) div 2"))
    ranked
      .join(broadcast(qs), Seq("seg"))
      .groupBy("seg")
      .agg(max(col("n")).as("n"), max(col("q1")).as("q1"),
        max(col("q3")).as("q3"),
        max(col("fence_lo")).as("fence_lo"),
        max(col("fence_hi")).as("fence_hi"),
        sum(when(col("v") < col("fence_lo"), 1L).otherwise(0L))
          .cast("long").as("n_below"),
        sum(when(col("v") > col("fence_hi"), 1L).otherwise(0L))
          .cast("long").as("n_above"))
      .withColumn("outlier_ppm",
        expr("((n_below + n_above) * 1000000L) div n"))
      .orderBy("seg")
  }

  /** Oracle: identical rank-based quartiles and integer fences. */
  val tukeyOutliersSql: String =
    """WITH o AS (
      | SELECT c_mktsegment AS seg, o_orderkey AS k,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS v
      | FROM orders JOIN customer ON o_custkey = c_custkey),
      |r AS (
      | SELECT seg, v,
      |  ROW_NUMBER() OVER (PARTITION BY seg ORDER BY v, k) AS rn,
      |  CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS n
      | FROM o),
      |q AS (
      | SELECT seg, MAX(n) AS n,
      |  MAX(CASE WHEN rn = (n + 3) // 4 THEN v END) AS q1,
      |  MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS q3
      | FROM r GROUP BY 1),
      |f AS (
      | SELECT seg, n, q1, q3,
      |  q1 - (3 * (q3 - q1)) // 2 AS fence_lo,
      |  q3 + (3 * (q3 - q1)) // 2 AS fence_hi
      | FROM q)
      |SELECT f.seg, f.n, q1, q3, fence_lo, fence_hi,
      | CAST(SUM(CASE WHEN v < fence_lo THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_below,
      | CAST(SUM(CASE WHEN v > fence_hi THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_above,
      | (CAST(SUM(CASE WHEN v < fence_lo OR v > fence_hi THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000) // f.n AS outlier_ppm
      |FROM r JOIN f ON r.seg = f.seg
      |GROUP BY 1, 2, 3, 4, 5, 6
      |ORDER BY 1""".stripMargin

  /** Decile probes for [[qqCompare]]. */
  private val QqDeciles = (1 to 9).map(_ * 10)

  /** Decile Q-Q comparison of order value between two customer
    * segments — the distribution-shape diff that says WHERE two
    * populations diverge (a mean test collapses the answer to one
    * number; the Q-Q table shows "same body, heavier tail"): exact
    * type-1 deciles by rank for each group at p = 10..90, paired by
    * probability, with the exact micro difference and the ratio in
    * ppm. All quantile positions are integer ranks — no interpolation,
    * no floats anywhere.
    *
    * Scale: one rank window per group (both partitions of one
    * segment-keyed shuffle) + a 9-row probe join. Linear.
    */
  def qqCompare(t: Tables): DataFrame = {
    val orders = t.orders
      .join(t.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment").as("seg"), col("o_orderkey").as("k"),
        microUnits(dec(col("o_totalprice"))).cast("long")
          .as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy("v", "k")
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("seg")
    val ranked = orders
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
    // one windowed pass; the 9-way probe fan-out is a narrow in-task
    // explode + filter, not nine window recomputes
    val probes = ranked
      .select(col("seg"), col("v"), col("rn"), col("n"),
        explode(array(QqDeciles.map(p => lit(p.toLong)): _*)).as("pct"))
      .where(col("rn") === expr("(pct * n + 99) div 100"))
      .select(col("pct"), col("seg"), col("v"))
    val a = probes.where(col("seg") === "BUILDING")
      .select(col("pct"), col("v").as("building_micros"))
    val b = probes.where(col("seg") === "MACHINERY")
      .select(col("pct"), col("v").as("machinery_micros"))
    a.join(b, Seq("pct"))
      .select(col("pct"), col("building_micros"), col("machinery_micros"),
        (col("building_micros") - col("machinery_micros")).as("diff_micros"),
        expr("(building_micros * 1000000L) div machinery_micros")
          .as("ratio_ppm"))
      .orderBy("pct")
  }

  /** Oracle: identical rank deciles per segment, paired by percent. */
  val qqCompareSql: String = {
    val probes = QqDeciles.mkString(", ")
    s"""WITH o AS (
       | SELECT c_mktsegment AS seg, o_orderkey AS k,
       |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS v
       | FROM orders JOIN customer ON o_custkey = c_custkey
       | WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
       |r AS (
       | SELECT seg, v,
       |  ROW_NUMBER() OVER (PARTITION BY seg ORDER BY v, k) AS rn,
       |  CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS n
       | FROM o),
       |p AS (
       | SELECT pct, seg, v
       | FROM r, (SELECT unnest([$probes]) AS pct)
       | WHERE rn = (pct * n + 99) // 100)
       |SELECT CAST(a.pct AS BIGINT) AS pct,
       | a.v AS building_micros, b.v AS machinery_micros,
       | a.v - b.v AS diff_micros,
       | (a.v * 1000000) // b.v AS ratio_ppm
       |FROM p a JOIN p b ON a.pct = b.pct
       |WHERE a.seg = 'BUILDING' AND b.seg = 'MACHINERY'
       |ORDER BY 1""".stripMargin
  }

  /** Per-segment exact power sums of order value — the shared input of
    * [[effectSize]] and [[mdeSampleSize]]: n, Σx (long micros), Σx²
    * (widened in DECIMAL(38,0) — micro² products overflow longs
    * immediately) converted through the exact hi/lo split. One fact
    * aggregation to the |segments|-bounded grid.
    */
  private def segmentStats(t: Tables): DataFrame = {
    t.orders
      .join(t.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        microUnits(dec(col("o_totalprice"))).cast("long")
          .as("x"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("x")).cast("long").as("s1"),
        sum(col("x").cast(d38) * col("x").cast(d38)).cast(d38).as("s2"))
      .select(col("seg"), col("n"), col("s1"),
        graft.functions.Exact.decToDouble(col("s2")).as("s2d"))
      .withColumn("mean", col("s1").cast("double") / col("n"))
      .withColumn("variance", expr(
        "(s2d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)"))
  }

  /** DuckDB twin of [[segmentStats]] (a CTE named `st`). */
  private lazy val segmentStatsSql: String =
    s"""st AS (
       | SELECT seg, n, s1,
       |  s2d,
       |  CAST(s1 AS DOUBLE) / n AS mean,
       |  (s2d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)
       |    AS variance
       | FROM (
       |  SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
       |   CAST(SUM(x) AS BIGINT) AS s1,
       |   ${graft.functions.Exact.decToDoubleSql("SUM(CAST(x AS HUGEINT) * x)")} AS s2d
       |  FROM (SELECT c_mktsegment,
       |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS x
       |   FROM orders JOIN customer ON o_custkey = c_custkey)
       |  GROUP BY 1))""".stripMargin

  /** Pairwise Cohen's d of order value between market segments — the
    * effect-size table that turns "the ANOVA F is significant" into
    * "WHICH groups differ and by HOW MANY standard deviations" (a
    * p-value scales with n; d doesn't — it's the number a decision
    * reads): for each segment pair a < b,
    * d = (mean_a − mean_b) / s_pooled with
    * s_pooled = √(((n_a−1)·var_a + (n_b−1)·var_b) / (n_a+n_b−2)).
    * Means and variances come from EXACT per-segment power sums
    * ([[segmentStats]]); every double op after the grid is the same
    * fixed-order IEEE expression in both engines.
    *
    * Scale: one fact aggregation to |segments| rows; the pair fan-out
    * is a bounded self-join on the 5-row grid.
    */
  def effectSize(t: Tables): DataFrame = {
    val st = segmentStats(t)
    val a = st.select(col("seg").as("seg_a"), col("n").as("n_a"),
      col("mean").as("mean_a"), col("variance").as("var_a"))
    val b = st.select(col("seg").as("seg_b"), col("n").as("n_b"),
      col("mean").as("mean_b"), col("variance").as("var_b"))
    a.join(broadcast(b), col("seg_a") < col("seg_b"))
      .withColumn("s_pooled", sqrt(expr(
        "((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2)")))
      .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"),
        ((col("mean_a") - col("mean_b")) / col("s_pooled")).as("cohens_d"))
      .orderBy("seg_a", "seg_b")
  }

  /** Oracle: identical power sums and fixed-order pooled-sd formula. */
  val effectSizeSql: String =
    s"""WITH ${segmentStatsSql}
       |SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS n_a, b.n AS n_b,
       | a.mean AS mean_a, b.mean AS mean_b,
       | (a.mean - b.mean) /
       |  sqrt(((a.n - 1) * a.variance + (b.n - 1) * b.variance)
       |       / (a.n + b.n - 2)) AS cohens_d
       |FROM st a JOIN st b ON a.seg < b.seg
       |ORDER BY 1, 2""".stripMargin

  /** z_{α/2} + z_β in micros for α=0.05 two-sided, power 80%
    * (1.959964 + 0.841621) — fixed public constants, integer so both
    * engines derive the SAME squared factor from one literal.
    */
  private val ZSumMicros = 2801585L

  /** Minimum-detectable-effect sweep in percent of the baseline mean. */
  private val MdePcts = Seq(1L, 2L, 5L, 10L)

  /** Per-arm sample-size calculator per segment — the experiment-DESIGN
    * step that precedes [[srmCheck]] (health) and the A/B read: for
    * each minimum detectable effect δ = mde%·mean, the standard
    * two-arm approximation n/arm = ⌈2σ²·(z_{α/2}+z_β)² / δ²⌉ at
    * α=0.05, power 80%. σ² is the exact-power-sum variance
    * ([[segmentStats]]); the z factor squares from one integer literal
    * ([[ZSumMicros]]); the only floats are the same fixed-order IEEE
    * ops in both engines, and the ceiling lands back in exact longs.
    * Also emits δ and the n·arms/N_available feasibility ratio in ppm —
    * the "can this experiment even run on this population" flag.
    *
    * Scale: the |segments|-bounded grid × a 4-element in-task explode.
    */
  def mdeSampleSize(t: Tables): DataFrame = {
    val z2 = lit(ZSumMicros.toDouble) * lit(ZSumMicros.toDouble) / lit(1.0e12)
    segmentStats(t)
      .select(col("seg"), col("n"), col("mean"), col("variance"),
        explode(array(MdePcts.map(p => lit(p)): _*)).as("mde_pct"))
      .withColumn("delta", col("mean") * col("mde_pct").cast("double") / lit(100.0))
      .withColumn("n_per_arm",
        ceil(lit(2.0) * col("variance") * z2 / (col("delta") * col("delta")))
          .cast("long"))
      .select(col("seg"), col("mde_pct"), col("n").as("n_available"),
        col("delta").as("delta_micros"), col("n_per_arm"),
        expr("(2 * n_per_arm * 1000000L) div n").as("required_vs_available_ppm"))
      .orderBy("seg", "mde_pct")
  }

  /** Oracle: identical z² literal, fixed-order doubles, exact ceiling. */
  val mdeSampleSizeSql: String =
    s"""WITH ${segmentStatsSql},
       |fan AS (
       | SELECT seg, n, mean, variance, unnest([${MdePcts.mkString(", ")}]) AS mde_pct
       | FROM st),
       |d AS (
       | SELECT seg, CAST(mde_pct AS BIGINT) AS mde_pct, n,
       |  mean * CAST(mde_pct AS DOUBLE) / 100.0 AS delta,
       |  variance FROM fan),
       |sz AS (
       | SELECT seg, mde_pct, n, delta,
       |  CAST(ceil(2.0 * variance *
       |    (CAST($ZSumMicros AS DOUBLE) * CAST($ZSumMicros AS DOUBLE) / 1.0e12)
       |    / (delta * delta)) AS BIGINT) AS n_per_arm
       | FROM d)
       |SELECT seg, mde_pct, n AS n_available, delta AS delta_micros,
       | n_per_arm,
       | (2 * n_per_arm * 1000000) // n AS required_vs_available_ppm
       |FROM sz ORDER BY seg, mde_pct""".stripMargin

  /** Trim share denominator: drop ⌊n/[[TrimDen]]⌋ rows at EACH end. */
  private val TrimDen = 10L

  /** 10%-trimmed mean of order value per priority — the robust center
    * that survives the heavy right tail a plain mean chases (and the
    * companion [[tukeyOutliers]] counts): rank rows per group on
    * (value, key) — fully deterministic — drop ⌊n/10⌋ at each end,
    * and average the EXACT long sum of the kept middle in one final
    * division. Reports the raw mean beside it; the gap IS the tail's
    * pull in micros.
    *
    * Scale: one rank window partitioned by the group key (shuffle on
    * the grouping key, local sort per partition), one aggregation.
    */
  def trimmedMean(t: Tables): DataFrame = {
    val orders = t.orders.select(col("o_orderpriority").as("grp"),
      col("o_orderkey").as("k"),
      microUnits(dec(col("o_totalprice"))).cast("long")
        .as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("v", "k")
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    orders
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
      .withColumn("cut", expr(s"n div $TrimDen"))
      .groupBy("grp")
      .agg(max(col("n")).cast("long").as("n"),
        max(col("cut")).cast("long").as("cut"),
        sum(col("v")).cast("long").as("s_raw"),
        sum(when(col("rn") > col("cut") && col("rn") <= col("n") - col("cut"),
          col("v"))).cast("long").as("s_kept"))
      .withColumn("kept", col("n") - lit(2L) * col("cut"))
      .select(col("grp"), col("n"), col("cut"), col("kept"),
        (col("s_raw").cast("double") / col("n")).as("mean_micros"),
        (col("s_kept").cast("double") / col("kept")).as("trimmed_mean_micros"))
      .orderBy("grp")
  }

  /** Oracle: identical deterministic ranks, integer cut, exact sums. */
  val trimmedMeanSql: String =
    s"""WITH o AS (
       | SELECT o_orderpriority AS grp, o_orderkey AS k,
       |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS v
       | FROM orders),
       |r AS (
       | SELECT grp, v,
       |  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, k) AS rn,
       |  CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
       | FROM o),
       |c AS (SELECT *, n // $TrimDen AS cut FROM r)
       |SELECT grp, MAX(n) AS n, CAST(MAX(cut) AS BIGINT) AS cut,
       | MAX(n) - 2 * MAX(cut) AS kept,
       | CAST(SUM(v) AS DOUBLE) / MAX(n) AS mean_micros,
       | CAST(SUM(CASE WHEN rn > cut AND rn <= n - cut THEN v END) AS DOUBLE)
       |   / (MAX(n) - 2 * MAX(cut)) AS trimmed_mean_micros
       |FROM c GROUP BY grp
       |ORDER BY grp""".stripMargin

  /** Mix-shift decomposition of month-over-month mean order value —
    * the Oaxaca/Laspeyres-style answer to "did the average move because
    * CUSTOMERS changed or because SEGMENTS changed size": with
    * per-segment weights w_g = n_g/N and means m_g,
    * Δmean = Σ(w_t − w_{t−1})·m_{t−1}  (mix effect: composition shift
    * valued at old rates) + Σw_t·(m_t − m_{t−1})  (rate effect:
    * within-segment change at new weights) — an exact identity, the
    * split every "why did our average drop" review needs before anyone
    * blames a segment. Per-cell stats are exact integers (n, Σmicros);
    * the three folds run in segment order over the ≤|segments| cell
    * list per month pair (the chiSquare ordered-fold convention), so
    * every double is reproducible.
    *
    * Scale: one fact aggregation to the (month × segment) bounded grid;
    * consecutive months pair by an equi-join on the bounded month list.
    */
  def mixShift(t: Tables): DataFrame = {
    val cells = t.orders
      .join(t.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"),
        sum(microUnits(dec(col("o_totalprice"))).cast("long"))
          .cast("long").as("s1"))
    val pinned = cells.localCheckpoint(true) // both sides of the pair join
    // full-outer cell pairing: a segment active in only ONE of the two
    // months still participates (weight 0 on the absent side; its rate
    // pins to the present side's mean) — the identity then closes over
    // the SEGMENT UNION, not just the intersection
    val cur = pinned.select(col("month"), col("seg"),
      col("n").as("nc"), col("s1").as("sc"))
    val prv = pinned.select(add_months(col("month"), 1).as("month"),
      col("seg"), col("n").as("np_g"), col("s1").as("sp_g"))
    val paired = cur.join(prv, Seq("month", "seg"), "full_outer")
      .na.fill(0L, Seq("nc", "sc", "np_g", "sp_g"))
    // months with no previous month (the series head) drop via the
    // total join below; per-month totals come from the paired list so
    // union-only segments count on their side
    val monthly = paired.groupBy("month")
      .agg(sum(col("nc")).cast("long").as("nm"),
        sum(col("sc")).cast("long").as("sm"),
        sum(col("np_g")).cast("long").as("np"),
        sum(col("sp_g")).cast("long").as("sp"),
        sort_array(collect_list(struct(col("seg"), col("nc"), col("sc"),
          col("np_g"), col("sp_g")))).as("gs"))
      .where(col("np") > 0 && col("nm") > 0)
    monthly
      .withColumn("mean_prev", col("sp").cast("double") / col("np"))
      .withColumn("mean_cur", col("sm").cast("double") / col("nm"))
      .withColumn("mix_effect", expr(
        """aggregate(gs, CAST(0.0 AS DOUBLE), (acc, g) ->
          | acc + (CAST(g.nc AS DOUBLE) / nm - CAST(g.np_g AS DOUBLE) / np)
          |  * (CASE WHEN g.np_g > 0 THEN CAST(g.sp_g AS DOUBLE) / g.np_g
          |     ELSE CAST(g.sc AS DOUBLE) / g.nc END))""".stripMargin))
      .withColumn("rate_effect", expr(
        """aggregate(gs, CAST(0.0 AS DOUBLE), (acc, g) ->
          | acc + (CAST(g.nc AS DOUBLE) / nm)
          |  * (CASE WHEN g.nc > 0 AND g.np_g > 0
          |     THEN CAST(g.sc AS DOUBLE) / g.nc - CAST(g.sp_g AS DOUBLE) / g.np_g
          |     ELSE CAST(0.0 AS DOUBLE) END))""".stripMargin))
      .select(col("month"), col("nm").as("n_orders"),
        col("mean_prev"), col("mean_cur"),
        (col("mean_cur") - col("mean_prev")).as("delta"),
        col("mix_effect"), col("rate_effect"))
      .orderBy("month")
  }

  /** Oracle: identical bounded grid, full-outer cell pairing, and
    * segment-ordered folds (list comprehensions + list_reduce with a
    * zero seed — the same addition order).
    */
  val mixShiftSql: String =
    """WITH cells AS (
      | SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |  c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000
      |    AS BIGINT)) AS BIGINT) AS s1
      | FROM orders JOIN customer ON o_custkey = c_custkey
      | GROUP BY 1, 2),
      |paired AS (
      | SELECT COALESCE(cur.month, prv.month) AS month,
      |  COALESCE(cur.seg, prv.seg) AS seg,
      |  COALESCE(cur.n, 0) AS nc, COALESCE(cur.s1, 0) AS sc,
      |  COALESCE(prv.n, 0) AS np_g, COALESCE(prv.s1, 0) AS sp_g
      | FROM cells cur FULL JOIN
      |  (SELECT month + INTERVAL 1 MONTH AS month, seg, n, s1 FROM cells) prv
      |  ON cur.month = prv.month AND cur.seg = prv.seg),
      |monthly AS (
      | SELECT month, CAST(SUM(nc) AS BIGINT) AS nm,
      |  CAST(SUM(sc) AS BIGINT) AS sm,
      |  CAST(SUM(np_g) AS BIGINT) AS np, CAST(SUM(sp_g) AS BIGINT) AS sp,
      |  list({'seg': seg, 'nc': nc, 'sc': sc, 'np_g': np_g, 'sp_g': sp_g}
      |    ORDER BY seg) AS gs
      | FROM paired GROUP BY 1
      | HAVING SUM(np_g) > 0 AND SUM(nc) > 0)
      |SELECT CAST(month AS DATE) AS month, nm AS n_orders,
      | CAST(sp AS DOUBLE) / np AS mean_prev,
      | CAST(sm AS DOUBLE) / nm AS mean_cur,
      | CAST(sm AS DOUBLE) / nm - CAST(sp AS DOUBLE) / np AS delta,
      | list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |  [(CAST(g.nc AS DOUBLE) / nm - CAST(g.np_g AS DOUBLE) / np)
      |   * (CASE WHEN g.np_g > 0 THEN CAST(g.sp_g AS DOUBLE) / g.np_g
      |      ELSE CAST(g.sc AS DOUBLE) / g.nc END)
      |   FOR g IN gs]), (a, v) -> a + v) AS mix_effect,
      | list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |  [(CAST(g.nc AS DOUBLE) / nm)
      |   * (CASE WHEN g.nc > 0 AND g.np_g > 0
      |      THEN CAST(g.sc AS DOUBLE) / g.nc - CAST(g.sp_g AS DOUBLE) / g.np_g
      |      ELSE CAST(0.0 AS DOUBLE) END)
      |   FOR g IN gs]), (a, v) -> a + v) AS rate_effect
      |FROM monthly
      |ORDER BY month""".stripMargin

  /** Tukey median polish of the weekday × month revenue grid — the
    * robust two-way decomposition (EDA classic, public knowledge) that
    * splits a cross-classified table into row effects + column effects
    * + residuals WITHOUT letting one outlier cell drag the fit the way
    * a two-way ANOVA mean fit would: two alternating row/column sweeps,
    * each subtracting the LOWER MEDIAN (exact integer rank pick,
    * deterministic (value, key) ties) of the current residuals. The
    * identity v = row_eff + col_eff + resid holds EXACTLY in long
    * micros — no float enters at any step. Residuals far from 0 mark
    * (weekday, month) interactions the additive model can't explain.
    *
    * Scale: one fact aggregation to the 7×12-bounded grid; every sweep
    * is a window over ≤12-cell partitions of an 84-row frame.
    */
  def medianPolish(t: Tables): DataFrame = {
    def lowerMedian(df: DataFrame, part: String, tie: String,
        valCol: String, out: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(part).orderBy(col(valCol), col(tie))
      df.withColumn("_rn", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(part)))
        .withColumn(out,
          max(when(col("_rn") === expr("(_n + 1) div 2"), col(valCol)))
            .over(org.apache.spark.sql.expressions.Window.partitionBy(part)))
        .drop("_rn", "_n")
    }
    val cells = t.lineitem
      .groupBy(
        pmod(datediff(col("l_shipdate").cast("date"),
          to_date(lit("1970-01-01"))), lit(7)).cast("int").as("dow"),
        month(col("l_shipdate").cast("date")).cast("int").as("mon"))
      .agg(sum(microUnits(discPrice(col("l_extendedprice"), col("l_discount"))))
        .cast("long").as("v"))
    val s1 = lowerMedian(cells, "dow", "mon", "v", "rm1")
      .withColumn("r1", col("v") - col("rm1"))
    val s2 = lowerMedian(s1, "mon", "dow", "r1", "cm1")
      .withColumn("r2", col("r1") - col("cm1"))
    val s3 = lowerMedian(s2, "dow", "mon", "r2", "rm2")
      .withColumn("r3", col("r2") - col("rm2"))
    val s4 = lowerMedian(s3, "mon", "dow", "r3", "cm2")
      .withColumn("resid", col("r3") - col("cm2"))
    s4.select(col("dow"), col("mon"), col("v").as("v_micros"),
        (col("rm1") + col("rm2")).as("row_eff"),
        (col("cm1") + col("cm2")).as("col_eff"),
        col("resid"))
      .orderBy("dow", "mon")
  }

  /** Oracle: identical grid, four unrolled sweep CTEs with the same
    * rank-based lower medians and tie-breaks.
    */
  val medianPolishSql: String = {
    def sweep(src: String, part: String, tie: String, v: String,
        med: String, res: String): String =
      s"""SELECT *, $v - $med AS $res FROM (
         | SELECT *,
         |  MAX(CASE WHEN rn_ = (n_ + 1) // 2 THEN $v END)
         |    OVER (PARTITION BY $part) AS $med
         | FROM (
         |  SELECT *,
         |   ROW_NUMBER() OVER (PARTITION BY $part ORDER BY $v, $tie) AS rn_,
         |   COUNT(*) OVER (PARTITION BY $part) AS n_
         |  FROM $src))""".stripMargin
    s"""WITH cells AS (
       | SELECT CAST(date_diff('day', DATE '1970-01-01',
       |    CAST(l_shipdate AS DATE)) % 7 AS INT) AS dow,
       |  CAST(month(CAST(l_shipdate AS DATE)) AS INT) AS mon,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
       |    * 1000000 AS DECIMAL(19,0))) AS BIGINT) AS v
       | FROM lineitem GROUP BY 1, 2),
       |s1 AS (${sweep("cells", "dow", "mon", "v", "rm1", "r1")}),
       |s2 AS (${sweep("(SELECT dow, mon, v, rm1, r1 FROM s1)",
                       "mon", "dow", "r1", "cm1", "r2")}),
       |s3 AS (${sweep("(SELECT dow, mon, v, rm1, cm1, r2 FROM s2)",
                       "dow", "mon", "r2", "rm2", "r3")}),
       |s4 AS (${sweep("(SELECT dow, mon, v, rm1, cm1, rm2, r3 FROM s3)",
                       "mon", "dow", "r3", "cm2", "resid")})
       |SELECT dow, mon, v AS v_micros,
       | rm1 + rm2 AS row_eff, cm1 + cm2 AS col_eff, resid
       |FROM s4
       |ORDER BY dow, mon""".stripMargin
  }

  /** Period boundary for [[rankStability]] (the q_abc_migration split). */
  private val RankSplitDate = "1998-01-01"

  /** Rank stability of the part-revenue ordering between two calendar
    * halves — the assortment-churn number behind `q_abc_migration`'s
    * class view: for parts that sold in BOTH halves, Spearman's
    * footrule Σ|r₁−r₂| (exact longs, normalized in ppm against the
    * permutation maximum ⌊n²/2⌋) and Spearman's ρ = 1 − 6Σd²/(n(n²−1))
    * with Σd² widened in DECIMAL(38,0) (n³ magnitudes pass 2⁶³ at
    * catalog scale) and converted through the exact hi/lo split. A ρ
    * near 1 says the ranking is stable and last period's ABC plan
    * still holds; near 0 says re-plan.
    *
    * Scale: one fact aggregation to (period, part), and BOTH global
    * rankings come from ONE fused range shuffle
    * ([[Ranks.withGlobalRanksFused]]) — never an unpartitioned window
    * over the part dimension.
    */
  def rankStability(t: Tables): DataFrame = {
    val rev = t.lineitem
      .withColumn("period",
        when(col("l_shipdate").cast("date") < to_date(lit(RankSplitDate)),
          "P1").otherwise("P2"))
      .groupBy("period", "l_partkey")
      .agg(sum(microUnits(discPrice(col("l_extendedprice"), col("l_discount"))))
        .cast("long").as("rev"))
    val p1 = rev.where(col("period") === "P1")
      .select(col("l_partkey"), col("rev").as("rev1"))
    val p2 = rev.where(col("period") === "P2")
      .select(col("l_partkey"), col("rev").as("rev2"))
    val both = p1.join(p2, Seq("l_partkey"))
    // one range shuffle ranks both orderings (rev desc, key asc ties)
    val (ranked, _) = Ranks.withGlobalRanksFused(both, "l_partkey", Seq(
      ("r1", -col("rev1").cast("double")),
      ("r2", -col("rev2").cast("double"))))
    ranked
      .withColumn("d", col("r1") - col("r2"))
      .agg(count(lit(1)).cast("long").as("n_parts"),
        sum(abs(col("d"))).cast("long").as("footrule"),
        sum((col("d").cast(d38) * col("d").cast(d38))).cast(d38).as("sd2"))
      .select(col("n_parts"), col("footrule"),
        expr("(footrule * 1000000L) div ((n_parts * n_parts) div 2)")
          .as("footrule_norm_ppm"),
        (lit(1.0) - lit(6.0) * graft.functions.Exact.decToDouble(col("sd2")) /
          (col("n_parts").cast("double") *
            (col("n_parts").cast("double") * col("n_parts").cast("double")
              - lit(1.0)))).as("spearman_rho"))
  }

  /** Oracle: window ranks per half (exact integer revenues make the
    * fused distributed rank equal), HUGEINT Σd² through the hi/lo
    * split, identical fixed-order ρ expression.
    */
  val rankStabilitySql: String =
    s"""WITH rev AS (
       | SELECT CASE WHEN CAST(l_shipdate AS DATE) < DATE '$RankSplitDate'
       |   THEN 'P1' ELSE 'P2' END AS period, l_partkey,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
       |    * 1000000 AS DECIMAL(19,0))) AS BIGINT) AS rev
       | FROM lineitem GROUP BY 1, 2),
       |b AS (
       | SELECT p1.l_partkey, p1.rev AS rev1, p2.rev AS rev2
       | FROM (SELECT l_partkey, rev FROM rev WHERE period = 'P1') p1
       | JOIN (SELECT l_partkey, rev FROM rev WHERE period = 'P2') p2
       |  USING (l_partkey)),
       |r AS (
       | SELECT l_partkey,
       |  CAST(ROW_NUMBER() OVER (ORDER BY rev1 DESC, l_partkey) AS BIGINT) AS r1,
       |  CAST(ROW_NUMBER() OVER (ORDER BY rev2 DESC, l_partkey) AS BIGINT) AS r2
       | FROM b),
       |s AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
       |  CAST(SUM(ABS(r1 - r2)) AS BIGINT) AS footrule,
       |  SUM(CAST(r1 - r2 AS HUGEINT) * (r1 - r2)) AS sd2
       | FROM r)
       |SELECT n_parts, footrule,
       | (footrule * 1000000) // ((n_parts * n_parts) // 2)
       |   AS footrule_norm_ppm,
       | 1.0 - 6.0 * ${graft.functions.Exact.decToDoubleSql("sd2")} /
       |  (CAST(n_parts AS DOUBLE) *
       |   (CAST(n_parts AS DOUBLE) * CAST(n_parts AS DOUBLE) - 1.0))
       |   AS spearman_rho
       |FROM s""".stripMargin

  /** Units allocated by [[allocation]]. */
  private val AllocBudget = 1000000L

  /** Largest-remainder proportional allocation of a fixed integer
    * budget across nations by revenue — the exact-integer answer to
    * "split N units fairly by share" (quota seats, sampling budgets,
    * rate limits): base_g = B·rev_g div rev_total (floor quota),
    * remainder_g = B·rev_g mod rev_total, and the B − Σbase leftover
    * units go one each to the largest remainders (ties → nation name —
    * deterministic). Revenue is measured in exact cents
    * (micros div 10⁴) so B·rev stays inside int64 at 100× scale.
    * Guarantees Σalloc = B exactly — the invariant float shares can't
    * deliver.
    *
    * Scale: one fact aggregation to the nation-bounded list; ranking
    * and allocation run on ≤|nations| rows.
    */
  def allocation(t: Tables): DataFrame = {
    val rev = t.lineitem
      .join(t.orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(cents(sum(discPrice(col("l_extendedprice"), col("l_discount"))))
        .as("rev_cents"))
    val tot = rev.agg(sum(col("rev_cents")).cast("long").as("rev_total"))
    val based = rev.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($AllocBudget * rev_cents) div rev_total"))
      .withColumn("rem", expr(s"($AllocBudget * rev_cents) % rev_total"))
    val uw = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val leftW = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("n_name"))
    based
      .withColumn("leftover", lit(AllocBudget) - sum(col("base")).over(uw))
      .withColumn("rk", row_number().over(leftW))
      .withColumn("extra", when(col("rk") <= col("leftover"), 1L)
        .otherwise(0L))
      .select(col("n_name"), col("rev_cents"), col("base"), col("extra"),
        (col("base") + col("extra")).as("alloc"))
      .orderBy("n_name")
  }

  /** Oracle: identical integer quotas, remainders, and ranked top-up. */
  val allocationSql: String =
    s"""WITH rev AS (
       | SELECT n_name,
       |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
       |    * 1000000 AS DECIMAL(19,0))) AS BIGINT) // 10000 AS BIGINT)
       |    AS rev_cents
       | FROM lineitem
       | JOIN orders ON l_orderkey = o_orderkey
       | JOIN customer ON o_custkey = c_custkey
       | JOIN nation ON c_nationkey = n_nationkey
       | GROUP BY 1),
       |b AS (
       | SELECT n_name, rev_cents,
       |  ($AllocBudget * rev_cents) // t.rev_total AS base,
       |  ($AllocBudget * rev_cents) % t.rev_total AS rem
       | FROM rev, (SELECT CAST(SUM(rev_cents) AS BIGINT) AS rev_total
       |            FROM rev) t),
       |l AS (
       | SELECT *, $AllocBudget - (SELECT SUM(base) FROM b) AS leftover,
       |  ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rk
       | FROM b)
       |SELECT n_name, rev_cents, base,
       | CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       | base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
       |FROM l ORDER BY n_name""".stripMargin
}
