package graft.operators

import graft.Tables
import graft.functions.Exact.{cents, d38, dec, discPrice, microUnits}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-shape diagnostics: ordinal-pattern complexity,
  * weighted medians, and equi-depth histograms — the "what does this
  * distribution actually look like" toolkit next to [[Relational8]]'s
  * hypothesis tests. Shared discipline: collapse the fact table first,
  * run exact integer logic over the bounded aggregate domain, divide
  * (if at all) once at the end.
  */
object Relational9 {

  /** Ordinal-pattern (permutation-pattern) histogram of the daily
    * revenue series at order 3: every consecutive day triple maps to
    * one of 6 rank patterns (e.g. `012` = rising, `210` = falling),
    * counted exactly — the permutation-entropy FAMILY's front end
    * (band-limited complexity: a trending series concentrates on
    * `012`/`210`, noise spreads uniformly) WITHOUT the final entropy
    * (ln is libm-divergent; the histogram carries strictly more
    * information anyway). Ties break toward the earlier day (strict
    * `<` comparisons — deterministic, stated here because permutation
    * entropy literature varies). Two LAG columns over the bounded day
    * domain; pattern ids are pure integer comparisons.
    */
  def ordinalPatterns(t: Tables): DataFrame = {
    val daily = Facts.dailyRevenue(t)
      .select(Facts.epochDay(col("d")).as("epoch_day"),
        microUnits(col("rev")).cast("long").as("v"))
    val w = Window.orderBy("epoch_day")
    daily
      .withColumn("v1", lag(col("v"), 2).over(w))
      .withColumn("v2", lag(col("v"), 1).over(w))
      .where(col("v1").isNotNull)
      // rank of each element among the triple (v1, v2, v3=v), strict <
      .withColumn("r1",
        (col("v2") < col("v1")).cast("int") + (col("v") < col("v1")).cast("int"))
      .withColumn("r2",
        (col("v1") <= col("v2")).cast("int") + (col("v") < col("v2")).cast("int"))
      .withColumn("r3",
        (col("v1") <= col("v")).cast("int") + (col("v2") <= col("v")).cast("int"))
      .withColumn("pattern",
        concat(col("r1").cast("string"), col("r2").cast("string"),
          col("r3").cast("string")))
      .groupBy("pattern")
      .agg(count(lit(1)).as("n_triples"))
      .orderBy("pattern")
  }

  val ordinalPatternsSql: String =
    """WITH daily AS (
      | SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
      |   AS epoch_day,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
      |    * 1000000 AS HUGEINT) AS BIGINT) AS v
      | FROM lineitem GROUP BY 1),
      |lagged AS (
      | SELECT epoch_day, v,
      |  LAG(v, 2) OVER (ORDER BY epoch_day) AS v1,
      |  LAG(v, 1) OVER (ORDER BY epoch_day) AS v2
      | FROM daily),
      |pat AS (
      | SELECT
      |  CAST(CASE WHEN v2 < v1 THEN 1 ELSE 0 END
      |     + CASE WHEN v < v1 THEN 1 ELSE 0 END AS VARCHAR)
      |  || CAST(CASE WHEN v1 <= v2 THEN 1 ELSE 0 END
      |     + CASE WHEN v < v2 THEN 1 ELSE 0 END AS VARCHAR)
      |  || CAST(CASE WHEN v1 <= v THEN 1 ELSE 0 END
      |     + CASE WHEN v2 <= v THEN 1 ELSE 0 END AS VARCHAR) AS pattern
      | FROM lagged WHERE v1 IS NOT NULL)
      |SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n_triples
      |FROM pat GROUP BY 1 ORDER BY 1""".stripMargin

  /** Revenue-WEIGHTED median part size — "the size where half the
    * MONEY sits", the merchandising question the unweighted median
    * (half the SKUs) answers wrongly when big sizes monetize
    * differently. Exact integer rule: the weighted median is the
    * smallest size whose cumulative revenue micros reach half the
    * total, decided by `2·cum ≥ total` on exact longs (no /2 rounding
    * ambiguity). Sizes are a bounded domain (the part dimension's
    * attribute), so the cumulative window is tiny; the fact
    * aggregation does the work. Reported per brand (bounded output).
    */
  def weightedMedian(t: Tables): DataFrame = {
    val bySize = t.lineitem
      .join(broadcast(t.part.select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(microUnits(sum(discPrice(col("l_extendedprice"), col("l_discount"))))
        .cast("long").as("wu"))
    val w = Window.partitionBy("p_brand").orderBy("p_size")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("p_brand")
    bySize
      .withColumn("cum", sum(col("wu")).over(w))
      .withColumn("total", sum(col("wu")).over(tot))
      .where(col("cum") * 2 >= col("total"))
      .groupBy(col("p_brand"))
      .agg(min(col("p_size")).as("weighted_median_size"),
        max(col("total")).as("total_micros"))
      .orderBy("p_brand")
  }

  val weightedMedianSql: String =
    """WITH by_size AS (
      | SELECT p_brand, p_size,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
      |    * 1000000 AS HUGEINT) AS BIGINT) AS wu
      | FROM lineitem JOIN part ON l_partkey = p_partkey
      | GROUP BY 1, 2),
      |cum AS (
      | SELECT p_brand, p_size, wu,
      |  CAST(SUM(wu) OVER (PARTITION BY p_brand ORDER BY p_size
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |  CAST(SUM(wu) OVER (PARTITION BY p_brand) AS BIGINT) AS total
      | FROM by_size)
      |SELECT p_brand,
      | CAST(MIN(p_size) AS INT) AS weighted_median_size,
      | CAST(MAX(total) AS BIGINT) AS total_micros
      |FROM cum WHERE cum * 2 >= total
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Star-schema referential-integrity report: one row per FK edge of
    * the schema (fact→dim and dim→dim), with referencing-row counts and
    * ORPHAN counts (FK values missing from the referenced key set) —
    * the structural DQ sweep run before trusting any join ([[Quality]]'s
    * value rules check rows; this checks the EDGES). Each edge is one
    * left-anti join on the key — co-partitioned equi-joins, dims
    * broadcast by AQE; orphan NULLs count as orphans (a null FK can't
    * join, which is exactly what the report must surface). Output is
    * edge-count-bounded.
    */
  def refIntegrity(t: Tables): DataFrame = {
    def edge(name: String, fact: DataFrame, fk: String,
        dim: DataFrame, pk: String): DataFrame = {
      val keys = dim.select(col(pk).as("__pk")).distinct()
      fact.select(col(fk).as("__fk"))
        .join(keys, col("__fk") === col("__pk"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum((col("__pk").isNull).cast("long")).as("n_orphans"))
        .select(lit(name).as("fk_edge"), col("n_rows"), col("n_orphans"))
    }
    Seq(
      edge("lineitem.l_partkey->part", t.lineitem, "l_partkey", t.part, "p_partkey"),
      edge("lineitem.l_suppkey->supplier", t.lineitem, "l_suppkey", t.supplier, "s_suppkey"),
      edge("lineitem.l_orderkey->orders", t.lineitem, "l_orderkey", t.orders, "o_orderkey"),
      edge("orders.o_custkey->customer", t.orders, "o_custkey", t.customer, "c_custkey"),
      edge("customer.c_nationkey->nation", t.customer, "c_nationkey", t.nation, "n_nationkey"),
      edge("supplier.s_nationkey->nation", t.supplier, "s_nationkey", t.nation, "n_nationkey"),
      edge("nation.n_regionkey->region", t.nation, "n_regionkey", t.region, "r_regionkey"))
      .reduce(_ union _)
      .orderBy("fk_edge")
  }

  val refIntegritySql: String = {
    def edge(name: String, fact: String, fk: String,
        dim: String, pk: String): String =
      s"""SELECT '$name' AS fk_edge,
         | CAST(COUNT(*) AS BIGINT) AS n_rows,
         | CAST(SUM(CASE WHEN d.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_orphans
         |FROM $fact f
         |LEFT JOIN (SELECT DISTINCT $pk FROM $dim) d ON f.$fk = d.$pk"""
        .stripMargin
    Seq(
      edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  /** Open-order backlog aging — operations' "what's stuck, and for how
    * long": non-finalized orders (status ≠ 'F') bucketed by age at the
    * corpus's observation end into the standard 30/60/90/older bands,
    * with exact counts and exact decimal order value per
    * (status, band). Age derives from integer day arithmetic against
    * the broadcast 1-row max-date aggregate; band edges are CASE
    * ladders (no division, nothing to drift). One fact aggregation;
    * output is status×band-bounded.
    */
  def orderAging(t: Tables): DataFrame = {
    val end = t.orders.agg(max(col("o_orderdate").cast("date")).as("e"))
    t.orders
      .where(col("o_orderstatus") =!= "F")
      .crossJoin(broadcast(end))
      .withColumn("age_days",
        datediff(col("e"), col("o_orderdate").cast("date")).cast("long"))
      .withColumn("age_band",
        when(col("age_days") <= 30, "00-30")
          .when(col("age_days") <= 60, "31-60")
          .when(col("age_days") <= 90, "61-90")
          .otherwise("90+"))
      .groupBy("o_orderstatus", "age_band")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("backlog_value"),
        min(col("age_days")).as("min_age"),
        max(col("age_days")).as("max_age"))
      .orderBy("o_orderstatus", "age_band")
  }

  val orderAgingSql: String =
    """WITH e AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS e FROM orders),
      |aged AS (
      | SELECT o_orderstatus,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), e.e) AS BIGINT)
      |    AS age_days,
      |  o_totalprice
      | FROM orders CROSS JOIN e
      | WHERE o_orderstatus <> 'F'),
      |banded AS (
      | SELECT o_orderstatus,
      |  CASE WHEN age_days <= 30 THEN '00-30'
      |       WHEN age_days <= 60 THEN '31-60'
      |       WHEN age_days <= 90 THEN '61-90'
      |       ELSE '90+' END AS age_band,
      |  age_days, o_totalprice
      | FROM aged)
      |SELECT o_orderstatus, age_band,
      | CAST(COUNT(*) AS BIGINT) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |   AS backlog_value,
      | CAST(MIN(age_days) AS BIGINT) AS min_age,
      | CAST(MAX(age_days) AS BIGINT) AS max_age
      |FROM banded GROUP BY 1, 2
      |ORDER BY o_orderstatus, age_band""".stripMargin

  /** Peak session concurrency — the sweep-line classic ("how many
    * users were on AT ONCE, and when"): sessions (the shared
    * [[Relational.sessionized]] 30-min-gap recipe) become ±1 boundary
    * events, the running sum over time is the live-session count, and
    * the report is its maximum plus the first instant it is reached.
    * CLOSED-interval semantics: at equal timestamps starts process
    * before ends (`d` descending), so touching sessions count as
    * concurrent and point sessions never dip negative. The prefix sum
    * is DISTRIBUTED (the abcAnalysis two-level rewrite: range-partition
    * the boundary stream, local window per bucket, broadcast the
    * 32-row bucket offsets) — session boundaries grow with the corpus,
    * so a single-partition global window would be the scale-killer
    * here. Rows with identical (ts, d) are interchangeable under the
    * frame, so the max and its min-ts are deterministic even though
    * their individual prefix values aren't.
    */
  def concurrencyPeak(t: Tables): DataFrame = {
    val sessions = Relational.sessionized(t)
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val deltas = sessions.select(explode(array(
        struct(col("s").as("ts"), lit(1L).as("d")),
        struct(col("e").as("ts"), lit(-1L).as("d")))).as("x"))
      .select(col("x.ts").as("ts"), col("x.d").as("d"))
    val ranged = deltas
      .repartitionByRange(32, col("ts"), col("d").desc)
      .withColumn("bucket", spark_partition_id())
      .localCheckpoint(true)
    val wLocal = Window.partitionBy("bucket")
      .orderBy(col("ts"), col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBuckets = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("bucket").agg(sum(col("d")).as("bt"))
      .withColumn("off", sum(col("bt")).over(wBuckets))
      .select("bucket", "off")
    val nSessions = sessions.agg(count(lit(1)).as("n_sessions"))
    ranged
      .withColumn("local_cum", sum(col("d")).over(wLocal))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("conc", coalesce(col("off"), lit(0L)) + col("local_cum"))
      .groupBy()
      .agg(max(struct(col("conc"), (-col("ts").cast("double")).as("nts"))).as("m"))
      .select(col("m.conc").as("peak_concurrency"),
        (-col("m.nts")).cast("timestamp").as("peak_ts"))
      .crossJoin(broadcast(nSessions))
      .select(col("n_sessions"), col("peak_concurrency"), col("peak_ts"))
  }

  val concurrencyPeakSql: String =
    """WITH s AS (
      | SELECT user_id, ts, value,
      |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      | FROM (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |   CASE WHEN prev_s IS NULL
      |         OR epoch(CAST(ts AS TIMESTAMP)) - prev_s > 1800.0
      |        THEN 1 ELSE 0 END AS is_new
      |  FROM (
      |   SELECT user_id, event_id, ts, value,
      |    LAG(epoch(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_s
      |   FROM events))),
      |sess AS (
      | SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
      | FROM s GROUP BY 1, 2),
      |deltas AS (
      | SELECT s AS ts, CAST(1 AS BIGINT) AS d FROM sess
      | UNION ALL
      | SELECT e AS ts, CAST(-1 AS BIGINT) AS d FROM sess),
      |run AS (
      | SELECT ts, CAST(SUM(d) OVER (ORDER BY ts, d DESC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
      | FROM deltas)
      |SELECT
      | (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions,
      | (SELECT conc FROM run ORDER BY conc DESC, ts LIMIT 1)
      |   AS peak_concurrency,
      | (SELECT ts FROM run ORDER BY conc DESC, ts LIMIT 1) AS peak_ts"""
      .stripMargin

  /** Calendar-spine densification report per brand: generate the FULL
    * day spine between each brand's first and last shipment (in-row
    * `sequence()` + explode — Spark's generate_series, no driver loop,
    * no recursive join), left-join the observed daily revenue, and
    * report coverage (active days, zero-revenue gap days, longest gap
    * run via the gaps-islands index trick on the spine). The
    * time-series hygiene step before any resample/forecast consumes a
    * series that silently skips days. Spine size is brands × days
    * (dim-bounded); the fact table collapses to brand-days first.
    */
  def dateSpine(t: Tables): DataFrame = {
    val daily = t.lineitem
      .join(broadcast(t.part.select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"),
        col("l_shipdate").cast("date").as("d"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("rev"))
    val spine = daily.groupBy("p_brand")
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("p_brand"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    val joined = spine.join(daily, Seq("p_brand", "d"), "left")
      .withColumn("active", col("rev").isNotNull.cast("long"))
    val w = Window.partitionBy("p_brand").orderBy("d")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("gap_cum", sum(lit(1L) - col("active")).over(wRun))
      // gaps-islands: within a gap run idx and gap_cum advance together,
      // so idx - gap_cum is constant across the run and jumps at each
      // active day — a stable per-run id without lag chains
      .withColumn("run_grp",
        when(col("active") === 0, col("idx") - col("gap_cum")))
      .withColumn("gap_len",
        when(col("active") === 0, count(lit(1)).over(
          Window.partitionBy(col("p_brand"), col("run_grp")))))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("active")).as("n_active_days"),
        sum(lit(1L) - col("active")).as("n_gap_days"),
        coalesce(max(col("gap_len")), lit(0L)).as("longest_gap_run"))
      .orderBy("p_brand")
  }

  val dateSpineSql: String =
    """WITH daily AS (
      | SELECT p_brand, CAST(l_shipdate AS DATE) AS d,
      |  SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))) AS rev
      | FROM lineitem JOIN part ON l_partkey = p_partkey
      | GROUP BY 1, 2),
      |bounds AS (
      | SELECT p_brand, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
      |spine AS (
      | SELECT p_brand,
      |  CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
      | FROM bounds),
      |j AS (
      | SELECT s.p_brand, s.d,
      |  CASE WHEN daily.rev IS NOT NULL THEN 1 ELSE 0 END AS active
      | FROM spine s LEFT JOIN daily
      |   ON daily.p_brand = s.p_brand AND daily.d = s.d),
      |ix AS (
      | SELECT p_brand, d, active,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY d)
      |    AS BIGINT) AS idx,
      |  CAST(SUM(1 - active) OVER (PARTITION BY p_brand ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS gap_cum
      | FROM j),
      |runs AS (
      | SELECT p_brand, active,
      |  CASE WHEN active = 0 THEN idx - gap_cum END AS run_grp
      | FROM ix),
      |lens AS (
      | SELECT p_brand, active,
      |  CASE WHEN active = 0 THEN
      |    CAST(COUNT(*) OVER (PARTITION BY p_brand, run_grp) AS BIGINT)
      |  END AS gap_len
      | FROM runs)
      |SELECT p_brand,
      | CAST(COUNT(*) AS BIGINT) AS n_days,
      | CAST(SUM(active) AS BIGINT) AS n_active_days,
      | CAST(SUM(1 - active) AS BIGINT) AS n_gap_days,
      | COALESCE(MAX(gap_len), 0) AS longest_gap_run
      |FROM lens GROUP BY 1 ORDER BY 1""".stripMargin

  private val EqDepthBuckets = 10

  /** Equi-DEPTH histogram of per-part revenue (deciles by part count):
    * each bucket holds ~the same number of parts, exposing the shape
    * equi-width buckets flatten (one whale makes 9 empty width
    * buckets). Bucket assignment rides the DISTRIBUTED two-level rank
    * ([[Ranks.withGlobalRank]]: range repartition + local rank +
    * broadcast offsets) plus [[Ranks.ntileOf]]'s exact remainder rule —
    * no single-partition NTILE window ever materializes the part
    * dimension in one task. Per bucket: exact part count, integer micro
    * bounds, and exact decimal revenue share surfaced as one double
    * division. NTILE's remainder rule (first buckets get the extra
    * rows) is identical in both engines; (units, partkey) ordering
    * makes bucket assignment deterministic under ties.
    */
  def equidepthHist(t: Tables): DataFrame = {
    val perPart = Facts.partRevenue(t)
      .select(col("l_partkey"), microUnits(col("rev")).cast("long").as("units"))
    val (ranked, total) = Ranks.withGlobalRank(
      perPart, "_grk", col("units"), col("l_partkey"))
    ranked
      .withColumn("bucket",
        Ranks.ntileOf(EqDepthBuckets, col("_grk"), total).cast("long"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_parts"),
        min(col("units")).as("lo_micros"),
        max(col("units")).as("hi_micros"),
        sum(col("units")).as("bucket_micros"))
      .withColumn("rev_share",
        col("bucket_micros").cast("double") /
          sum(col("bucket_micros")).over(Window.partitionBy()).cast("double"))
      .orderBy("bucket")
  }

  val equidepthHistSql: String =
    s"""WITH per_part AS (
       | SELECT l_partkey,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)))
       |    * 1000000 AS HUGEINT) AS BIGINT) AS units
       | FROM lineitem GROUP BY 1),
       |bk AS (
       | SELECT units,
       |  CAST(NTILE($EqDepthBuckets) OVER (ORDER BY units, l_partkey)
       |    AS BIGINT) AS bucket
       | FROM per_part),
       |agg AS (
       | SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_parts,
       |  CAST(MIN(units) AS BIGINT) AS lo_micros,
       |  CAST(MAX(units) AS BIGINT) AS hi_micros,
       |  CAST(SUM(units) AS BIGINT) AS bucket_micros
       | FROM bk GROUP BY 1)
       |SELECT bucket, n_parts, lo_micros, hi_micros, bucket_micros,
       | CAST(bucket_micros AS DOUBLE) /
       |   CAST(SUM(bucket_micros) OVER () AS DOUBLE) AS rev_share
       |FROM agg ORDER BY bucket""".stripMargin

  /** Per-source WINSORIZED mean of document length — the robust-mean
    * report that tames heavy-tailed length distributions before any
    * budget math: values below the p10 / above the p90 cut are clamped
    * to the cut instead of dropped (contrast trimming), then averaged.
    * The percentile cuts are EXACT and sort-free: document length is a
    * bounded integer domain, so a (source, n_chars) → count histogram
    * plus one cumulative window per source (bounded rows at ANY corpus
    * size) yields `p10 = min v with 10·cum ≥ n`, `p90 = min v with
    * 10·cum ≥ 9·n` — the `text_perplexity_gate` histogram-quantile
    * recipe per group. The clamp + mean is one more linear pass; the
    * mean divides two exact integers in double (engine-portable).
    */
  def winsorize(t: Tables): DataFrame = {
    val hist = t.documents.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
      .groupBy("source")
      .agg(min(when(col("cum") * 10 >= col("n"), col("v"))).as("p10"),
        min(when(col("cum") * 10 >= col("n") * 9, col("v"))).as("p90"),
        first(col("n")).as("n_docs"))
    t.documents
      .join(broadcast(cuts), Seq("source"))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("p10")).as("p10"), first(col("p90")).as("p90"),
        (sum(greatest(col("p10"), least(col("p90"), col("n_chars"))))
          .cast("double") / count(lit(1))).as("winsorized_mean"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("raw_mean"))
      .orderBy("source")
  }

  val winsorizeSql: String =
    """WITH h AS (
      | SELECT source, n_chars AS v, COUNT(*) AS c
      | FROM documents GROUP BY 1, 2),
      |cum AS (
      | SELECT source, v,
      |  SUM(c) OVER (PARTITION BY source ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |  SUM(c) OVER (PARTITION BY source) AS n
      | FROM h),
      |cuts AS (
      | SELECT source,
      |  MIN(CASE WHEN cum * 10 >= n THEN v END) AS p10,
      |  MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS p90,
      |  MAX(n) AS n_docs
      | FROM cum GROUP BY source)
      |SELECT d.source, CAST(MAX(cuts.n_docs) AS BIGINT) AS n_docs,
      | CAST(MAX(cuts.p10) AS BIGINT) AS p10, CAST(MAX(cuts.p90) AS BIGINT) AS p90,
      | CAST(SUM(GREATEST(cuts.p10, LEAST(cuts.p90, d.n_chars))) AS DOUBLE)
      |   / COUNT(*) AS winsorized_mean,
      | CAST(SUM(d.n_chars) AS DOUBLE) / COUNT(*) AS raw_mean
      |FROM documents d JOIN cuts USING (source)
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  /** Laspeyres price index — "how much would the BASE month's basket
    * cost at month t's prices": for parts traded in both months,
    * index_t = Σ p_t(i)·q₀(i) / Σ p₀(i)·q₀(i). Unit prices are exact
    * integer MICROS (`(Σext·10⁶) div Σqty` — portable truncating
    * division), quantities exact longs, so each basket valuation is an
    * exact DECIMAL(38,0) sum (a long would overflow at ~10⁴ parts ×
    * 10¹⁵ value) converted once through the hi/lo
    * [[graft.functions.Exact.decToDouble]] split; the index is ONE
    * double division. Shape: one (part, month) aggregation, a base-
    * month broadcast join, one bounded per-month aggregation.
    */
  def priceIndex(t: Tables): DataFrame = {
    val pm = t.lineitem
      .groupBy(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ym"))
      .agg(microUnits(sum(dec(col("l_extendedprice")))).cast("long").as("ext_micros"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .select(col("l_partkey"), col("ym"),
        expr("ext_micros div qty").as("p_micros"), col("qty"))
    val base = pm.agg(min(col("ym")).as("ym0"))
    val basket = pm.crossJoin(broadcast(base))
      .where(col("ym") === col("ym0"))
      .select(col("l_partkey"), col("p_micros").as("p0"), col("qty").as("q0"))
    pm.join(basket, Seq("l_partkey"))
      .groupBy("ym")
      .agg(count(lit(1)).as("n_common_parts"),
        sum(col("p_micros").cast(d38) * col("q0")).as("num"),
        sum(col("p0").cast(d38) * col("q0")).as("den"))
      .select(col("ym"), col("n_common_parts"),
        (graft.functions.Exact.decToDouble(col("num")) /
          graft.functions.Exact.decToDouble(col("den"))).as("laspeyres_index"))
      .orderBy("ym")
  }

  val priceIndexSql: String =
    s"""WITH pm AS (
       | SELECT l_partkey, strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ym,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 1000000 AS BIGINT)
       |    // CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS p_micros,
       |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
       | FROM lineitem GROUP BY 1, 2),
       |b AS (SELECT MIN(ym) AS ym0 FROM pm),
       |basket AS (
       | SELECT l_partkey, p_micros AS p0, qty AS q0
       | FROM pm, b WHERE ym = ym0),
       |idx AS (
       | SELECT pm.ym, CAST(COUNT(*) AS BIGINT) AS n_common_parts,
       |  SUM(CAST(pm.p_micros AS HUGEINT) * basket.q0) AS num,
       |  SUM(CAST(basket.p0 AS HUGEINT) * basket.q0) AS den
       | FROM pm JOIN basket USING (l_partkey)
       | GROUP BY 1)
       |SELECT ym, n_common_parts,
       | ${graft.functions.Exact.decToDoubleSql("num")}
       |   / ${graft.functions.Exact.decToDoubleSql("den")} AS laspeyres_index
       |FROM idx ORDER BY ym""".stripMargin

  /** Equi-width buckets held by the [[quantileSketchAudit]] histogram —
    * the sketch's whole memory footprint, independent of data volume.
    */
  private val QsBuckets = 256

  /** Percentiles audited by [[quantileSketchAudit]]. */
  private val QsPcts = Seq(10, 25, 50, 75, 90, 99)

  /** Quantile-sketch accuracy audit — the report that DECIDES whether a
    * bounded-memory quantile estimate is good enough to replace the
    * exact global rank at 100 TB (the numeric sibling of
    * [[graft.operators.Dedup.tierEval]]): a [[QsBuckets]]-bucket
    * equi-width histogram (two narrow passes: min/max, then counts —
    * the classic fixed-memory sketch) estimates each percentile by
    * integer interpolation inside its bucket, and each estimate is
    * scored against the EXACT value at the same rank from the
    * distributed two-level rank. All integer cents: width, bucket,
    * target rank, and interpolation use truncating `div` over
    * nonnegative operands (≡ DuckDB `//`), so the audit is
    * engine-portable to the bit.
    *
    * Scale: the exact side is one range shuffle ([[Ranks]]); the sketch
    * side is two aggregations and a window over the 256-row bucket
    * domain. The audit itself joins 6 target rows — nothing data-sized
    * moves twice.
    */
  def quantileSketchAudit(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    // through DECIMAL(12,2) first: the raw column is a parquet double,
    // and double×100 → long TRUNCATES in Spark but ROUNDS in DuckDB
    val v = t.lineitem.select(
      cents(dec(col("l_extendedprice"))).as("c"),
      col("l_orderkey"), col("l_linenumber"))
    val st = v.agg(count(lit(1)).as("n"), min(col("c")).as("mn"),
        max(col("c")).as("mx"))
      .withColumn("w", expr(s"((mx - mn) div $QsBuckets) + 1"))
      .localCheckpoint(true) // 1 row; read by histogram, targets, est
    val hist = v.crossJoin(broadcast(st.select("mn", "w")))
      .select(expr("(c - mn) div w").as("b"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))
    val wb = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hc = hist.withColumn("cum", sum(col("cnt")).over(wb))
    val targets = QsPcts.toDF("pct")
      .crossJoin(broadcast(st))
      .select(col("pct"), expr("((n - 1) * pct) div 100").as("tgt"),
        col("mn"), col("w"))
    val est = targets.join(hc,
        col("cum") > col("tgt") && col("cum") - col("cnt") <= col("tgt"))
      .select(col("pct"), col("tgt"),
        expr("mn + b * w + ((tgt - (cum - cnt)) * w) div cnt").as("est_cents"))
    val (ranked, _) = graft.operators.Ranks.withGlobalRank(
      v, "rk", col("c"), col("l_orderkey"), col("l_linenumber"))
    val exact = ranked.join(
        broadcast(est.select(col("pct").as("e_pct"), col("tgt") + 1L as "trk",
          col("est_cents"))),
        col("rk") === col("trk"))
      .select(col("e_pct").as("pct"), col("c").as("exact_cents"),
        col("est_cents"))
    exact.select(col("pct"), col("exact_cents"), col("est_cents"),
        abs(col("est_cents") - col("exact_cents")).as("err_cents"),
        (abs(col("est_cents") - col("exact_cents")).cast("double") /
          col("exact_cents")).as("err_frac"))
      .orderBy("pct")
  }

  /** Oracle: identical sketch construction (width, buckets, cumulative
    * crossing, integer interpolation) + a full-sort exact rank.
    */
  val quantileSketchAuditSql: String = {
    val pctList = QsPcts.mkString(", ")
    s"""WITH v AS (
       | SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
       |   AS c,
       |  l_orderkey, l_linenumber
       | FROM lineitem),
       |st AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(c) AS mn, MAX(c) AS mx
       | FROM v),
       |wd AS (SELECT n, mn, mx, ((mx - mn) // $QsBuckets) + 1 AS w FROM st),
       |hb AS (
       | SELECT (c - mn) // w AS b, CAST(COUNT(*) AS BIGINT) AS cnt
       | FROM v, wd GROUP BY 1),
       |hc AS (
       | SELECT b, cnt, CAST(SUM(cnt) OVER (ORDER BY b) AS BIGINT) AS cum
       | FROM hb),
       |rk AS (
       | SELECT c, ROW_NUMBER() OVER (ORDER BY c, l_orderkey, l_linenumber)
       |   AS r
       | FROM v),
       |tr AS (
       | SELECT pct, ((n - 1) * pct) // 100 AS tgt, mn, w
       | FROM (SELECT unnest([$pctList]) AS pct), wd),
       |est AS (
       | SELECT pct, tgt,
       |  CAST(mn + b * w + ((tgt - (cum - cnt)) * w) // cnt AS BIGINT)
       |    AS est_cents
       | FROM tr JOIN hc ON cum > tgt AND cum - cnt <= tgt),
       |ex AS (SELECT pct, tgt, c AS exact_cents
       |       FROM tr JOIN rk ON r = tgt + 1)
       |SELECT pct, exact_cents, est_cents,
       | ABS(est_cents - exact_cents) AS err_cents,
       | CAST(ABS(est_cents - exact_cents) AS DOUBLE) / exact_cents
       |   AS err_frac
       |FROM ex JOIN est USING (pct)
       |ORDER BY pct""".stripMargin
  }
}
