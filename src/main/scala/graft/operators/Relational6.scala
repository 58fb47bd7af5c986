package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-4 relational operators: snapshot diffing, sliding distinct
  * counts, robust statistics, sequence-pattern matching, and
  * bloom-filter join pre-filtering.
  */
object Relational6 {

  // ---------------------------------------------------------------- diff

  /** Two deterministic "snapshots" derived from the customer table so the
    * diff has known adds/removes/changes: the NEW snapshot drops every
    * 13th key (deletes), bumps the balance of every 7th (updates), and
    * re-segments every 11th; the OLD snapshot drops every 17th key, so
    * those rows surface as adds. Derivation is pure projection/filter —
    * no synthetic rows, both engines rebuild the identical snapshots.
    */
  private def custSnapshots(t: Tables): (DataFrame, DataFrame) = {
    val base = t.customer.select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      dec(col("c_acctbal")).as("bal"))
    val old = base.where(col("c_custkey") % 17 =!= 0)
    val neu = base.where(col("c_custkey") % 13 =!= 0)
      .select(
        col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 11 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        when(col("c_custkey") % 7 === 0, col("bal") + dec(lit(100.00)))
          .otherwise(col("bal")).as("bal"))
    (old, neu)
  }

  /** Snapshot change detection — the table-diff step of a CDC/audit
    * pipeline: FULL OUTER join two snapshots on the key and classify each
    * row `added` / `removed` / `changed`, with the changed column names
    * as a canonical comma-joined string. One co-partitioned shuffle join
    * on the key; unchanged rows (the overwhelming majority at scale) are
    * filtered before the final order.
    */
  def changeDetection(t: Tables): DataFrame = {
    val (old, neu) = custSnapshots(t)
    val o = old.select(col("c_custkey"), col("c_name").as("o_name"),
      col("c_mktsegment").as("o_seg"), col("bal").as("o_bal"))
    val n = neu.select(col("c_custkey"), col("c_name").as("n_name"),
      col("c_mktsegment").as("n_seg"), col("bal").as("n_bal"))
    o.join(n, Seq("c_custkey"), "full_outer")
      .withColumn("status",
        when(col("o_name").isNull, lit("added"))
          .when(col("n_name").isNull, lit("removed"))
          .when(col("o_name") =!= col("n_name") ||
            col("o_seg") =!= col("n_seg") ||
            col("o_bal") =!= col("n_bal"), lit("changed")))
      .where(col("status").isNotNull)
      .withColumn("changed_cols",
        when(col("status") === "changed",
          array_join(array(
            when(col("o_name") =!= col("n_name"), lit("name")),
            when(col("o_seg") =!= col("n_seg"), lit("segment")),
            when(col("o_bal") =!= col("n_bal"), lit("balance"))), ","))
          .otherwise(lit("")))
      .select(col("c_custkey"), col("status"), col("changed_cols"),
        col("o_bal").cast("double").as("old_bal"),
        col("n_bal").cast("double").as("new_bal"))
      .orderBy("c_custkey")
  }

  val changeDetectionSql: String =
    """WITH base AS (
      | SELECT c_custkey, c_name, c_mktsegment,
      |  CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      | FROM customer),
      |old AS (SELECT * FROM base WHERE c_custkey % 17 <> 0),
      |neu AS (
      | SELECT c_custkey, c_name,
      |  CASE WHEN c_custkey % 11 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
      |  CASE WHEN c_custkey % 7 = 0 THEN bal + 100.00 ELSE bal END AS bal
      | FROM base WHERE c_custkey % 13 <> 0),
      |d AS (
      | SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
      |  CASE WHEN o.c_custkey IS NULL THEN 'added'
      |       WHEN n.c_custkey IS NULL THEN 'removed'
      |       WHEN o.c_name <> n.c_name OR o.c_mktsegment <> n.c_mktsegment
      |            OR o.bal <> n.bal THEN 'changed' END AS status,
      |  o.c_name AS o_name, n.c_name AS n_name,
      |  o.c_mktsegment AS o_seg, n.c_mktsegment AS n_seg,
      |  o.bal AS o_bal, n.bal AS n_bal
      | FROM old o FULL OUTER JOIN neu n ON o.c_custkey = n.c_custkey)
      |SELECT c_custkey, status,
      | CASE WHEN status = 'changed' THEN
      |  array_to_string(list_filter(
      |   [CASE WHEN o_name <> n_name THEN 'name' END,
      |    CASE WHEN o_seg <> n_seg THEN 'segment' END,
      |    CASE WHEN o_bal <> n_bal THEN 'balance' END], x -> x IS NOT NULL), ',')
      | ELSE '' END AS changed_cols,
      | CAST(o_bal AS DOUBLE) AS old_bal, CAST(n_bal AS DOUBLE) AS new_bal
      |FROM d WHERE status IS NOT NULL
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------- sliding distinct

  /** Trailing 7-day DISTINCT active users per day. Sliding distinct
    * counts don't decompose into window frames (distinct isn't
    * subtractable), so the classic scalable shape is used: dedup to
    * (user, day) once, then EXPLODE each user-day into the ≤7 window
    * days it contributes to — a bounded linear expansion (×7), never a
    * range self-join — and count distinct per window day. Reported only
    * for days that actually had events.
    */
  def slidingDistinct(t: Tables): DataFrame = {
    val ud = t.events
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val active = ud.select(col("d")).distinct()
    ud.select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("wd"))
      .join(active.withColumnRenamed("d", "wd"), Seq("wd"))
      .groupBy("wd")
      .agg(countDistinct(col("user_id")).as("active_users_7d"))
      .select(col("wd").as("d"), col("active_users_7d"))
      .orderBy("d")
  }

  val slidingDistinctSql: String =
    """WITH ud AS (
      | SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      | FROM events),
      |active AS (SELECT DISTINCT d FROM ud)
      |SELECT a.d, COUNT(DISTINCT u.user_id) AS active_users_7d
      |FROM active a JOIN ud u ON u.d BETWEEN a.d - 6 AND a.d
      |GROUP BY a.d
      |ORDER BY a.d""".stripMargin

  // ----------------------------------------------------------- robust stats

  /** Median absolute deviation per group — the robust dispersion measure
    * (outlier-insensitive, unlike stddev). Two exact-percentile passes:
    * group medians (broadcast back — one row per group), then the median
    * of absolute deviations. Money is lifted to INTEGER CENTS first so
    * the even-count interpolation (`a + (b − a)·0.5`) only ever touches
    * integers and exact halves/quarters — bit-identical in any engine,
    * where interpolating raw doubles could diverge in the last ulp.
    * Results surface in currency units via one final exact-input /100.
    */
  def mad(t: Tables): DataFrame = {
    val x = t.orders.select(col("o_orderpriority"),
      cents(dec(col("o_totalprice"))).cast("double").as("v"))
    val med = x.groupBy("o_orderpriority")
      .agg(expr("percentile(v, 0.5)").as("med"), count(lit(1)).as("n"))
    x.join(broadcast(med), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"), col("med"), col("n"))
      .agg(expr("percentile(abs(v - med), 0.5)").as("mad_c"))
      .select(col("o_orderpriority"), col("n"),
        (col("med") / 100.0).as("med"), (col("mad_c") / 100.0).as("mad"))
      .orderBy("o_orderpriority")
  }

  val madSql: String =
    """WITH x AS (
      | SELECT o_orderpriority,
      |  CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS DOUBLE) AS v
      | FROM orders),
      |med AS (
      | SELECT o_orderpriority, median(v) AS med, COUNT(*) AS n
      | FROM x GROUP BY o_orderpriority)
      |SELECT x.o_orderpriority, m.n, m.med / 100.0 AS med,
      | median(abs(x.v - m.med)) / 100.0 AS mad
      |FROM x JOIN med m ON x.o_orderpriority = m.o_orderpriority
      |GROUP BY x.o_orderpriority, m.n, m.med
      |ORDER BY x.o_orderpriority""".stripMargin

  // ------------------------------------------------- sequence patterns

  /** Sequence-pattern matching (MATCH_RECOGNIZE analog): each user's
    * event history becomes an ordered initial-letter string (one char per
    * event, ordered by ts with event_id tie-break) and a regex counts
    * non-overlapping `v+c+p` runs — views then clicks then a purchase
    * with nothing in between. One key-partitioned aggregation builds the
    * per-user sequence row-locally (sort_array on the collected structs —
    * no window pass); the regex is left-to-right non-overlapping in both
    * engines.
    */
  def eventRegex(t: Tables): DataFrame = {
    val seqCol = array_join(
      transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")))),
        e => e.getField("c")), "")
    t.events
      .groupBy("user_id")
      .agg(seqCol.as("seq"))
      .select(col("user_id"), length(col("seq")).cast("long").as("n_events"),
        regexp_count(col("seq"), lit("v+c+p")).cast("long").as("n_conversions"))
      .where(col("n_conversions") > 0)
      .orderBy("user_id")
  }

  val eventRegexSql: String =
    """WITH s AS (
      | SELECT user_id,
      |  string_agg(substr(event_type, 1, 1), '' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
      | FROM events GROUP BY user_id)
      |SELECT user_id, length(seq) AS n_events,
      | len(regexp_extract_all(seq, 'v+c+p')) AS n_conversions
      |FROM s
      |WHERE len(regexp_extract_all(seq, 'v+c+p')) > 0
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------- bloom pre-filter

  /** Bloom-filter join pre-filtering — the runtime-filter pattern for
    * big-fact ⋈ selective-dim joins at scale: build a bloom filter over
    * the qualifying orders' keys (distributed aggregation, merged to one
    * binary value that reaches the fact scan as a scalar subquery), cut
    * the fact table with the might-contain test BEFORE its shuffle, then
    * run the exact join.
    * False positives survive the pre-filter but are removed by the join
    * itself, so the result is EXACTLY the plain join — which is what the
    * oracle runs. The win at 100 TB: the fact shuffle carries ~the
    * selectivity of the dim filter instead of the full table.
    *
    * Uses Catalyst's own `bloom_filter_agg` / `might_contain` pair
    * (registered by [[graft.plans.GraftExtensions]]) — the same
    * machinery Spark's runtime row-level filtering injects. The
    * predicate is codegen'd; there is no Scala-UDF serialization
    * boundary in the fact-scan hot path, and the filter is built in ONE
    * aggregation job with a static capacity bound instead of a separate
    * sizing `count()` pass (callers with cardinality stats should pass
    * their own estimate; oversizing only costs bits, never correctness).
    */
  def bloomSemiFilter(t: Tables): DataFrame = {
    val urgent = t.orders.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    // static upper bound on qualifying keys: 1M items / 8M bits (1 MB).
    // The filter is a scalar subquery, not a driver fetch: an empty build
    // side aggregates to a NULL filter, might_contain is then NULL, and
    // the where drops every row
    val bf = urgent.agg(
      call_function("bloom_filter_agg", col("o_orderkey"),
        lit(1000000L), lit(8000000L))).scalar()
    t.lineitem.where(call_function("might_contain", bf, col("l_orderkey")))
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_lines"),
        sum(discPrice(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
      .orderBy("month")
  }

  val bloomSemiFilterSql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      | COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |   CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY month
      |ORDER BY month""".stripMargin

  /** 2-D skyline (Pareto frontier): parts minimal in BOTH retail price
    * and size — no other part is ≤ on both dimensions and < on one. The
    * n² dominance test collapses to sort-order algebra: group to one row
    * per price (min size), take the running minimum over STRICTLY
    * cheaper prices, and a part survives iff it has its price group's
    * minimal size and beats that running minimum. The running minimum
    * rides the distributed two-level prefix scan
    * ([[Ranks.withGlobalPrefixAggs]]: range repartition + local window
    * + broadcast offsets) — the distinct-price domain never funnels
    * through one task; rows themselves just equi-join back on price.
    * The oracle runs the literal NOT EXISTS dominance scan, so the
    * rewrite is what's verified.
    */
  def skyline(t: Tables): DataFrame = {
    val perPrice = t.part.groupBy("p_retailprice")
      .agg(min(col("p_size")).as("grp_min"))
    val withPrev = Ranks.withGlobalPrefixAggs(perPrice,
      Seq(col("p_retailprice")),
      Seq(("prev_min", col("grp_min"), "min", false)))
    t.part.join(withPrev, Seq("p_retailprice"))
      .where(col("p_size") === col("grp_min") &&
        (col("prev_min").isNull || col("prev_min") > col("p_size")))
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy("p_partkey")
  }

  val skylineSql: String =
    """SELECT p_partkey, p_retailprice, p_size
      |FROM part q
      |WHERE NOT EXISTS (
      | SELECT 1 FROM part p
      | WHERE p.p_retailprice <= q.p_retailprice AND p.p_size <= q.p_size
      |   AND (p.p_retailprice < q.p_retailprice OR p.p_size < q.p_size))
      |ORDER BY p_partkey""".stripMargin
}
