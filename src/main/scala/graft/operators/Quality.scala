package graft.operators

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data and data-quality operators: CDC log compaction, rule
  * checks, and the remaining join shapes.
  */
object Quality {

  /** CDC compaction: latest state per key from an append-only change log
    * (events as the log, user as the key). One shuffle on the key; at
    * scale this is the standard upsert-materialization pattern.
    */
  def latestByKey(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    t.events
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  val latestByKeySql: String =
    """SELECT user_id, event_id, ts, event_type, value FROM (
      | SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
      |  ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      | FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Data-quality rule sweep (the pre-load gate the reference's
    * `_normalize_df` required-columns check hints at, loaders.py:145).
    *
    * ONE pass per table, no driver-side actions: the null-key and
    * duplicate-PK rules share a single groupBy over orders, the FK and
    * range rules share a single left join over lineitem, and the four
    * scalars meet in a 1×1 cross join that `stack` unpivots — the whole
    * sweep is one lazy plan instead of four separate count jobs.
    */
  def dqChecks(t: Tables): DataFrame = {
    val orderStats = t.orders
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("cnt"))
      .agg(
        coalesce(sum(when(col("o_orderkey").isNull, col("cnt"))), lit(0L))
          .as("null_order_keys"),
        count(when(col("cnt") > 1, 1)).as("orders_pk_duplicates"))
    val lineitemStats = t.lineitem
      .select("l_orderkey", "l_discount", "l_quantity")
      .join(t.orders.select(col("o_orderkey")).distinct(), // NOT EXISTS semantics even under dup PKs
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(
        count(when(col("o_orderkey").isNull, 1)).as("fk_lineitem_orders_orphans"),
        count(when(col("l_discount") < 0 || col("l_discount") > 1 ||
          col("l_quantity") <= 0, 1)).as("range_violations"))
    orderStats.crossJoin(lineitemStats) // two 1-row branches
      .selectExpr(
        """stack(4,
          | 'fk_lineitem_orders_orphans', fk_lineitem_orders_orphans,
          | 'null_order_keys', null_order_keys,
          | 'orders_pk_duplicates', orders_pk_duplicates,
          | 'range_violations', range_violations) AS (rule, n_violations)""".stripMargin)
      .orderBy("rule")
  }

  val dqChecksSql: String =
    """SELECT 'fk_lineitem_orders_orphans' AS rule,
      | (SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
      |   (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_violations
      |UNION ALL
      |SELECT 'null_order_keys',
      | (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL)
      |UNION ALL
      |SELECT 'orders_pk_duplicates',
      | (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
      |UNION ALL
      |SELECT 'range_violations',
      | (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1 OR l_quantity <= 0)
      |ORDER BY rule""".stripMargin

  /** SCD2 interval construction from a change log: each event becomes a
    * versioned row with [valid_from, valid_to) bounds and a current flag
    * — the slowly-changing-dimension build every warehouse load needs.
    */
  def scd2(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t.events
      .where(col("user_id") < 20)
      .select(
        col("user_id"), col("event_id"), col("value"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("user_id", "valid_from", "event_id")
  }

  val scd2Sql: String =
    """SELECT user_id, event_id, value, valid_from,
      | LEAD(valid_from, 1) OVER (PARTITION BY user_id
      |   ORDER BY valid_from, event_id) AS valid_to,
      | LEAD(valid_from, 1) OVER (PARTITION BY user_id
      |   ORDER BY valid_from, event_id) IS NULL AS is_current
      |FROM (
      | SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS valid_from
      | FROM events WHERE user_id < 20)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** Point-in-time (as-of-event-time) join against an SCD2 dimension —
    * the query every versioned warehouse must answer correctly: each
    * fact row joins the dimension VERSION that was valid at the fact's
    * event time, never the current one (joining current state into
    * historical facts is the classic leakage bug). Dimension versions
    * here are the per-user `view` event stream turned into contiguous
    * [valid_from, valid_to) intervals ([[scd2]]'s construction); facts
    * are the `purchase` events; a purchase before the user's first
    * version keeps NULL dim columns (left join — facts never vanish).
    * Interval disjointness makes the match unique by construction, so
    * the join can't fan out. Reference scope: transform.py:21-58's
    * enrichment joins, upgraded to version-correct semantics (Kimball
    * SCD type 2, public methodology).
    *
    * Scale: an equi-join on the user key carrying a range residual —
    * shuffles both sides by user exactly once; version chains ride the
    * same partition so the interval filter is local. The streaming twin
    * is [[graft.streaming.Streams.scd2EnrichStream]].
    */
  def pitJoin(t: Tables): DataFrame = {
    val base = t.events.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("version_id"),
        col("value").as("state_value"), col("ts").as("valid_from"))
    val wd = Window.partitionBy("user_id").orderBy("valid_from", "version_id")
    val dim = base.withColumn("valid_to", lead(col("valid_from"), 1).over(wd))
    val facts = t.events.where(col("event_type") === "purchase")
      .select(col("event_id").as("fact_id"), col("user_id").as("f_user"),
        col("ts").as("fact_ts"), col("value").as("amount"))
    facts.join(dim,
        col("f_user") === col("user_id") &&
          col("fact_ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("fact_ts") < col("valid_to")),
        "left")
      .select(col("fact_id"), col("f_user").as("user_id"), col("fact_ts"),
        col("amount"), col("version_id"), col("state_value"))
      .orderBy("fact_id")
  }

  /** Oracle: identical interval construction and PIT predicate. */
  val pitJoinSql: String =
    """WITH dim AS (
      | SELECT user_id, event_id AS version_id, value AS state_value,
      |  CAST(ts AS TIMESTAMP) AS valid_from,
      |  LEAD(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS valid_to
      | FROM events WHERE event_type = 'view'),
      |facts AS (
      | SELECT event_id AS fact_id, user_id,
      |  CAST(ts AS TIMESTAMP) AS fact_ts, value AS amount
      | FROM events WHERE event_type = 'purchase')
      |SELECT f.fact_id, f.user_id, f.fact_ts, f.amount,
      | d.version_id, d.state_value
      |FROM facts f LEFT JOIN dim d
      |  ON f.user_id = d.user_id AND f.fact_ts >= d.valid_from
      | AND (d.valid_to IS NULL OR f.fact_ts < d.valid_to)
      |ORDER BY fact_id""".stripMargin

  /** Key-collision dedup end-to-end: fingerprint groups with keeper and
    * member list (the group-forming step after
    * [[TextAnalysis.fingerprint]]).
    */
  def fingerprintGroups(t: Tables): DataFrame =
    t.documents
      .withColumn("fp",
        md5(concat_ws(" ", array_sort(array_distinct(split(lower(trim(col("text"))), " "))))))
      .groupBy("fp")
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_members"),
        array_join(array_sort(collect_list(col("doc_id"))).cast("array<string>"), ",")
          .as("members"))
      .where(col("n_members") > 1)
      .orderBy("keep_id")

  val fingerprintGroupsSql: String =
    """SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_members,
      | array_to_string(list_sort(list(doc_id)), ',') AS members
      |FROM (
      | SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp
      | FROM documents)
      |GROUP BY fp
      |HAVING COUNT(*) > 1
      |ORDER BY keep_id""".stripMargin

  /** Deterministic per-key mode: most frequent event type per user, ties
    * broken alphabetically (rank-based, so both engines agree — the
    * built-in `mode` leaves ties unspecified).
    */
  def modePerKey(t: Tables): DataFrame = {
    val counts = t.events.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("mode_event"), col("n"))
      .orderBy("user_id")
  }

  val modePerKeySql: String =
    """SELECT user_id, event_type AS mode_event, n FROM (
      | SELECT user_id, event_type, n,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
      | FROM (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2))
      |WHERE rk = 1
      |ORDER BY user_id""".stripMargin

  /** FULL OUTER join: customer vs supplier presence per nation. */
  def fullOuter(t: Tables): DataFrame = {
    val c = t.customer.groupBy(col("c_nationkey").as("ckey"))
      .agg(count(lit(1)).as("n_customers"))
    val s = t.supplier.groupBy(col("s_nationkey").as("skey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, col("ckey") === col("skey"), "full_outer")
      .select(
        coalesce(col("ckey"), col("skey")).as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy("nationkey")
  }

  val fullOuterSql: String =
    """SELECT COALESCE(ckey, skey) AS nationkey,
      | COALESCE(n_customers, 0) AS n_customers,
      | COALESCE(n_suppliers, 0) AS n_suppliers
      |FROM (SELECT c_nationkey AS ckey, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS skey, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
      | ON ckey = skey
      |ORDER BY nationkey""".stripMargin

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): match rows
    * even when the join key is NULL on both sides.
    */
  def nullSafeJoin(t: Tables): DataFrame = {
    val a = t.customer.select(
      col("c_custkey"),
      when(col("c_acctbal") < 0, col("c_mktsegment")).as("seg_or_null"))
    val b = t.customer
      .groupBy(when(col("c_acctbal") < 0, col("c_mktsegment")).as("seg_key"))
      .agg(count(lit(1)).as("n_in_group"))
    a.join(b, col("seg_or_null") <=> col("seg_key"))
      .select("c_custkey", "seg_or_null", "n_in_group")
      .orderBy("c_custkey")
  }

  val nullSafeJoinSql: String =
    """SELECT c_custkey, seg_or_null, n_in_group
      |FROM (
      | SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN c_mktsegment END AS seg_or_null
      | FROM customer) a
      |JOIN (
      | SELECT CASE WHEN c_acctbal < 0 THEN c_mktsegment END AS seg_key,
      |  COUNT(*) AS n_in_group
      | FROM customer GROUP BY 1) b
      | ON seg_or_null IS NOT DISTINCT FROM seg_key
      |ORDER BY c_custkey""".stripMargin

  /** Round-number bias audit — the forensic-accounting sweep (cousin of
    * [[Profiler.benfordAudit]]): manufactured amounts over-index on
    * round values, so each order-priority segment's whole-dollar and
    * dime-ending rates are compared against the global base rate. All
    * integer: amounts in exact cents, rates in ppm (truncating
    * division), ratio-to-global in ppm — bit-portable flags. One
    * aggregation over exact cents + a broadcast global row.
    */
  def roundNumbers(t: Tables): DataFrame = {
    val o = t.orders.select(col("o_orderpriority"),
      graft.functions.Exact.cents(graft.functions.Exact.dec(col("o_totalprice"))).as("cents"))
    val per = o.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum((pmod(col("cents"), lit(100)) === 0).cast("long")).as("n_whole"),
        sum((pmod(col("cents"), lit(10)) === 0).cast("long")).as("n_dime"))
    val glob = per.agg(sum(col("n")).as("gn"), sum(col("n_whole")).as("gw"))
    per.crossJoin(broadcast(glob))
      .select(col("o_orderpriority"), col("n"), col("n_whole"), col("n_dime"),
        expr("(n_whole * 1000000L) div n").as("whole_ppm"),
        expr("(n_dime * 1000000L) div n").as("dime_ppm"),
        expr("((n_whole * 1000000L) div n) * 1000000L div ((gw * 1000000L) div gn)")
          .as("ratio_to_global_ppm"))
      .orderBy("o_orderpriority")
  }

  val roundNumbersSql: String =
    """WITH o AS (
      | SELECT o_orderpriority,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      | FROM orders),
      |per AS (
      | SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole,
      |  CAST(SUM(CASE WHEN cents % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dime
      | FROM o GROUP BY 1),
      |g AS (SELECT CAST(SUM(n) AS BIGINT) AS gn, CAST(SUM(n_whole) AS BIGINT) AS gw
      |      FROM per)
      |SELECT o_orderpriority, n, n_whole, n_dime,
      | CAST((n_whole * 1000000) // n AS BIGINT) AS whole_ppm,
      | CAST((n_dime * 1000000) // n AS BIGINT) AS dime_ppm,
      | CAST(((n_whole * 1000000) // n) * 1000000 // ((g.gw * 1000000) // g.gn)
      |   AS BIGINT) AS ratio_to_global_ppm
      |FROM per, g
      |ORDER BY o_orderpriority""".stripMargin

  /** Encoding-sanity gate — the mojibake/control-character sweep a web
    * corpus runs before any text op: per doc, counts of Unicode
    * replacement chars (U+FFFD, the decoder's damage marker), C0/C1
    * control chars (tab/newline excepted), and classic UTF-8-as-latin1
    * mojibake digraphs (Ã©-family); keep = all three zero. Row-local
    * regexp counts (RE2-safe classes), no shuffle.
    */
  def encodingSanity(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        length(regexp_replace(col("text"), "[^\uFFFD]", "")).as("n_replacement"),
        length(regexp_replace(col("text"),
          "[^\u0000-\u0008\u000B\u000C\u000E-\u001F\u007F]", ""))
          .as("n_control"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "Ã[©¨¤¶¼]", "")))
          .divide(2).cast("long").as("n_mojibake"))
      .withColumn("keep",
        col("n_replacement") === 0 && col("n_control") === 0 &&
          col("n_mojibake") === 0)
      .orderBy("doc_id")

  val encodingSanitySql: String =
    """SELECT doc_id,
      | CAST(len(text) - len(replace(text, chr(65533), '')) AS INT)
      |   AS n_replacement,
      | CAST(len(regexp_replace(text,
      |   '[^\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS INT)
      |   AS n_control,
      | CAST((len(text) - len(regexp_replace(text, 'Ã[©¨¤¶¼]', '', 'g'))) // 2
      |   AS BIGINT) AS n_mojibake,
      | (len(text) - len(replace(text, chr(65533), '')) = 0
      |  AND len(regexp_replace(text,
      |    '[^\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) = 0
      |  AND len(text) - len(regexp_replace(text, 'Ã[©¨¤¶¼]', '', 'g')) = 0)
      |   AS keep
      |FROM documents ORDER BY doc_id""".stripMargin
}
