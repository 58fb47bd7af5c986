package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third tranche: ordered-argument aggregates, nested array results,
  * regex extraction, RANGE window frames.
  */
object Relational3 {

  /** min_by / max_by: which order carries the min/max price per status.
    * Ties broken deterministically by taking the extreme orderkey via a
    * struct ordering (DuckDB arg_min/arg_max on a struct behaves the
    * same: lexicographic on (price, orderkey)).
    */
  def argExtremes(t: Tables): DataFrame =
    t.orders
      .groupBy("o_orderstatus")
      .agg(
        min(struct(col("o_totalprice"), col("o_orderkey"))).getField("o_orderkey")
          .as("cheapest_order"),
        max(struct(col("o_totalprice"), col("o_orderkey"))).getField("o_orderkey")
          .as("priciest_order"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("o_orderstatus")

  val argExtremesSql: String =
    """SELECT o_orderstatus,
      | (MIN(struct_pack(p := o_totalprice, k := o_orderkey))).k AS cheapest_order,
      | (MAX(struct_pack(p := o_totalprice, k := o_orderkey))).k AS priciest_order,
      | MIN(o_totalprice) AS min_price,
      | MAX(o_totalprice) AS max_price
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Nested array results: per-nation sorted list of top customer keys.
    * collect_list is partition-order dependent, so the contract is a
    * SORTED array — order-independent and engine-portable. Emitted as a
    * canonical comma-joined string (array-typed result columns are not
    * portable across result harnesses).
    */
  def arrayAgg(t: Tables): DataFrame =
    t.customer
      .where(col("c_acctbal") > 9900)
      .groupBy("c_nationkey")
      .agg(
        array_join(array_sort(collect_list(col("c_custkey"))).cast("array<string>"), ",")
          .as("rich_customers"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey")

  val arrayAggSql: String =
    """SELECT c_nationkey, array_to_string(list_sort(list(c_custkey)), ',') AS rich_customers,
      | COUNT(*) AS n
      |FROM customer
      |WHERE c_acctbal > 9900
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** Regex extraction/matching over text columns. */
  def regexExtract(t: Tables): DataFrame =
    t.documents.select(
        col("doc_id"),
        regexp_extract(col("source"), "src(\\d+)", 1).cast("int").as("src_num"),
        col("text").rlike("spark .* table").as("mentions_spark_table"),
        size(expr("regexp_extract_all(text, 'query', 0)")).as("query_mentions"))
      .orderBy("doc_id")

  val regexExtractSql: String =
    """SELECT doc_id,
      | CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) AS src_num,
      | regexp_matches(text, 'spark .* table') AS mentions_spark_table,
      | len(regexp_extract_all(text, 'query', 0)) AS query_mentions
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** RANGE window frame: 7-day trailing revenue per customer, frame
    * defined on epoch seconds so both engines share numeric range
    * semantics exactly.
    */
  def rangeFrame(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("epoch_s"))
      .rangeBetween(-7L * 86400, 0)
    t.orders
      .withColumn("epoch_s", col("o_orderdate").cast("timestamp").cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("trailing_7d"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** Batch event-time interval join (twin of the streaming version in
    * [[graft.streaming.Streams.purchaseViewJoin]]): views in the hour
    * before each purchase, aggregated per purchase.
    */
  def intervalJoin(t: Tables): DataFrame = {
    val p = t.events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    val v = t.events.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("value").as("v_value"))
    p.join(v,
        col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") < col("p_ts"), "left")
      .groupBy("p_id", "p_user", "p_ts", "p_value")
      .agg(count(col("v_ts")).as("n_prior_views"),
        sum(dec(col("v_value"))).cast("double").as("prior_view_value"))
      .orderBy("p_id")
  }

  val intervalJoinSql: String =
    """SELECT p_id, p_user, p_ts, p_value,
      | COUNT(v_ts) AS n_prior_views,
      | CAST(SUM(CAST(v_value AS DECIMAL(12,2))) AS DOUBLE) AS prior_view_value
      |FROM (
      | SELECT event_id AS p_id, user_id AS p_user,
      |  CAST(ts AS TIMESTAMP) AS p_ts, value AS p_value
      | FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (
      | SELECT user_id AS v_user, CAST(ts AS TIMESTAMP) AS v_ts, value AS v_value
      | FROM events WHERE event_type = 'view') v
      | ON p_user = v_user AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts < p_ts
      |GROUP BY p_id, p_user, p_ts, p_value
      |ORDER BY p_id""".stripMargin

  /** The session_window aggregation itself, input-agnostic — the ONE
    * definition shared by the batch operator below and the streaming
    * twin (`Streams.sessionWindowStream`), so a live dashboard and a
    * backfill produce identical session rows BY CONSTRUCTION, not by
    * parallel maintenance.
    */
  private[graft] def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))

  /** Built-in session windows (`session_window`, usable identically in
    * batch and Structured Streaming): 30-minute-gap sessions per user.
    * The window end is last-event + gap by definition; the oracle derives
    * the same bounds from the lag/cumsum sessionization.
    */
  def sessionWindow(t: Tables): DataFrame =
    sessionWindowAgg(t.events)
      .orderBy("user_id", "session_start")

  val sessionWindowSql: String =
    """SELECT user_id, MIN(ts) AS session_start,
      | MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      | COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM (
      | SELECT user_id, ts, value,
      |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      | FROM (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |   CASE WHEN prev_s IS NULL OR epoch(CAST(ts AS TIMESTAMP)) - prev_s >= 1800.0 THEN 1 ELSE 0 END AS is_new
      |  FROM (
      |   SELECT user_id, event_id, ts, value,
      |    LAG(epoch(CAST(ts AS TIMESTAMP)), 1) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_s
      |   FROM events)))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Window analytics: first/nth value and share-of-partition-total
    * (ratio_to_report) in one pass.
    */
  def windowAnalytics(t: Tables): DataFrame = {
    val wOrd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("o_custkey")
    t.orders.select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        first(col("o_totalprice")).over(wOrd).as("first_order_price"),
        (dec(col("o_totalprice")).cast("double") /
          sum(dec(col("o_totalprice"))).over(wAll).cast("double")).as("share_of_customer"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val windowAnalyticsSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      | FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order_price,
      | CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
      |   / CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
      |   AS share_of_customer
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** Ranking-function coverage: rank / dense_rank / percent_rank /
    * cume_dist / ntile in one window.
    */
  def rankFuncs(t: Tables): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
    t.customer.select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).as("quartile"))
      .orderBy("c_mktsegment", "rnk")
  }

  val rankFuncsSql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      | CAST(RANK() OVER w AS INT) AS rnk,
      | CAST(DENSE_RANK() OVER w AS INT) AS drnk,
      | PERCENT_RANK() OVER w AS prnk,
      | CUME_DIST() OVER w AS cdist,
      | CAST(NTILE(4) OVER w AS INT) AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_mktsegment, rnk""".stripMargin

  /** Sketch aggregates for the 100 TB path: a KMV (k-minimum-values)
    * distinct sketch and a deterministic bottom-k-by-hash quantile sample
    * — constant memory per group where the exact versions need the full
    * key set ([[graft.functions.KmvQuantile]], a typed Aggregator:
    * ≤ k + s entries per partial). Unlike HLL / approx_percentile, every
    * step is portable integer math over the 15-hex-md5 hash, so the
    * DuckDB oracle replays the sketch verbatim and the result is
    * hash-exact — approximate in statistics, deterministic in value.
    * Exact countDistinct rides alongside as the accuracy yardstick.
    */
  def sketchAggs(t: Tables): DataFrame = {
    val h = graft.functions.PortableHash.hash60 _
    val sketch = udaf(
      new graft.functions.KmvQuantile(SketchK, SketchS),
      org.apache.spark.sql.Encoders.product[graft.functions.SketchIn])
    t.orders
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("exact_customers"),
        sketch(
          h(col("o_custkey")),
          h(col("o_orderkey")),
          cents(dec(col("o_totalprice")))).as("sk"))
      .select(col("o_orderpriority"), col("n"), col("exact_customers"),
        col("sk.kmv_customers").as("kmv_customers"),
        col("sk.p50_price").as("p50_price"),
        col("sk.p90_price").as("p90_price"))
      .orderBy("o_orderpriority")
  }

  private val SketchK = 256
  private val SketchS = 256

  /** Oracle: replay the KMV estimate and the sampled interpolation with
    * window functions — rank the distinct key hashes, keep the k
    * smallest, HUGEINT-divide; rank rows by (rowHash, cents), keep the s
    * smallest, interpolate p50/p90 in tenths-of-cents integers.
    */
  val sketchAggsSql: String =
    s"""WITH x AS (
      | SELECT o_orderpriority,
      |  CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS ch,
      |  CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS oh,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      | FROM orders),
      |kr AS (
      | SELECT o_orderpriority, ch,
      |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY ch) AS rn
      | FROM (SELECT DISTINCT o_orderpriority, ch FROM x)),
      |kmv AS (
      | SELECT o_orderpriority, COUNT(*) AS kn, MAX(ch) AS hk
      | FROM kr WHERE rn <= $SketchK GROUP BY 1),
      |sr AS (
      | SELECT o_orderpriority, cents,
      |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY oh, cents) AS rn
      | FROM x),
      |ss AS (
      | SELECT o_orderpriority, cents,
      |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY cents) - 1 AS i,
      |  COUNT(*) OVER (PARTITION BY o_orderpriority) AS sn
      | FROM sr WHERE rn <= $SketchS),
      |q AS (
      | SELECT o_orderpriority,
      |  SUM(CASE WHEN i = ((sn-1)*5)//10 THEN cents*(10-((sn-1)*5)%10)
      |           WHEN i = ((sn-1)*5)//10 + 1 THEN cents*(((sn-1)*5)%10)
      |           ELSE 0 END) AS p50c10,
      |  SUM(CASE WHEN i = ((sn-1)*9)//10 THEN cents*(10-((sn-1)*9)%10)
      |           WHEN i = ((sn-1)*9)//10 + 1 THEN cents*(((sn-1)*9)%10)
      |           ELSE 0 END) AS p90c10
      | FROM ss GROUP BY 1),
      |ex AS (
      | SELECT o_orderpriority, COUNT(*) AS n,
      |  COUNT(DISTINCT o_custkey) AS exact_customers
      | FROM orders GROUP BY 1)
      |SELECT e.o_orderpriority, e.n, e.exact_customers,
      | CASE WHEN k.kn < $SketchK THEN k.kn
      |      ELSE CAST((${SketchK - 1}::HUGEINT * 1152921504606846976::HUGEINT) // k.hk AS BIGINT)
      | END AS kmv_customers,
      | CAST(q.p50c10 AS DOUBLE) / 1000.0 AS p50_price,
      | CAST(q.p90c10 AS DOUBLE) / 1000.0 AS p90_price
      |FROM ex e
      |JOIN kmv k USING (o_orderpriority)
      |JOIN q USING (o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin

  val rangeFrameSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
      |   RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** Two-level MERGEABLE sketch rollup — the property that makes sketches
    * usable at 100 TB: per-nation KMV partials
    * ([[graft.functions.KmvSketch]], a bottom-k array) are built in one
    * aggregation, then MERGED per region ([[graft.functions.KmvMerge]])
    * without revisiting the raw rows — the re-aggregation pattern of any
    * rollup/cube/materialized-view pipeline, where level-2 reads k-sized
    * sketch states instead of the fact table. The oracle computes the
    * region sketch DIRECTLY from raw rows, so a hash-exact match proves
    * the mergeability law `merge(sketch(A), sketch(B)) = sketch(A ∪ B)`
    * end-to-end. Exact distinct rides along as the accuracy yardstick.
    */
  def sketchMerge(t: Tables): DataFrame = {
    val h = graft.functions.PortableHash.hash60 _
    val x = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("o_custkey"),
        h(col("o_custkey")).as("ch"))
    val partial = udaf(
      new graft.functions.KmvSketch(SketchK),
      org.apache.spark.sql.Encoders.product[graft.functions.KmvIn])
    val merged = udaf(
      new graft.functions.KmvMerge(SketchK),
      org.apache.spark.sql.Encoders.product[graft.functions.KmvMergeIn])
    val lvl1 = x.groupBy("r_name", "n_name").agg(partial(col("ch")).as("kmv"))
    val lvl2 = lvl1.groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"), merged(col("kmv")).as("kmv_customers"))
    val exact = x.groupBy("r_name")
      .agg(countDistinct(col("o_custkey")).as("exact_customers"))
    lvl2.join(exact, Seq("r_name"))
      .select("r_name", "n_nations", "kmv_customers", "exact_customers")
      .orderBy("r_name")
  }

  /** KMV sketch SET ALGEBRA — audience-overlap analytics from sketches
    * alone: the urgent-priority and high-priority customer segments are
    * sketched independently ([[graft.functions.KmvSketch]]), their UNION
    * estimate comes from merging the two bottom-k states
    * ([[graft.functions.KmvMerge]]), and the INTERSECTION estimate is
    * inclusion–exclusion (`|A| + |B| − |A∪B|`, floored at 0) — the
    * standard sketch-side answer to "how many customers do these two
    * segments share" without ever joining the raw key sets. Exact
    * counts ride along as the accuracy yardstick; one scan, three
    * bounded-state aggregations, a broadcast 1-row assembly.
    */
  def sketchSetOps(t: Tables): DataFrame = {
    val h = graft.functions.PortableHash.hash60 _
    val seg = t.orders
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(
        when(col("o_orderpriority") === "1-URGENT", "a").otherwise("b").as("seg"),
        col("o_custkey"), h(col("o_custkey")).as("ch"))
    val partial = udaf(
      new graft.functions.KmvSketch(SketchK),
      org.apache.spark.sql.Encoders.product[graft.functions.KmvIn])
    val merged = udaf(
      new graft.functions.KmvMerge(SketchK),
      org.apache.spark.sql.Encoders.product[graft.functions.KmvMergeIn])
    val sk = seg.groupBy("seg").agg(partial(col("ch")).as("kmv"))
    // per-segment estimate as a SCALAR over the finished sketch array —
    // (k−1)·2⁶⁰ needs 21 digits, so the constant is a decimal(38,0) and
    // `div` keeps the truncating integral division both engines use
    val estExpr = when(size(col("kmv")) < SketchK, size(col("kmv")).cast("long"))
      .otherwise(expr(
        s"CAST('${BigInt(SketchK - 1) << 60}' AS DECIMAL(38,0)) div element_at(kmv, $SketchK)"))
    val ests = sk
      .select(col("seg"), estExpr.as("est"), col("kmv"))
      .agg(
        max(when(col("seg") === "a", col("est"))).as("est_a"),
        max(when(col("seg") === "b", col("est"))).as("est_b"),
        merged(col("kmv")).as("est_union"))
    val exact = seg.agg(
      countDistinct(when(col("seg") === "a", col("o_custkey"))).as("exact_a"),
      countDistinct(when(col("seg") === "b", col("o_custkey"))).as("exact_b"),
      countDistinct(col("o_custkey")).as("exact_union"))
    ests.crossJoin(broadcast(exact))
      .select(
        col("est_a"), col("est_b"), col("est_union"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersection"),
        col("exact_a"), col("exact_b"), col("exact_union"),
        (col("exact_a") + col("exact_b") - col("exact_union"))
          .as("exact_intersection"))
  }

  /** Oracle: per-segment and union bottom-k replays + exact distincts. */
  val sketchSetOpsSql: String = {
    def bottomK(filter: String, name: String): String =
      s"""$name AS (
         | SELECT COUNT(*) AS kn, MAX(ch) AS hk FROM (
         |  SELECT ch, ROW_NUMBER() OVER (ORDER BY ch) AS rn
         |  FROM (SELECT DISTINCT ch FROM x WHERE $filter) t) r
         | WHERE rn <= $SketchK)""".stripMargin
    def est(src: String): String =
      s"""CASE WHEN $src.kn < $SketchK THEN $src.kn
         | ELSE CAST((${SketchK - 1}::HUGEINT * 1152921504606846976::HUGEINT) // $src.hk AS BIGINT)
         |END""".stripMargin
    s"""WITH x AS (
       | SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS seg,
       |  o_custkey,
       |  CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS ch
       | FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
       |${bottomK("seg = 'a'", "ka")},
       |${bottomK("seg = 'b'", "kb")},
       |${bottomK("TRUE", "ku")},
       |ex AS (
       | SELECT COUNT(DISTINCT CASE WHEN seg = 'a' THEN o_custkey END) AS exact_a,
       |  COUNT(DISTINCT CASE WHEN seg = 'b' THEN o_custkey END) AS exact_b,
       |  COUNT(DISTINCT o_custkey) AS exact_union
       | FROM x)
       |SELECT ${est("ka")} AS est_a, ${est("kb")} AS est_b, ${est("ku")} AS est_union,
       | GREATEST(0, ${est("ka")} + ${est("kb")} - ${est("ku")}) AS est_intersection,
       | ex.exact_a, ex.exact_b, ex.exact_union,
       | ex.exact_a + ex.exact_b - ex.exact_union AS exact_intersection
       |FROM ka, kb, ku, ex""".stripMargin
  }

  /** Oracle: the region-level sketch built directly from raw rows — equal
    * to the Spark side's merge of nation partials iff merging is lossless.
    */
  val sketchMergeSql: String =
    s"""WITH x AS (
       | SELECT r_name, n_name, o_custkey,
       |  CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS ch
       | FROM orders
       | JOIN customer ON o_custkey = c_custkey
       | JOIN nation ON c_nationkey = n_nationkey
       | JOIN region ON n_regionkey = r_regionkey),
       |kr AS (
       | SELECT r_name, ch,
       |  ROW_NUMBER() OVER (PARTITION BY r_name ORDER BY ch) AS rn
       | FROM (SELECT DISTINCT r_name, ch FROM x)),
       |kmv AS (
       | SELECT r_name, COUNT(*) AS kn, MAX(ch) AS hk
       | FROM kr WHERE rn <= $SketchK GROUP BY 1),
       |ex AS (
       | SELECT r_name, CAST(COUNT(DISTINCT n_name) AS BIGINT) AS n_nations,
       |  COUNT(DISTINCT o_custkey) AS exact_customers
       | FROM x GROUP BY 1)
       |SELECT e.r_name, e.n_nations,
       | CASE WHEN k.kn < $SketchK THEN k.kn
       |      ELSE CAST((${SketchK - 1}::HUGEINT * 1152921504606846976::HUGEINT) // k.hk AS BIGINT)
       | END AS kmv_customers,
       | e.exact_customers
       |FROM ex e JOIN kmv k USING (r_name)
       |ORDER BY r_name""".stripMargin

  private val KllCap = 512
  private val CmDepth = 4
  private val CmWidth = 256

  /** Count-Min frequency-sketch rollup — the third leg of the mergeable
    * sketch tier (distinct counts: [[sketchMerge]]; quantiles:
    * [[sketchQuantiles]]; frequencies: here). The sketch is the classic
    * D×W counter grid held COLUMNAR (one row per non-empty (depth,
    * bucket) cell — ≤ D·W rows per group regardless of key cardinality,
    * the property that lets a 100 TB pipeline track per-key frequencies
    * without shuffling the key set). Counters are a pure function of
    * the input multiset and merge by addition, so the nation→region
    * rollup (level-1 partial grids summed per region) EQUALS the grid
    * built directly from raw rows — the oracle proves it by computing
    * the region grid from scratch. Each region's top-3 exact keys ride
    * along as probes: `n_cm = min over depths of counter[d][h_d(key)]`
    * vs the exact count (CM never under-counts; the spec asserts both
    * sides of the ε-bound).
    */
  def sketchCmFreq(t: Tables): DataFrame = {
    val h = graft.functions.PortableHash.hash60 _
    val x = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("o_custkey"))
    def bucket(d: Int, key: org.apache.spark.sql.Column) =
      pmod(h(concat_ws("#", lit(d), key)), lit(CmWidth.toLong))
    // depth-exploded rows → level-1 partial grids per nation → level-2
    // region grid by SUMMING partials (the mergeable rollup under test)
    val tall = x.select(col("r_name") +: col("n_name") +:
      (0 until CmDepth).map(d => bucket(d, col("o_custkey")).as(s"_b$d")): _*)
      .select(col("r_name"), col("n_name"),
        posexplode(array((0 until CmDepth).map(d => col(s"_b$d")): _*))
          .as(Seq("d", "bkt")))
    val lvl1 = tall.groupBy("r_name", "n_name", "d", "bkt")
      .agg(count(lit(1)).as("c"))
    val counters = lvl1.groupBy("r_name", "d", "bkt")
      .agg(sum(col("c")).as("c"))
    // probes: each region's exact top-3 keys (count desc, key asc) via
    // the bounded-state heap plan — never a per-region sort of the full
    // key set (at 100 TB a region's customer list doesn't fit one task's
    // sort; the heap holds 3 rows per key whatever the cardinality).
    // The rank window after it runs over ≤3-row partitions.
    val exact = x.groupBy("r_name", "o_custkey")
      .agg(count(lit(1)).as("n_exact"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("r_name").orderBy(col("n_exact").desc, col("o_custkey"))
    val top3 = graft.plans.TopKPerKey(exact, Seq("r_name"),
        Seq(("n_exact", false), ("o_custkey", true)), 3)
      .withColumn("rank", row_number().over(w))
    val probes = top3.select((Seq(col("r_name"), col("o_custkey"),
        col("n_exact"), col("rank")) ++
        (0 until CmDepth).map(d => bucket(d, col("o_custkey")).as(s"_b$d"))): _*)
      .select(col("r_name"), col("o_custkey"), col("n_exact"), col("rank"),
        posexplode(array((0 until CmDepth).map(d => col(s"_b$d")): _*))
          .as(Seq("d", "bkt")))
    // counters is ≤ regions × D × W rows at ANY data scale — broadcast
    // by contract, not by AQE's size estimate (which sees an agg output
    // and guesses)
    probes.join(broadcast(counters), Seq("r_name", "d", "bkt"))
      .groupBy("r_name", "o_custkey")
      .agg(max(col("n_exact")).as("n_exact"), max(col("rank")).as("rank"),
        min(col("c")).as("n_cm"))
      .select(col("r_name"), col("rank"), col("o_custkey").as("custkey"),
        col("n_exact"), col("n_cm"))
      .orderBy("r_name", "rank")
  }

  /** Oracle: the region counter grid built DIRECTLY from raw rows (the
    * merge-law check), same md5-derived bucket hash, same top-3 probes.
    */
  val sketchCmFreqSql: String = {
    def bkt(dExpr: String, key: String): String =
      s"CAST('0x' || substr(md5(CAST($dExpr AS VARCHAR) || '#' || " +
        s"CAST($key AS VARCHAR)), 1, 15) AS BIGINT) % $CmWidth"
    s"""WITH x AS (
       | SELECT r_name, o_custkey
       | FROM orders
       | JOIN customer ON o_custkey = c_custkey
       | JOIN nation ON c_nationkey = n_nationkey
       | JOIN region ON n_regionkey = r_regionkey),
       |tall AS (
       | SELECT r_name, d, ${bkt("d", "o_custkey")} AS bkt
       | FROM x CROSS JOIN generate_series(0, ${CmDepth - 1}) t(d)),
       |counters AS (
       | SELECT r_name, d, bkt, COUNT(*) AS c FROM tall GROUP BY 1, 2, 3),
       |exact AS (
       | SELECT r_name, o_custkey, COUNT(*) AS n_exact FROM x GROUP BY 1, 2),
       |top3 AS (
       | SELECT * FROM (
       |  SELECT r_name, o_custkey, n_exact,
       |   ROW_NUMBER() OVER (PARTITION BY r_name
       |    ORDER BY n_exact DESC, o_custkey) AS rank
       |  FROM exact) WHERE rank <= 3),
       |probes AS (
       | SELECT r_name, o_custkey, n_exact, rank, d,
       |  ${bkt("d", "o_custkey")} AS bkt
       | FROM top3 CROSS JOIN generate_series(0, ${CmDepth - 1}) t(d))
       |SELECT p.r_name, MAX(p.rank) AS rank, p.o_custkey AS custkey,
       | MAX(p.n_exact) AS n_exact, MIN(c.c) AS n_cm
       |FROM probes p
       |JOIN counters c ON c.r_name = p.r_name AND c.d = p.d AND c.bkt = p.bkt
       |GROUP BY p.r_name, p.o_custkey
       |ORDER BY p.r_name, MAX(p.rank)""".stripMargin
  }

  /** Two-level MERGEABLE QUANTILE rollup — [[sketchMerge]]'s contract
    * extended from distinct counts to percentiles, the piece a 100 TB
    * percentile dashboard needs: per-nation quantile-sketch partials
    * ([[graft.functions.KllPartial]], hash-leveled KLL-family states)
    * are built in one aggregation and MERGED per region
    * ([[graft.functions.KllMergeAgg]]) without revisiting raw rows.
    * Because the hash-decided state is a pure function of the input
    * multiset (see [[graft.functions.KllOps]]), the mergeability law
    * `merge(sketch(A), sketch(B)) = sketch(A ∪ B)` holds EXACTLY, and
    * the oracle proves it end-to-end by computing each region's sketch
    * directly from raw rows — hash-equal p50/p90/m/cut means the
    * nation→region merge was lossless. Work shape: one fact scan, two
    * bounded-state aggregations (≤ cap entries per group), no raw-row
    * re-shuffle at level 2.
    */
  def sketchQuantiles(t: Tables): DataFrame = {
    val h = graft.functions.PortableHash.hash60 _
    val x = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"),
        h(col("o_orderkey")).as("rh"),
        cents(dec(col("o_totalprice"))).as("cents"))
    val partial = udaf(
      new graft.functions.KllPartial(KllCap),
      org.apache.spark.sql.Encoders.product[graft.functions.KllIn])
    val merged = udaf(
      new graft.functions.KllMergeAgg(KllCap),
      org.apache.spark.sql.Encoders.product[graft.functions.KllPartialIn])
    x.groupBy("r_name", "n_name")
      .agg(partial(col("rh"), col("cents")).as("kll"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"), merged(col("kll")).as("q"))
      .select(col("r_name"), col("n_nations"),
        col("q.m").as("m"), col("q.cut").as("cut"),
        col("q.n_est").as("n_est"),
        col("q.p50_price").as("p50_price"),
        col("q.p90_price").as("p90_price"))
      .orderBy("r_name")
  }

  /** Oracle: the region sketch built DIRECTLY from raw rows — levels from
    * exact integer bit math on the shared 60-bit hash (`h & -h` isolates
    * the lowest set bit; log2 of an exact power of two is exact), the
    * minimal cutoff from a level-count threshold, and the repo-standard
    * tenths-of-cents interpolation — equal to the Spark side's merge of
    * nation partials iff quantile-sketch merging is lossless.
    */
  val sketchQuantilesSql: String =
    s"""WITH x AS (
       | SELECT r_name, n_name,
       |  CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h,
       |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       | FROM orders
       | JOIN customer ON o_custkey = c_custkey
       | JOIN nation ON c_nationkey = n_nationkey
       | JOIN region ON n_regionkey = r_regionkey),
       |lv AS (
       | SELECT r_name, h, cents,
       |  CASE WHEN h = 0 THEN 60
       |       ELSE CAST(floor(log2(h & (-h))) AS INT) END AS lv
       | FROM x),
       |cn AS (
       | SELECT r_name, CAST(COUNT(DISTINCT n_name) AS BIGINT) AS n_nations
       | FROM x GROUP BY 1),
       |cge AS (
       | SELECT r_name, j, COUNT(*) FILTER (WHERE lv >= j) AS c
       | FROM lv CROSS JOIN generate_series(0, 60) t(j) GROUP BY 1, 2),
       |cut AS (SELECT r_name, MIN(j) AS L FROM cge WHERE c <= $KllCap GROUP BY 1),
       |kept AS (
       | SELECT r_name, cents, L,
       |  ROW_NUMBER() OVER (PARTITION BY r_name ORDER BY cents, h) - 1 AS i,
       |  COUNT(*) OVER (PARTITION BY r_name) AS m
       | FROM lv JOIN cut USING (r_name) WHERE lv >= L),
       |q AS (
       | SELECT r_name, MAX(L) AS cut, MAX(m) AS m,
       |  SUM(CASE WHEN i = ((m-1)*5)//10 THEN cents*(10-((m-1)*5)%10)
       |           WHEN i = ((m-1)*5)//10 + 1 THEN cents*(((m-1)*5)%10)
       |           ELSE 0 END) AS p50c10,
       |  SUM(CASE WHEN i = ((m-1)*9)//10 THEN cents*(10-((m-1)*9)%10)
       |           WHEN i = ((m-1)*9)//10 + 1 THEN cents*(((m-1)*9)%10)
       |           ELSE 0 END) AS p90c10
       | FROM kept GROUP BY 1)
       |SELECT q.r_name, cn.n_nations, q.m, CAST(q.cut AS INT) AS cut,
       | CAST(q.m * (CAST(1 AS BIGINT) << q.cut) AS BIGINT) AS n_est,
       | CAST(q.p50c10 AS DOUBLE) / 1000.0 AS p50_price,
       | CAST(q.p90c10 AS DOUBLE) / 1000.0 AS p90_price
       |FROM q JOIN cn USING (r_name)
       |ORDER BY q.r_name""".stripMargin
}
