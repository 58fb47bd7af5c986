package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics workloads: smoothing, cohorts, funnels — the query
  * shapes the reference's ClickHouse consumer exists to answer.
  */
object Analytics {

  /** Centered moving average (±3 rows) of daily event totals — the
    * smoothing transform for dashboard series.
    */
  def movingAverage(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(dec(col("value"))).cast("double").as("day_total"))
    val w = Window.orderBy("d").rowsBetween(-3, 3)
    daily
      .select(col("d"), col("day_total"),
        (sum(dec(col("day_total"))).over(w).cast("double") /
          count(lit(1)).over(w)).as("smoothed"))
      .orderBy("d")
  }

  val movingAverageSql: String =
    """SELECT d, day_total,
      | CAST(SUM(CAST(day_total AS DECIMAL(12,2))) OVER w AS DOUBLE)
      |   / COUNT(*) OVER w AS smoothed
      |FROM (
      | SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS day_total
      | FROM events GROUP BY 1)
      |WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |ORDER BY d""".stripMargin

  /** Cohort analysis: users grouped by first-activity week, tracked over
    * subsequent weeks — the canonical retention matrix.
    */
  def cohorts(t: Tables): DataFrame = {
    val firstWeek = t.events
      .groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    t.events
      .join(firstWeek, "user_id")
      .groupBy(col("cohort_week"),
        date_trunc("week", col("ts")).as("activity_week"))
      .agg(countDistinct(col("user_id")).as("active_users"),
        count(lit(1)).as("n_events"))
      .orderBy("cohort_week", "activity_week")
  }

  val cohortsSql: String =
    """SELECT cohort_week, date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS activity_week,
      | COUNT(DISTINCT e.user_id) AS active_users,
      | COUNT(*) AS n_events
      |FROM events e
      |JOIN (
      | SELECT user_id, date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort_week
      | FROM events GROUP BY user_id) f
      | ON e.user_id = f.user_id
      |GROUP BY cohort_week, activity_week
      |ORDER BY cohort_week, activity_week""".stripMargin

  /** Ordered funnel: users who viewed, then clicked after their first
    * view, then purchased after that click — per-user min-timestamp
    * stage gating, counted into funnel stages.
    */
  def funnel(t: Tables): DataFrame = {
    val stages = t.events
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("first_view"),
        min(when(col("event_type") === "click", col("ts"))).as("first_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
    val gated = stages.select(
      col("user_id"),
      col("first_view").isNotNull.as("s1_view"),
      (col("first_view").isNotNull && col("first_click") > col("first_view")).as("s2_click"),
      (col("first_view").isNotNull && col("first_click") > col("first_view") &&
        col("first_purchase") > col("first_click")).as("s3_purchase"))
    gated.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("s1_view"), 1L).otherwise(0L)).as("viewed"),
      sum(when(col("s2_click"), 1L).otherwise(0L)).as("clicked_after_view"),
      sum(when(col("s3_purchase"), 1L).otherwise(0L)).as("purchased_after_click"))
  }

  val funnelSql: String =
    """SELECT COUNT(*) AS n_users,
      | CAST(SUM(CASE WHEN s1_view THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
      | CAST(SUM(CASE WHEN s2_click THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
      | CAST(SUM(CASE WHEN s3_purchase THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
      |FROM (
      | SELECT user_id,
      |  first_view IS NOT NULL AS s1_view,
      |  first_view IS NOT NULL AND first_click > first_view AS s2_click,
      |  first_view IS NOT NULL AND first_click > first_view
      |    AND first_purchase > first_click AS s3_purchase
      | FROM (
      |  SELECT user_id,
      |   MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS first_view,
      |   MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS first_click,
      |   MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS first_purchase
      |  FROM events GROUP BY user_id))""".stripMargin

  /** Per-group z-score anomaly detection — the outlier gate a data-quality
    * sweep runs before training ingestion. Mean/variance come from
    * DECIMAL-exact Σx and Σx² (order-independent, engine-portable), then
    * the z computation is identical double expression trees both sides —
    * so even 15-digit z-scores hash-match the oracle. One aggregation +
    * one broadcast join back; never a second scan per statistic.
    */
  def anomalyZscore(t: Tables): DataFrame = {
    val d = dec(col("o_totalprice"))
    val stats = t.orders.groupBy("o_orderpriority").agg(
      count(lit(1)).as("n"),
      sum(d).cast("double").as("sx"),
      sum(d * d).cast("double").as("sx2"))
    t.orders.join(broadcast(stats), Seq("o_orderpriority"))
      .withColumn("z",
        (col("o_totalprice") - col("sx") / col("n")) /
          sqrt((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)))
      .where(abs(col("z")) > 2.5)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("z"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** RFM segmentation: recency / frequency / monetary per user, each
    * quartile-scored over a fully tie-broken order (metric, then
    * user_id — deterministic and engine-portable). The per-user rollup
    * is one aggregation; scoring does NOT use an unpartitioned ntile
    * window (all-rows-to-one-partition) — each score is a distributed
    * exact global rank ([[Ranks.withGlobalRank]]: range repartition +
    * per-partition offsets) folded through the exact NTILE formula, so
    * the result still hash-matches the oracle's NTILE while every stage
    * stays parallel at any user count.
    */
  def rfm(t: Tables): DataFrame = {
    val maxTs = t.events.agg(max(col("ts")).as("max_ts"))
    val base = t.events
      .groupBy("user_id")
      .agg(
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("frequency"),
        sum(dec(col("value"))).cast("double").as("monetary"))
      .crossJoin(broadcast(maxTs))
      .select(col("user_id"),
        datediff(to_date(col("max_ts")), to_date(col("last_ts"))).as("recency_days"),
        col("frequency"), col("monetary"))
      // pinned for the fused rank pass + final join (localCheckpoint,
      // not persist — the cached-plan/AQE rule)
      .localCheckpoint(true)
    // all three orderings ranked in ONE range shuffle (descending metrics
    // negated; ties fall to user_id ascending, matching the NTILE oracle)
    val (ranks, n) = Ranks.withGlobalRanksFused(base, "user_id", Seq(
      "_rk_r" -> col("recency_days").cast("double"),
      "_rk_f" -> -col("frequency").cast("double"),
      "_rk_m" -> -col("monetary")))
    base
      .join(ranks, Seq("user_id"))
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        Ranks.ntileOf(4, col("_rk_r"), n).as("r_score"),
        Ranks.ntileOf(4, col("_rk_f"), n).as("f_score"),
        Ranks.ntileOf(4, col("_rk_m"), n).as("m_score"))
      .orderBy("user_id")
  }

  val rfmSql: String =
    """WITH base AS (
      | SELECT user_id,
      |  datediff('day',
      |    CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE),
      |    (SELECT CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) FROM events)) AS recency_days,
      |  COUNT(*) AS frequency,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
      | FROM events GROUP BY user_id)
      |SELECT user_id, CAST(recency_days AS INT) AS recency_days, frequency, monetary,
      | NTILE(4) OVER (ORDER BY recency_days, user_id) AS r_score,
      | NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_score,
      | NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_score
      |FROM base
      |ORDER BY user_id""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences:
    * (event_type → next event_type) counts and row-normalized
    * probabilities. One lead() window partitioned by user (fact-sized,
    * key-partitioned) + one small aggregation; the probability is an
    * integer-ratio double, portable across engines.
    */
  def markovTransitions(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val srcW = Window.partitionBy("src")
    t.events
      .select(col("user_id"), col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .where(col("dst").isNotNull)
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") / sum(col("n")).over(srcW))
      .orderBy("src", "dst")
  }

  val markovTransitionsSql: String =
    """WITH pairs AS (
      | SELECT event_type AS src,
      |  LEAD(event_type, 1) OVER (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
      | FROM events),
      |c AS (
      | SELECT src, dst, COUNT(*) AS n FROM pairs WHERE dst IS NOT NULL
      | GROUP BY src, dst)
      |SELECT src, dst, n,
      | CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS p
      |FROM c
      |ORDER BY src, dst""".stripMargin

  /** Cumulative reach curve — "how many distinct users have we EVER
    * seen, by day" (the campaign/launch reach chart): each user
    * collapses to their FIRST event day (one aggregation — the
    * distinct-to-date count never materializes per-day user sets), then
    * new-user counts per day accumulate over the calendar-bounded day
    * domain. Also emits the daily active count so the chart shows
    * reach vs activity on one axis.
    *
    * Scale: two aggregations (per-user min, per-day counts) + a window
    * over days (calendar-bounded — never data-sized). The naive
    * per-day COUNT(DISTINCT user WHERE ts ≤ d) is quadratic; first-seen
    * collapse is the standard linear rewrite.
    */
  def cumulativeReach(t: Tables): DataFrame = {
    val firstSeen = t.events.groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("d"))
      .groupBy("d").agg(count(lit(1)).as("new_users"))
    val active = t.events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(countDistinct(col("user_id")).as("active_users"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(firstSeen, Seq("d"), "left")
      .select(col("d"), coalesce(col("new_users"), lit(0L)).as("new_users"),
        col("active_users"))
      .withColumn("cum_reach", sum(col("new_users")).over(w))
      .select(col("d"), col("new_users").cast("long").as("new_users"),
        col("active_users").cast("long").as("active_users"),
        col("cum_reach").cast("long").as("cum_reach"))
      .orderBy("d")
  }

  /** Oracle: identical first-seen collapse, day counts, and running
    * sum over the day domain.
    */
  val cumulativeReachSql: String =
    """WITH fs AS (
      | SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
      | FROM events GROUP BY 1),
      |nu AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users
      |       FROM fs GROUP BY 1),
      |au AS (
      | SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
      | FROM events GROUP BY 1)
      |SELECT au.d, COALESCE(nu.new_users, 0) AS new_users, au.active_users,
      | CAST(SUM(COALESCE(nu.new_users, 0)) OVER (ORDER BY au.d) AS BIGINT)
      |   AS cum_reach
      |FROM au LEFT JOIN nu ON au.d = nu.d
      |ORDER BY au.d""".stripMargin

  /** Journey steps kept by [[flowMatrix]]. */
  private val FlowSteps = 5

  /** Step-indexed flow matrix — the Sankey-diagram data behind every
    * "user journey" visual: transition counts (src → dst) broken out BY
    * POSITION in the journey (step 1→2, 2→3, …), which is what
    * [[markovTransitions]]'s position-blind matrix can't show (a
    * view→purchase edge at step 1 and at step 5 are different
    * behaviors). Journeys are per-user event sequences ordered by
    * (ts, event_id); only the first [[FlowSteps]] transitions count —
    * the visual's depth bound AND the state bound.
    *
    * Scale: one user-partitioned window (lead + row_number — never
    * global), a filter to the bounded step domain, one (step, src, dst)
    * roll-up over ≤ |types|²·steps groups. Linear in events.
    */
  def flowMatrix(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t.events
      .select(col("user_id"), col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"),
        row_number().over(w).as("step"))
      .where(col("dst").isNotNull && col("step") <= FlowSteps)
      .groupBy("step", "src", "dst")
      .agg(count(lit(1)).as("n"))
      .orderBy("step", "src", "dst")
  }

  /** Oracle: identical per-user ordering, step cut, and roll-up. */
  val flowMatrixSql: String =
    s"""WITH j AS (
       | SELECT user_id, event_type AS src,
       |  LEAD(event_type, 1) OVER (PARTITION BY user_id
       |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS INT) AS step
       | FROM events)
       |SELECT step, src, dst, CAST(COUNT(*) AS BIGINT) AS n
       |FROM j WHERE dst IS NOT NULL AND step <= $FlowSteps
       |GROUP BY 1, 2, 3
       |ORDER BY step, src, dst""".stripMargin

  /** Sequential-pattern support (the a-priori 2-sequence step, Agrawal
    * & Srikant 1995): for every ordered event-type pair (a, b), how
    * many users performed SOME a before SOME b — at any distance, which
    * is what distinguishes sequence mining from [[markovTransitions]]'s
    * adjacent-step matrix. A user supports (a, b) iff their earliest a
    * precedes their latest b (strict), so the per-user check collapses
    * to two extremes per type — no pair scan over events.
    *
    * Scale: one (user, type) aggregation (≤|types| rows per user,
    * map-side combined), a per-user self-join bounded by |types|² per
    * user (type domain is a property of the schema, not the data
    * volume), one pair roll-up, and a broadcast 1-row total for the
    * share. Linear in events; no windows.
    */
  def sequentialPairs(t: Tables): DataFrame = {
    val stats = t.events.groupBy("user_id", "event_type")
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    val total = t.events.agg(
      countDistinct(col("user_id")).cast("long").as("n_total"))
    stats.select(col("user_id"), col("event_type").as("a_type"), col("mn"))
      .join(stats.select(col("user_id"), col("event_type").as("b_type"),
        col("mx")), Seq("user_id"))
      .where(col("a_type") =!= col("b_type") && col("mn") < col("mx"))
      .groupBy("a_type", "b_type")
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select(col("a_type"), col("b_type"), col("n_users"),
        (col("n_users").cast("double") / col("n_total")).as("user_share"))
      .orderBy("a_type", "b_type")
  }

  /** Oracle: identical per-user type extremes, ordered-pair predicate,
    * and share division.
    */
  val sequentialPairsSql: String =
    """WITH s AS (
      | SELECT user_id, event_type,
      |  MIN(CAST(ts AS TIMESTAMP)) AS mn, MAX(CAST(ts AS TIMESTAMP)) AS mx
      | FROM events GROUP BY 1, 2),
      |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total
      |        FROM events),
      |p AS (
      | SELECT a.event_type AS a_type, b.event_type AS b_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_users
      | FROM s a JOIN s b ON a.user_id = b.user_id
      |  AND a.event_type <> b.event_type AND a.mn < b.mx
      | GROUP BY 1, 2)
      |SELECT a_type, b_type, n_users,
      | CAST(n_users AS DOUBLE) / n_total AS user_share
      |FROM p CROSS JOIN tot
      |ORDER BY a_type, b_type""".stripMargin

  val anomalyZscoreSql: String =
    """WITH s AS (
      | SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sx2
      | FROM orders GROUP BY o_orderpriority)
      |SELECT o.o_orderpriority, o_orderkey, o_totalprice,
      | (o_totalprice - sx / n) / sqrt((sx2 - sx * sx / n) / (n - 1)) AS z
      |FROM orders o JOIN s USING (o_orderpriority)
      |WHERE abs((o_totalprice - sx / n) / sqrt((sx2 - sx * sx / n) / (n - 1))) > 2.5
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** Funnel chain window: a view→click→purchase chain must complete
    * within this span of the view (ClickHouse `windowFunnel` semantics).
    */
  private val FunnelWindowUs = 6L * 3600L * 1000000L

  /** Windowed funnel depth per user (the ClickHouse `windowFunnel`
    * analytic, the flagship query shape of the reference's downstream
    * consumer): deepest view→click→purchase chain whose stages all land
    * within [[FunnelWindowUs]] of the chain's view. NO self-join — the
    * textbook EXISTS chain (which the oracle keeps) is rewritten as two
    * chained ignoreNulls `last()` windows over each user's event
    * timeline: `lv` = latest view strictly before the row, `lp` = the
    * `lv` of the latest click strictly before the row. The greedy
    * argument (later clicks can only carry later-or-equal views) makes
    * the latest-chain check equivalent to the existential one, so one
    * window pass + one aggregation replaces the v×c×p triple join —
    * per-user partitions, linear work, 100 TB-clean.
    *
    * Strictly-before is a RANGE frame ending at -1 µs; event times are
    * unique per user (spec-asserted in the data profile) and µs-exact
    * in both engines, so stage ordering is unambiguous.
    */
  def windowFunnel(t: Tables): DataFrame = {
    val wPrev = Window.partitionBy("user_id").orderBy(col("tus"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val scored = t.events
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("tus"))
      .withColumn("lv",
        last(when(col("event_type") === "view", col("tus")), ignoreNulls = true)
          .over(wPrev))
      .withColumn("lp",
        last(when(col("event_type") === "click", col("lv")), ignoreNulls = true)
          .over(wPrev))
    scored.groupBy("user_id")
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("l1"),
        max(when(col("event_type") === "click" &&
          col("lv") >= col("tus") - FunnelWindowUs, 1).otherwise(0)).as("l2"),
        max(when(col("event_type") === "purchase" &&
          col("lp") >= col("tus") - FunnelWindowUs, 1).otherwise(0)).as("l3"))
      .select(col("user_id"),
        when(col("l3") === 1, 3).when(col("l2") === 1, 2)
          .when(col("l1") === 1, 1).otherwise(0).cast("int").as("funnel_level"))
      .orderBy("user_id")
  }

  /** Oracle: the literal EXISTS-chain formulation — what the window
    * rewrite is verified against.
    */
  val windowFunnelSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
      |l2 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM e v JOIN e c ON c.user_id = v.user_id
      |  WHERE v.event_type = 'view' AND c.event_type = 'click'
      |    AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR),
      |l3 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM e v
      |  JOIN e c ON c.user_id = v.user_id
      |  JOIN e p ON p.user_id = v.user_id
      |  WHERE v.event_type = 'view' AND c.event_type = 'click'
      |    AND p.event_type = 'purchase'
      |    AND c.ts > v.ts AND p.ts > c.ts AND p.ts <= v.ts + INTERVAL 6 HOUR),
      |u AS (SELECT DISTINCT user_id FROM e)
      |SELECT u.user_id,
      |  CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
      |       WHEN l2.user_id IS NOT NULL THEN 2
      |       WHEN l1.user_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS funnel_level
      |FROM u LEFT JOIN l1 USING (user_id) LEFT JOIN l2 USING (user_id)
      |LEFT JOIN l3 USING (user_id)
      |ORDER BY u.user_id""".stripMargin

  /** Marketing touch channels; every other event type is non-attributing.
    * Shared with the streaming twin ([[graft.streaming.Streams.attributionStream]])
    * so live and batch attribution agree on what counts as a touch.
    */
  private[graft] val TouchTypes = Seq("view", "click", "signup")

  /** First-/last-touch revenue attribution: each purchase is credited to
    * the user's earliest preceding touch event (first-touch) and latest
    * preceding touch event (last-touch) — 'direct' when no touch precedes
    * it. Both lookups are ONE pass: a single user-partitioned ordered
    * window where `first/last(touch, ignoreNulls)` over the
    * unbounded-preceding frame resolves both attributions per row, then
    * two small channel aggregations full-outer-merged. No self-join, no
    * per-purchase scan-back.
    *
    * 100 TB: the window partitions by user (entity key, never global);
    * revenue sums are exact decimals; ties at identical timestamps break
    * on the unique event_id, so the attribution is deterministic and
    * engine-portable.
    */
  def attribution(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"), col("value"),
      when(col("event_type").isin(TouchTypes: _*), col("event_type")).as("touch"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pur = ev
      .withColumn("first_touch",
        coalesce(first(col("touch"), ignoreNulls = true).over(w), lit("direct")))
      .withColumn("last_touch",
        coalesce(last(col("touch"), ignoreNulls = true).over(w), lit("direct")))
      .where(col("event_type") === "purchase")
    // one (model, channel) row pair per purchase → ONE conditional
    // aggregation covers both attribution models without re-scanning or
    // re-windowing the events table (a per-model groupBy + full-outer
    // join would duplicate the scan AND the window sort)
    pur
      .select(col("value"), explode(array(
        struct(lit("first").as("model"), col("first_touch").as("channel")),
        struct(lit("last").as("model"), col("last_touch").as("channel")))).as("mc"))
      .groupBy(col("mc.channel").as("channel"))
      .agg(
        count(when(col("mc.model") === "first", 1)).as("first_purchases"),
        coalesce(sum(when(col("mc.model") === "first", dec(col("value"))))
          .cast("double"), lit(0.0)).as("first_revenue"),
        count(when(col("mc.model") === "last", 1)).as("last_purchases"),
        coalesce(sum(when(col("mc.model") === "last", dec(col("value"))))
          .cast("double"), lit(0.0)).as("last_revenue"))
      .orderBy("channel")
  }

  val attributionSql: String =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    CASE WHEN event_type IN ('view','click','signup') THEN event_type END AS touch
      |  FROM events),
      |wv AS (
      |  SELECT *,
      |    COALESCE(FIRST_VALUE(touch IGNORE NULLS) OVER w, 'direct') AS first_touch,
      |    COALESCE(LAST_VALUE(touch IGNORE NULLS) OVER w, 'direct') AS last_touch
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pur AS (SELECT * FROM wv WHERE event_type = 'purchase'),
      |f AS (SELECT first_touch AS channel, CAST(COUNT(*) AS BIGINT) AS first_purchases,
      |      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS first_revenue
      |      FROM pur GROUP BY 1),
      |l AS (SELECT last_touch AS channel, CAST(COUNT(*) AS BIGINT) AS last_purchases,
      |      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS last_revenue
      |      FROM pur GROUP BY 1)
      |SELECT COALESCE(f.channel, l.channel) AS channel,
      |  COALESCE(first_purchases, 0) AS first_purchases,
      |  COALESCE(first_revenue, 0.0) AS first_revenue,
      |  COALESCE(last_purchases, 0) AS last_purchases,
      |  COALESCE(last_revenue, 0.0) AS last_revenue
      |FROM f FULL JOIN l ON f.channel = l.channel ORDER BY channel""".stripMargin

  private val PathLen = 3
  private val PathMinSessions = 5

  /** Top session entry paths: the first [[PathLen]] event types of each
    * 30-minute-gap session (same gap rule as `Relational.sessionize`),
    * joined with '>', counted across sessions, reported where ≥
    * [[PathMinSessions]] sessions share the path. Everything is windowed
    * BY USER (entity-partitioned — no global window), the per-session
    * path is assembled from an in-row sorted struct array (collect_list
    * order after a groupBy is not defined; the (rn, type) sort makes it
    * deterministic), and the final path census is a small aggregation.
    */
  def sessionPaths(t: Tables): DataFrame = {
    Relational.sessionized(t)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")))
      .where(col("rn") <= PathLen)
      .groupBy("user_id", "session_id")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"),
        ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("sessions"))
      .where(col("sessions") >= PathMinSessions)
      .orderBy(col("sessions").desc, col("path"))
  }

  val sessionPathsSql: String =
    s"""WITH ord AS (
       | SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
       |  LAG(epoch(CAST(ts AS TIMESTAMP)), 1) OVER (
       |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_s
       | FROM events),
       |marked AS (
       | SELECT user_id, event_id, ts, event_type,
       |  CASE WHEN prev_s IS NULL OR epoch(ts) - prev_s > 1800.0
       |       THEN 1 ELSE 0 END AS is_new
       | FROM ord),
       |sess AS (
       | SELECT user_id, event_id, ts, event_type,
       |  SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       | FROM marked),
       |ranked AS (
       | SELECT user_id, session_id, event_type,
       |  ROW_NUMBER() OVER (PARTITION BY user_id, session_id
       |    ORDER BY ts, event_id) AS rn
       | FROM sess),
       |paths AS (
       | SELECT user_id, session_id,
       |  string_agg(event_type, '>' ORDER BY rn) AS path
       | FROM ranked WHERE rn <= $PathLen GROUP BY 1, 2)
       |SELECT path, CAST(COUNT(*) AS BIGINT) AS sessions
       |FROM paths GROUP BY 1 HAVING COUNT(*) >= $PathMinSessions
       |ORDER BY sessions DESC, path""".stripMargin

  /** Funnel latency: each user's first view and first purchase at or
    * after it, with the conversion latency in seconds — the
    * time-to-convert feed (histogram/percentile it downstream). One
    * entity-partitioned window resolves the first view; one aggregation
    * picks the converting purchase; the latency is an exact integer
    * microsecond difference divided once.
    */
  def funnelTime(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id")
    t.events
      .withColumn("first_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .where(col("event_type") === "purchase" &&
        col("first_view").isNotNull && col("ts") >= col("first_view"))
      .groupBy("user_id", "first_view")
      .agg(min(col("ts")).as("first_purchase"))
      .select(col("user_id"), col("first_view"), col("first_purchase"),
        ((unix_micros(col("first_purchase")) - unix_micros(col("first_view")))
          .cast("double") / 1000000.0).as("latency_sec"))
      .orderBy("user_id")
  }

  val funnelTimeSql: String =
    """WITH w AS (
      | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |  MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END)
      |    OVER (PARTITION BY user_id) AS first_view
      | FROM events),
      |conv AS (
      | SELECT user_id, first_view, MIN(ts) AS first_purchase
      | FROM w
      | WHERE event_type = 'purchase' AND first_view IS NOT NULL
      |   AND ts >= first_view
      | GROUP BY user_id, first_view)
      |SELECT user_id, first_view, first_purchase,
      | CAST(epoch_us(first_purchase) - epoch_us(first_view) AS DOUBLE)
      |   / 1000000.0 AS latency_sec
      |FROM conv ORDER BY user_id""".stripMargin

  /** Two-cohort A/B comparison (Welch's t) on purchase values, cohorts
    * assigned by user-id parity — the experiment-readout query. All
    * power sums are EXACT (cents longs widened to decimal-38), so the
    * closed-form means/variances/t evaluate in double from exact sums
    * with the identical expression tree in the oracle — reproducible on
    * any partitioning, one conditional aggregation pass, 1-row output.
    */
  def abTest(t: Tables): DataFrame = {
    val toD = decToDouble _
    val s = t.events
      .where(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("grp"),
        cents(dec(col("value"))).as("cents"))
      .agg(
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("grp") === 0, col("cents")).otherwise(0L).cast(d38)).as("sa"),
        sum(when(col("grp") === 1, col("cents")).otherwise(0L).cast(d38)).as("sb"),
        // decimal-38 BEFORE the square: cents·cents in long would wrap
        // silently past ~$30M values (decayedCounters' vsum convention)
        sum(when(col("grp") === 0, col("cents").cast(d38) * col("cents"))
          .otherwise(lit(0L).cast(d38))).as("qa"),
        sum(when(col("grp") === 1, col("cents").cast(d38) * col("cents"))
          .otherwise(lit(0L).cast(d38))).as("qb"))
      .select(col("n_a"), col("n_b"),
        (toD(col("sa")) / 100.0).as("da"), (toD(col("sb")) / 100.0).as("db"),
        (toD(col("qa")) / 10000.0).as("qqa"), (toD(col("qb")) / 10000.0).as("qqb"))
    val meanA = col("da") / col("n_a")
    val meanB = col("db") / col("n_b")
    val va = (col("qqa") - col("da") * col("da") / col("n_a")) /
      (col("n_a") - 1) / col("n_a")
    val vb = (col("qqb") - col("db") * col("db") / col("n_b")) /
      (col("n_b") - 1) / col("n_b")
    // degenerate cohorts (empty → mean divides by 0; singleton → the
    // n-1 variance divides by 0; zero-variance → t divides by sqrt(0))
    // must yield NULL, not a platform-dependent NaN/Inf — mirrored
    // exactly by the oracle's CASE guards
    s.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0, meanA).as("mean_a"),
      when(col("n_b") > 0, meanB).as("mean_b"),
      when(col("n_a") > 0 && col("n_b") > 0, meanA - meanB).as("diff"),
      when(col("n_a") > 1 && col("n_b") > 1 && (va + vb) > 0,
        (meanA - meanB) / sqrt(va + vb)).as("t_stat"))
  }

  val abTestSql: String = {
    val toD = decToDoubleSql _
    s"""WITH p AS (
       | SELECT user_id % 2 AS grp,
       |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       | FROM events WHERE event_type = 'purchase'),
       |s AS (
       | SELECT
       |  CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |  SUM(CASE WHEN grp = 0 THEN cents ELSE 0 END) AS sa,
       |  SUM(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS sb,
       |  SUM(CASE WHEN grp = 0 THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS qa,
       |  SUM(CASE WHEN grp = 1 THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS qb
       | FROM p),
       |d AS (
       | SELECT n_a, n_b,
       |  ${toD("sa")} / 100.0 AS da, ${toD("sb")} / 100.0 AS db,
       |  ${toD("qa")} / 10000.0 AS qqa, ${toD("qb")} / 10000.0 AS qqb
       | FROM s)
       |SELECT n_a, n_b,
       | CASE WHEN n_a > 0 THEN da / n_a END AS mean_a,
       | CASE WHEN n_b > 0 THEN db / n_b END AS mean_b,
       | CASE WHEN n_a > 0 AND n_b > 0 THEN da / n_a - db / n_b END AS diff,
       | CASE WHEN n_a > 1 AND n_b > 1
       |       AND (qqa - da * da / n_a) / (n_a - 1) / n_a
       |         + (qqb - db * db / n_b) / (n_b - 1) / n_b > 0
       |  THEN (da / n_a - db / n_b) /
       |   sqrt((qqa - da * da / n_a) / (n_a - 1) / n_a
       |      + (qqb - db * db / n_b) / (n_b - 1) / n_b) END AS t_stat
       |FROM d""".stripMargin
  }

  /** Monthly new-vs-returning customer split — the growth-accounting
    * dashboard staple. One distinct (customer, month) pass, each
    * customer's first month via an entity-partitioned window (no join
    * back), then a conditional count per month. Exact integers; the
    * share is the single double division.
    */
  def newVsReturning(t: Tables): DataFrame = {
    val m = t.orders
      .select(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .distinct()
      .withColumn("first_m",
        min(col("month")).over(Window.partitionBy("o_custkey")))
    m.groupBy("month")
      .agg(
        sum(when(col("month") === col("first_m"), 1L).otherwise(0L))
          .as("new_customers"),
        sum(when(col("month") > col("first_m"), 1L).otherwise(0L))
          .as("returning_customers"),
        (sum(when(col("month") === col("first_m"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("new_share"))
      .orderBy("month")
  }

  val newVsReturningSql: String =
    """WITH m AS (
      | SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month
      | FROM orders GROUP BY 1, 2),
      |w AS (
      | SELECT month, MIN(month) OVER (PARTITION BY o_custkey) AS first_m
      | FROM m)
      |SELECT month,
      | CAST(SUM(CASE WHEN month = first_m THEN 1 ELSE 0 END) AS BIGINT)
      |   AS new_customers,
      | CAST(SUM(CASE WHEN month > first_m THEN 1 ELSE 0 END) AS BIGINT)
      |   AS returning_customers,
      | CAST(SUM(CASE WHEN month = first_m THEN 1 ELSE 0 END) AS DOUBLE)
      |   / COUNT(*) AS new_share
      |FROM w GROUP BY month ORDER BY month""".stripMargin

  /** Day-of-week seasonality profile of order volume and revenue (dow 0
    * = Sunday, matching DuckDB's convention) — exact counts and decimal
    * revenue, shares divided in double over the 7-row aggregate.
    */
  def seasonality(t: Tables): DataFrame = {
    val wAll = Window.partitionBy()
    t.orders
      .groupBy((dayofweek(col("o_orderdate")) - 1).as("dow"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).as("rev"))
      .select(col("dow"), col("n_orders"),
        col("rev").cast("double").as("revenue"),
        (col("rev").cast("double") /
          sum(col("rev")).over(wAll).cast("double")).as("revenue_share"))
      .orderBy("dow")
  }

  val seasonalitySql: String =
    """WITH r AS (
      | SELECT dayofweek(o_orderdate) AS dow,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      | FROM orders GROUP BY 1)
      |SELECT dow, n_orders, CAST(rev AS DOUBLE) AS revenue,
      | CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) AS revenue_share
      |FROM r ORDER BY dow""".stripMargin

  /** Weights are fixed-point powers of two: 2^(DecayShift − age_days),
    * zero past [[DecayMaxAge]] days — so every product and sum below is
    * EXACT integer arithmetic until the single final division. */
  private val DecayShift = 40
  private val DecayMaxAge = 40
  private val DecayDenom = (1L << DecayShift).toDouble

  /** Half-life-decayed engagement counters per (user, event_type) — the
    * feature-store staple (a "decayed count" ages out stale activity
    * without a hard cutoff). Half-life = 1 day, as-of the newest event
    * date. Instead of summing `value · 2^-age` in floats (order-
    * dependent, irreproducible across partitionings), each row
    * contributes an INTEGER `2^(40−age)` weight (and `cents · 2^(40−age)`
    * for the value counter, decimal-38 so ~10²¹ fits); the exact integer
    * sums convert to double via the hi/lo-split recipe and divide by 2^40
    * — one rounding per output. Events older than [[DecayMaxAge]] days
    * contribute exactly 0 (their true weight is below the result's ulp).
    * Map-side partial aggregation handles corpus scale; the as-of date is
    * one broadcast row.
    */
  def decayedCounters(t: Tables): DataFrame = {
    val toD = decToDouble _
    val maxD = t.events.agg(max(to_date(col("ts"))).as("max_d"))
    t.events
      .crossJoin(broadcast(maxD))
      .withColumn("age", datediff(col("max_d"), to_date(col("ts"))))
      .withColumn("wscale",
        when(col("age") <= DecayMaxAge,
          expr(s"shiftleft(CAST(1 AS BIGINT), $DecayShift - age)"))
          .otherwise(lit(0L)))
      .withColumn("cents", cents(dec(col("value"))))
      .groupBy("user_id", "event_type")
      .agg(
        sum(col("wscale").cast(d38)).as("wsum"),
        sum(col("cents").cast(d38) * col("wscale")).as("vsum"))
      .select(col("user_id"), col("event_type"),
        (toD(col("wsum")) / DecayDenom).as("decayed_count"),
        (toD(col("vsum")) / DecayDenom / 100.0).as("decayed_value"))
      .orderBy("user_id", "event_type")
  }

  val decayedCountersSql: String = {
    val toD = decToDoubleSql _
    s"""WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS max_d FROM events),
       |w AS (
       | SELECT user_id, event_type,
       |  date_diff('day', CAST(ts AS DATE), mx.max_d) AS age,
       |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       | FROM events, mx),
       |s AS (
       | SELECT user_id, event_type,
       |  SUM(CASE WHEN age <= $DecayMaxAge
       |      THEN CAST(1 AS BIGINT) << ($DecayShift - age) ELSE 0 END) AS wsum,
       |  SUM(CASE WHEN age <= $DecayMaxAge
       |      THEN CAST(cents AS HUGEINT) * (CAST(1 AS BIGINT) << ($DecayShift - age))
       |      ELSE 0 END) AS vsum
       | FROM w GROUP BY 1, 2)
       |SELECT user_id, event_type,
       | ${toD("wsum")} / $DecayDenom AS decayed_count,
       | ${toD("vsum")} / $DecayDenom / 100.0 AS decayed_value
       |FROM s ORDER BY user_id, event_type""".stripMargin
  }

  /** Risk sets over the customer-lifetime domain: per distinct lifetime
    * `t`, the churn events `d`, all customers `all_t` ending there, and
    * `n`, the customers still at risk (the total minus those removed at
    * shorter lifetimes, by one exclusive cumulative window over the
    * calendar-bounded lifetime domain). Shared by [[kaplanMeier]] and
    * [[nelsonAalen]].
    */
  private def churnRiskSets(t: Tables): DataFrame = {
    val durations = Facts.customerLifetimes(t)
    val byT = durations.groupBy("t")
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("all_t"))
    val tot = durations.agg(count(lit(1)).as("total"))
    val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    byT.crossJoin(broadcast(tot))
      .withColumn("removed", coalesce(sum(col("all_t")).over(wPrev), lit(0L)))
      .withColumn("n", col("total") - col("removed"))
  }

  /** Kaplan–Meier survival curve of customer lifetimes — "what fraction
    * of customers survive past N days", with right-censoring done
    * properly (dropping still-active customers, the naive move, biases
    * survival DOWN). Lifetime = last−first order date; a customer whose
    * last order is within [[Facts.ChurnGapDays]] of the corpus's last date is
    * censored at their observed lifetime (they leave the risk set
    * without counting as a death — exactly KM's accounting). Risk sets
    * and death counts are exact integers via one cumulative window over
    * the DISTINCT-lifetime domain (calendar-bounded); the survival
    * product Ŝ(t)=Π(1−dᵢ/nᵢ) is a LEFT FOLD over the sorted factor
    * array (seeded with the first factor, the ewma convention), so the
    * oracle's recursive-CTE product replays the identical IEEE
    * sequence. Output: one row per EVENT time (censor-only times fold
    * through as ×1). The heavy pass is one orders aggregation per
    * customer; everything after runs on bounded domains.
    */
  def kaplanMeier(t: Tables): DataFrame = {
    churnRiskSets(t)
      .groupBy()
      .agg(array_sort(collect_list(struct(col("t"), col("n"), col("d")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")), col("arr"))
      .select(col("x.t").as("t_days"), col("x.n").as("n_risk"),
        col("x.d").as("d_events"),
        expr(
          """aggregate(slice(arr, 2, pos),
            |  CAST(arr[0].n - arr[0].d AS DOUBLE) / arr[0].n,
            |  (a, y) -> a * (CAST(y.n - y.d AS DOUBLE) / y.n))""".stripMargin)
          .as("survival"))
      .where(col("d_events") > 0)
      .orderBy("t_days")
  }

  val kaplanMeierSql: String =
    s"""WITH RECURSIVE per_cust AS (
       | SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS f,
       |  MAX(CAST(o_orderdate AS DATE)) AS l
       | FROM orders GROUP BY 1),
       |e AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS e FROM orders),
       |durations AS (
       | SELECT CAST(date_diff('day', f, l) AS BIGINT) AS t,
       |  CASE WHEN date_diff('day', l, e.e) >= ${Facts.ChurnGapDays}
       |       THEN 1 ELSE 0 END AS ev
       | FROM per_cust CROSS JOIN e),
       |by_t AS (
       | SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
       |  CAST(COUNT(*) AS BIGINT) AS all_t
       | FROM durations GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM durations),
       |risk AS (
       | SELECT t, d, all_t,
       |  tot.total - CAST(COALESCE(SUM(all_t) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS n,
       |  CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS i
       | FROM by_t CROSS JOIN tot),
       |km AS (
       | SELECT i, t, n, d, CAST(n - d AS DOUBLE) / n AS s
       | FROM risk WHERE i = 1
       | UNION ALL
       | SELECT r.i, r.t, r.n, r.d,
       |  km.s * (CAST(r.n - r.d AS DOUBLE) / r.n)
       | FROM km JOIN risk r ON r.i = km.i + 1)
       |SELECT t AS t_days, n AS n_risk, d AS d_events, s AS survival
       |FROM km WHERE d > 0
       |ORDER BY t_days""".stripMargin

  /** Nelson–Aalen cumulative hazard on the same churn-duration data as
    * [[kaplanMeier]] — H(t) = Σ_{s≤t} d_s/n_s, the non-parametric
    * hazard accumulator whose slope changes read as risk-regime shifts
    * (KM answers "how many survive", NA answers "how fast are they
    * dying"). Same risk-set machinery: one customer aggregation, one
    * duration-grouped count frame, the exclusive-window removal count
    * — then one cumulative window over the DISTINCT-duration domain
    * (calendar-span bounded). Each hazard term is one double division
    * of exact longs; the cumulative sum runs in ascending-t frame
    * order, so both engines accumulate in the identical sequence.
    */
  def nelsonAalen(t: Tables): DataFrame = {
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    churnRiskSets(t)
      .withColumn("term", col("d").cast("double") / col("n").cast("double"))
      // portable cumulative sum: scale-30 decimal accumulation (exact,
      // order-independent) + 12-decimal final rounding — a plain double
      // window cumsum drifted at the last ulp between engines
      .withColumn("cum_hazard",
        sum(col("term").cast(org.apache.spark.sql.types.DecimalType(38, 30)))
          .over(wCum).cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(24, 12)).cast("double"))
      .where(col("d") > 0)
      .select(col("t").as("t_days"), col("n").as("n_risk"),
        col("d").as("d_events"), col("cum_hazard"))
      .orderBy("t_days")
  }

  val nelsonAalenSql: String =
    s"""WITH per_cust AS (
       | SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS f,
       |  MAX(CAST(o_orderdate AS DATE)) AS l
       | FROM orders GROUP BY 1),
       |e AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS e FROM orders),
       |durations AS (
       | SELECT CAST(date_diff('day', f, l) AS BIGINT) AS t,
       |  CASE WHEN date_diff('day', l, e.e) >= ${Facts.ChurnGapDays}
       |       THEN 1 ELSE 0 END AS ev
       | FROM per_cust CROSS JOIN e),
       |by_t AS (
       | SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
       |  CAST(COUNT(*) AS BIGINT) AS all_t
       | FROM durations GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM durations),
       |risk AS (
       | SELECT t, d,
       |  tot.total - CAST(COALESCE(SUM(all_t) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS n
       | FROM by_t, tot),
       |h AS (
       | SELECT t, n, d,
       |  CAST(CAST(CAST(SUM(CAST(CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
       |      AS DECIMAL(38,30))) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS cum_hazard
       | FROM risk)
       |SELECT t AS t_days, n AS n_risk, d AS d_events, cum_hazard
       |FROM h WHERE d > 0
       |ORDER BY t_days""".stripMargin

  /** Cohort LTV curves — the revenue view of [[cohorts]]: customers
    * cohorted by FIRST-ORDER month, each cohort's revenue accumulated
    * by account age in months, normalized per cohort member — the
    * "how much is a January-2024 customer worth after k months" table
    * that payback-period decisions read. Exact decimal revenue sums;
    * the cumulative window runs over (cohort × age) cells — a
    * calendar-bounded domain at any order volume — and the per-member
    * division is one correctly-rounded double op. Shape: one first-
    * order aggregation (broadcastable), one fact aggregation keyed by
    * (cohort, age), one bounded window.
    */
  def cohortLtv(t: Tables): DataFrame = {
    val firstMonth = t.orders
      .groupBy("o_custkey")
      .agg(date_trunc("month", min(col("o_orderdate"))).as("cohort_month"))
    val sizes = firstMonth.groupBy("cohort_month")
      .agg(countDistinct(col("o_custkey")).as("n_customers"))
    val aged = t.orders
      .join(firstMonth, "o_custkey")
      .groupBy(col("cohort_month"),
        months_between(date_trunc("month", col("o_orderdate")),
          col("cohort_month")).cast("long").as("age_months"))
      .agg(sum(dec(col("o_totalprice"))).as("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort_month").orderBy("age_months")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    aged
      .withColumn("cum_rev", sum(col("rev")).over(w))
      .join(broadcast(sizes), Seq("cohort_month"))
      .select(col("cohort_month"), col("age_months"), col("n_customers"),
        col("rev").cast("double").as("revenue"),
        col("cum_rev").cast("double").as("cum_revenue"),
        (col("cum_rev").cast("double") / col("n_customers")).as("ltv_per_customer"))
      .orderBy("cohort_month", "age_months")
  }

  val cohortLtvSql: String =
    """WITH fm AS (
      | SELECT o_custkey,
      |  date_trunc('month', MIN(CAST(o_orderdate AS TIMESTAMP))) AS cohort_month
      | FROM orders GROUP BY o_custkey),
      |sz AS (
      | SELECT cohort_month, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
      | FROM fm GROUP BY cohort_month),
      |aged AS (
      | SELECT fm.cohort_month,
      |  CAST(datediff('month', fm.cohort_month,
      |    date_trunc('month', CAST(o.o_orderdate AS TIMESTAMP))) AS BIGINT) AS age_months,
      |  SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS rev
      | FROM orders o JOIN fm ON o.o_custkey = fm.o_custkey
      | GROUP BY 1, 2),
      |c AS (
      | SELECT cohort_month, age_months, rev,
      |  SUM(rev) OVER (PARTITION BY cohort_month ORDER BY age_months
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      | FROM aged)
      |SELECT c.cohort_month, c.age_months, sz.n_customers,
      | CAST(c.rev AS DOUBLE) AS revenue,
      | CAST(c.cum_rev AS DOUBLE) AS cum_revenue,
      | CAST(c.cum_rev AS DOUBLE) / sz.n_customers AS ltv_per_customer
      |FROM c JOIN sz USING (cohort_month)
      |ORDER BY cohort_month, age_months""".stripMargin

  /** Cohort retention matrix — the classic retention triangle behind
    * [[cohorts]]' raw counts (every growth dashboard's first chart):
    * users bucketed by first-activity DAY, and for each cohort ×
    * day-offset cell, the share of the cohort still active. Cohort
    * size is the offset-0 active count (every user is active on their
    * first day by construction), attached with one self-join on the
    * calendar-bounded cohort×offset grid; the rate divides exact
    * integers in double with the oracle's expression tree. The only
    * corpus-scale work is two fact aggregations — the matrix math
    * happens on the bounded grid.
    */
  def retentionMatrix(t: Tables): DataFrame = {
    val firstDay = t.events
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val cells = t.events
      .join(firstDay, "user_id")
      .groupBy(col("cohort_day"),
        datediff(to_date(col("ts")), col("cohort_day")).cast("long")
          .as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
    val sizes = cells.where(col("day_offset") === 0L)
      .select(col("cohort_day"), col("active_users").as("cohort_size"))
    cells.join(sizes, Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("cohort_size"),
        col("active_users"),
        (col("active_users").cast("double") / col("cohort_size"))
          .as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  val retentionMatrixSql: String =
    """WITH f AS (
      | SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE))
      |   AS cohort_day
      | FROM events GROUP BY user_id),
      |cells AS (
      | SELECT cohort_day,
      |  CAST(date_diff('day', cohort_day,
      |    CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_offset,
      |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
      | FROM events e JOIN f ON e.user_id = f.user_id
      | GROUP BY 1, 2),
      |sz AS (
      | SELECT cohort_day, active_users AS cohort_size FROM cells
      | WHERE day_offset = 0)
      |SELECT c.cohort_day, c.day_offset, sz.cohort_size, c.active_users,
      | CAST(c.active_users AS DOUBLE) / sz.cohort_size AS retention
      |FROM cells c JOIN sz USING (cohort_day)
      |ORDER BY c.cohort_day, c.day_offset""".stripMargin

  /** DAU/WAU stickiness — the engagement ratio every product report
    * carries (what share of a week's users show up on an average day):
    * per week, the mean daily-active count over the days the week
    * actually has events, divided by weekly-active users. Both counts
    * are exact integers from two fact aggregations (day and week grids
    * are calendar-bounded); the divisions evaluate in double with the
    * oracle's tree.
    */
  def stickiness(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(date_trunc("week", col("ts")).as("week"),
        to_date(col("ts")).as("d"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val weekly = t.events
      .groupBy(date_trunc("week", col("ts")).as("week"))
      .agg(countDistinct(col("user_id")).as("wau"))
    daily.groupBy("week")
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
      .join(weekly, Seq("week"))
      .select(col("week"), col("n_days"), col("dau_sum"), col("wau"),
        ((col("dau_sum").cast("double") / col("n_days")) / col("wau"))
          .as("stickiness"))
      .orderBy("week")
  }

  val stickinessSql: String =
    """WITH daily AS (
      | SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
      |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      | FROM events GROUP BY 1, 2),
      |weekly AS (
      | SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      | FROM events GROUP BY 1),
      |agg AS (
      | SELECT week, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(dau) AS BIGINT) AS dau_sum
      | FROM daily GROUP BY 1)
      |SELECT a.week, a.n_days, a.dau_sum, w.wau,
      | (CAST(a.dau_sum AS DOUBLE) / a.n_days) / w.wau AS stickiness
      |FROM agg a JOIN weekly w USING (week)
      |ORDER BY a.week""".stripMargin

  /** Weekly churn — the complement of [[retentionMatrix]]'s diagonal
    * (retention asks "who came back", churn asks "who left"): per week,
    * the share of that week's active users with NO activity in the
    * following week. Memberships collapse to DISTINCT (user, week)
    * once; presence-next-week is a left self-join shifted by 7 days
    * (null = churned); the final week is excluded (its "next week" is
    * beyond the data, so churn there is unobservable — the honest
    * cutoff), with the max week entering as a broadcast 1-row
    * aggregate, never driver state.
    */
  def churn(t: Tables): DataFrame = {
    val m = t.events
      .select(date_trunc("week", col("ts")).as("week"), col("user_id"))
      .distinct()
    val nxt = m.select(col("week").as("wb"), col("user_id"))
    val maxW = m.agg(max(col("week")).as("maxw"))
    m.as("a")
      .join(nxt.as("b"),
        col("a.user_id") === col("b.user_id")
          && col("b.wb") === col("a.week") + expr("INTERVAL 7 DAYS"), "left")
      .crossJoin(broadcast(maxW))
      .where(col("a.week") < col("maxw"))
      .groupBy(col("a.week").as("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("b.wb").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_churned"))
      .select(col("week"), col("n_active"), col("n_churned"),
        (col("n_churned").cast("double") / col("n_active")).as("churn_rate"))
      .orderBy("week")
  }

  val churnSql: String =
    """WITH m AS (
      | SELECT DISTINCT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
      |  user_id
      | FROM events),
      |j AS (
      | SELECT a.week, a.user_id, b.week AS wb
      | FROM m a LEFT JOIN m b
      |  ON a.user_id = b.user_id AND b.week = a.week + INTERVAL 7 DAY
      | WHERE a.week < (SELECT MAX(week) FROM m)),
      |g AS (
      | SELECT week, CAST(COUNT(*) AS BIGINT) AS n_active,
      |  CAST(SUM(CASE WHEN wb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_churned
      | FROM j GROUP BY 1)
      |SELECT week, n_active, n_churned,
      | CAST(n_churned AS DOUBLE) / n_active AS churn_rate
      |FROM g ORDER BY week""".stripMargin

  /** Daily growth accounting — the standard four-way decomposition of
    * active-user change (the "growth accounting" identity every
    * product-analytics stack publishes): per day,
    * active = new + retained + resurrected, and
    * active(d) − active(d−1) = new + resurrected − churned, where new
    * users see their first-ever day, retained were active yesterday,
    * resurrected return after a gap, and churned were active yesterday
    * but not today (attributed to today). The quick ratio
    * (new+resurrected)·10⁶ div churned in exact ppm is the summary
    * health number. Daily grain because events span 30 days
    * (TESTDATA rule).
    *
    * Scale: one distinct (user, day) aggregation, one per-user min
    * (first day), and two self-equi-joins on (user, day±1) — all
    * shuffles on the user key, no windows over the user population.
    * The output is calendar-bounded.
    */
  def growthAccounting(t: Tables): DataFrame = {
    val ud = t.events
      .select(col("user_id").as("u"), to_date(col("ts")).as("d"))
      .distinct()
      .localCheckpoint(true) // feeds first-day agg + both shifted joins
    val first = ud.groupBy("u").agg(min(col("d")).as("fd"))
    val wasPrev = ud.select(col("u"), date_add(col("d"), 1).as("d"),
      lit(1).as("wp"))
    val flags = ud
      .join(first, Seq("u"))
      .join(wasPrev, Seq("u", "d"), "left")
    val daily = flags.groupBy("d")
      .agg(count(lit(1)).cast("long").as("n_active"),
        sum(when(col("d") === col("fd"), 1L).otherwise(0L)).cast("long")
          .as("n_new"),
        sum(when(col("wp").isNotNull, 1L).otherwise(0L)).cast("long")
          .as("n_retained"),
        sum(when(col("wp").isNull && col("d") > col("fd"), 1L).otherwise(0L))
          .cast("long").as("n_resurrected"))
    // churned(d): active on d−1, absent on d — bounded to the calendar
    val maxDay = ud.agg(max(col("d")).as("mx"))
    val churned = ud.select(col("u"), date_add(col("d"), 1).as("d"))
      .crossJoin(broadcast(maxDay))
      .where(col("d") <= col("mx"))
      .join(ud.select(col("u").as("u2"), col("d").as("d2")),
        col("u") === col("u2") && col("d") === col("d2"), "left_anti")
      .groupBy("d").agg(count(lit(1)).cast("long").as("n_churned"))
    daily.join(churned, Seq("d"), "left")
      .na.fill(0L, Seq("n_churned"))
      .select(col("d").as("day"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"),
        when(col("n_churned") > 0,
          expr("((n_new + n_resurrected) * 1000000L) div n_churned"))
          .otherwise(lit(0L)).as("quick_ratio_ppm"))
      .orderBy("day")
  }

  /** Oracle: identical distinct user-days, first-day join, shifted
    * membership joins, and the same exact ppm quick ratio.
    */
  val growthAccountingSql: String =
    """WITH ud AS (
      | SELECT DISTINCT user_id AS u, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      | FROM events),
      |f AS (SELECT u, MIN(d) AS fd FROM ud GROUP BY 1),
      |wp AS (SELECT u, d + INTERVAL 1 DAY AS d FROM ud),
      |flags AS (
      | SELECT ud.u, ud.d, f.fd,
      |  EXISTS (SELECT 1 FROM wp WHERE wp.u = ud.u
      |          AND CAST(wp.d AS DATE) = ud.d) AS was_prev
      | FROM ud JOIN f ON ud.u = f.u),
      |daily AS (
      | SELECT d,
      |  CAST(COUNT(*) AS BIGINT) AS n_active,
      |  CAST(SUM(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(SUM(CASE WHEN was_prev THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_retained,
      |  CAST(SUM(CASE WHEN NOT was_prev AND d > fd THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_resurrected
      | FROM flags GROUP BY 1),
      |mx AS (SELECT MAX(d) AS mx FROM ud),
      |ch AS (
      | SELECT CAST(s.d AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n_churned
      | FROM (SELECT u, d + INTERVAL 1 DAY AS d FROM ud) s, mx
      | WHERE CAST(s.d AS DATE) <= mx.mx
      |  AND NOT EXISTS (SELECT 1 FROM ud
      |                  WHERE ud.u = s.u AND ud.d = CAST(s.d AS DATE))
      | GROUP BY 1)
      |SELECT daily.d AS day, n_active, n_new, n_retained, n_resurrected,
      | COALESCE(n_churned, 0) AS n_churned,
      | CAST(CASE WHEN COALESCE(n_churned, 0) > 0
      |  THEN ((n_new + n_resurrected) * 1000000) // n_churned
      |  ELSE 0 END AS BIGINT) AS quick_ratio_ppm
      |FROM daily LEFT JOIN ch ON daily.d = ch.d
      |ORDER BY day""".stripMargin
}
