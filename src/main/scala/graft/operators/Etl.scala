package graft.operators

import graft.Tables
import graft.functions.Exact._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Reference-parity ETL surface.
  *
  * Mirrors the reference's transform/load semantics (all refs to
  * /root/reference):
  *  - dimension conformance — `transform_for_clickhouse`, etl.py:443-454
  *    (rename id→product_id / customer_id, name→product_name, UTC ts);
  *  - star-schema fact enrichment — etl.py:456-464 (sales events LEFT JOIN
  *    customer dim LEFT JOIN product dim);
  *  - snapshot facts — minio_loader.py:245 (date, product, warehouse,
  *    stock);
  *  - `_normalize_df` — loaders.py:727-761 (alias mapping, Decimal(12,2)
  *    ROUND_HALF_UP money, int coercion with null→default, required
  *    columns).
  *
  * Spark-first design: dims are plain projections (codegen'd, pushdown
  * preserved); the enrichment join broadcasts the dims — on a 100 TB fact
  * stream this is a map-side join with zero shuffle of the fact table.
  */
object Etl {

  /** Product dimension from `part` (stands in for Postgres `products`). */
  def dimProducts(t: Tables): DataFrame =
    t.part.select(
        col("p_partkey").as("product_id"),
        concat(lit("SKU-"), lpad(col("p_partkey").cast("string"), 8, "0")).as("sku"),
        col("p_name").as("product_name"),
        col("p_brand").as("category"),
        col("p_retailprice").cast(DecimalType(12, 2)).cast("double").as("price"),
        lit("EUR").as("currency"))
      .orderBy("product_id")

  val dimProductsSql: String =
    """SELECT p_partkey AS product_id,
      | 'SKU-' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS sku,
      | p_name AS product_name,
      | p_brand AS category,
      | CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      | 'EUR' AS currency
      |FROM part
      |ORDER BY product_id""".stripMargin

  /** Customer dimension from `customer`. */
  def dimCustomers(t: Tables): DataFrame =
    t.customer.select(
        col("c_custkey").as("customer_id"),
        concat(lit("CUST-"), lpad(col("c_custkey").cast("string"), 10, "0")).as("external_id"),
        col("c_name").as("name"),
        col("c_mktsegment").as("segment"),
        col("c_acctbal").cast(DecimalType(12, 2)).cast("double").as("acctbal"))
      .orderBy("customer_id")

  val dimCustomersSql: String =
    """SELECT c_custkey AS customer_id,
      | 'CUST-' || lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS external_id,
      | c_name AS name,
      | c_mktsegment AS segment,
      | CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
      |FROM customer
      |ORDER BY customer_id""".stripMargin

  /** Star-schema fact enrichment (etl.py:456-464): events LEFT JOIN the
    * customer and product dims. Both dims are broadcast — the fact side
    * streams through map-side hash joins with no shuffle.
    */
  def factSales(t: Tables): DataFrame = {
    val cust = t.customer.select(
      col("c_custkey"), col("c_name").as("customer_name"), col("c_mktsegment").as("segment"))
    val prod = t.part.select(
      col("p_partkey"), col("p_name").as("product_name"), col("p_brand").as("category"))
    t.events
      .withColumn("product_id", col("event_id") % 2000)
      .join(broadcast(cust), col("user_id") === col("c_custkey"), "left")
      .join(broadcast(prod), col("product_id") === col("p_partkey"), "left")
      .select(
        col("event_id"), col("ts"), col("user_id").as("customer_id"), col("product_id"),
        col("event_type"), col("value"),
        col("customer_name"), col("segment"), col("product_name"), col("category"))
      .orderBy("event_id")
  }

  val factSalesSql: String =
    """SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.user_id AS customer_id,
      | e.event_id % 2000 AS product_id,
      | e.event_type, e.value,
      | c.c_name AS customer_name, c.c_mktsegment AS segment,
      | p.p_name AS product_name, p.p_brand AS category
      |FROM events e
      |LEFT JOIN customer c ON e.user_id = c.c_custkey
      |LEFT JOIN part p ON e.event_id % 2000 = p.p_partkey
      |ORDER BY e.event_id""".stripMargin

  /** Snapshot inventory facts (minio_loader.py:245-255 schema:
    * date / product_id / warehouse_id / stock_units), derived as a day-grain
    * rollup of lineitem with a synthetic warehouse from the supplier key.
    */
  def factInventory(t: Tables): DataFrame =
    t.lineitem
      .groupBy(
        to_date(col("l_shipdate")).as("date"),
        col("l_partkey").as("product_id"),
        concat(lit("wh-"), lpad((col("l_suppkey") % 3 + 1).cast("string"), 2, "0"))
          .as("warehouse_id"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("stock_units"))
      .orderBy("date", "product_id", "warehouse_id")

  val factInventorySql: String =
    """SELECT CAST(l_shipdate AS DATE) AS date, l_partkey AS product_id,
      | 'wh-' || lpad(CAST(l_suppkey % 3 + 1 AS VARCHAR), 2, '0') AS warehouse_id,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS stock_units
      |FROM lineitem
      |GROUP BY 1, 2, 3
      |ORDER BY date, product_id, warehouse_id""".stripMargin

  /** End-to-end ETL run mirroring the reference's `main` (etl.py:56):
    * extract all sources → conform dims → enrich facts → load partitioned
    * sinks. One call materializes the same four tables the reference
    * inserts into ClickHouse, as month-partitioned ordered parquet, and
    * returns each table's row count.
    *
    *  - The four loads do not depend on each other, so they run at once,
    *    one thread per load, named `etl-load-<table>`. The threads are
    *    started by the caller and inherit its Spark local properties, so
    *    their jobs carry the caller's job group.
    *  - The counts are the rows each write reports
    *    ([[graft.sources.Sinks.writeChunked]],
    *    [[graft.sources.Sinks.writeMonthPartitioned]]); no table is read
    *    back.
    *  - The call returns when every load has ended, so no load thread
    *    outlives it. If any load failed, it throws the failure of the
    *    first failed table (in the order `dim_products`, `dim_customers`,
    *    `fact_sales`, `fact_inventory`) as the load threw it, with the
    *    other failures attached as suppressed.
    */
  def pipeline(t: Tables, outDir: String): Map[String, Long] = {
    import graft.sources.Sinks.{writeChunked, writeMonthPartitioned}
    val loads = Seq[(String, String => Long)](
      "dim_products"   -> (writeChunked(dimProducts(t), _, 1000000)),
      "dim_customers"  -> (writeChunked(dimCustomers(t), _, 1000000)),
      "fact_sales"     -> (writeMonthPartitioned(factSales(t), "ts", _, Seq("ts", "event_id"))),
      "fact_inventory" -> (writeMonthPartitioned(factInventory(t), "date", _,
        Seq("date", "product_id", "warehouse_id"))))
    val outcomes = new Array[Either[Throwable, Long]](loads.size)
    val threads = loads.zipWithIndex.map { case ((name, load), i) =>
      new Thread(() => outcomes(i) =
        try Right(load(s"$outDir/$name")) catch { case e: Throwable => Left(e) },
        s"etl-load-$name")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val (failed, counts) = outcomes.toSeq.partitionMap(identity)
    failed.headOption.foreach { first => failed.tail.foreach(first.addSuppressed); throw first }
    loads.map(_._1).zip(counts).toMap
  }

  /** `_normalize_df` parity (loaders.py:115): money quantized to
    * Decimal(12,2) HALF_UP, integer coercion with null→0, alias mapping,
    * null-text defaults. Null paths are exercised in the spec with literal
    * frames; here the same plan runs over `customer`. The UUID and
    * required-columns branches of `_normalize_df` live in
    * [[conformToSchema]].
    */
  def normalize(t: Tables): DataFrame =
    t.customer.select(
        col("c_custkey").cast("long").as("customer_id"),
        coalesce(col("c_name"), lit("")).as("name"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        coalesce(col("c_nationkey").cast("long"), lit(0L)).as("nation_id"),
        col("c_acctbal").cast(DecimalType(12, 2)).cast("double").as("acctbal"))
      .orderBy("customer_id")

  val normalizeSql: String =
    """SELECT CAST(c_custkey AS BIGINT) AS customer_id,
      | COALESCE(c_name, '') AS name,
      | COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
      | COALESCE(CAST(c_nationkey AS BIGINT), 0) AS nation_id,
      | CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
      |FROM customer
      |ORDER BY customer_id""".stripMargin

  /** [[normalize]] instrumented with `observe()` metrics: row count,
    * null-name count, and negative-balance count ride the SAME scan as
    * the data (no second pass) and surface through Spark's
    * QueryExecutionListener — the load-gate counters a production ETL
    * exports per batch. The returned frame is the normalized output
    * unchanged; metrics are a side channel, so correctness contracts
    * stay intact.
    */
  def normalizeObserved(t: Tables): DataFrame =
    normalize(t).observe("etl_normalize_metrics",
      count(lit(1)).as("n_rows"),
      sum(when(col("name") === "", 1L).otherwise(0L)).as("n_blank_names"),
      sum(when(col("acctbal") < 0, 1L).otherwise(0L)).as("n_negative_balances"))

  /** The schema-conformance half of `_normalize_df` (loaders.py:115):
    * alias mapping (`customer_name`→`name`, loaders.py:121), UUID-typed
    * `event_id` coerced to its canonical string form (loaders.py:141 —
    * parquet UUIDs arrive as 16-byte binary; string event_ids pass
    * through), and the required-columns contract: missing columns RAISE
    * (loaders.py:145), matching the reference's fail-fast load gate, and
    * the output carries exactly `required` in order.
    */
  def conformToSchema(df: DataFrame, required: Seq[String]): DataFrame = {
    val aliased =
      if (df.columns.contains("customer_name") && !df.columns.contains("name")
          && required.contains("name"))
        df.withColumn("name", col("customer_name"))
      else df
    val withUuid =
      if (aliased.columns.contains("event_id"))
        aliased.schema("event_id").dataType match {
          case org.apache.spark.sql.types.BinaryType =>
            // 16-byte UUID → 8-4-4-4-12 hex form, lowercase (str(uuid.UUID)).
            // NULL stays NULL; a wrong-length payload FAILS the batch, the
            // way the reference's uuid.UUID(bytes=...) raises — never a
            // silently malformed id.
            aliased.withColumn("event_id",
              when(col("event_id").isNull, lit(null).cast("string"))
                .when(length(col("event_id")) === 16,
                  concat_ws("-",
                    substring(lower(hex(col("event_id"))), 1, 8),
                    substring(lower(hex(col("event_id"))), 9, 4),
                    substring(lower(hex(col("event_id"))), 13, 4),
                    substring(lower(hex(col("event_id"))), 17, 4),
                    substring(lower(hex(col("event_id"))), 21, 12)))
                .otherwise(raise_error(
                  concat(lit("event_id is not a 16-byte UUID: 0x"),
                    hex(col("event_id"))))))
          case _ => aliased.withColumn("event_id", col("event_id").cast("string"))
        }
      else aliased
    val missing = required.filterNot(withUuid.columns.contains)
    require(missing.isEmpty, s"Required columns are missing: $missing")
    withUuid.select(required.map(col): _*)
  }
  /** Quarantine routing — the distributed answer to `_normalize_df`'s
    * fail-fast raise (loaders.py:145): instead of killing a 100 TB batch
    * on one bad row, every row is validated against the rule set and
    * routed good/quarantined with machine-readable reasons (concat_ws
    * skips non-firing rules, so the reason list is deterministic and
    * string-typed — harness-safe). Row-local: one narrow projection, no
    * shuffle; a pipeline writes the two routes to separate sinks.
    */
  /** The event validation rule set as one string column: non-firing
    * rules vanish (concat_ws skips nulls), good rows get "". Shared by
    * the batch [[quarantine]] and [[graft.streaming.Streams]]' routing
    * sink so both paths apply identical rules.
    */
  val quarantineReasons: org.apache.spark.sql.Column = {
    val rules = Seq(
      "unknown_type" -> !col("event_type").isin("view", "click", "purchase", "signup"),
      "value_range" -> (col("value") < 0 || col("value") > 95),
      "null_user" -> col("user_id").isNull)
    concat_ws(",", rules.map { case (n, c) => when(c, lit(n)) }: _*)
  }

  def quarantine(t: Tables): DataFrame = {
    t.events
      .withColumn("reasons", quarantineReasons)
      .withColumn("is_quarantined", col("reasons") =!= "")
      .select(col("event_id"), col("event_type"), col("value"),
        col("is_quarantined"), col("reasons"))
      .orderBy("event_id")
  }

  val quarantineSql: String =
    """SELECT event_id, event_type, value,
      | reasons <> '' AS is_quarantined, reasons
      |FROM (
      | SELECT event_id, event_type, value,
      |  concat_ws(',',
      |   CASE WHEN event_type NOT IN ('view','click','purchase','signup')
      |        THEN 'unknown_type' END,
      |   CASE WHEN value < 0 OR value > 95 THEN 'value_range' END,
      |   CASE WHEN user_id IS NULL THEN 'null_user' END) AS reasons
      | FROM events)
      |ORDER BY event_id""".stripMargin

  /** Generated date DIMENSION over the order calendar — the star
    * schema's one missing dim (every BI layer joins facts to a date
    * table rather than re-deriving calendar attributes per query):
    * one in-row `sequence()` spine between the corpus's first and last
    * order date, then pure calendar projections. Weekday/weekend come
    * from `days-since-epoch mod 7` (0 = Thursday; 2/3 = Sat/Sun) — the
    * one weekday formula both engines compute identically, their DOW
    * builtins disagree ([[graft.operators.Relational8.chiSquare]]'s
    * convention). Output is calendar-span-bounded; generation is one
    * row exploded, no driver loop.
    */
  def dimDates(t: Tables): DataFrame = {
    val bounds = t.orders.agg(
      min(col("o_orderdate").cast("date")).as("d0"),
      max(col("o_orderdate").cast("date")).as("d1"))
    bounds
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      .select(
        col("d"),
        datediff(col("d"), to_date(lit("1970-01-01"))).cast("long")
          .as("epoch_day"),
        year(col("d")).as("year"),
        quarter(col("d")).as("quarter"),
        month(col("d")).as("month"),
        dayofmonth(col("d")).as("day"),
        (year(col("d")) * 100 + month(col("d"))).as("ym_key"),
        pmod(datediff(col("d"), to_date(lit("1970-01-01"))), lit(7))
          .cast("long").as("dow_mod7"))
      .withColumn("is_weekend", col("dow_mod7").isin(2L, 3L))
      .orderBy("d")
  }

  val dimDatesSql: String =
    """WITH b AS (
      | SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
      |  MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      |spine AS (
      | SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |   CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
      | FROM b)
      |SELECT d,
      | CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS epoch_day,
      | CAST(year(d) AS INT) AS year,
      | CAST(quarter(d) AS INT) AS quarter,
      | CAST(month(d) AS INT) AS month,
      | CAST(day(d) AS INT) AS day,
      | CAST(year(d) * 100 + month(d) AS INT) AS ym_key,
      | CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dow_mod7,
      | date_diff('day', DATE '1970-01-01', d) % 7 IN (2, 3) AS is_weekend
      |FROM spine ORDER BY d""".stripMargin

  /** Surrogate-key assignment for the products dimension — the keyed
    * warehouse-load step every dim build needs: a dense, deterministic
    * 1-based surrogate id in (brand, type, business-key) order,
    * assigned DISTRIBUTED via [[Ranks.withGlobalRank]] (range partition
    * → local row_number → broadcast offsets) instead of the classic
    * single-partition ROW_NUMBER that serializes the whole dimension
    * through one task. The sort key is fully tie-broken, so reloads
    * reproduce identical keys — the stability contract surrogate keys
    * exist for.
    */
  def surrogateKeys(t: Tables): DataFrame = {
    val (ranked, _) = Ranks.withGlobalRank(
      t.part.select(col("p_partkey"), col("p_brand"), col("p_type")),
      "sk", col("p_brand"), col("p_type"), col("p_partkey"))
    ranked.select(col("sk"), col("p_partkey"), col("p_brand"), col("p_type"))
      .orderBy("sk")
  }

  val surrogateKeysSql: String =
    """SELECT ROW_NUMBER() OVER (ORDER BY p_brand, p_type, p_partkey) AS sk,
      | p_partkey, p_brand, p_type
      |FROM part ORDER BY sk""".stripMargin

  /** Snapshot ship-date windows for [[snapshotDiff]] (overlapping, so
    * all four change classes occur: orders fully before [[SnapLo]] are
    * "removed", fully at/after [[SnapHi]] "added", fully inside the
    * overlap "unchanged", straddling a boundary "changed").
    */
  private val SnapLo = "1997-01-01"
  private val SnapHi = "1999-01-01"

  /** Snapshot-to-snapshot diff of a derived fact rollup — the data-diff
    * audit every warehouse migration / backfill runs before swapping a
    * table version (row added / removed / changed / unchanged, with old
    * and new values side by side). Snapshots are the per-order lineitem
    * profile (line count + revenue) over two overlapping ship-date
    * windows; totals are exact integer micro-dollars, so "changed"
    * means a REAL difference, never float drift.
    *
    * Plan: each snapshot is one map-side-combining fact aggregation;
    * the comparison is a single full outer join on the conformed key —
    * one key shuffle, no window, no driver state. At 100 TB this is the
    * cheapest correct shape (and the join key is the rollup key, so AQE
    * can pick its partitioning freely).
    */
  def snapshotDiff(t: Tables): DataFrame = {
    def snap(pred: org.apache.spark.sql.Column): DataFrame =
      t.lineitem.where(pred)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          sum((discPrice(col("l_extendedprice"), col("l_discount"))
            * lit(1000000)).cast(DecimalType(19, 0)))
            .cast(DecimalType(38, 0)).as("rev_micros"))
    val a = snap(col("l_shipdate") < lit(SnapHi).cast("date"))
      .select(col("l_orderkey"), col("n_lines").as("a_lines"),
        col("rev_micros").as("a_rev"))
    val b = snap(col("l_shipdate") >= lit(SnapLo).cast("date"))
      .select(col("l_orderkey"), col("n_lines").as("b_lines"),
        col("rev_micros").as("b_rev"))
    a.join(b, Seq("l_orderkey"), "full_outer")
      .select(col("l_orderkey").as("order_key"),
        when(col("a_lines").isNull, "added")
          .when(col("b_lines").isNull, "removed")
          .when(col("a_lines") === col("b_lines")
            && col("a_rev") === col("b_rev"), "unchanged")
          .otherwise("changed").as("change_type"),
        coalesce(col("a_lines"), lit(0L)).as("a_lines"),
        coalesce(col("b_lines"), lit(0L)).as("b_lines"),
        coalesce(col("a_rev"), lit(0L).cast(DecimalType(38, 0)))
          .cast("long").as("a_rev"),
        coalesce(col("b_rev"), lit(0L).cast(DecimalType(38, 0)))
          .cast("long").as("b_rev"))
      .orderBy("order_key")
  }

  val snapshotDiffSql: String =
    s"""WITH a AS (
       | SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS a_lines,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
       |    * 1000000 AS DECIMAL(19,0))) AS BIGINT) AS a_rev
       | FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '$SnapHi'
       | GROUP BY 1),
       |b AS (
       | SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS b_lines,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
       |    * 1000000 AS DECIMAL(19,0))) AS BIGINT) AS b_rev
       | FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '$SnapLo'
       | GROUP BY 1)
       |SELECT COALESCE(a.l_orderkey, b.l_orderkey) AS order_key,
       | CASE WHEN a.l_orderkey IS NULL THEN 'added'
       |      WHEN b.l_orderkey IS NULL THEN 'removed'
       |      WHEN a_lines = b_lines AND a_rev = b_rev THEN 'unchanged'
       |      ELSE 'changed' END AS change_type,
       | COALESCE(a_lines, 0) AS a_lines, COALESCE(b_lines, 0) AS b_lines,
       | COALESCE(a_rev, 0) AS a_rev, COALESCE(b_rev, 0) AS b_rev
       |FROM a FULL OUTER JOIN b ON a.l_orderkey = b.l_orderkey
       |ORDER BY order_key""".stripMargin

  /** Fraction of the supplier dim present in the "early" snapshot for
    * [[lateDims]] (hash-decided — deterministic, engine-portable).
    */
  private val EarlyDimFrac = 0.7

  /** Late-arriving dimension handling — the classic warehouse pattern
    * (facts land before their dimension row does; the load must NOT
    * drop or stall them): facts joining the EARLY dim snapshot keep
    * their row with a placeholder member ('UNKNOWN', status
    * 'placeholder'); when the full dim arrives, a repair pass re-joins
    * exactly the placeholder keys and flips them to 'repaired'. The
    * early snapshot is a deterministic hash split of the supplier dim
    * (so the oracle replays which rows were late); output is the
    * per-(status, nation) rollup of line counts and exact micro
    * revenue, proving placeholders held the fact rows and repairs
    * reattached the real members.
    *
    * Plan: one fact aggregation by suppkey, two broadcast dim joins
    * (early then full — dim-sized, never fact-sized), no windows.
    */
  def lateDims(t: Tables): DataFrame = {
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    val dim = t.supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(t.nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val early = dim.where(
      graft.operators.Sampling.unitHash(col("s_suppkey")) < EarlyDimFrac)
    val perSupp = t.lineitem
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
        sum((discPrice(col("l_extendedprice"), col("l_discount"))
          * lit(1000000)).cast(d19)).cast(d38).as("rev_micros"))
    val phase1 = perSupp
      .join(broadcast(early), col("l_suppkey") === col("s_suppkey"), "left")
      .select(col("l_suppkey"), col("n_lines"), col("rev_micros"),
        when(col("n_name").isNull, "placeholder").otherwise("on_time")
          .as("status"),
        coalesce(col("n_name"), lit("UNKNOWN")).as("member"))
    val repaired = phase1.where(col("status") === "placeholder")
      .drop("status", "member")
      .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_suppkey"), col("n_lines"), col("rev_micros"),
        lit("repaired").as("status"), col("n_name").as("member"))
    phase1.where(col("status") === "on_time").unionAll(repaired)
      .groupBy("status", "member")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("n_lines")).cast("long").as("n_lines"),
        sum(col("rev_micros")).cast(d38).cast("long").as("rev_micros"))
      .orderBy("status", "member")
  }

  val lateDimsSql: String = {
    val u = graft.operators.Sampling.unitHashSqlFmt.format("s_suppkey")
    s"""WITH dim AS (
       | SELECT s_suppkey, n_name FROM supplier
       | JOIN nation ON s_nationkey = n_nationkey),
       |per_supp AS (
       | SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))
       |    * 1000000 AS DECIMAL(19,0))) AS HUGEINT) AS rev_micros
       | FROM lineitem GROUP BY 1),
       |early AS (SELECT * FROM dim WHERE $u < $EarlyDimFrac),
       |phase1 AS (
       | SELECT l_suppkey, n_lines, rev_micros,
       |  CASE WHEN e.n_name IS NULL THEN 'placeholder' ELSE 'on_time' END
       |    AS status,
       |  COALESCE(e.n_name, 'UNKNOWN') AS member
       | FROM per_supp LEFT JOIN early e ON l_suppkey = e.s_suppkey),
       |repaired AS (
       | SELECT p.l_suppkey, p.n_lines, p.rev_micros,
       |  'repaired' AS status, d.n_name AS member
       | FROM phase1 p JOIN dim d ON p.l_suppkey = d.s_suppkey
       | WHERE p.status = 'placeholder')
       |SELECT status, member, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       | CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       | CAST(SUM(rev_micros) AS BIGINT) AS rev_micros
       |FROM (SELECT * FROM phase1 WHERE status = 'on_time'
       |      UNION ALL SELECT * FROM repaired)
       |GROUP BY 1, 2
       |ORDER BY status, member""".stripMargin
  }
}
