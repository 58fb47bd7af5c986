package graft

import graft.operators.Etl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

class EtlSpec extends SparkSpec {
  import spark.implicits._

  test("normalize: money quantizes HALF_UP to 2 decimals (loaders.py _to_decimal_2 parity)") {
    val rows = Seq(1.005, 2.675, 3.0, -1.005).toDF("x")
      .select(col("x").cast(DecimalType(12, 2)).cast("double"))
      .as[Double].collect()
    // Spark cast(double -> decimal) rounds HALF_UP on the decimal repr
    assert(rows sameElements Array(1.01, 2.68, 3.0, -1.01))
  }

  test("conformToSchema: alias, UUID coercion, required-columns raise (loaders.py:115 parity)") {
    // binary UUID → canonical 8-4-4-4-12 string
    val uuid = java.util.UUID.fromString("12345678-9abc-def0-1122-334455667788")
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits)
    val binDf = Seq((bb.array(), 1L)).toDF("event_id", "customer_id")
    val conformed = Etl.conformToSchema(binDf, Seq("event_id", "customer_id"))
    assert(conformed.collect().head.getString(0) == uuid.toString)
    // string event_id passes through; customer_name aliases to name
    val strDf = Seq(("e-1", "Alice")).toDF("event_id", "customer_name")
    val out = Etl.conformToSchema(strDf, Seq("event_id", "name"))
    assert(out.columns.toSeq == Seq("event_id", "name"))
    assert(out.collect().head.getString(1) == "Alice")
    // missing required column raises (fail-fast load gate)
    intercept[IllegalArgumentException] {
      Etl.conformToSchema(strDf, Seq("event_id", "qty"))
    }
    // NULL binary uuid stays NULL (not a garbage empty string)
    val nullDf = Seq((Option.empty[Array[Byte]], 2L)).toDF("event_id", "customer_id")
    val nullRow = Etl.conformToSchema(nullDf, Seq("event_id", "customer_id")).collect().head
    assert(nullRow.isNullAt(0))
    // wrong-length binary fails the batch, like uuid.UUID(bytes=...) raising
    val shortDf = Seq((Array[Byte](1, 2, 3, 4), 3L)).toDF("event_id", "customer_id")
    intercept[Exception] {
      Etl.conformToSchema(shortDf, Seq("event_id", "customer_id")).collect()
    }
  }

  test("normalize: null int coercion and text defaults") {
    val df = Seq((Some(1L), Some("n"), None: Option[String], Some(7)), (None, None, None, None))
      .toDF("id", "name", "seg", "nat")
      .select(
        coalesce(col("id"), lit(0L)).as("id"),
        coalesce(col("name"), lit("")).as("name"),
        coalesce(col("seg"), lit("UNKNOWN")).as("seg"),
        coalesce(col("nat").cast("long"), lit(0L)).as("nat"))
    val r = df.collect()
    assert(r.forall(!_.anyNull))
    assert(r(1).getString(2) == "UNKNOWN" && r(1).getLong(3) == 0L)
  }

  test("dim products: stable surrogate keys and aliasing") {
    val rows = Etl.dimProducts(sf).limit(3).collect()
    rows.foreach { r =>
      assert(r.getString(1) == f"SKU-${r.getLong(0)}%08d")
      assert(r.getString(5) == "EUR")
    }
  }

  test("fact sales: left join preserves unmatched events with null dims") {
    val df = Etl.factSales(sf)
    assert(df.count() == sf.events.count()) // left join keeps all facts
    // user_id 0 has no customer 0? customers keys start at 0 — check nulls appear
    // for user ids beyond the customer key range, if any; at minimum no rows lost
  }

  test("end-to-end pipeline materializes all four star-schema tables") {
    val out = java.nio.file.Files.createTempDirectory("graft-etl").toString
    val counts = Etl.pipeline(sf, out)
    assert(counts.keySet == Set("dim_products", "dim_customers", "fact_sales", "fact_inventory"))
    assert(counts.values.forall(_ > 0))
    assert(counts("fact_sales") == sf.events.count())
    // facts are month-partitioned on disk
    val salesDirs = new java.io.File(s"$out/fact_sales").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(salesDirs.nonEmpty && salesDirs.forall(_.startsWith("ym=")))
  }

  test("month-partitioned loads keep every month file in the table's order") {
    val out = java.nio.file.Files.createTempDirectory("graft-etl-order").toString
    Etl.pipeline(sf, out)
    def monthFiles(table: String): Seq[String] =
      new java.io.File(s"$out/$table").listFiles().filter(_.isDirectory).toSeq
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath))
    val inventory = monthFiles("fact_inventory")
    assert(inventory.size > 1)
    inventory.foreach { f =>
      val rows = spark.read.parquet(f)
        .select(col("date").cast("string"), col("product_id"), col("warehouse_id"))
        .as[(String, Long, String)].collect().toSeq
      assert(rows == rows.sorted, f)
    }
    val sales = monthFiles("fact_sales")
    assert(sales.nonEmpty)
    sales.foreach { f =>
      val rows = spark.read.parquet(f).select(unix_micros(col("ts")), col("event_id"))
        .as[(Long, Long)].collect().toSeq
      assert(rows == rows.sorted, f)
    }
  }

  test("sketch aggregates stay within the configured error of exact counts") {
    val df = graft.operators.Relational3.sketchAggs(sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_customers").toDouble
      val kmv   = r.getAs[Long]("kmv_customers").toDouble
      // KMV with k=256 has ~1/sqrt(k-2) ≈ 6.3% stderr; allow 3 sigma
      assert(math.abs(kmv - exact) / exact < 0.2, s"kmv $kmv vs exact $exact")
      val p50 = r.getAs[Double]("p50_price")
      val p90 = r.getAs[Double]("p90_price")
      assert(p50 > 0 && p90 >= p50, s"p50 $p50 p90 $p90")
    }
  }

  test("fact inventory: one row per (date, product, warehouse)") {
    val df = Etl.factInventory(sf)
    assert(df.count() == df.select("date", "product_id", "warehouse_id").distinct().count())
  }

  test("observed normalize exports load-gate metrics on the same scan") {
    @volatile var metrics: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        qe.observedMetrics.get("etl_normalize_metrics").foreach(r => metrics = Some(r))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Etl.normalizeObserved(sf)
      val n = out.count()
      // data unchanged vs the uninstrumented operator
      assert(n == Etl.normalize(sf).count())
      // the listener fires asynchronously after the action
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(metrics.nonEmpty, "observe metrics never arrived")
      val m = metrics.get
      assert(m.getAs[Long]("n_rows") == n)
      val negatives = Etl.normalize(sf).where(col("acctbal") < 0).count()
      assert(m.getAs[Long]("n_negative_balances") == negatives)
    } finally spark.listenerManager.unregister(listener)
  }

  test("date dimension covers the order calendar with portable attributes") {
    val rows = Etl.dimDates(sf).collect()
    val days = rows.map(_.getAs[java.sql.Date](0).toLocalDate)
    // contiguous daily spine over [min, max] order date
    assert(days.head.toEpochDay + days.length - 1 == days.last.toEpochDay)
    days.sliding(2).foreach {
      case Array(a, b) => assert(b.toEpochDay == a.toEpochDay + 1)
      case _ =>
    }
    rows.foreach { r =>
      val d = r.getAs[java.sql.Date](0).toLocalDate
      assert(r.getLong(1) == d.toEpochDay)
      assert(r.getInt(2) == d.getYear)
      assert(r.getInt(3) == (d.getMonthValue + 2) / 3)
      assert(r.getInt(4) == d.getMonthValue)
      assert(r.getInt(5) == d.getDayOfMonth)
      assert(r.getInt(6) == d.getYear * 100 + d.getMonthValue)
      val dow = java.lang.Math.floorMod(d.toEpochDay, 7L)
      assert(r.getLong(7) == dow)
      // 1970-01-01 was Thursday: mod 2/3 are Saturday/Sunday
      val isWeekend = d.getDayOfWeek == java.time.DayOfWeek.SATURDAY ||
        d.getDayOfWeek == java.time.DayOfWeek.SUNDAY
      assert(r.getBoolean(8) == isWeekend, s"$d weekend flag")
    }
  }
  test("late dims hold placeholder facts and repair them against the full dim") {
    val rows = graft.operators.Etl.lateDims(sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSet == Set("on_time", "repaired"))
    // no fact row is lost: supplier counts across statuses cover every
    // supplier with lineitems, and repaired members are real nations
    val factSupp = sf.lineitem.select("l_suppkey").distinct().count()
    assert(rows.map(_._3).sum == factSupp)
    assert(rows.forall(_._2 != "UNKNOWN"))
    val lineTotal = sf.lineitem.count()
    assert(rows.map(_._4).sum == lineTotal)
    // the early-snapshot split decides status: replay it
    def unitHash(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.take(15), 16).toDouble /
        1152921504606846976.0
    }
    val suppliers = sf.supplier.select("s_suppkey").collect().map(_.getLong(0))
    val late = suppliers.filter(s => unitHash(s) >= 0.7).toSet
    val factSupps = sf.lineitem.select("l_suppkey").distinct().collect()
      .map(_.getLong(0))
    val expRepaired = factSupps.count(late.contains)
    assert(rows.filter(_._1 == "repaired").map(_._3).sum == expRepaired)
  }
}
