package graft.operators

import graft.Tables
import graft.functions.Exact.{dec, discPrice}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared input frames: one definition of each fact rollup that several
  * statistics and time-series operators read, so "daily revenue" or
  * "per-customer revenue" means the same rows everywhere.
  *
  * Every frame carries EXACT decimal sums (no unit conversion) or raw
  * counts; each caller converts to the unit its arithmetic needs
  * ([[graft.functions.Exact.microUnits]], `cents`, `wholeUnits`). The
  * frames are lazy: a caller that reads one column prunes the others
  * out of the aggregation.
  */
object Facts {

  /** Net revenue per ship day: `d` (date), `rev` = Σ discPrice (exact,
    * scale 6) and `lines`, the day's line count. One map-side-combining
    * aggregation down to the calendar: one row per ship day at any
    * corpus size, so the daily operators' unpartitioned windows, folds
    * and self-joins run over a bounded domain.
    */
  def dailyRevenue(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_shipdate").cast("date").as("d"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("rev"),
        count(lit(1)).as("lines"))

  /** Days since 1970-01-01 (int): the day key the daily operators order,
    * lag and join by.
    */
  def epochDay(d: Column): Column = datediff(d, to_date(lit("1970-01-01")))

  /** Order revenue per customer: `o_custkey`, `rev` = Σ o_totalprice
    * (exact, scale 2).
    */
  def customerRevenue(t: Tables): DataFrame =
    t.orders.groupBy("o_custkey").agg(sum(dec(col("o_totalprice"))).as("rev"))

  /** Net revenue per supplier: `l_suppkey`, `rev` = Σ discPrice (exact,
    * scale 6).
    */
  def supplierRevenue(t: Tables): DataFrame =
    t.lineitem.groupBy("l_suppkey")
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("rev"))

  /** Net revenue per part: `l_partkey`, `rev` = Σ discPrice (exact,
    * scale 6).
    */
  def partRevenue(t: Tables): DataFrame =
    t.lineitem.groupBy("l_partkey")
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("rev"))

  /** Days a customer must be silent before the corpus's last order date
    * to count as churned; a customer seen more recently is censored.
    */
  val ChurnGapDays = 90

  /** Customer lifetimes: `o_custkey`, `t` = days from first to last
    * order (long) and `ev` = 1 when the customer churned (last order at
    * least [[ChurnGapDays]] before the corpus end), else 0 (censored).
    * One orders aggregation per customer plus a broadcast one-row end
    * date.
    */
  def customerLifetimes(t: Tables): DataFrame = {
    val perCust = t.orders
      .groupBy("o_custkey")
      .agg(min(col("o_orderdate").cast("date")).as("f"),
        max(col("o_orderdate").cast("date")).as("l"))
    val end = t.orders.agg(max(col("o_orderdate").cast("date")).as("e"))
    perCust.crossJoin(broadcast(end))
      .select(col("o_custkey"),
        datediff(col("l"), col("f")).cast("long").as("t"),
        (datediff(col("e"), col("l")) >= ChurnGapDays).cast("long").as("ev"))
  }

  /** Event counts per (event type, weekday) cell: `typ`, `dow`, `o`.
    * Weekday is `days-since-1970-01-01 mod 7` (0 = Thursday), the one
    * weekday formula both engines compute identically (their DOW
    * conventions disagree). Types × 7 cells: a bounded grid.
    */
  def eventWeekdayCells(t: Tables): DataFrame =
    t.events
      .select(col("event_type").as("typ"),
        pmod(epochDay(col("ts").cast("date")), lit(7)).cast("long").as("dow"))
      .groupBy("typ", "dow").agg(count(lit(1)).as("o"))

  /** Orders by total price, largest first: `price` (exact, scale 2) and
    * `ok` (order key, the tie-break). A caller's `limit(k)` on it plans
    * as a TakeOrderedAndProject (per-partition top-k, then a driver
    * merge), never a global sort.
    */
  def ordersByPrice(t: Tables): DataFrame =
    t.orders
      .select(dec(col("o_totalprice")).as("price"), col("o_orderkey").as("ok"))
      .orderBy(col("price").desc, col("ok"))
}
