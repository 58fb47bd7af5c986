package graft

import graft.plans.TopKPerKey
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKPerKeySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-topk")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("heap top-k equals the window row_number formulation") {
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val topk = TopKPerKey(customer, Seq("c_nationkey"),
        Seq(("c_acctbal", false), ("c_custkey", true)), 3)
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
    val expected = customer
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .select("c_nationkey", "c_custkey")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(topk == expected)
  }

  test("exec plans one clustered shuffle and no sort") {
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val df = TopKPerKey(customer, Seq("c_nationkey"), Seq(("c_acctbal", false)), 3)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    val plan = out.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(plan.contains("Exchange"), plan)      // the clustered distribution
    assert(!plan.contains("Sort ("), plan)       // heap replaces the sort
    assert(!plan.contains("Window"), plan)
  }

  test("emits at most k rows per key, correctly ordered within key") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val rows = TopKPerKey(orders, Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), 2)
      .select("o_custkey", "o_totalprice")
      .collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) => assert(rs.length <= 2) }
    assert(rows.nonEmpty)
  }
}
