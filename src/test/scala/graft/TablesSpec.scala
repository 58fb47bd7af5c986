package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Regression for the events-source schema drift (round 8): the upstream
  * export has shipped `ts` as parquet TIMESTAMP(NANOS) (arrives as raw
  * longs under nanosAsLong), as a plain µs TIMESTAMP_NTZ, and could ship
  * it as an instant TIMESTAMP — `Tables.events` must normalize all three
  * to the same session-TZ TimestampType wall-clock values, mirroring the
  * reference's source coercion (loaders.py:115, etl.py:26).
  */
class TablesSpec extends SparkSpec {

  private def writeVariant(suffix: String)(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-events-$suffix").toString
    val base = sf.events.orderBy("event_id").limit(200)
    transform(base).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events loader normalizes all three physical ts encodings identically") {
    // int64 epoch-nanos: what TIMESTAMP(NANOS) parquet becomes under the
    // legacy nanosAsLong read — exercises the LongType branch
    val nanosDir = writeVariant("nanos")(
      _.withColumn("ts", (unix_micros(col("ts")) * 1000L).cast(LongType)))
    // µs TIMESTAMP_NTZ: the current testdata encoding — the cast branch
    val ntzDir = writeVariant("ntz")(
      _.withColumn("ts", col("ts").cast(TimestampNTZType)))
    // instant µs TIMESTAMP: the passthrough branch
    val tsDir = writeVariant("ts")(
      _.withColumn("ts", col("ts").cast(TimestampType)))

    val variants = Seq("nanos" -> nanosDir, "ntz" -> ntzDir, "instant" -> tsDir)
      .map { case (label, dir) => label -> Tables(spark, dir).events }
    variants.foreach { case (label, df) =>
      assert(df.schema("ts").dataType == TimestampType,
        s"$label variant: ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
    }
    val collected = variants.map { case (label, df) =>
      label -> df.orderBy("event_id").select("event_id", "ts").collect().toSeq
    }
    val (refLabel, refRows) = collected.head
    collected.tail.foreach { case (label, rows) =>
      assert(rows == refRows, s"$label variant disagrees with $refLabel variant")
    }
    assert(refRows.nonEmpty)
  }

  test("a table's timestamp types do not depend on whether events was read first") {
    // as in a fresh session: neither scan conf set yet
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")
    val t = Tables(spark, sf.dir)
    assert(t.lineitem.schema("l_shipdate").dataType == TimestampType)
  }

  test("ts range filters push down to the events parquet scan") {
    // the NTZ-as-session-timestamp scan conf means ts arrives as a plain
    // scan column — a post-scan cast would strand every time-range
    // filter above the reader, re-reading all row groups at 100 TB
    val q = sf.events.where(col("ts") >=
      org.apache.spark.sql.functions.lit("2024-06-01 00:00:00").cast(TimestampType))
    val plan = q.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
    assert(pushed.exists(l => l.contains("ts") && !l.contains("PushedFilters: []")),
      s"ts filter must reach the scan: ${pushed.getOrElse(plan.take(600))}")
  }
}
