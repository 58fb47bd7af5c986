package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The dump loop, separated from `main` so a spec can drive it with a
    * deliberately-broken query and pin the failure-reporting contract.
    * Returns the failure map that was also written to `_failures.json`.
    */
  private[graft] def run(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    // failed queries must leave a durable trace, not just a stderr line:
    // a missing output dir reads as "query absent" to the driver's sheet,
    // which silently shrinks the denominator (round 8 shipped 148 green
    // rows with 36 broken queries invisible). Collect name → error here
    // and dump _failures.json next to oracle_sql.json.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // operators may persist() intermediates that live as long as their
      // plan; once the output is written they are dead weight — release
      // so a 100+-query session doesn't accumulate cache
      finally spark.catalog.clearCache()
    }
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // always written (empty object on a clean run) so consumers can
    // distinguish "no failures" from "harness predates failure reporting"
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.mkString(", ")}")
    }
    failures.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional args 3+: dump only the named queries (local iteration aid)
    val picked =
      if (args.length <= 2) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => args.drop(2).contains(k) }
    // the library's tuned session (AQE + coalescing + skew join + UTC),
    // exactly what a production run gets
    val spark = GraftSession.local()
    run(spark, sfDir, outDir, picked, SparkEntry.oracleSql)
    spark.stop()
  }
}
