package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: plan-shape review. For each named query (all when none are
  * named) it prints the formatted physical plan, then runs the query
  * into the `noop` sink and prints the AQE final plan of that run and
  * the number of Spark jobs building and running it took. A query that
  * fails prints its error and the audit goes on to the next one.
  *
  * {{{
  * sbt "runMain graft.PlanAudit <sf-dir> [query ...]"
  * }}}
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanAudit <sf-dir> [query ...]")
    val dir = args.head
    val names = args.drop(1).toSet
    val spark = GraftSession.local()
    val jobs = new JobCounter(spark)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names.contains(name)) {
        println(s"\n########## $name ##########")
        // a query that fails to plan or run is reported and skipped, so
        // one bad query does not hide the plans of the rest
        try {
          val (plan, n) = jobs.count(name) {
            val df = fn(spark, dir)
            df.explain("formatted")
            lastPlan(spark)(df.write.format("noop").mode("overwrite").save())
          }
          println(s"== AQE final plan (noop write) ==\n$plan")
          println(s"== Spark jobs (build + noop write): $n ==")
        } catch { case e: Throwable =>
          failed += name
          println(s"== FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName)} ==")
        }
      }
    }
    if (failed.nonEmpty) println(s"\n${failed.size} failed: ${failed.mkString(", ")}")
    jobs.close()
    spark.stop()
  }

  /** The executed plan of the last action `run` triggers: for an AQE
    * query, its final plan once the action has finished.
    */
  private def lastPlan(spark: SparkSession)(run: => Unit): String = {
    @volatile var plan = "(no plan reported)"
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plan = qe.executedPlan.treeString
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { run; org.apache.spark.GraftBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plan
  }
}
