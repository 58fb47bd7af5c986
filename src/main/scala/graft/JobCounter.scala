package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs each job group launches — eager build-phase
  * actions (checkpoints, collects) and the query's own AQE stage jobs
  * alike. `count(group)(body)` runs `body` under that group and returns
  * its result with the group's job count, read after the listener bus
  * has drained. Call [[close]] to unregister.
  */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => jobs.computeIfAbsent(g, _ => new AtomicInteger()).incrementAndGet())

  def count[A](group: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    jobs.remove(group)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val out = try body finally sc.clearJobGroup()
    GraftBus.drain(sc)
    (out, Option(jobs.get(group)).fold(0)(_.get))
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
