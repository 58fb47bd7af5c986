package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Session-scoped trained-artifact memo keyed by (SparkSession, data dir)
  * — the shared mechanism behind the k-means / PQ / LPA model memos
  * (the `lpaShared` artifact-lifetime convention: deterministic training
  * runs once per session and dir, every consumer reuses the model).
  *
  * The critical section covers only map lookup/insertion: callers insert
  * a lazy cell under the lock and force it OUTSIDE, so two queries on
  * the same (session, dir) serialize on that key's cell alone while
  * different dirs or sessions train concurrently — a full distributed
  * training job never runs under the global monitor. WeakHashMap on the
  * session keeps a stopped session's entries collectable; values are
  * bounded driver model state by convention.
  */
private[graft] final class SessionMemo[T] {

  private final class Cell(dir: String, thunk: () => T) {
    // lazy val's built-in monitor serializes same-key racers and
    // publishes the computed value safely
    lazy val value: T = {
      val v = thunk()
      SessionMemo.computed(dir)
      v
    }
  }

  private val memo =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.mutable.Map[String, Cell]]()

  def getOrCompute(spark: org.apache.spark.sql.SparkSession, dir: String)(
      thunk: => T): T = {
    val cell = memo.synchronized {
      val perDir = Option(memo.get(spark)).getOrElse {
        val m = scala.collection.mutable.Map.empty[String, Cell]
        memo.put(spark, m); m
      }
      perDir.getOrElseUpdate(dir, new Cell(dir, () => thunk))
    }
    cell.value
  }
}

private[graft] object SessionMemo {

  private val cells = new ConcurrentHashMap[String, AtomicInteger]()

  private def computed(dir: String): Unit =
    cells.computeIfAbsent(dir, _ => new AtomicInteger()).incrementAndGet()

  /** Memo cells computed so far for data dir `dir`, over every memo and
    * session: a check that [[Training]] trains what the queries read.
    */
  private[graft] def computedCells(dir: String): Int =
    Option(cells.get(dir)).fold(0)(_.get)
}
