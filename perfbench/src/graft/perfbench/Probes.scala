package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted for one job group (one phase of one repetition). */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleWrite, spill, peakExecMem, recordsRead = 0L
  var planMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    recordsRead += o.recordsRead; planMs += o.planMs
  }
}

/** Attributes Spark jobs, stages, tasks and Catalyst planning time to the
  * job group that was set on the submitting thread. With `full` off it
  * only counts jobs, which the repetition self-check needs.
  */
final class GroupListener extends SparkListener with QueryExecutionListener {
  @volatile var full = false
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def counters(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    counters(g).jobs += 1
    if (full) e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (full) stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (full && m != null) stageGroup.get(e.stageId).foreach { g =>
      val c = counters(g)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** The execution listener runs on the bus thread, where no job group is
    * set, so the harness names the phase it starts here and drains the
    * bus when the phase ends.
    */
  @volatile var phase = "-"

  // Catalyst analysis + optimization + physical planning of every action,
  // from the QueryPlanningTracker the engine already keeps
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (full) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      synchronized { counters(phase).planMs += ms }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def sum(pred: String => Boolean): Counters = synchronized {
    val acc = new Counters
    groups.foreach { case (g, c) => if (pred(g)) acc += c }
    acc
  }
}

/** In-memory spans: name, parent, start and end in ns since the run began. */
final class Tracer(t0: Long) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long = -1L)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var enabled = false

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime() - t0)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.end = System.nanoTime() - t0; stack = stack.tail }
    }

  /** Duration minus the part of it that child spans cover, per span. */
  def selfTimes: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      ivs.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.id -> ((s.end - s.start) - covered)
    }.toMap
  }
}
