package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry, Tables, Training}
import graft.operators.Etl
import graft.sources.{Sinks, Sources}

/** One closed-loop benchmark run of one workload in one JVM.
  *
  * Set-up (session, forced training, one untimed warm-up pass over every
  * operation) is followed by a fixed number of timed passes; a pass
  * runs every operation once, in order, on one thread, with a full
  * collection between operations. Every operation
  * writes its full result, which `perfbench/run.py` checks against the
  * DuckDB oracle after the JVM exits.
  *
  * Usage: Harness --workload W --data DIR --out DIR --passes P --cores C
  *                [--trace] [--selftest]
  */
object Harness {

  /** Runs one phase of one repetition under its own job group, so the
    * listener can attribute the phase's Spark work to its layer.
    */
  final class Ctx(val spark: SparkSession, val dir: String, val out: String,
      val listener: GroupListener, val tracer: Tracer) {
    val phaseSec = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var filesRead = 0L
    var traced = false

    def phase[T](layer: String, op: String, rep: Int)(body: => T): T = {
      val g = s"$layer|$op|$rep"
      val sc = spark.sparkContext
      sc.setJobGroup(g, g, interruptOnCancel = false)
      listener.phase = g
      val t0 = System.nanoTime()
      try tracer(s"$layer:$op")(body)
      finally {
        phaseSec(layer) += (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        if (traced) BenchBus.drain(sc)
      }
    }
  }

  final case class Op(name: String, run: (Ctx, Int) => Unit)

  final case class Workload(ops: Seq[Op], builders: Seq[String], sinkDirs: Seq[String])

  def queryOp(name: String): Op = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"no query $name"))
    Op(name, (c, rep) => {
      val df = c.phase("build", name, rep)(fn(c.spark, c.dir))
      c.phase("exec", name, rep)(df.write.mode("overwrite").parquet(s"${c.out}/results/$name"))
    })
  }

  // job-heavy operators of ROADMAP item 2: betweenness's eager BFS
  // supersteps, personalised PageRank over the trained seed distances and
  // the ABC/XYZ classification's collected thresholds
  val IterativeOps = Seq("graph_betweenness", "graph_personal_pagerank", "q_abc_xyz")
  val InventorySchema: StructType =
    StructType.fromDDL("product_id BIGINT, warehouse_id STRING, stock_units INT")
  val DumpSchema: StructType = StructType.fromDDL("key STRING, value STRING")
  // the same range as PRUNED_LO / PRUNED_HI in perfbench/oracle.py
  val PrunedLo = "2024-03-01 00:00:00"
  val PrunedHi = "2024-03-10 23:59:59"
  val ManifestFileRows = 2000

  def inventory(c: Ctx): DataFrame =
    Sources.csvWithDateFromKey(c.spark, s"${c.dir}/inventory/*/*/*.csv", Some(InventorySchema))

  def salesEvents(c: Ctx): DataFrame =
    Sources.parseSalesEvents(Sources.jsonLines(c.spark, s"${c.dir}/events_dump", Some(DumpSchema)))

  /** The reference ETL node: extract, conform and enrich into the star
    * schema, then the load paths beside it (key-dated CSV tree, event
    * dump, a 1% upsert batch, a zone-map manifest table and a range read
    * pruned by it). Each pass starts from the event dump again, so passes
    * are identical.
    */
  def etlOps: Seq[Op] = Seq(
    Op("etl_pipeline", (c, r) =>
      c.phase("exec", "etl_pipeline", r)(Etl.pipeline(Tables(c.spark, c.dir), s"${c.out}/etl"))),
    Op("inventory_load", (c, r) => {
      val df = c.phase("sources", "inventory_load", r)(inventory(c))
      c.phase("sinks", "inventory_load", r)(Sinks.writeMonthPartitioned(
        df, "date", s"${c.out}/inventory", Seq("date", "product_id", "warehouse_id")))
    }),
    Op("events_load", (c, r) => {
      val df = c.phase("sources", "events_load", r)(salesEvents(c))
      c.phase("sinks", "events_load", r)(Sinks.writeMonthPartitioned(
        df, "ts", s"${c.out}/sales_events", Seq("ts", "event_id")))
    }),
    Op("events_upsert", (c, r) => {
      val upd = c.phase("sources", "events_upsert", r)(salesEvents(c)
        .where(expr("CAST(substring(event_id, 2) AS BIGINT) % 100 = 0"))
        .withColumn("qty", col("qty") + 1000)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 MILLISECOND")))
      c.phase("upsert", "events_upsert", r)(
        Sinks.upsertByKey(c.spark, s"${c.out}/sales_events", upd, "event_id", "ts"))
    }),
    Op("manifest_write", (c, r) => {
      val df = c.phase("build", "manifest_write", r)(
        c.spark.read.parquet(s"${c.out}/sales_events").orderBy("ts", "event_id"))
      c.phase("sinks", "manifest_write", r)(
        Sinks.writeWithManifest(df, Seq("ts"), s"${c.out}/manifest_sales", ManifestFileRows))
    }),
    Op("pruned_read", (c, r) => {
      val df = c.phase("pruned", "pruned_read", r)(Sinks.readPruned(c.spark,
        s"${c.out}/manifest_sales", "ts", to_timestamp(lit(PrunedLo)), to_timestamp(lit(PrunedHi))))
      if (c.traced) c.filesRead = df.inputFiles.length.toLong
      c.phase("exec", "pruned_read", r)(df.write.mode("overwrite").parquet(s"${c.out}/pruned"))
    }))

  val EtlSinkDirs = Seq("etl", "inventory", "sales_events", "manifest_sales", "pruned")

  def workload(name: String): Workload = name match {
    case "iterative_mix" => Workload(IterativeOps.map(queryOp),
      Seq("basket_pairs", "graph_edges", "graph_seed_bfs"), Seq("results"))
    case "etl_star_load" => Workload(etlOps, Nil, EtlSinkDirs)
    case other => sys.error(s"unknown workload $other")
  }

  /** Oracle SQL of every output the run writes, for the DuckDB check. */
  def oracleSql(name: String): Map[String, String] = name match {
    case "etl_star_load" => Map(
      "etl/dim_products" -> Etl.dimProductsSql, "etl/dim_customers" -> Etl.dimCustomersSql,
      "etl/fact_sales" -> Etl.factSalesSql, "etl/fact_inventory" -> Etl.factInventorySql)
    case _ => workload(name).ops.map(o => s"results/${o.name}" -> SparkEntry.oracleSql(o.name)).toMap
  }

  /** Fixed CPU-bound job (the same one graft.Bench times), sized per
    * core: its time flags a host that is sharing its CPUs.
    */
  def calibrationSec(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, cores.toLong * 12500000L, 1L, cores).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  val TableOpens: Seq[(String, Tables => DataFrame)] = Seq(
    "region" -> (_.region), "nation" -> (_.nation), "customer" -> (_.customer),
    "supplier" -> (_.supplier), "part" -> (_.part), "orders" -> (_.orders),
    "lineitem" -> (_.lineitem), "events" -> (_.events), "documents" -> (_.documents),
    "embeddings" -> (_.embeddings))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def treeSize(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (f.length, if (f.getName.startsWith("part-")) 1L else 0L)
    else (0L, 0L)

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val cores = opt("cores").toInt
    val out = opt("out")
    val trace = flags("trace")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val tracer = new Tracer(t0)
    tracer.enabled = trace

    val (spark, sessionSec) = {
      val s0 = System.nanoTime()
      val s = tracer("session")(GraftSession.builder(s"local[$cores]", cores)
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate())
      s.sparkContext.setLogLevel("ERROR")
      (s, (System.nanoTime() - s0) / 1e9)
    }
    val listener = new GroupListener
    listener.full = trace
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val ctx = new Ctx(spark, opt("data"), out, listener, tracer)
    ctx.traced = trace

    if (flags("selftest")) { selfTest(ctx); spark.stop(); return }

    val wname = opt("workload")
    val wl = workload(wname)
    val result = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.LinkedHashMap.empty[String, String]
    result("workload") = wname
    result("session_start_s") = sessionSec

    // forced training: every memoized artifact the workload reads is built
    // here, in set-up, so no timed repetition pays for it
    val builders = Training.builders.toMap
    val training = wl.builders.map { b =>
      val s0 = System.nanoTime()
      try ctx.phase("training", b, 0)(builders(b)(Tables(spark, ctx.dir)))
      catch { case e: Throwable => failures(s"training:$b") = msg(e) }
      spark.catalog.clearCache()
      b -> (System.nanoTime() - s0) / 1e9
    }
    result("training_s") = training.toMap
    BenchBus.drain(spark.sparkContext)
    result("training_jobs") = listener.sum(_.startsWith("training|")).jobs

    // jobs per repetition of each op, read after the bus has drained
    def jobsOf(op: String, rep: Int): Long =
      listener.sum(g => g.split('|') match { case Array(_, o, r) => o == op && r == rep.toString; case _ => false }).jobs

    val latencies = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val jobCounts = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]

    // one full collection after every operation, outside its latency, so
    // that no operation pays for its predecessor's garbage
    def runPass(rep: Int, timed: Boolean): Double = {
      val p0 = System.nanoTime()
      wl.ops.foreach { op =>
        if (!failures.contains(op.name)) {
          val s0 = System.nanoTime()
          try tracer(s"op:${op.name}")(op.run(ctx, rep))
          catch { case e: Throwable => failures(op.name) = msg(e) }
          val dt = (System.nanoTime() - s0) / 1e9
          spark.catalog.clearCache()
          System.gc()
          if (timed) latencies.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += dt
        }
      }
      (System.nanoTime() - p0) / 1e9
    }

    def recordJobs(rep: Int): Unit = {
      BenchBus.drain(spark.sparkContext)
      wl.ops.foreach(op => jobCounts.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += jobsOf(op.name, rep))
    }

    // session and training are traced; warm-up and untraced passes are not
    tracer.enabled = false
    ctx.traced = false
    listener.full = false
    result("warmup_s") = runPass(0, timed = false)
    recordJobs(0)
    val calibBefore = calibrationSec(spark, cores)
    // set-up ends here: JVM start to the first timed operation, less the
    // calibration job, which is a diagnostic and not set-up work
    result("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calibBefore

    val passes = opt("passes").toInt
    val walls = mutable.ArrayBuffer.empty[Double]
    val liveHeap = mutable.ArrayBuffer.empty[Double]
    // a traced run alternates untraced and traced passes, so JIT warm-up
    // drifting over the run does not pass for tracing overhead
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    for (rep <- 1 to passes) {
      walls += runPass(rep, timed = true)
      recordJobs(rep)
      liveHeap += liveHeapMb(spark)
      if (trace) traced += tracedPass(ctx, wl, 1000 + rep, cores, failures)
    }
    val calibAfter = calibrationSec(spark, cores)
    result("calib_s") = Seq(calibBefore, calibAfter)
    result("pass_wall_s") = walls.toSeq
    result("op_latency_s") = latencies.map { case (k, v) => k -> v.toSeq }
    result("op_jobs") = jobCounts.map { case (k, v) => k -> v.toSeq }
    result("live_heap_mb") = liveHeap.toSeq
    result("sink_bytes") = wl.sinkDirs.map(d => treeSize(new File(s"$out/$d"))._1).sum
    result("oracle_sql") = oracleSql(wname)
    result("ops") = wl.ops.map(_.name)

    if (trace) {
      val med = traced.head.keys.map(k => k -> median(traced.map(_(k)).toSeq)).toMap
      result("layers") = med + ("trace.overhead_s" -> (med("pass.wall_s") - median(walls.toSeq)))
    }
    result("failures") = failures
    Files.writeString(Paths.get(s"$out/harness.json"), json(result))
    if (trace) writeSpans(tracer, s"$out/trace_spans.json")
    spark.stop()
  }

  /** Heap in use after a pass, once its garbage is gone: a collection
    * makes Spark's ContextCleaner release the blocks of the pass's dead
    * RDDs (checkpoints, shuffles, broadcasts), a second frees them. What is
    * left is what the session retains: memoized training, caches, leaks.
    */
  def liveHeapMb(spark: SparkSession): Double = {
    System.gc()
    Thread.sleep(300)
    BenchBus.drain(spark.sparkContext)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def msg(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).replaceAll("\\s+", " ").take(400)

  /** One traced pass: the listener counts stages and tasks, spans are
    * recorded, the bus is drained after every phase, and the table-open
    * and source-read probes run before the operations. Returns the pass's
    * per-layer metrics.
    */
  def tracedPass(c: Ctx, wl: Workload, rep: Int, cores: Int,
      failures: mutable.Map[String, String]): Map[String, Double] = {
    val spark = c.spark
    val l = c.listener
    l.full = true
    c.traced = true
    c.tracer.enabled = true
    val tables = c.tracer("tables") {
      TableOpens.map { case (n, f) =>
        val s0 = System.nanoTime()
        c.phase("tables", n, rep)(f(Tables(spark, c.dir)))
        (System.nanoTime() - s0) / 1e9
      }.sum
    }
    val srcRead = if (wl.sinkDirs == EtlSinkDirs) c.tracer("sources_probe") {
      Seq(inventory(c), salesEvents(c)).zipWithIndex.map { case (df, k) =>
        val s0 = System.nanoTime()
        c.phase("probe", s"source$k", rep)(df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - s0) / 1e9
      }.sum
    } else 0.0
    c.phaseSec.clear()
    val p0 = System.nanoTime()
    val lat = mutable.Map.empty[String, Double]
    c.tracer("pass") {
      wl.ops.foreach { op =>
        if (!failures.contains(op.name)) {
          val s0 = System.nanoTime()
          try c.tracer(s"op:${op.name}")(op.run(c, rep))
          catch { case e: Throwable => failures(op.name) = msg(e) }
          lat(op.name) = (System.nanoTime() - s0) / 1e9
          spark.catalog.clearCache()
          System.gc()
        }
      }
    }
    val wall = (System.nanoTime() - p0) / 1e9
    BenchBus.drain(spark.sparkContext)
    def layer(ls: String*) = l.sum(g => g.endsWith(s"|$rep") && ls.exists(x => g.startsWith(x + "|")))
    val build = layer("build", "sources", "pruned")
    val exec = layer("exec", "sinks", "upsert")
    val all = l.sum(_.endsWith(s"|$rep"))
    val ps = c.phaseSec
    val buildS = ps("build") + ps("sources") + ps("pruned")
    val execS = ps("exec") + ps("sinks") + ps("upsert")
    val sink = wl.sinkDirs.filter(_ != "results").map(d => treeSize(new File(s"${c.out}/$d")))
    val tableFiles = Option(new File(s"${c.out}/manifest_sales").listFiles).toSeq.flatten
      .count(_.getName.startsWith("part-"))
    val metrics = Map(
      "pass.wall_s" -> wall,
      "tables.open_s" -> tables,
      "tables.open_jobs" -> layer("tables").jobs.toDouble,
      "build.s" -> buildS,
      "build.jobs" -> build.jobs.toDouble,
      "build.share" -> (if (buildS + execS > 0) buildS / (buildS + execS) else 0.0),
      "plan.s" -> (layer("build", "sources", "pruned", "exec", "sinks", "upsert").planMs / 1e3),
      "exec.s" -> execS,
      "exec.jobs" -> exec.jobs.toDouble,
      "exec.stages" -> exec.stages.toDouble,
      "exec.tasks" -> exec.tasks.toDouble,
      "exec.task_cpu_s" -> exec.cpuNs / 1e9,
      "exec.core_busy_frac" -> (if (execS > 0) exec.runMs / 1e3 / (execS * cores) else 0.0),
      "exec.gc_s" -> all.gcMs / 1e3,
      "exec.shuffle_write_bytes" -> exec.shuffleWrite.toDouble,
      "exec.spill_bytes" -> exec.spill.toDouble,
      "exec.peak_exec_mem_mb" -> exec.peakExecMem / 1048576.0,
      "sources.read_s" -> srcRead,
      "sources.rows" -> layer("probe").recordsRead.toDouble,
      "sinks.write_s" -> ps("sinks"),
      "sinks.bytes_written" -> sink.map(_._1).sum.toDouble,
      "sinks.files_written" -> sink.map(_._2).sum.toDouble,
      "sinks.upsert_s" -> ps("upsert"),
      "sinks.pruned_read_s" -> lat.getOrElse("pruned_read", 0.0),
      "sinks.files_read_frac" -> (if (tableFiles > 0) c.filesRead.toDouble / tableFiles else 0.0))
    l.full = false
    c.traced = false
    c.tracer.enabled = false
    metrics
  }

  def writeSpans(tr: Tracer, path: String): Unit = {
    val self = tr.selfTimes
    val spans = tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "self_s" -> self(s.id) / 1e9))
    val byLayer = tr.spans.groupBy(s => s.name.takeWhile(_ != ':'))
      .map { case (k, v) => k -> v.map(s => self(s.id)).sum / 1e9 }
    Files.writeString(Paths.get(path), json(Map("self_s_by_span" -> byLayer, "spans" -> spans)))
  }

  /** Pins that the timed action materialises the full result: the plan
    * executed for `q1_pricing_summary` keeps its final Sort and reads a
    * non-empty column set (a `.count()` would prune both away).
    */
  def selfTest(c: Ctx): Unit = {
    val plans = mutable.ArrayBuffer.empty[String]
    val spy = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    c.spark.listenerManager.register(spy)
    queryOp("q1_pricing_summary").run(c, 0)
    BenchBus.drain(c.spark.sparkContext)
    val plan = plans.synchronized(plans.mkString("\n"))
    val hasSort = plan.linesIterator.exists(_.matches("""^[\s:+\-*()0-9]*Sort \[.*"""))
    // plan strings abbreviate long schemas with "...", so stop at '>' or a blank
    val schemas = """ReadSchema: struct<([^>\s]*)""".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    val ok = hasSort && schemas.nonEmpty && schemas.forall(_.nonEmpty)
    Files.writeString(Paths.get(s"${c.out}/selftest.json"), json(Map(
      "final_sort" -> hasSort, "read_schemas" -> schemas, "ok" -> ok, "plan" -> plan)))
  }
}
