package graft

import org.apache.spark.sql.SparkSession

/** Session factory tuned for the graft engine.
  *
  * The same knobs scale from `local[N]` to a multi-executor cluster:
  *  - AQE re-plans shuffle partition counts, converts sort-merge joins to
  *    broadcast at runtime, and splits skewed partitions.
  *  - `spark.sql.shuffle.partitions` is the static fallback (32 locally;
  *    on a 1000-executor cluster you would raise it or rely on AQE).
  *  - `files.maxPartitionBytes` sizes scan tasks so a 100 TB input splits
  *    into bounded units of work.
  *  - Small loads pay per path and per file, not per byte: path sets up
  *    to [[DriverListingMaxPaths]] are listed on the driver, and `file:`
  *    paths go through [[graft.sources.NoForkLocalFileSystem]].
  */
object GraftSession {

  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        ObjAggFallbackEntries.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        DriverListingMaxPaths.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NoForkLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")

  /** Entries an ObjectHashAggregate (collect_set / collect_list /
    * typed-imperative aggregates) holds per task before it falls back to
    * sort-based aggregation
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`,
    * default 128). At 128 every multi-group collect aggregation pays a
    * per-task sort; this engine's collects all hold bounded per-group
    * state, so 64k entries fit task memory at any scale. Results are the
    * same either way, only the aggregation strategy changes; a cluster
    * with tighter executors can lower the conf on its session.
    */
  val ObjAggFallbackEntries = 65536

  /** Size of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One pass of
    * graph betweenness, personalised PageRank and ABC/XYZ used to compile
    * about 250 distinct classes (94, 87 and 71), so at 100 entries the
    * LRU evicted every class before its next use and each pass
    * recompiled all of them. 1000 entries hold that working set about
    * four times over. The retained classes cost little heap: on a 4-core
    * host, sf0.01 passes of those three operators kept 92.3–92.7 MB live
    * at 1000 entries against 87.0–91.9 MB at 100. The conf is static and
    * read once, when `CodeGenerator` initialises, so it only takes effect
    * for a session built here before the first query compiles.
    */
  val CodegenCacheEntries = 1000

  /** Path sets up to this size are listed on the driver
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, default
    * 32); larger ones get a distributed listing job. The benchmark's
    * inventory glob expands to 182 CSV files, and its listing job took
    * 0.77–1.15 s on a 4-core host for 28–98 ms of task time; reading
    * back 83 month partitions took another 0.36–0.55 s. The trade: on an
    * object store the driver lists these paths one by one, so a prefix
    * of a few hundred objects costs that many sequential list calls.
    */
  val DriverListingMaxPaths = 1024

  /** The session the driver mains run on (`Verify`, `Bench`,
    * `PlanAudit`): [[builder]] on `local[SPARK_GRAFT_CPUS]` (default 4)
    * with [[graft.plans.GraftExtensions]] installed, so the queries that
    * need its functions and strategies (`bloom_filter_agg`, top-k per
    * key) resolve and plan. Spark logs at WARN.
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val s = builder(s"local[$cpus]", cpus)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
