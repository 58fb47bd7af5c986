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
      // ObjectHashAggregate (collect_set/collect_list/typed-imperative
      // aggs) falls back to SORT-BASED aggregation once a task's hash map
      // exceeds this many entries; the Spark default of 128 makes every
      // multi-group collect aggregation pay a per-task sort. 64k entries
      // of bounded per-group state (this engine's collects are all
      // bounded-array model/group state) is well within task memory at
      // any scale; override via spark.sql.objectHashAggregate.* conf on
      // clusters with tighter executors (r17 guide §1.2 step-3 config
      // pass; results are identical either way — only the agg strategy
      // changes).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "65536"))
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        DriverListingMaxPaths.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NoForkLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")

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

  /** Shared session for tests / local runs. */
  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
