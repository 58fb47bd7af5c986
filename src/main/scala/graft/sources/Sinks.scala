package graft.sources

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Load layer: partitioned, ordered columnar sinks — the Spark-native
  * re-expression of the reference's ClickHouse MergeTree DDL
  * (_create_tables, loaders.py:45: MergeTree ORDER BY / toYYYYMM
  * partitioning).
  *
  * parquet + hive-style month partitions gives the same pruning the
  * MergeTree partition key gives ClickHouse; sortWithinPartitions gives
  * the same locality the ORDER BY clause gives (row-group min/max stats
  * make time-range scans skip). For reference-parity users who DO load a
  * database, [[jdbcWriter]] is the chunked-insert twin.
  */
object Sinks {

  /** Month-partitioned, time-ordered fact write (fact_sales twin).
    * Returns the number of rows written, counted by the write itself
    * ([[countingWrite]]).
    */
  def writeMonthPartitioned(df: DataFrame, tsCol: String, path: String,
      orderCols: Seq[String]): Long =
    writeMonths(df.withColumn("ym", date_format(col(tsCol), "yyyyMM")), path, orderCols)

  /** Overwrites `path` with `df` partitioned by its `ym` column, each
    * month file in `orderCols` order, and returns the rows written.
    *  - The shuffle names its partition count (the one `repartition(col)`
    *    would use), so AQE keeps one writer per shuffle partition instead
    *    of coalescing a small load into a single task that writes every
    *    month file in turn.
    *  - The sort leads with `ym`, the ordering the partitioned write
    *    requires. Without it the planner adds its own `Sort [ym]` and
    *    drops this one, leaving month files in shuffle order.
    *  - The row count is observed above the sort, not on the caller's
    *    frame: between a caller's global `orderBy` and the `ym` shuffle,
    *    the observation keeps Spark from eliminating that sort, which
    *    then costs its own range-sampling jobs.
    */
  private def writeMonths(df: DataFrame, path: String, orderCols: Seq[String]): Long =
    countingWrite(df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col("ym"))
      .sortWithinPartitions(("ym" +: orderCols).map(col): _*)) {
      _.write
        .mode("overwrite")
        .partitionBy("ym")
        .parquet(path)
    }

  /** Runs `write` over `df` and returns the number of rows it wrote,
    * counted by an [[org.apache.spark.sql.Observation]] on the written
    * plan: the count rides the write's own tasks, and no job reads the
    * output back. An empty frame counts 0.
    */
  private def countingWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val written = Observation()
    write(df.observe(written, count(lit(1)).as("rows")))
    written.get("rows").asInstanceOf[Long]
  }

  /** TTL expiry for month-partitioned tables — the ClickHouse
    * `TTL … DELETE` parity piece of the MergeTree sink surface
    * (loaders.py:45 creates the tables this would age out). Drops every
    * `ym=` partition strictly BEFORE the cutoff month as a
    * metadata-only directory delete: no data rewrite, no scan — at
    * 100 TB expiring a month costs the same as expiring a megabyte.
    * Idempotent (a re-run finds nothing to drop); returns the dropped
    * partition values so callers can log the retention action.
    */
  def expirePartitions(spark: org.apache.spark.sql.SparkSession,
      path: String, cutoffYm: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    // destructive operation behind a lexicographic compare: a malformed
    // cutoff ("2024-06", "202406x", "") would silently drop the wrong
    // set (e.g. "" sorts before every partition → drops nothing; a
    // dashed form sorts after "202406" → drops everything). Refuse
    // anything that isn't the partition scheme's exact yyyyMM shape.
    require(cutoffYm.matches("""\d{6}"""),
      s"cutoffYm must be yyyyMM (matching the ym= partition values), got '$cutoffYm'")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else {
      val dropped = fs.listStatus(p).toSeq
        .filter(_.isDirectory)
        .map(_.getPath)
        .filter(_.getName.startsWith("ym="))
        .filter(_.getName.stripPrefix("ym=") < cutoffYm)
        .sortBy(_.getName)
      dropped.foreach { dir =>
        require(fs.delete(dir, true), s"could not expire partition $dir")
      }
      dropped.map(_.getName.stripPrefix("ym="))
    }
  }

  /** Partition/file layout report for a partitioned parquet table — the
    * `system.parts` analog: per-partition file count and byte sizes,
    * from filesystem METADATA only (no data scan). This is the input to
    * the two maintenance actions ([[compact]] when files are small and
    * many, [[expirePartitions]] when partitions age out); surfacing it
    * as a DataFrame lets ops dashboards query their own table health.
    */
  def partsReport(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val rows =
      if (!fs.exists(p)) Seq.empty[(String, Long, Long, Long, Long)]
      else {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) {
            val rel = st.getPath.toUri.getPath
              .stripPrefix(p.toUri.getPath).stripPrefix("/")
            val part = rel.split('/').dropRight(1).mkString("/") match {
              case "" => "<unpartitioned>"
              case s  => s
            }
            buf += ((part, st.getLen))
          }
        }
        buf.toSeq.groupBy(_._1).toSeq.map { case (part, fsz) =>
          val sizes = fsz.map(_._2)
          (part, sizes.length.toLong, sizes.sum, sizes.min, sizes.max)
        }
      }
    rows.toDF("partition", "n_files", "total_bytes", "min_file_bytes",
        "max_file_bytes")
      .orderBy("partition")
  }

  /** Bucketed table write: pre-shuffles once on the bucket key so that
    * later joins/aggregations on that key are Exchange-free (the Spark
    * analog of co-located MergeTree tables). Requires `saveAsTable`
    * (bucket metadata lives in the catalog).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Upsert (merge) into a month-partitioned parquet fact table:
    * union the update batch with the existing rows of ONLY the touched
    * partitions, compact to the latest version per key, and rewrite just
    * those partitions (dynamic partition overwrite), each month file in
    * `(tsCol, keyCol)` order through the same writer as
    * [[writeMonthPartitioned]]. At 100 TB the cost scales with the
    * touched months, not the table.
    */
  def upsertByKey(spark: org.apache.spark.sql.SparkSession, path: String,
      updates: DataFrame, keyCol: String, tsCol: String): Unit = {
    val withYm = updates.withColumn("ym", date_format(col(tsCol), "yyyyMM"))
    val touched = withYm.select("ym").distinct()
      .collect().map(_.getString(0)).toSeq
    // only a genuinely-missing table may fall back to "first write"; any
    // other read failure must propagate — silently substituting an empty
    // frame here would make the overwrite below DROP the stored rows of
    // every touched partition
    val existing =
      if (fileExists(spark, path))
        spark.read.parquet(path).where(col("ym").isin(touched: _*))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withYm.schema)
    // tsCol desc picks the latest version; the key itself can't break the
    // tie (constant within the window), so order on ALL remaining columns
    // to make equal-timestamp winners deterministic
    val tieBreak = withYm.columns.toSeq
      .filter(c => c != keyCol && c != tsCol).map(c => col(c).desc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(tsCol).desc +: tieBreak: _*)
    val merged = existing.unionByName(withYm)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try writeMonths(merged, path, Seq(tsCol, keyCol))
    finally prev.foreach(spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
  }

  /** Chunked plain write (the reference's chunked insert, loaders.py:151
    * — in Spark the parallel write IS the chunking; `maxRecordsPerFile`
    * bounds file sizes for downstream consumers). Returns the number of
    * rows written, counted by the write itself ([[countingWrite]]).
    */
  def writeChunked(df: DataFrame, path: String, maxRecordsPerFile: Int): Long =
    countingWrite(df) {
      _.write
        .mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile.toString)
        .parquet(path)
    }

  private val ZBits = 16

  /** Z-value of two numeric columns: each is min-max scaled to a
    * [[ZBits]]-bit integer (bounds from one tiny aggregate, broadcast),
    * then the bits are interleaved — a space-filling-curve key whose
    * RANGES are 2-D-local. Codegen'd bit arithmetic, no UDF.
    */
  private def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      xMin: org.apache.spark.sql.Column, xMax: org.apache.spark.sql.Column,
      yMin: org.apache.spark.sql.Column, yMax: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val maxV = (1 << ZBits) - 1
    def scaled(c: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
        hi: org.apache.spark.sql.Column) =
      when(hi === lo, lit(0L)).otherwise(
        ((c.cast("double") - lo) / (hi - lo) * maxV).cast("long"))
    val sx = scaled(x, xMin, xMax)
    val sy = scaled(y, yMin, yMax)
    (0 until ZBits).map { i =>
      shiftleft(shiftright(sx, i).bitwiseAND(1L), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(sy, i).bitwiseAND(1L), 2 * i))
    }.reduceLeft(_ bitwiseOR _)
  }

  /** Z-order clustered write: rows are range-partitioned and sorted on
    * the interleaved-bit space-filling key of TWO filter columns, so
    * parquet footer min/max stats are tight on BOTH — a scan filtered on
    * either column (or a 2-D box) skips most files, where a plain sort
    * only serves its leading column. The Spark-native analog of
    * Delta/ClickHouse Z-ordering; at 100 TB this is the difference
    * between pruning on one predicate and pruning on every dashboard
    * filter. One extra range shuffle at write time, zero read-path cost.
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String, path: String,
      maxRecordsPerFile: Int): Unit = {
    val bounds = df.agg(
      min(col(xCol)).as("xmin"), max(col(xCol)).as("xmax"),
      min(col(yCol)).as("ymin"), max(col(yCol)).as("ymax"))
    val withZ = df.crossJoin(broadcast(bounds))
      .withColumn("_z", zValue(col(xCol), col(yCol),
        col("xmin"), col("xmax"), col("ymin"), col("ymax")))
      .drop("xmin", "xmax", "ymin", "ymax")
    withZ
      .repartitionByRange(col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(path)
  }

  /** Incremental aggregate maintenance — the materialized-view pattern:
    * keep (key → count, sums) state on disk and fold each new batch in
    * by SUMMING PARTIALS, never re-scanning history. Because count/sum
    * are commutative monoids, `merge(state, agg(batch))` equals
    * `agg(history ∪ batch)` exactly (spec-asserted) — at 100 TB this
    * turns a daily full recompute into work proportional to the batch.
    * Averages and ratios derive from the stored sums at read time.
    */
  def mergeAggState(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, keyCols: Seq[String], sumCols: Seq[String]): Unit = {
    val agg = count(lit(1)).cast("long").as("n") +:
      sumCols.map(c => sum(col(c)).as(c))
    val batchAgg = batch.groupBy(keyCols.map(col): _*).agg(agg.head, agg.tail: _*)
    val merged =
      if (fileExists(spark, path)) {
        val merge = sum(col("n")).as("n") +: sumCols.map(c => sum(col(c)).as(c))
        spark.read.parquet(path).unionByName(batchAgg)
          .groupBy(keyCols.map(col): _*).agg(merge.head, merge.tail: _*)
      } else batchAgg
    overwriteStaged(merged, path)
  }

  /** Overwrite `path` with `merged`, a frame that may read `path` itself:
    * the merge is materialized into cache BEFORE the overwrite deletes
    * its input. Caveat for long-running clusters: if an executor dies
    * mid-write, recompute would re-read the path being overwritten —
    * production deployments should stage to a temp dir and swap; state
    * is derived data either way, so the worst case is a re-merge.
    */
  private def overwriteStaged(merged: DataFrame, path: String): Unit = {
    val staged = merged.cache()
    staged.count()
    staged.write.mode("overwrite").parquet(path)
    staged.unpersist(false)
  }

  private def fileExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Incremental QUANTILE-sketch maintenance — [[mergeAggState]] for
    * percentiles: keep one hash-leveled KLL-family wire state
    * ([[graft.functions.KllOps]]) per key on disk and fold each new
    * batch in by merging states, never re-scanning history. Because the
    * state is a pure function of the input multiset with an exact
    * lossless-merge law, `fold(state, sketch(batch))` EQUALS
    * `sketch(history ∪ batch)` — not approximately, hash-exactly
    * (spec-asserted) — so a daily 100 TB percentile rollup costs one
    * batch-sized aggregation plus a key-count-sized state merge, and the
    * served p50/p90 are identical to a from-scratch rebuild. State per
    * key is ≤ cap (cents, hash) pairs regardless of history size.
    *
    * Same staging caveat as [[mergeAggState]] ([[overwriteStaged]]).
    */
  def mergeKllState(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, keyCols: Seq[String], hashCol: String,
      valueCol: String, cap: Int): Unit =
    overwriteStaged(foldKllState(
      if (fileExists(spark, path)) Some(spark.read.parquet(path)) else None,
      batch, keyCols, hashCol, valueCol, cap), path)

  /** The fold itself, shared by the batch path above and the streaming
    * twin ([[graft.streaming.Streams.quantileStateStream]]): batch rows →
    * per-key partial sketches, unioned with the previous state and merged
    * per key. Output schema: keyCols + `kll` (wire array).
    */
  private[graft] def foldKllState(prev: Option[DataFrame], batch: DataFrame,
      keyCols: Seq[String], hashCol: String, valueCol: String,
      cap: Int): DataFrame = {
    val partial = udaf(new graft.functions.KllPartial(cap),
      org.apache.spark.sql.Encoders.product[graft.functions.KllIn])
    val fold = udaf(new graft.functions.KllMergeState(cap),
      org.apache.spark.sql.Encoders.product[graft.functions.KllPartialIn])
    val batchAgg = batch.groupBy(keyCols.map(col): _*)
      .agg(partial(col(hashCol), col(valueCol)).as("kll"))
    prev match {
      case None => batchAgg
      case Some(p) => p.unionByName(batchAgg)
        .groupBy(keyCols.map(col): _*)
        .agg(fold(col("kll")).as("kll"))
    }
  }

  /** Count-Min fold, shared by the batch and streaming state paths: the
    * batch's depth-exploded bucket counts, summed with the previous
    * counter table. Counters merge by ADDITION, so the fold is trivially
    * the sketch of the union — same lossless-merge contract as
    * [[foldKllState]], state bounded at keys × depth × width rows.
    * Output schema: keyCols + `d` + `bkt` + `c`.
    */
  private[graft] def foldCmState(prev: Option[DataFrame], batch: DataFrame,
      keyCols: Seq[String], itemCol: String,
      depth: Int, width: Int): DataFrame = {
    val h = graft.functions.PortableHash.hash60 _
    val tall = batch.select(keyCols.map(col) :+
      posexplode(array((0 until depth).map(d =>
        pmod(h(concat_ws("#", lit(d), col(itemCol))), lit(width.toLong))): _*))
        .as(Seq("d", "bkt")): _*)
    val grp = keyCols.map(col) ++ Seq(col("d"), col("bkt"))
    val agg = tall.groupBy(grp: _*).agg(count(lit(1)).as("c"))
    prev match {
      case None    => agg
      case Some(p) => p.unionByName(agg).groupBy(grp: _*)
        .agg(sum(col("c")).as("c"))
    }
  }

  /** Frequency estimates from a standing Count-Min counter table: for
    * each probe row, `n_cm` = min over depths of the matching counter
    * (0 when an item's bucket was never touched — CM's exact answer for
    * a never-seen item under a non-colliding hash, and an overestimate
    * like any other cell when it collides). The counter side is
    * keys × depth × width rows — state-sized, never history-sized —
    * but that bound grows with group-key cardinality, so the broadcast
    * is CHECKED, not assumed: above [[CmBroadcastMaxRows]] the join
    * falls back to a shuffle instead of OOMing the driver.
    */
  def cmStateEstimate(state: DataFrame, probes: DataFrame,
      keyCols: Seq[String], itemCol: String,
      depth: Int, width: Int): DataFrame = {
    val h = graft.functions.PortableHash.hash60 _
    val tall = probes.select((keyCols.map(col) :+ col(itemCol)) :+
      posexplode(array((0 until depth).map(d =>
        pmod(h(concat_ws("#", lit(d), col(itemCol))), lit(width.toLong))): _*))
        .as(Seq("d", "bkt")): _*)
    tall.join(maybeBroadcast(state), keyCols ++ Seq("d", "bkt"), "left")
      .groupBy((keyCols.map(col) :+ col(itemCol)): _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("n_cm"))
  }

  /** Counter tables above this row count are joined with a shuffle
    * instead of a broadcast: the "bounded by contract" grid is
    * keys × depth × width, which grows linearly with group-key
    * cardinality — a high-cardinality caller must not OOM the driver
    * on an unchecked broadcast (r16 ADVICE).
    */
  private[graft] val CmBroadcastMaxRows = 1000000L

  /** Broadcast when the contract bound actually holds, checked against
    * the data: one count over the (state-sized, never history-sized)
    * counter table decides. Above [[CmBroadcastMaxRows]] the join
    * degrades gracefully to a shuffle instead of a driver OOM.
    */
  private def maybeBroadcast(state: DataFrame): DataFrame =
    if (state.count() <= CmBroadcastMaxRows) broadcast(state) else state

  /** KMV (bottom-k distinct hashes) fold, shared by the batch and
    * streaming state paths — the distinct-count member of the mergeable
    * sketch trio (quantiles [[foldKllState]] / frequencies
    * [[foldCmState]] / distincts here). Batch rows hash per item and
    * sketch per key ([[graft.functions.KmvSketch]]); the previous
    * state's arrays union in through the state-preserving merge
    * ([[graft.functions.KmvMergeState]]). The bottom-k of distinct
    * hashes is a pure function of the hash SET, so
    * fold(state, sketch(batch)) EQUALS sketch(history ∪ batch)
    * hash-exactly, and the fold is insensitive to replay of rows
    * already absorbed (set semantics — the property that makes the
    * versioned-snapshot replay protocol exact for it). Output schema:
    * keyCols + `kmv` (sorted array<bigint>, ≤ k entries per key).
    */
  private[graft] def foldKmvState(prev: Option[DataFrame], batch: DataFrame,
      keyCols: Seq[String], itemCol: String, k: Int): DataFrame = {
    val h = graft.functions.PortableHash.hash60 _
    val partial = udaf(new graft.functions.KmvSketch(k),
      org.apache.spark.sql.Encoders.product[graft.functions.KmvIn])
    val fold = udaf(new graft.functions.KmvMergeState(k),
      org.apache.spark.sql.Encoders.product[graft.functions.KmvMergeIn])
    val batchAgg = batch.groupBy(keyCols.map(col): _*)
      .agg(partial(h(col(itemCol))).as("kmv"))
    prev match {
      case None => batchAgg
      case Some(p) => p.unionByName(batchAgg)
        .groupBy(keyCols.map(col): _*)
        .agg(fold(col("kmv")).as("kmv"))
    }
  }

  /** Serve distinct-count estimates from a standing KMV state table:
    * one bounded aggregation over the key-count-sized state (one wire
    * row per key → `n_distinct_est`), never touching raw history. Uses
    * the same [[graft.functions.KmvOps.estimate]] finish as the batch
    * rollups, so a live dashboard and a from-scratch rebuild serve the
    * identical number.
    */
  def kmvStateDistinct(state: DataFrame, keyCols: Seq[String],
      k: Int): DataFrame = {
    val finishAgg = udaf(new graft.functions.KmvMerge(k),
      org.apache.spark.sql.Encoders.product[graft.functions.KmvMergeIn])
    state.groupBy(keyCols.map(col): _*)
      .agg(finishAgg(col("kmv")).as("n_distinct_est"))
  }

  /** Serve quantiles from a standing sketch-state table: one bounded
    * aggregation over the key-count-sized state (one wire row per key →
    * m/cut/n_est/p50/p90), never touching raw history.
    */
  def kllStateQuantiles(state: DataFrame, keyCols: Seq[String],
      cap: Int): DataFrame = {
    val finishAgg = udaf(new graft.functions.KllMergeAgg(cap),
      org.apache.spark.sql.Encoders.product[graft.functions.KllPartialIn])
    state.groupBy(keyCols.map(col): _*)
      .agg(finishAgg(col("kll")).as("q"))
      .select(keyCols.map(col) ++ Seq(col("q.m").as("m"),
        col("q.cut").as("cut"), col("q.n_est").as("n_est"),
        col("q.p50_price").as("p50"), col("q.p90_price").as("p90")): _*)
  }

  /** Small-file compaction: rewrite a parquet table into ≈targetBytes
    * files. Streaming/incremental sinks accrete many small files; at
    * 100 TB that degrades every later scan (task-per-file scheduling,
    * footer reads, no row-group locality).
    *
    * Safety properties (and their limits — this is the poor-man's
    * version of a transactional table format, and says so):
    *  - the rewrite reads an explicit SNAPSHOT file list, persisted as a
    *    manifest inside the new table dir; appends that FULLY COMMIT
    *    before the swap are carried over — never deleted — even if the
    *    process crashes mid-carry-over (the next call finishes the job
    *    from the manifest);
    *  - a crash between the two swap renames is recovered on the next
    *    call (the staged-out dir is restored);
    *  - appends whose commit is IN FLIGHT during the swap window are not
    *    protected (their task files travel with the rename mid-commit) —
    *    pause writers across the swap, or use a real table format;
    *  - readers racing the two renames should retry;
    *  - partitioned tables split LARGE partitions too: rows are salted
    *    round-robin within each partition so every partition gets
    *    ≈ its-bytes / targetBytes files, not one giant file (leaf
    *    partition dirs counted from the snapshot, so multi-level
    *    partitioning sizes correctly).
    *
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long, partitionCols: Seq[String] = Nil): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id, pmod}
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val tmp = new Path(path + "__compacting")
    val old = new Path(path + "__pre_compact")
    def parquetFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(dir, true)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) buf += st
      }
      buf.toSeq
    }
    def relTo(root: Path, f: Path): String =
      f.toUri.getPath.stripPrefix(root.toUri.getPath).stripPrefix("/")
    def manifestPath(dir: Path) = new Path(dir, "_compact_manifest")
    def readManifest(dir: Path): Option[Set[String]] =
      if (!fs.exists(manifestPath(dir))) None
      else {
        val in = fs.open(manifestPath(dir))
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet)
        finally in.close()
      }
    // finish the job of a run that died after swap-in: carry over every
    // staged-out file the manifest does NOT list (committed concurrent
    // appends), then drop the staged-out dir
    def carryOverAndClean(): Unit = {
      if (fs.exists(old) && fs.exists(p)) {
        val compactedAway = readManifest(p).getOrElse(Set.empty)
        parquetFiles(old).foreach { st =>
          val rel = relTo(old, st.getPath)
          if (!compactedAway.contains(rel)) {
            val dest = new Path(p, rel)
            fs.mkdirs(dest.getParent)
            require(fs.rename(st.getPath, dest),
              s"compact: could not carry over concurrent append ${st.getPath}")
          }
        }
        fs.delete(old, true)
      }
      fs.delete(manifestPath(p), false)
    }
    // crash recovery: staged out but never swapped in → restore; swapped
    // in but carry-over unfinished → finish it from the manifest
    if (!fs.exists(p) && fs.exists(old)) require(fs.rename(old, p),
      s"compact: could not restore $old")
    else carryOverAndClean()
    fs.delete(tmp, true)
    val snapshot = parquetFiles(p)
    val totalBytes = snapshot.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // read the snapshot EXPLICITLY (basePath keeps hive partition columns)
    val df = spark.read.option("basePath", path)
      .parquet(snapshot.map(_.getPath.toString): _*)
    val writer =
      (if (partitionCols.nonEmpty) {
         // round-robin salt within partitions so a big partition still
         // splits into ≈ its share of nFiles even when its rows are
         // duplicates (a content hash would collapse those to one salt)
         val nLeafDirs = math.max(1, snapshot.map(_.getPath.getParent).distinct.size)
         val perPart = math.max(1, math.ceil(nFiles.toDouble / nLeafDirs).toInt)
         df.withColumn("__salt", pmod(monotonically_increasing_id(), lit(perPart.toLong)))
           .repartition(nFiles, (partitionCols.map(col) :+ col("__salt")): _*)
           .drop("__salt")
           .write.partitionBy(partitionCols: _*)
       } else df.repartition(nFiles).write)
        .mode("overwrite")
    writer.parquet(tmp.toString)
    // manifest = what the rewrite consumed; anything else found in the
    // staged-out dir later is a committed concurrent append
    val mOut = fs.create(manifestPath(tmp), true)
    try mOut.write(snapshot.map(st => relTo(p, st.getPath))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally mOut.close()
    require(fs.rename(p, old), s"compact: could not stage out $path")
    require(fs.rename(tmp, p), s"compact: could not swap in $tmp")
    carryOverAndClean()
    (snapshot.size, parquetFiles(p).size)
  }

  /** Database write sink — the load half of the reference's pipeline
    * (_insert_df, loaders.py:151: chunked inserts of CH_CHUNK_ROWS rows,
    * loaders.py:13). In Spark every partition inserts in parallel over
    * its own connection and `batchsize` plays the CH_CHUNK_ROWS role
    * (rows per round-trip); `numPartitions` caps concurrent connections
    * so a 1000-executor job can't open 1000 sessions against one server.
    * Returns the configured writer; callers invoke `.save()` (specs
    * verify option plumbing without a live database).
    */
  final case class JdbcSinkConfig(
      url: String,
      table: String,
      user: String,
      password: String,
      batchSize: Int = 200000, // CH_CHUNK_ROWS default, loaders.py:13
      numPartitions: Option[Int] = Some(8),
      truncate: Boolean = false)

  def jdbcWriter(df: DataFrame,
      cfg: JdbcSinkConfig): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val repartitioned = cfg.numPartitions.fold(df)(n => df.repartition(n))
    repartitioned.write
      .format("jdbc")
      .mode("append")
      .option("url", cfg.url)
      .option("dbtable", cfg.table)
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("batchsize", cfg.batchSize.toString)
      .option("truncate", cfg.truncate.toString)
  }

  /** Avro container write — the sink twin of [[Sources.readAvro]] (this
    * distribution has the avro core jars but not the spark-avro
    * DataSource). Every partition streams its rows into one container
    * via `DataFileWriter` (parallel like any file sink; empty
    * partitions emit no file). The avro schema derives from the frame's
    * primitive fields — nullable columns become `[null, T]` unions, the
    * shape [[Sources.readAvro]] maps back, so write→read round-trips.
    * Non-primitive columns (struct/array/map/decimal/timestamp) are
    * rejected up front: this is the Kafka-interchange seam, not a
    * general columnar store (that stays parquet/ORC).
    */
  def writeAvro(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.types._
    def avroType(dt: DataType): String = dt match {
      case LongType    => "long"
      case IntegerType => "int"
      case DoubleType  => "double"
      case FloatType   => "float"
      case BooleanType => "boolean"
      case StringType  => "string"
      case BinaryType  => "bytes"
      case other => throw new IllegalArgumentException(
        s"writeAvro maps primitive columns only; got $other — " +
          "project/serialize complex columns first")
    }
    val fieldsJson = df.schema.fields.map { f =>
      val t = "\"" + avroType(f.dataType) + "\""
      val tpe = if (f.nullable) s"""["null", $t]""" else t
      s"""{"name": "${f.name}", "type": $tpe${if (f.nullable) ""","default": null""" else ""}}"""
    }.mkString("[", ",", "]")
    val schemaJson =
      s"""{"type": "record", "name": "GraftRecord", "fields": $fieldsJson}"""
    val names = df.schema.fields.map(_.name)
    // the SESSION's Hadoop configuration (credentials, fs.* settings)
    // must reach the executors — a fresh `new Configuration()` silently
    // drops it for any non-default filesystem (r9 ADVICE). Broadcast a
    // serializable copy once per write.
    val hconf = df.sparkSession.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        df.sparkSession.sessionState.newHadoopConf()))
    df.rdd.foreachPartition { it =>
      if (it.hasNext) {
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val dest = new org.apache.hadoop.fs.Path(path, f"part-$pid%05d.avro")
        // task-attempt-unique temp + rename-on-commit: a speculative or
        // retried attempt writes its own temp file instead of racing the
        // first attempt's fs.create on the final name; whichever attempt
        // commits last renames a COMPLETE container into place
        val tmp = new org.apache.hadoop.fs.Path(
          path, f".part-$pid%05d-${tc.taskAttemptId()}%d.avro.tmp")
        val fs = dest.getFileSystem(hconf.value.value)
        val out = fs.create(tmp, true)
        val w = new org.apache.avro.file.DataFileWriter(
          new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](schema))
        w.create(schema, out)
        try it.foreach { row =>
          val rec = new org.apache.avro.generic.GenericData.Record(schema)
          var i = 0
          while (i < names.length) {
            rec.put(names(i), row.get(i) match {
              case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
              case v => v
            })
            i += 1
          }
          w.append(rec)
        } finally w.close() // closes the stream; flushes the container
        // commit: HDFS-style rename won't overwrite, so clear the target
        // of a previously-committed attempt first
        if (fs.exists(dest)) fs.delete(dest, false)
        if (!fs.rename(tmp, dest))
          throw new java.io.IOException(s"writeAvro: commit rename failed for $dest")
      }
    }
  }

  /** Zone-map manifest write — the Iceberg/Delta data-skipping pattern
    * without a table format: the data lands as bounded parquet files,
    * then ONE aggregation over the written files records per-file
    * min/max for the chosen stat columns into `_manifest/` inside the
    * table dir (underscore-prefixed, so plain parquet readers of the
    * table never see it). Writing the data SORTED on the stat column
    * (caller's choice, e.g. via [[writeZOrdered]] or an orderBy) is
    * what makes the zones tight — the manifest only records what the
    * layout achieved.
    *
    * At 100 TB the manifest is file-count-sized metadata (KBs per
    * thousand files), and maintaining it costs one extra metadata-level
    * aggregation per write — the standing price of letting every later
    * range scan skip almost all of the table ([[readPruned]]).
    */
  def writeWithManifest(df: DataFrame, statsCols: Seq[String], path: String,
      maxRecordsPerFile: Int): Unit = {
    val spark = df.sparkSession
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(path)
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").json(s"$path/_manifest")
  }

  /** Manifest-pruned range scan: consult the zone map, hand Spark ONLY
    * the files whose [min,max] intersects [lo,hi], then apply the exact
    * predicate (zones admit false positives, never false negatives).
    * The manifest read + file-list selection is planning-time metadata
    * work (file-count-sized, the standard table-format trade); the data
    * read touches just the surviving files — on a sorted layout that is
    * O(selectivity), not O(table). Parquet footer min/max would skip
    * row groups too, but only AFTER listing and opening every file;
    * the manifest prunes before any data file is opened.
    */
  def readPruned(spark: org.apache.spark.sql.SparkSession, path: String,
      statCol: String, lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column): DataFrame = {
    // recursiveFileLookup serves BOTH layouts: the flat batch table
    // ([[writeWithManifest]]) and the per-batch subdir layout the
    // streaming twin maintains ([[graft.streaming.Streams
    // .manifestAppendStream]]); underscore-prefixed dirs (_manifest)
    // stay invisible to the data listing either way. distinct() keeps a
    // duplicated zone row (a defensive invariant, not an expected
    // state) from reading the same file twice.
    val mf = spark.read.option("recursiveFileLookup", "true")
      .json(s"$path/_manifest")
    val keep = mf
      .where(col(s"max_$statCol") >= lo && col(s"min_$statCol") <= hi)
      .select("file").distinct().collect().map(_.getString(0))
    val full = spark.read.option("recursiveFileLookup", "true").parquet(path)
    val pruned =
      if (keep.isEmpty) full.limit(0)
      else spark.read.schema(full.schema).parquet(keep.toIndexedSeq: _*)
    pruned.where(col(statCol) >= lo && col(statCol) <= hi)
  }

  /** Streaming-manifest compaction — the maintenance pass that bounds
    * [[graft.streaming.Streams.manifestAppendStream]]'s one-dir-per-
    * micro-batch layout. Without it a 1-minute trigger accretes ~525k
    * `b<id>` dirs a year and every recursive listing (and [[readPruned]]
    * planning pass) degrades linearly with batch count — a scale-killer
    * at exactly the horizon the zone map exists for.
    *
    * Folds every manifest-referenced dir except the `keepLastBatches`
    * hottest `b<id>` entries (and any previous `c<gen>` generation —
    * repeated calls keep exactly one standing generation) into one
    * re-clustered `c<gen>` dir of ≈`targetFileBytes` files, RANGE-
    * CLUSTERED on the zone map's first stat column so the rewritten
    * zones come out tight (compaction is the moment the append-ordered
    * layout gets re-sorted into the scan-ordered one). Stat columns are
    * derived from the standing zone rows' schema, so the fold can never
    * drift from what the stream recorded.
    *
    * Reader correctness during the fold rests on one invariant:
    * [[readPruned]] opens ONLY files named in `_manifest` zone rows, so
    * data visibility is governed by the manifest, not the dir listing.
    * The protocol therefore stages everything invisibly and flips the
    * manifest last:
    *  1. new data lands under `_staging/` (underscore = invisible), its
    *     zone rows are computed against the FINAL paths;
    *  2. the data dir renames into place — unreferenced by any zone row,
    *     so pruned readers still serve the exact OLD view;
    *  3. a complete next manifest tree (`_manifest_next`: the new
    *     generation's zones + carried-over zones of every un-folded
    *     entry) swaps in via two renames; readers racing the swap window
    *     should retry (the [[compact]] caveat), and a micro-batch whose
    *     zone commit lands in the old tree during the swap is recovered
    *     by the post-swap reconcile (entries present only in the staged-
    *     out tree are carried over, never lost);
    *  4. only then are the folded data dirs deleted — recorded first in
    *     `c<gen>/_pending_delete`, so a crash anywhere resumes cleanup
    *     on the next call instead of stranding or double-reading data.
    * A reader that PLANNED against the old manifest and is still reading
    * folded files when step 4 deletes them must retry — UNLESS the
    * caller sets `minAgeBeforeDeleteMs`: folded dirs then stay on disk
    * (unreferenced by any zone row) and are physically deleted only by a
    * LATER call once the fold is older than the window, so any reader
    * whose plan+scan fits inside the window completes across folds. A
    * deferred generation that itself gets folded has its pending list
    * ADOPTED by the new generation's `_pending_delete` (and garbage
    * collection skips dirs referenced by a live pending list), so
    * nothing is stranded however folds and retention interleave.
    *
    * Swap-race guard: a live [[graft.streaming.Streams
    * .manifestAppendStream]] micro-batch that recreates `_manifest`
    * between the two swap renames would, under HDFS rename semantics,
    * swallow `_manifest_next` INTO the recreated dir. The swap therefore
    * re-checks for a recreated `_manifest` immediately before the second
    * rename — merging any fresh entries into `_manifest_next` — and
    * afterwards detects-and-unwinds the nested-dir outcome, so the race
    * converges to the merged manifest on both local-FS and HDFS
    * semantics.
    *
    * Returns (manifest entries before, after). No-op (and safe to call
    * on any schedule) when fewer than two entries are foldable.
    */
  def compactManifestTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long, keepLastBatches: Int = 0,
      beforeManifestSwap: () => Unit = () => (),
      beforeCleanup: () => Unit = () => (),
      betweenSwapRenames: () => Unit = () => (),
      minAgeBeforeDeleteMs: Long = 0L): (Int, Int) = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val manifest = new Path(root, "_manifest")
    val manifestPrev = new Path(root, "_manifest_prev")
    val manifestNext = new Path(root, "_manifest_next")
    val staging = new Path(root, "_staging")
    def children(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil
    def readLines(f: Path): Seq[String] = {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    // ---- crash recovery (idempotent; runs on every call) ----
    // died between the two swap renames: restore the staged-out tree
    if (!fs.exists(manifest) && fs.exists(manifestPrev))
      require(fs.rename(manifestPrev, manifest),
        s"compactManifestTable: could not restore $manifestPrev")
    // a _manifest_next left behind is an incomplete staging (the swap
    // never started, or was rolled back above) — discard it
    fs.delete(manifestNext, true)
    // reconcile a crashed post-swap run FIRST, while the _pending_delete
    // fold markers are still intact: zone entries present only in the
    // staged-out tree and NOT folded are committed late batches — carry
    // them over; folded ones must NOT come back (their data is doomed)
    val liveEntries0 = children(manifest).map(_.getPath.getName).toSet
    val pendingFolds: Map[String, Seq[String]] =
      children(root).filter(st => st.isDirectory &&
        !st.getPath.getName.startsWith("_") &&
        fs.exists(new Path(st.getPath, "_pending_delete")))
        .map(st => st.getPath.getName ->
          readLines(new Path(st.getPath, "_pending_delete"))).toMap
    if (fs.exists(manifestPrev)) {
      val foldedPrev = pendingFolds.collect {
        case (gen, fold) if liveEntries0.contains(gen) => fold
      }.flatten.toSet
      children(manifestPrev).foreach { st =>
        val name = st.getPath.getName
        if (!foldedPrev.contains(name) && !fs.exists(new Path(manifest, name)))
          require(fs.rename(st.getPath, new Path(manifest, name)),
            s"compactManifestTable: could not reconcile $name")
      }
      fs.delete(manifestPrev, true)
    }
    // pending deletes: a c<gen> dir listed in the manifest whose
    // _pending_delete survives is either a post-swap crash (age 0) or a
    // fold deliberately deferred behind the retention window — finish
    // cleanup once AGED. One NOT in the manifest is pre-swap staging
    // garbage — drop it all — UNLESS a live generation's pending list
    // references it (a deferred fold that was itself folded: its
    // deletion belongs to the adopting generation's clock).
    val adoptedByLive = pendingFolds.collect {
      case (gen, fold) if liveEntries0.contains(gen) => fold
    }.flatten.toSet
    pendingFolds.foreach { case (gen, fold) =>
      val marker = new Path(root, s"$gen/_pending_delete")
      if (liveEntries0.contains(gen)) {
        val aged = minAgeBeforeDeleteMs <= 0L ||
          System.currentTimeMillis() -
            fs.getFileStatus(marker).getModificationTime >= minAgeBeforeDeleteMs
        if (aged) {
          // never delete a name the LIVE manifest references: a stream
          // restarted with a fresh checkpoint reuses b<id> names, and a
          // deferred delete must not take out its re-committed data
          fold.filterNot(liveEntries0.contains)
            .foreach(n => fs.delete(new Path(root, n), true))
          fs.delete(marker, false)
        }
      } else if (!adoptedByLive.contains(gen))
        fs.delete(new Path(root, gen), true)
    }
    fs.delete(staging, true)
    // ---- snapshot: what to fold ----
    val entries = children(manifest).map(_.getPath.getName)
    val batchIds = entries.filter(_.matches("b\\d+"))
      .map(n => n.drop(1).toLong).sorted
    val hot = batchIds.takeRight(keepLastBatches).map(i => s"b$i").toSet
    val folded = entries.filterNot(hot).sorted
    if (folded.size < 2) return (entries.size, entries.size)
    val gen = (entries ++ children(root).map(_.getPath.getName))
      .filter(_.matches("c\\d+")).map(_.drop(1).toLong)
      .foldLeft(-1L)(math.max) + 1
    val genName = s"c$gen"
    // the snapshot's files and stat columns come from the zone rows
    // themselves — the fold can't drift from what the stream recorded
    val zones = spark.read
      .json(folded.map(n => s"$path/_manifest/$n"): _*)
    val statsCols = zones.schema.fieldNames.toSeq
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).sorted
    require(statsCols.nonEmpty,
      s"compactManifestTable: no min_*/max_* stat columns in $manifest")
    val files = zones.select("file").distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    val totalBytes = files.map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // ---- stage the new generation (invisible under _staging/) ----
    val clusterCol = statsCols.head
    spark.read.parquet(files: _*)
      .repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(statsCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$path/_staging/$genName")
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(s"$path/_staging/$genName")
      .groupBy(regexp_replace(input_file_name(), "/_staging/", "/").as("file"))
      .agg(aggs.head, aggs.tail: _*)
      // fold provenance: `src` names the generation, `folded_from` its
      // constituent entries — [[graft.streaming.Streams
      // .prunedReadStream]] fences on it (a tail that already delivered
      // every constituent skips the rewrite instead of re-delivering)
      .withColumn("src", lit(genName))
      .withColumn("folded_from", typedLit(folded))
      .coalesce(1)
      .write.mode("overwrite").json(s"$path/_staging/zones$gen")
    // record the fold set INSIDE the staged dir (underscore file —
    // invisible to parquet readers), then make the data visible; it is
    // still unreferenced by any zone row, so pruned reads are unchanged.
    // A folded generation whose own deferred pending list still exists
    // is ADOPTED here: its listed dirs transfer to this generation's
    // clock, so retention-deferred deletes survive any fold cadence.
    val adoptedPending = folded.flatMap { n =>
      val m = new Path(root, s"$n/_pending_delete")
      if (fs.exists(m)) readLines(m) else Nil
    }
    val pendingList = (folded ++ adoptedPending).distinct
    val pendOut = fs.create(new Path(staging, s"$genName/_pending_delete"), true)
    try pendOut.write(pendingList.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally pendOut.close()
    require(fs.rename(new Path(staging, genName), new Path(root, genName)),
      s"compactManifestTable: could not move $genName into place")
    // ---- build the complete next manifest tree ----
    fs.mkdirs(manifestNext)
    require(fs.rename(new Path(staging, s"zones$gen"),
      new Path(manifestNext, genName)),
      s"compactManifestTable: could not stage zone rows for $genName")
    children(manifest).foreach { st =>
      val name = st.getPath.getName
      if (!folded.contains(name))
        FileUtil.copy(fs, st.getPath, fs, new Path(manifestNext, name),
          false, conf)
    }
    beforeManifestSwap()
    // ---- swap ----
    require(fs.rename(manifest, manifestPrev),
      s"compactManifestTable: could not stage out $manifest")
    betweenSwapRenames()
    // swap-race guard (r16 ADVICE): a live appender's micro-batch may
    // have RECREATED _manifest in the swap window. Merge its fresh
    // entries into _manifest_next and clear the dir before renaming —
    // under HDFS rename semantics an existing destination dir would
    // otherwise swallow _manifest_next as a nested child, silently
    // hiding the new generation while cleanup deletes its data.
    var guard = 0
    while (fs.exists(manifest) && guard < 16) {
      children(manifest).foreach { st =>
        val name = st.getPath.getName
        if (!fs.exists(new Path(manifestNext, name)))
          require(fs.rename(st.getPath, new Path(manifestNext, name)),
            s"compactManifestTable: could not merge racing entry $name")
        else fs.delete(st.getPath, true)
      }
      // non-recursive on purpose: an entry committed between the
      // listing and this delete makes it fail, and the loop re-merges —
      // a recursive delete would silently destroy that entry's zones
      fs.delete(manifest, false)
      guard += 1
    }
    require(fs.rename(manifestNext, manifest),
      s"compactManifestTable: could not swap in $manifestNext")
    // belt-and-braces for the unavoidable TOCTOU tail of the guard
    // above: if a recreate slipped in between the final delete and the
    // rename on an HDFS-semantics store, the rename nested the staged
    // tree — detect and unwind by lifting its children up
    val nested = new Path(manifest, "_manifest_next")
    if (fs.exists(nested)) {
      children(nested).foreach { st =>
        val name = st.getPath.getName
        if (!fs.exists(new Path(manifest, name)))
          require(fs.rename(st.getPath, new Path(manifest, name)),
            s"compactManifestTable: could not unnest $name")
      }
      fs.delete(nested, true)
    }
    // reconcile: a micro-batch that committed zones between the copy
    // above and the swap lives only in the staged-out tree — carry it
    children(manifestPrev).foreach { st =>
      val name = st.getPath.getName
      if (!folded.contains(name) && !fs.exists(new Path(manifest, name)))
        require(fs.rename(st.getPath, new Path(manifest, name)),
          s"compactManifestTable: could not carry over late batch $name")
    }
    fs.delete(manifestPrev, true)
    beforeCleanup()
    // ---- cleanup: drop the folded data dirs (deferred behind the
    // retention window when one is set — a later, aged call deletes).
    // Same live-name guard as recovery: an entry merged back in by the
    // swap-race path (or a fresh-checkpoint restart) must survive.
    if (minAgeBeforeDeleteMs <= 0L) {
      val liveNow = children(manifest).map(_.getPath.getName).toSet
      pendingList.filterNot(liveNow.contains)
        .foreach(n => fs.delete(new Path(root, n), true))
      fs.delete(new Path(root, s"$genName/_pending_delete"), false)
    }
    fs.delete(staging, true)
    (entries.size, children(manifest).size)
  }

  /** JSON-lines export — the interchange twin of
    * [[graft.sources.Sources.jsonLines]] (downstream tools that speak
    * neither parquet nor JDBC almost always speak JSONL). Plain
    * `df.write.json` IS the distributed writer (one file per
    * partition, each line one record); `maxRecordsPerFile` bounds file
    * size for object-store friendliness, and gzip keeps the wire
    * format splittable-enough for line-oriented consumers (per-file
    * decompression parallelism — JSONL's usual contract).
    */
  def writeJsonLines(df: DataFrame, path: String,
      maxRecordsPerFile: Int = 1000000, gzip: Boolean = false): Unit = {
    val w = df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
    (if (gzip) w.option("compression", "gzip") else w).json(path)
  }

  /** CSV export with explicit quoting/header/compression control — the
    * hand-off format for spreadsheet and legacy-BI consumers (the
    * reference's pandas `to_csv` shape). Quote mode is "minimal"
    * (quote only when the delimiter/quote/newline appears, escape by
    * doubling — RFC 4180), header on, and a file-count cap via
    * maxRecordsPerFile so downstream pollers see bounded file sizes.
    * Timestamps render ISO-8601 so a re-read round-trips.
    */
  def writeCsv(df: DataFrame, path: String,
      delimiter: String = ",", gzip: Boolean = false,
      maxRecordsPerFile: Int = 1000000): Unit = {
    val w = df.write.mode("overwrite")
      .option("header", "true")
      .option("delimiter", delimiter)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
    (if (gzip) w.option("compression", "gzip") else w).csv(path)
  }

  /** XML export through Spark 4's native xml datasource — the feed
    * hand-off for systems that still speak XML (B2B interchange,
    * sitemap/catalog feeds): each row becomes one `rowTag` element
    * under a `rootTag` document root, structs nest as child elements,
    * and a declaration header lands per file. One XML document per
    * output file, so partition count controls feed granularity —
    * repartition upstream for the file layout the consumer expects.
    */
  def writeXml(df: DataFrame, path: String,
      rowTag: String = "row", rootTag: String = "rows"): Unit =
    df.write.mode("overwrite")
      .format("xml")
      .option("rowTag", rowTag)
      .option("rootTag", rootTag)
      .option("declaration", "version=\"1.0\" encoding=\"UTF-8\"")
      .save(path)
}
