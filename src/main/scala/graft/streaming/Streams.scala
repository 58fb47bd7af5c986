package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming pipelines — the streaming twins of the batch
  * operators in [[graft.operators.Relational]] (tumbling window agg,
  * sessionization), sharing semantics so a batch backfill and the live
  * stream produce the same tables.
  *
  * Watermarks bound state: at 100 TB/day the 2-hour watermark means each
  * executor holds only ~2 hours of open windows / sessions per key range,
  * regardless of total history.
  */
object Streams {

  /** Typed event for stateful processing. */
  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  /** Completed session emitted by [[sessionize]]. */
  final case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double)

  // top-level visibility: Spark's state encoder codegen instantiates this
  // class from generated Java and cannot see a `private` nested case class
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Tumbling 1-hour event-time aggregate with a 2-hour watermark —
    * streaming twin of `Relational.tumblingAgg`.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Stream-static dimension enrichment — the STREAMING twin of the
    * reference's fact_sales build (etl.py:37-45): an unbounded event
    * stream LEFT JOINs small static dims, broadcast per micro-batch; no
    * state store involved — the cheapest streaming join shape and the
    * first one a 100 TB pipeline reaches for. Note the static side's
    * CONTENT refresh depends on the source: plain file sources pin their
    * file listing when the DataFrame is created, so slowly-changing dims
    * need a table/catalog source (or a query restart) to pick up new
    * files — don't rely on per-batch re-listing from a parquet path.
    */
  def enrichStream(events: DataFrame, dims: DataFrame,
      joinCol: String): DataFrame =
    events.join(broadcast(dims), Seq(joinCol), "left")

  /** Point-in-time SCD2 enrich on a stream — the streaming twin of
    * [[graft.operators.Quality.pitJoin]]: each fact joins the dimension
    * VERSION valid at its EVENT time (`ts` ∈ [valid_from, valid_to)),
    * never the current one, so an out-of-order or late fact still
    * enriches against the state the world was in when it happened —
    * replay and live ingestion agree byte-for-byte. Stream-static left
    * join: stateless (no watermark, no state store — the static side is
    * re-read per micro-batch, so a dimension refresh between batches is
    * picked up), and facts with no valid version keep NULL dim columns
    * rather than vanishing. `dim` needs (user_id, version_id,
    * state_value, valid_from, valid_to); facts need (user_id, ts).
    */
  def scd2EnrichStream(facts: DataFrame, dim: DataFrame): DataFrame = {
    val d = dim.select(col("user_id").as("d_user"), col("version_id"),
      col("state_value"), col("valid_from"), col("valid_to"))
    facts.join(broadcast(d),
        col("user_id") === col("d_user") &&
          col("ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")),
        "left")
      .drop("d_user", "valid_from", "valid_to")
  }

  /** Sliding event-time window agg (1 h window, 15 min slide) — the
    * overlapping-window twin of [[tumblingCounts]]; each event lands in
    * four open windows, watermark still bounds state.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming windowed distinct-user counts — the sketch twin of the
    * batch [[graft.operators.Relational6.slidingDistinct]] family:
    * exact per-window distinct users needs per-window key state
    * (unbounded on a high-cardinality stream), so the HLL++ sketch
    * (`approx_count_distinct`) keeps per-(window, type) state CONSTANT
    * — the only way a distinct count survives an unbounded feed. The
    * sketch is order-independent (max-merge), so a live stream and a
    * batch backfill over the same events produce the identical
    * estimate, which the spec pins. Watermark bounds window state.
    */
  def distinctCountsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("approx_users"), col("n_events"))

  /** Streaming exact dedup: drop events whose key was already seen within
    * the watermark horizon — the streaming twin of `Dedup.exact`. State
    * is bounded by the watermark (old keys age out), which is what makes
    * exact dedup feasible on an unbounded 100 TB/day stream.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming CDC upsert: each micro-batch merges into the partitioned
    * parquet state table via `foreachBatch` + the batch upsert sink —
    * the standard streaming-materialized-view pattern when the sink has
    * no native streaming upsert.
    */
  def upsertStream(events: DataFrame, path: String, keyCol: String,
      tsCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sources.Sinks.upsertByKey(batch.sparkSession, path, batch, keyCol, tsCol)
      }

  /** Streaming quarantine routing: each micro-batch is validated with
    * the SAME rule column the batch [[graft.operators.Etl.quarantine]]
    * uses, then split to good/quarantined parquet sinks — the streaming
    * form of the dead-letter pattern (bad rows never block the stream,
    * never vanish either). Each batch writes to its own
    * `batch_id=<id>` partition with overwrite, so a replayed batch
    * (crash between the two writes, or before the checkpoint commit)
    * REWRITES its partition instead of appending duplicates —
    * exactly-once output from an at-least-once foreachBatch.
    */
  def quarantineStream(events: DataFrame, goodPath: String, badPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val routed = batch
            .withColumn("reasons", graft.operators.Etl.quarantineReasons)
            .persist()
          routed.where(col("reasons") === "").drop("reasons")
            .write.mode("overwrite").parquet(s"$goodPath/batch_id=$batchId")
          routed.where(col("reasons") =!= "")
            .write.mode("overwrite").parquet(s"$badPath/batch_id=$batchId")
          routed.unpersist(false)
          ()
        }
      }

  /** Streaming zone-map maintenance — the incremental twin of
    * [[graft.sources.Sinks.writeWithManifest]]: each micro-batch writes
    * its rows into an idempotent per-batch subdir (`b<id>`, overwrite —
    * the [[quarantineStream]] exactly-once-from-at-least-once
    * convention) and its one-zone-row-per-file min/max stats into
    * `_manifest/b<id>`, so [[graft.sources.Sinks.readPruned]] keeps
    * serving manifest-pruned range scans over the GROWING table with no
    * rewrite of earlier data files or manifest entries. Stats are
    * computed by re-reading ONLY the batch's own files (metadata-scale
    * work per trigger); a replayed batch overwrites its own dirs, never
    * duplicates. At 100 TB the standing table is never touched — each
    * trigger costs one batch-sized write plus one batch-sized
    * aggregation, and range-scan cost stays O(selectivity) as long as
    * arriving batches are value-clustered (event-time streams are).
    */
  def manifestAppendStream(rows: DataFrame, statsCols: Seq[String],
      path: String, maxRecordsPerFile: Int = 1000000)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val dataDir = s"$path/b$batchId"
          batch.write.mode("overwrite")
            .option("maxRecordsPerFile", maxRecordsPerFile.toString)
            .parquet(dataDir)
          val aggs = statsCols.flatMap(c =>
            Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
          spark.read.parquet(dataDir)
            .groupBy(input_file_name().as("file"))
            .agg(aggs.head, aggs.tail: _*)
            // provenance stamp: which manifest entry these zones belong
            // to — the fencing key [[prunedReadStream]]'s delivered
            // ledger records (compaction stamps its fold output with
            // `folded_from` so a tail can tell rewrite from new data)
            .withColumn("src", lit(s"b$batchId"))
            .coalesce(1) // zone rows: one tiny JSON file per batch
            .write.mode("overwrite").json(s"$path/_manifest/b$batchId")
          ()
        }
      }

  /** Manifest-pruned streaming READ — the consumer twin of
    * [[manifestAppendStream]]: tail a growing zone-mapped table and
    * deliver ONLY the rows of a standing range predicate, opening ONLY
    * the data files whose zone intersects it.
    *
    * The streamed source is the MANIFEST, not the data: zone rows are
    * file-count-sized metadata, so each trigger's streaming work is a
    * metadata read regardless of table size. New zone rows are
    * intersected with [lo, hi]; only surviving files are opened (a
    * micro-batch whose zones all miss never touches a data file), and
    * the exact predicate re-applies on the rows (zones admit false
    * positives, never false negatives — the [[graft.sources.Sinks
    * .readPruned]] contract, tailed). Output lands in idempotent
    * per-batch dirs (the [[quarantineStream]] replay convention).
    *
    * Fold fencing: a [[graft.sources.Sinks.compactManifestTable]] fold
    * REWRITES zone rows (new `c<gen>` manifest entry), which the tail's
    * file source sees as new files. Fold zones carry provenance
    * (`src` = generation name, `folded_from` = constituent entries),
    * and the tail keeps a metadata-sized delivered LEDGER
    * (`<outPath>/_delivered/<batchId>`, written idempotently per
    * micro-batch): a fold entry whose constituents were ALL already
    * delivered (transitively — skipping records the fold's own name
    * too, so folds-of-folds fence correctly) is SKIPPED, so the
    * fold/tail pair composes without drain choreography and
    * exactly-once holds across folds for a caught-up tail. A fold that
    * lands while the tail is MID-TABLE (some constituents undelivered)
    * is delivered whole — at-least-once for the already-seen part;
    * dedupe downstream on a row key if tails may lag folds. A fresh
    * tail (empty ledger) delivers fold entries like any other data.
    * The manifest source additionally tolerates the fold's dir SWAP
    * racing its own listing (`ignoreMissingFiles` on the manifest
    * read only — see the inline note): a listed entry that a
    * concurrent fold renames away is skipped losslessly, because its
    * zones are subsumed by the fold entry the next trigger lists.
    *
    * Fixed-schema contract: zone and data schemas are pinned ONCE at
    * stream construction from the standing table (the seam requires
    * ≥1 committed batch — a tail needs a table to tail). Columns added
    * by later micro-batches are not picked up for the lifetime of the
    * stream — restart the tail to adopt a widened schema. (The fencing
    * columns are force-added to the pin, so fencing works even when the
    * tailed table has never been folded.)
    */
  def prunedReadStream(spark: org.apache.spark.sql.SparkSession,
      path: String, statCol: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
      outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val standing = spark.read.option("recursiveFileLookup", "true")
      .json(s"$path/_manifest").schema
    // pin the fencing columns even if this table has never folded (and
    // so its standing zones lack them): the first fold after stream
    // start must still be fenceable
    val zoneSchema = Seq(
      "src" -> StringType.asInstanceOf[org.apache.spark.sql.types.DataType],
      "folded_from" -> ArrayType(StringType))
      .foldLeft(standing) { case (s, (n, t)) =>
        if (s.fieldNames.contains(n)) s else s.add(n, t, nullable = true)
      }
    val dataSchema = spark.read.option("recursiveFileLookup", "true")
      .parquet(path).schema
    spark.readStream
      .schema(zoneSchema)
      .option("recursiveFileLookup", "true")
      // A concurrent [[graft.sources.Sinks.compactManifestTable]] fold
      // SWAPS the _manifest dir between this source's listing and its
      // read — a listed entry (b*/c*) can legitimately vanish
      // mid-batch. Skipping it is LOSSLESS by the fold design: an
      // entry only disappears by being folded, its zones are subsumed
      // by the fold entry the next listing will surface, and the
      // delivered ledger decides skip-vs-deliver exactly as if the
      // entry had never been listed. Data-file reads below stay
      // STRICT — a missing parquet there means the retention window
      // (`minAgeBeforeDeleteMs`) was set shorter than tail lag, which
      // must fail loudly, not drop rows.
      .option("ignoreMissingFiles", "true")
      .json(s"$path/_manifest")
      .writeStream
      .outputMode("append")
      .foreachBatch { (zones: DataFrame, batchId: Long) =>
        val ss = zones.sparkSession
        val ledgerDir = new org.apache.hadoop.fs.Path(s"$outPath/_delivered")
        val fs = ledgerDir.getFileSystem(ss.sessionState.newHadoopConf())
        def readLedger(): Set[String] =
          if (!fs.exists(ledgerDir)) Set.empty
          else fs.listStatus(ledgerDir).toSeq.flatMap { st =>
            val in = fs.open(st.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          }.toSet
        val delivered = readLedger()
        // fence: fold entries whose constituents this tail already has
        val foldHeads = zones.where(col("folded_from").isNotNull)
          .select(col("src"), col("folded_from")).distinct().collect()
          .map(r => r.getString(0) -> r.getSeq[String](1))
        val skip = foldHeads.collect {
          case (s, from) if from.nonEmpty && from.forall(delivered) => s
        }.toSet
        val act = zones.where(
          !coalesce(col("src"), lit("")).isin(skip.toSeq: _*))
        val keep = act
          .where(col(s"max_$statCol") >= lo && col(s"min_$statCol") <= hi)
          .select("file").distinct().collect().map(_.getString(0))
        if (keep.nonEmpty) {
          ss.read.schema(dataSchema)
            .parquet(keep.toIndexedSeq: _*)
            .where(col(statCol) >= lo && col(statCol) <= hi)
            .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        }
        // ledger append (idempotent per batch id, like the data dirs):
        // every src this batch delivered OR skipped counts as delivered,
        // and a delivered fold implies its constituents
        val seen = zones.where(col("src").isNotNull)
          .select("src").distinct().collect().map(_.getString(0)).toSet ++
          foldHeads.collect { case (s, from) if !skip(s) => from }.flatten
        if (seen.nonEmpty) {
          val out = fs.create(
            new org.apache.hadoop.fs.Path(ledgerDir, batchId.toString), true)
          try out.write(seen.toSeq.sorted.mkString("", "\n", "\n")
            .getBytes("UTF-8"))
          finally out.close()
        }
        ()
      }
  }

  /** Streaming incremental quantile-sketch maintenance — the live twin
    * of [[graft.sources.Sinks.mergeKllState]]: each micro-batch's rows
    * are sketched per key and merged into the standing KLL-family state,
    * so a live percentile dashboard reads key-count-sized state
    * ([[graft.sources.Sinks.kllStateQuantiles]]) instead of history,
    * and — by the exact lossless-merge law — serves numbers IDENTICAL
    * to a from-scratch batch rebuild over everything seen.
    *
    * Exactly-once from at-least-once WITHOUT markers: state versions are
    * per-batch snapshot dirs (`v<batchId>`), each computed
    * deterministically as fold(previous committed version, this batch).
    * A replayed batch re-reads the same predecessor and overwrites its
    * own version with byte-identical content — idempotent by
    * determinism, the property sums-with-markers schemes approximate.
    * Only the latest two versions are retained (predecessor kept for
    * in-flight readers / crash recovery), so state storage is
    * 2 × key-count regardless of stream lifetime.
    */
  def quantileStateStream(rows: DataFrame, keyCols: Seq[String],
      hashCol: String, valueCol: String, statePath: String, cap: Int)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedStateStream(rows, statePath)(
      graft.sources.Sinks.foldKllState(_, _, keyCols, hashCol, valueCol, cap))

  /** The versioned-snapshot protocol behind the three sketch-state
    * streams: each micro-batch is folded into the latest committed
    * version below its own id and written as `v<batchId>`, then all but
    * the latest two versions are pruned. `fold` takes (previous state,
    * batch rows) and returns the new state.
    */
  private def versionedStateStream(rows: DataFrame, statePath: String)(
      fold: (Option[DataFrame], DataFrame) => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prev = latestStateVersion(spark, statePath, below = Some(batchId))
          .map(v => spark.read.parquet(s"$statePath/v$v"))
        fold(prev, batch).write.mode("overwrite").parquet(s"$statePath/v$batchId")
        pruneStateVersions(spark, statePath, batchId)
        ()
      }

  /** Streaming Count-Min maintenance — the frequency twin of
    * [[quantileStateStream]], completing the live mergeable-sketch set
    * (quantiles / frequencies; distinct counts fold the same way).
    * Counters merge by addition, so fold(previous version, batch) is
    * exactly the sketch of everything seen; the same deterministic
    * versioned-snapshot protocol gives exactly-once from at-least-once
    * with state bounded at keys × depth × width rows, 2 versions
    * retained. Serve with [[graft.sources.Sinks.cmStateEstimate]].
    */
  def cmStateStream(rows: DataFrame, keyCols: Seq[String], itemCol: String,
      statePath: String, depth: Int = 4, width: Int = 256)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedStateStream(rows, statePath)(
      graft.sources.Sinks.foldCmState(_, _, keyCols, itemCol, depth, width))

  /** Streaming KMV distinct-count maintenance — completes the live
    * mergeable-sketch trio (quantiles [[quantileStateStream]] /
    * frequencies [[cmStateStream]] / distincts here). Bottom-k distinct
    * hashes merge by set-union-and-recut
    * ([[graft.sources.Sinks.foldKmvState]]), so fold(previous version,
    * batch) is exactly the sketch of everything seen; the same
    * deterministic versioned-snapshot protocol gives exactly-once from
    * at-least-once — for KMV even duplicated ROWS are absorbed (set
    * semantics), the replay guard matters for batch ATTRIBUTION only —
    * with state bounded at keys × k hashes, 2 versions retained. Serve
    * with [[graft.sources.Sinks.kmvStateDistinct]].
    */
  def kmvStateStream(rows: DataFrame, keyCols: Seq[String], itemCol: String,
      statePath: String, k: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedStateStream(rows, statePath)(
      graft.sources.Sinks.foldKmvState(_, _, keyCols, itemCol, k))

  /** Retention for versioned state snapshots: keep the current version
    * and its predecessor, drop everything older.
    */
  private def pruneStateVersions(spark: org.apache.spark.sql.SparkSession,
      statePath: String, batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (n.matches("v\\d+") && n.drop(1).toLong < batchId - 1)
        fs.delete(st.getPath, true)
    }
  }

  /** Latest COMMITTED state version under `statePath` (dirs `v<id>` with
    * a `_SUCCESS` marker), optionally restricted to ids strictly below
    * `below` — a replayed batch must fold from its predecessor, never
    * from its own partial output.
    */
  def latestStateVersion(spark: org.apache.spark.sql.SparkSession,
      statePath: String, below: Option[Long] = None): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .map(_.getPath)
      .filter(q => q.getName.matches("v\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(q, "_SUCCESS")))
      .map(_.getName.drop(1).toLong)
      .filter(v => below.forall(v < _))
      .sorted.lastOption
  }

  /** Streaming quality gate: the EXACT batch rule projection
    * ([[graft.operators.TextAnalysis2.gopherColumns]]) applied to an
    * unbounded document stream — row-local, so no watermark and no state
    * store; live ingestion and a batch backfill apply byte-identical
    * curation decisions because they share the code. Returns the scored
    * stream (keep flag + per-rule columns) for the caller to route.
    */
  def qualityGateStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis2.gopherColumns(docs)

  /** Streaming NEAR-dup gate: drop a document whose simhash signature
    * was already seen inside the watermark horizon, keeping the first
    * arrival. The signature is the EXACT batch expression
    * ([[graft.functions.SimHashSig]] over the shared word-3-gram
    * shingling), so live ingestion and the batch dedup agree on what
    * "the same document" means; state is one long per distinct
    * signature inside the watermark — bounded, and orders of magnitude
    * smaller than a content-key dedup because near-identical variants
    * collapse to one signature. This is the signature-exact
    * (hamming-0) tier; the full hamming≤3 pair mining remains a batch
    * job over the survivors. Docs need (doc_id, text, ts).
    */
  def nearDupGateStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("grams", graft.functions.Shingles.grams3(col("text")))
      // sub-3-token docs have no grams; fall back to exact-text hashing
      // so they dedup against identical text instead of all collapsing
      // onto the empty-gram signature
      .withColumn("simhash",
        when(size(col("grams")) > 0, graft.functions.SimHashSig(col("grams")))
          .otherwise(xxhash64(col("text"))))
      .drop("grams")
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(Seq("simhash"))

  /** Streaming multimodal decode: the SAME batched codec seam the batch
    * queries use ([[graft.operators.Multimodal.decodeRows]], here
    * with the real RIFF/WAVE parser by default) applied to an unbounded
    * (doc_id, payload-binary) stream. Row-local — no watermark, no state
    * store — so a live media feed and a batch backfill emit
    * byte-identical features because they share the decoder; downstream
    * windows/gates compose on the typed output like on any stream.
    */
  def decodeAudioStream(
      media: DataFrame,
      codec: graft.operators.Multimodal.Codec[graft.operators.Multimodal.AudioMeta] =
        graft.operators.Multimodal.wavDecoder): DataFrame =
    graft.operators.Multimodal.decodeRows(media, codec)

  /** Stream-stream interval join: purchases enriched with a view by the
    * same user in the preceding hour. Both sides are watermarked and the
    * time-interval condition bounds join state on both sides — the only
    * way a stream-stream join stays finite on an unbounded feed.
    */
  private def intervalJoin(purchases: DataFrame, views: DataFrame,
      joinType: String): DataFrame = {
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
    val v = views.withWatermark("ts", "2 hours")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("value").as("v_value"))
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"),
      joinType)
  }

  def purchaseViewJoin(purchases: DataFrame, views: DataFrame): DataFrame =
    intervalJoin(purchases, views, "inner")

  /** Stream-stream LEFT OUTER interval join: purchases pair with views in
    * the preceding hour, and a purchase with NO matching view is still
    * emitted (null view columns) — but only once the view-side watermark
    * guarantees no match can arrive, which is what makes outer streaming
    * joins need watermarks on BOTH sides plus a time-bound condition
    * (otherwise unmatched-state would be unbounded and results
    * non-final). State per key is bounded by the interval + watermark.
    */
  def purchaseViewLeftJoin(purchases: DataFrame, views: DataFrame): DataFrame =
    intervalJoin(purchases, views, "left_outer")

  /** Gap-based sessionization (30-minute inactivity) with explicit state —
    * streaming twin of `Relational.sessionize`, via
    * flatMapGroupsWithState + event-time timeout. Emits a session when
    * the gap passes or the watermark expires the state.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800L): Dataset[Session] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, it: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      def emit(s: SessionState): Session =
        Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)

      if (state.hasTimedOut) {
        val out = state.getOption.map(emit).iterator
        state.remove()
        out
      } else {
        var closed = List.empty[Session]
        var cur = state.getOption
        it.toSeq.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapSeconds * 1000 =>
              cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
                total = s.total + e.value))
            case Some(s) =>
              closed ::= emit(s)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapSeconds * 1000)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  // top-level for the same state-encoder codegen reason as SessionState
  final case class ThrottleState(hours: Map[Long, Long])

  /** Per-key rate limiting: at most `maxPerHour` events pass per user
    * per event-time hour; the rest drop — the ingestion-hygiene valve
    * against runaway producers and scraper storms. State per key is a
    * per-HOUR counter map so a LATE event counts against its own hour's
    * budget instead of resetting the current hour's (a single
    * latest-hour counter would let alternating-hour arrivals blow the
    * cap); the map stays bounded because hours more than the watermark
    * horizon behind the newest are pruned each call, and the whole
    * entry expires by event-time timeout. Events within a micro-batch
    * are processed in the full (ts, value, event_type) field order so
    * replays admit the same events.
    */
  def throttleStream(events: Dataset[Event], maxPerHour: Long): Dataset[Event] = {
    import events.sparkSession.implicits._
    val HourMs = 3600L * 1000L
    // the cap's soundness proof needs the prune/timeout horizon to EQUAL
    // the declared watermark — both derive from this one constant
    val WatermarkHours = 2
    val WatermarkMs = WatermarkHours * HourMs

    def fn(userId: Long, it: Iterator[Event],
        state: GroupState[ThrottleState]): Iterator[Event] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var hours = state.getOption.map(_.hours).getOrElse(Map.empty[Long, Long])
        val out = List.newBuilder[Event]
        it.toSeq.sortBy(e => (e.ts.getTime, e.value, e.event_type)).foreach { e =>
          val hour = e.ts.getTime / HourMs * HourMs
          val n = hours.getOrElse(hour, 0L)
          if (n < maxPerHour) { out += e; hours = hours.updated(hour, n + 1) }
        }
        if (hours.nonEmpty) {
          // prune buckets the watermark has passed beyond recall: only
          // hours within the watermark horizon of the newest can still
          // receive events
          val newest = hours.keys.max
          hours = hours.filter { case (h, _) => h >= newest - WatermarkMs }
          state.update(ThrottleState(hours))
          state.setTimeoutTimestamp(newest + WatermarkMs)
        }
        out.result().iterator
      }
    }

    events
      .withWatermark("ts", s"$WatermarkHours hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Event with a unique id — attribution tie-breaks on it. */
  final case class AttrEvent(
      user_id: Long, ts: Timestamp, event_id: Long, event_type: String, value: Double)

  /** Per-user attribution state: first/last touch channel seen so far.
    * Two strings + one long per user — bounded, and expired by the
    * attribution window. Top-level for the state-encoder codegen.
    */
  final case class AttrState(first: String, last: String, lastTs: Long)

  /** A purchase credited to its first-/last-touch channels. */
  final case class AttributedPurchase(
      user_id: Long, event_id: Long, ts: Timestamp,
      first_touch: String, last_touch: String, value: Double)

  /** Streaming first-/last-touch attribution — the live twin of
    * [[graft.operators.Analytics.attribution]], sharing its
    * [[graft.operators.Analytics.TouchTypes]] channel set so live and
    * backfill credit purchases identically. Each purchase is emitted AT
    * ARRIVAL with the channels from the per-user state (two strings of
    * state per user; a downstream aggregation turns the feed into the
    * batch operator's channel rollup).
    *
    * Ordering: events are processed in (ts, event_id) order within each
    * micro-batch; across batches the state guards monotonically —
    * first_touch is first-write-wins and last_touch only advances when
    * the arriving touch's event time is ≥ the recorded one, so a LATE
    * touch can never overwrite a newer channel. A late PURCHASE is
    * credited against the state at processing time (the standard
    * at-most-watermark-late approximation; exact replay is the batch
    * job's contract). State expires [[AttributionWindowDays]] after a
    * user's newest event — the industry-standard finite attribution
    * window, which is also what bounds state on an unbounded feed.
    */
  def attributionStream(events: Dataset[AttrEvent]): Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    val touches = graft.operators.Analytics.TouchTypes.toSet
    val windowMs = AttributionWindowDays * 24L * 3600L * 1000L

    def fn(userId: Long, it: Iterator[AttrEvent],
        state: GroupState[AttrState]): Iterator[AttributedPurchase] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var s = state.getOption.getOrElse(AttrState(null, null, Long.MinValue))
        var newest = Long.MinValue
        val out = List.newBuilder[AttributedPurchase]
        it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
          val t = e.ts.getTime
          newest = math.max(newest, t)
          if (touches(e.event_type)) {
            if (s.first == null) s = s.copy(first = e.event_type)
            if (t >= s.lastTs) s = s.copy(last = e.event_type, lastTs = t)
          } else if (e.event_type == "purchase") {
            out += AttributedPurchase(userId, e.event_id, e.ts,
              if (s.first == null) "direct" else s.first,
              if (s.last == null) "direct" else s.last,
              e.value)
          }
        }
        if (newest != Long.MinValue) {
          state.update(s)
          state.setTimeoutTimestamp(newest + windowMs)
        }
        out.result().iterator
      }
    }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Finite attribution window: state for an idle user expires this many
    * days after their newest event.
    */
  val AttributionWindowDays = 30

  /** A change-data-capture record: LSN-ordered insert/update/delete. */
  final case class CdcOp(key: Long, ts: Timestamp, lsn: Long, op: String,
      value: Double)

  /** Per-key materialized row version. Top-level for the state encoder. */
  final case class CdcState(tsMs: Long, lsn: Long, op: String, value: Double)

  /** The current materialized row for a key after applying a change. */
  final case class CdcRow(key: Long, ts: Timestamp, lsn: Long, value: Double,
      is_deleted: Boolean)

  /** CDC changelog materialization — apply an insert/update/delete
    * stream to a keyed materialized view, the streaming half of a
    * database-replication ingest. Each trigger emits the key's CURRENT
    * version (update output mode); deletes materialize as tombstone rows
    * (`is_deleted`) so downstream sinks can propagate the removal rather
    * than silently losing it.
    *
    * Ordering is by (event time, LSN) — the changelog's total order —
    * and the state guard is monotone: a LATE change older than the
    * recorded version is discarded (exactly how a replication consumer
    * applies a backlog), so replays and out-of-order delivery within the
    * watermark cannot regress the view. State per key is one small case
    * class; tombstones expire [[CdcTombstoneDays]] after their event
    * time (the delete has propagated; an even-later resurrect within the
    * window still wins by LSN), which is what bounds state on an
    * unbounded key space.
    */
  def cdcMaterialize(ops: Dataset[CdcOp]): Dataset[CdcRow] = {
    import ops.sparkSession.implicits._
    val tombstoneMs = CdcTombstoneDays * 24L * 3600L * 1000L

    def fn(key: Long, it: Iterator[CdcOp],
        state: GroupState[CdcState]): Iterator[CdcRow] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var cur = state.getOption.orNull
        it.toSeq.sortBy(e => (e.ts.getTime, e.lsn)).foreach { e =>
          val newer = cur == null || e.ts.getTime > cur.tsMs ||
            (e.ts.getTime == cur.tsMs && e.lsn >= cur.lsn)
          if (newer) cur = CdcState(e.ts.getTime, e.lsn, e.op, e.value)
        }
        if (cur == null) Iterator.empty
        else {
          state.update(cur)
          // deletes keep a bounded-lifetime tombstone so a late stale
          // update cannot resurrect the row; live rows keep state for
          // the same horizon past their last change
          state.setTimeoutTimestamp(cur.tsMs + tombstoneMs)
          Iterator.single(CdcRow(key, new Timestamp(cur.tsMs), cur.lsn,
            if (cur.op == "D") 0.0 else cur.value, cur.op == "D"))
        }
      }
    }

    ops
      .withWatermark("ts", "2 hours")
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Tombstone/state retention horizon for [[cdcMaterialize]]. */
  val CdcTombstoneDays = 7

  /** Native session-window streaming aggregation — Spark's built-in
    * `session_window` (gap-merged, watermark-closed, engine-managed
    * state) applied to the live feed through the SHARED
    * `Relational3.sessionWindowAgg` projection, so this and the batch
    * `q_session_window` are the same code, not parallel copies.
    * Append mode: a session emits once the watermark proves no event
    * can extend it. Gap-boundary semantics are the built-in's
    * (end-EXCLUSIVE: an event exactly `gap` after the previous one
    * starts a NEW session) — matching its batch twin, but differing
    * from the hand-rolled [[sessionize]] pair, whose `<= gap` guard
    * merges the boundary event; each twin pair is internally
    * consistent.
    */
  def sessionWindowStream(events: DataFrame): DataFrame =
    graft.operators.Relational3.sessionWindowAgg(
      events.withWatermark("ts", "2 hours"))

  /** Streaming trending counts: hourly (window, event_type) totals in
    * update mode, each trigger rewriting its OWN `batch_id=` partition —
    * the same replay-idempotent foreachBatch contract as
    * [[quarantineStream]] (a crashed-and-replayed batch REWRITES its
    * partition; no duplicates). Update-mode counts are cumulative per
    * key, so the newest batch_id holding a key IS its current total —
    * [[trendingTopK]] reads latest-wins and ranks. Old batch partitions
    * hold only superseded rows for keys that kept changing; the batch
    * `Sinks.compact` pass is the standing answer to their accumulation.
    */
  def trendingCountsStream(events: DataFrame, statePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          batch.write.mode("overwrite").parquet(s"$statePath/batch_id=$batchId")
      }

  /** Current top-k event types per hour window over the streaming state
    * dir: latest batch_id wins per key (the update-mode totals are
    * cumulative), then the custom [[graft.plans.TopKPerKey]] heap plan
    * ranks within each window — the live "trending now" query, sharing
    * the batch engine's top-k operator instead of a full sort.
    */
  def trendingTopK(spark: org.apache.spark.sql.SparkSession, statePath: String,
      k: Int): DataFrame = {
    val st = spark.read.option("basePath", statePath).parquet(statePath)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("hour_start", "event_type").orderBy(col("batch_id").desc)
    val current = st
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("_rn") === 1).drop("_rn", "batch_id")
    graft.plans.TopKPerKey(current, Seq("hour_start"),
        Seq(("n", false), ("event_type", true)), k)
      .orderBy(col("hour_start"), col("n").desc, col("event_type"))
  }

  /** Per-event-type value stats trained by a BATCH job over history —
    * the broadcastable model the streaming anomaly gate scores against.
    * Exact decimal sums make the model reproducible on any layout
    * (same recipe as the batch `q_anomaly_zscore`).
    */
  def valueStats(events: DataFrame): DataFrame = {
    val d = events("value").cast(org.apache.spark.sql.types.DataTypes
      .createDecimalType(12, 2))
    events.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(d).cast("double").as("sx"),
      sum(d * d).cast("double").as("sx2"),
      // raw-double extremes: the degenerate-model range check compares
      // live values against these EXACT historical doubles (no decimal
      // round-trip, no FP-equality-against-a-mean trap)
      min(events("value")).as("vmin"),
      max(events("value")).as("vmax"))
  }

  /** Streaming anomaly gate — the train-batch / score-stream pattern: a
    * [[valueStats]] model (computed offline over history) broadcasts
    * into the live stream per micro-batch, each event gets its z-score
    * against its type's historical distribution, and |z| > 2.5 flags it.
    * Row-local after the broadcast join: no watermark, no state store —
    * the model is the only "memory", swapped by re-deploying with fresh
    * stats. The scoring expression is shared with the batch
    * `q_anomaly_zscore` shape, so a backfill and the live gate flag the
    * same rows.
    */
  /** Streaming ANN gate — the train-batch / score-stream pattern for
    * VECTORS: an [[graft.operators.Similarity.AnnGateModel]] (IVF
    * centroids + PQ codebook + tracked query, trained offline) rides the
    * closure into the live stream, and each arriving embedding is
    * row-locally coarse-assigned and PQ-coded against the broadcast
    * codebook, its ADC distance to the query computed by the EXACT batch
    * recipe ([[graft.operators.Embeddings.adcScoreColumn]] — StreamingSpec
    * pins stream ≡ batch scores). `adc_dist < threshold` flags the
    * arrival as a near-dup of the tracked query/corpus region. No
    * watermark, no state store: one narrow projection per event — the
    * model is the only memory, swapped by redeploying with fresh
    * training (the anomalyGateStream convention).
    */
  def annGateStream(vectors: DataFrame,
      model: graft.operators.Similarity.AnnGateModel,
      threshold: Double): DataFrame = {
    val v = col("embedding").cast("array<double>")
    vectors
      .withColumn("cell", graft.operators.Similarity.cellColumn(v, model.cents))
      .withColumn("adc_dist",
        graft.operators.Embeddings.adcScoreColumn(v, model.query, model.pq))
      .withColumn("is_near", col("adc_dist") < threshold)
  }

  /** Chi-square threshold for [[driftGateStream]] (generous for small
    * event-type cardinalities; production would pick by dof).
    */
  private val DriftChi2Max = 20.0

  /** Per-micro-batch drift report against a trained baseline — shared
    * with [[driftGateStream]] and unit-testable without a stream: the
    * batch's event_type distribution scores a goodness-of-fit
    * chi-square against the baseline's shares (eᵢ = shareᵢ·n), terms
    * folded over the type-sorted cell list (double addition order — the
    * [[graft.operators.Relational8.chiSquare]] convention, here on the
    * driver over ≤|types| cells). Types the baseline never saw can't be
    * scored (e = 0) and flag drift directly, the
    * [[anomalyGateStream]] unseen-type rule.
    */
  private[graft] def driftReport(
      batch: DataFrame, baseline: Map[String, Double]): (Long, Long, Double, Boolean) = {
    val obs = batch.groupBy("event_type").agg(count(lit(1)).as("o"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = obs.values.sum
    val nUnseen = obs.keys.count(k => !baseline.contains(k)).toLong
    // every BASELINE type contributes — a type that vanished from the
    // batch (o = 0) is exactly the drift signal (o−e)²/e must charge
    val terms = baseline.toSeq.sortBy(_._1)
      .map { case (typ, share) =>
        val o = obs.getOrElse(typ, 0L)
        val e = share * n
        (o.toDouble - e) * (o.toDouble - e) / e
      }
    val chi2 =
      if (terms.isEmpty) 0.0 else terms.tail.foldLeft(terms.head)(_ + _)
    (n, nUnseen, chi2, nUnseen > 0 || chi2 > DriftChi2Max)
  }

  /** Streaming distribution-drift gate — the train-batch / score-stream
    * pattern for CATEGORY MIX: a baseline share table (event-type
    * proportions from offline history) rides the closure, and every
    * micro-batch appends one drift-report row (batch id, rows, unseen
    * types, chi², drifted flag) to a parquet monitor table via
    * foreachBatch — the "did the input mix shift under my model"
    * alarm. Baseline is model-sized memory; per-batch state is the
    * ≤|types| observed-count map. Batch-id-partitioned overwrite makes
    * replays idempotent (the [[quarantineStream]] exactly-once
    * convention).
    */
  def driftGateStream(events: DataFrame, baseline: Map[String, Double],
      outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          import spark.implicits._
          val (n, nUnseen, chi2, drifted) = driftReport(batch, baseline)
          // batch_id lives in the partition directory (a data column of
          // the same name would collide with partition discovery)
          Seq((n, nUnseen, chi2, drifted))
            .toDF("n_events", "n_unseen_types", "chi2", "drifted")
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
          ()
        }
      }

  /** Late-data observability tap — the streaming twin of
    * `etl_quarantine`'s "rows never vanish" rule: every watermarked
    * stateful stream in this library silently DROPS events older than
    * the watermark (correct for state cleanup, invisible to
    * operations). This tap makes the drop observable and recoverable:
    * per micro-batch it replays Spark's own watermark rule — the
    * watermark entering a batch is (max event time seen in PREVIOUS
    * batches − allowed lateness), exactly when Spark applies it — and
    * routes each event to `kept/` or the `late/` dead-letter table,
    * appending one monitor row (batch id, event count, late count, the
    * watermark applied) per batch. kept ∪ late is the input, row for
    * row; a downstream watermarked agg over `kept` sees exactly what it
    * would have kept, and the `late/` table is the backfill feed.
    *
    * All three tables use the batch-id-partitioned overwrite convention
    * ([[driftGateStream]]) so replays are idempotent. The running max
    * event time is driver state of ONE long, advanced monotonically
    * after each batch — the same quantity Spark tracks in the query
    * checkpoint; a production deploy would persist it there (restart
    * from a cold driver starts permissive, never drops to `late/` what
    * a warm run would have kept... it keeps MORE, the safe direction).
    */
  def lateDataTapStream(events: DataFrame, outPath: String,
      latenessMs: Long = 10 * 60 * 1000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val maxSeenMs = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          import spark.implicits._
          val wmMs =
            if (maxSeenMs.get() == Long.MinValue) Long.MinValue
            else maxSeenMs.get() - latenessMs
          // pin: the batch frame feeds three consumers (two routed
          // writes + the stats row) and must not recompute per action
          val pinned = batch.withColumn("_ts_ms", unix_millis(col("ts")))
            .localCheckpoint(true)
          val late = pinned.where(col("_ts_ms") < wmMs)
          val kept = pinned.where(col("_ts_ms") >= wmMs)
          kept.drop("_ts_ms").coalesce(1)
            .write.mode("overwrite").parquet(s"$outPath/kept/batch_id=$batchId")
          val nLate = late.count()
          if (nLate > 0)
            late.drop("_ts_ms").coalesce(1)
              .write.mode("overwrite").parquet(s"$outPath/late/batch_id=$batchId")
          val agg = pinned
            .agg(count(lit(1)).as("n"), max(col("_ts_ms")).as("mx"))
            .head()
          Seq((agg.getLong(0), nLate,
            if (wmMs == Long.MinValue) -1L else wmMs))
            .toDF("n_events", "n_late", "watermark_ms")
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$outPath/monitor/batch_id=$batchId")
          maxSeenMs.accumulateAndGet(agg.getLong(1), Math.max(_, _))
          ()
        }
      }
  }

  /** Streaming sample-ratio-mismatch monitor — the live twin of
    * `q_srm_check` (same portable hash arm, same exact-integer 1-dof
    * χ²·10⁶ = (a−b)²·10⁶ div (a+b) against the 3.841459 p=0.05
    * critical value): every micro-batch's exposure events split into
    * deterministic 50/50 arms per (user, experiment), counts ADD into
    * a driver-held cumulative tally (bounded: |experiments| × two
    * longs — the [[lateDataTapStream]] driver-state convention), and
    * one monitor row per (batch, experiment) lands with the CUMULATIVE
    * counts, χ², and the srm flag — so operations sees a biased
    * assignment the batch it starts, not at the nightly batch audit.
    *
    * Unit note: the stream tallies EXPOSURE EVENTS (each arrival);
    * the batch audit tallies distinct users. A real platform watches
    * both — per-user dedup needs keyed state that grows with the user
    * population, which belongs to the batch side; event-balance drift
    * is the cheap live alarm that catches the same assignment bugs.
    * Batch-id-partitioned overwrite keeps replays idempotent
    * ([[driftGateStream]]).
    */
  def srmGateStream(events: DataFrame, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val tally = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          import spark.implicits._
          val counts = batch
            .select(col("event_type").as("experiment"), col("user_id"))
            .withColumn("arm",
              pmod(graft.functions.PortableHash.hash60(
                concat(col("user_id").cast("string"), lit(":"),
                  col("experiment"))), lit(2L)))
            .groupBy("experiment")
            .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("a"),
              sum(when(col("arm") === 1, 1L).otherwise(0L)).as("b"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          val rows = counts.map { case (exp, ba, bb) =>
            val (ca, cb) = tally.compute(exp, (_, prev) => prev match {
              case null => (ba, bb)
              case (pa, pb) => (pa + ba, pb + bb)
            })
            val chi2 = (ca - cb) * (ca - cb) * 1000000L / (ca + cb)
            (exp, ca, cb, chi2, chi2 > 3841459L)
          }
          rows.toSeq
            .toDF("experiment", "arm_a", "arm_b", "chi2_micros", "srm")
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
          ()
        }
      }
  }

  /** Streaming container-triage gate — the live front door of a
    * multimodal ingest (the stream twin of `mm_container_probe`): each
    * arriving blob is sniffed and structurally walked by the SAME byte
    * inspection as the batch op ([[graft.operators.Multimodal
    * .sniffContainer]] — one definition, so live routing and batch
    * backfill can never disagree on what "valid" means), and the frame
    * gains (sniffed_format, magic_ok, structure_ok, keep). Truncated,
    * mislabeled, or unknown blobs flag keep=false BEFORE any codec
    * worker is scheduled. Stateless — no watermark, no state store;
    * the inspection is row-local bytes-in, verdict-out.
    */
  def containerGateStream(blobs: DataFrame): DataFrame = {
    blobs.mapPartitions { it =>
      it.map { row =>
        val p = row.getAs[Array[Byte]]("payload")
        val (fmt, magicOk, structOk) =
          graft.operators.Multimodal.sniffContainer(p)
        ContainerVerdict(row.getAs[Long]("doc_id"),
          row.getAs[java.sql.Timestamp]("ts"),
          fmt, magicOk, structOk, magicOk && structOk)
      }
    }(org.apache.spark.sql.Encoders.product[ContainerVerdict])
      .toDF()
  }

  /** Output row of [[containerGateStream]]. */
  final case class ContainerVerdict(
      doc_id: Long, ts: java.sql.Timestamp, sniffed_format: String,
      magic_ok: Boolean, structure_ok: Boolean, keep: Boolean)

  /** Streaming decontamination gate — the train-batch / score-stream
    * pattern for BENCHMARK LEAKAGE: the held-out benchmark corpus
    * (static) collapses to ONE row holding its distinct hashed word-
    * 5-gram set (the [[graft.operators.Curation.decontaminate]] gram
    * recipe, so live gating and the batch sweep agree on what "overlap"
    * means), broadcast into the stream; each arriving document hashes
    * its own distinct grams IN-ROW and counts intersections against the
    * broadcast set. `n_bench_grams == 0` keeps the doc. Stateless: no
    * watermark, no state store — the bench-gram set is model-sized
    * memory (benchmark suites are thousands of docs; the set is the
    * broadcast-codebook analog of [[annGateStream]]), swapped by
    * redeploying with a fresh benchmark snapshot.
    */
  def decontamGateStream(docs: DataFrame, bench: DataFrame): DataFrame = {
    import graft.operators.Curation.ContamN
    val benchArr = bench
      .select(explode(array_distinct(
        graft.functions.WordNGrams(col("text"), ContamN))).as("gram"))
      .select(xxhash64(col("gram")).as("h")).distinct()
      .agg(collect_list(col("h")).as("bench_hashes"))
    docs
      .withColumn("grams",
        array_distinct(graft.functions.WordNGrams(col("text"), ContamN)))
      .withColumn("gh", expr("transform(grams, g -> xxhash64(g))"))
      .crossJoin(broadcast(benchArr))
      .withColumn("n_bench_grams",
        size(array_intersect(col("gh"), col("bench_hashes"))))
      .withColumn("keep", col("n_bench_grams") === 0)
      .drop("grams", "gh", "bench_hashes")
  }

  def anomalyGateStream(events: DataFrame, stats: DataFrame): DataFrame = {
    // LEFT join: an event type the model has never seen must surface as
    // an anomaly, not vanish from the gated feed (an inner join would
    // silently drop exactly the most suspicious input). Degenerate
    // models are guarded too: n < 2 or ~zero variance admits no z-score —
    // such events flag only when they leave the historical [vmin, vmax]
    // range (a raw-double comparison; an equality check against the mean
    // would misfire on non-dyadic constants like 0.1, where the
    // decimal-sum mean lands one ulp off the stored values, and a
    // rounding-noise variance would otherwise make every in-range event
    // score an astronomical z). The noise floor is RELATIVE to the mean
    // square (sx2/n): an absolute epsilon would misroute small-magnitude
    // models to the range check and still admit cancellation noise on
    // large-magnitude ones. Factor 1e-13: the sums themselves are
    // decimal-exact, so the only noise is the double evaluation of the
    // cancellation (relative ~1e-16 of sx2) — 1e-13 sits three orders
    // above that while still z-scoring models with CV down to ~3e-7
    // (tight-tolerance sensor feeds keep their z path).
    val mean = col("sx") / col("n")
    val variance = (col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)
    events.join(broadcast(stats), Seq("event_type"), "left")
      .withColumn("z",
        when(col("n") > 1 && variance > lit(1e-13) * (col("sx2") / col("n")),
          (col("value") - mean) / sqrt(variance)))
      .withColumn("is_anomaly",
        when(col("n").isNull, lit(true))                  // unseen type
          .when(col("z").isNotNull, abs(col("z")) > 2.5)  // healthy model
          .otherwise(                                      // degenerate model
            col("value") < col("vmin") || col("value") > col("vmax")))
      .drop("n", "sx", "sx2", "vmin", "vmax")
  }

  /** Streaming doc for the packer: id + its token count (tokenization
    * happens upstream, e.g. the wordpiece counts).
    */
  final case class PackDoc(source: String, doc_id: Long, n_tokens: Long)

  /** A doc's packed placement emitted by [[packStream]]. */
  final case class PackedDoc(
      source: String, doc_id: Long, n_tokens: Long,
      start_offset: Long, bin: Long)

  // top-level for the state-encoder codegen reason as SessionState
  final case class PackState(cum: Long)

  /** Streaming greedy sequence packing — the stateful twin of the batch
    * packer ([[graft.operators.TextAnalysis.packSequences]]): documents
    * stream in, and each SOURCE's packer assigns every doc its start
    * offset in that source's token tape and the `offset div capacity`
    * training-sequence bin, carrying the cumulative token count in
    * per-source state across micro-batches.
    *
    * Sharding by source is the scale design: one global packer would
    * serialize on a single state key, while per-source tapes parallelize
    * across the state store AND match how pretraining mixes are
    * assembled (each domain packed separately, then interleaved by the
    * mixture weights). Within a micro-batch docs pack in doc_id order —
    * the deterministic-replay contract; across batches, arrival order
    * is the stream's order, exactly like a production packer appending
    * to tapes. State per source is ONE long; no timeout — a tape never
    * forgets its length.
    */
  def packStream(docs: Dataset[PackDoc], capacity: Long = 2048L): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    def fn(source: String, it: Iterator[PackDoc],
        state: GroupState[PackState]): Iterator[PackedDoc] = {
      var cum = state.getOption.map(_.cum).getOrElse(0L)
      val out = it.toSeq.sortBy(_.doc_id).map { d =>
        val so = cum
        cum += d.n_tokens
        PackedDoc(source, d.doc_id, d.n_tokens, so, so / capacity)
      }
      state.update(PackState(cum))
      out.iterator
    }
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
  }

  /** Streaming incremental MinHash-LSH dedup — the live twin of
    * [[graft.operators.Dedup.incrementalDedup]]: arriving documents
    * probe (a) the STANDING corpus band index (a static frame built
    * offline by [[graft.operators.Dedup.corpusBandIndex]] — the
    * stream-static join is stateless, the index ships like any dimension
    * table) and (b) EACH OTHER through an LSH self-join keyed by
    * (band_idx, band_hash) with a time-interval bound, so in-stream
    * near-dup state lives in the join's band-keyed state store and is
    * reclaimed by the watermark. Candidate collisions are verified with
    * the SAME exact-Jaccard merge + length filter as every batch tier
    * (banding via the shared [[graft.operators.Dedup.bandExplode]], so
    * live and backfill land in identical buckets), then one windowed
    * per-doc aggregation folds the band verdicts into the admission
    * decision: `keep = no verified collision` against the corpus or any
    * EARLIER (lower doc_id) in-stream arrival — transitive chains
    * collapse onto their earliest member, the batch min-label
    * convention.
    *
    * Output (append, on window close): (doc_id, n_corpus_dups,
    * n_stream_dups, keep) where the counts are VERIFIED band collisions.
    * Docs with no grams have no signature and pass the gate. Three
    * chained stateful ops (interval join → windowed agg) — the
    * supported multi-stateful-operator shape; every key is a band
    * bucket or a window pane, never global state.
    */
  def lshDedupGateStream(docs: DataFrame, corpusIndex: DataFrame): DataFrame = {
    val thr = graft.operators.Dedup.JaccardThreshold
    // ONE watermark at the source; every branch below inherits it
    // (re-applying after the self-join would redefine the watermark,
    // which multi-stateful-operator mode rejects)
    val wmDocs = docs.withWatermark("ts", "2 hours")
    val banded = graft.operators.Dedup.bandExplode(
        wmDocs.withColumn("grams", graft.functions.Shingles.grams3(col("text")))
          .withColumn("hg", graft.functions.HashedSortedGrams(col("grams")))
          .withColumn("sz", size(col("grams")))
          .select("doc_id", "ts", "sz", "hg", "grams"))
      .drop("grams")
    val lenOk = graft.operators.Dedup.lengthCompatible(_, _, thr)
    // (a) standing-corpus probes: stateless stream-static equi-join
    val corpusHits = banded
      .join(corpusIndex, Seq("band_idx", "band_hash"))
      .where(lenOk(col("sz"), col("c_sz")) &&
        graft.functions.SortedLongJaccard(col("hg"), col("c_hg")) >= thr)
      .select(col("doc_id"), col("ts"), lit(1L).as("corpus_hit"), lit(0L).as("stream_hit"))
    // (b) in-stream probes: band-keyed self-join, earlier-arrival side a
    val wmA = banded
      .select(col("doc_id").as("a_id"), col("ts").as("a_ts"), col("sz").as("a_sz"),
        col("hg").as("a_hg"), col("band_idx").as("a_band_idx"),
        col("band_hash").as("a_band_hash"))
    val wmB = banded
      .select(col("doc_id").as("b_id"), col("ts").as("b_ts"), col("sz").as("b_sz"),
        col("hg").as("b_hg"), col("band_idx").as("b_band_idx"),
        col("band_hash").as("b_band_hash"))
    // two-sided time bound: the duplicate verdict belongs to the HIGHER
    // doc_id (batch min-label convention) regardless of which member
    // arrives first — requiring a_ts <= b_ts here would let a near-dup
    // pair slip through whenever the lower-id doc arrives later within
    // the window (found in round-12 advice; spec pins the inverted case)
    val streamHits = wmA.join(wmB,
        col("a_id") < col("b_id") &&
          col("a_band_idx") === col("b_band_idx") &&
          col("a_band_hash") === col("b_band_hash") &&
          col("a_ts") <= col("b_ts") + expr("INTERVAL 2 HOURS") &&
          col("a_ts") >= col("b_ts") - expr("INTERVAL 2 HOURS"))
      .where(lenOk(col("a_sz"), col("b_sz")) &&
        graft.functions.SortedLongJaccard(col("a_hg"), col("b_hg")) >= thr)
      .select(col("b_id").as("doc_id"), col("b_ts").as("ts"),
        lit(0L).as("corpus_hit"), lit(1L).as("stream_hit"))
    // base row per doc so collision-free (and gram-less) docs surface
    val base = wmDocs.select(col("doc_id"), col("ts"),
      lit(0L).as("corpus_hit"), lit(0L).as("stream_hit"))
    base.unionByName(corpusHits).unionByName(streamHits)
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(sum(col("corpus_hit")).as("n_corpus_dups"),
        sum(col("stream_hit")).as("n_stream_dups"))
      .select(col("doc_id"), col("n_corpus_dups"), col("n_stream_dups"),
        (col("n_corpus_dups") === 0 && col("n_stream_dups") === 0).as("keep"))
  }

  /** Streaming perplexity gate — the LM-quality twin of the anomaly
    * gate's train-batch/score-stream convention: the reference bigram
    * LM (hashed unigram/bigram count frames trained OFFLINE on the
    * holdout slice, [[graft.operators.Curation.pplModel]]) joins the
    * live document stream statelessly per bigram OCCURRENCE, and one
    * windowed per-doc aggregation produces the identical scaled-integer
    * score the batch gate computes (the batch per-doc pre-aggregation
    * is a skew optimization, not semantics: Σdc·fam / Σdc ≡ the
    * occurrence mean). The threshold is the batch gate's own percentile
    * cut, shipped as a scalar — so live admission decisions are
    * bit-equal to what a batch re-run would decide. Docs without
    * bigrams have no score and pass upstream (the batch convention).
    */
  def perplexityGateStream(
      docs: DataFrame, uni: DataFrame, bc: DataFrame, thr: Long): DataFrame =
    docs.withWatermark("ts", "2 hours")
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ts"), explode(
        when(size(col("ws")) >= 2,
          expr("transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))"))
          .otherwise(expr("array()"))).as("b"))
      .select(col("doc_id"), col("ts"),
        xxhash64(col("b.w1")).as("h1"),
        xxhash64(col("b.w1"), col("b.w2")).as("h12"))
      .join(bc, Seq("h12"), "left")
      .join(uni, Seq("h1"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("coalesce((bc * 1000000L) div uc, 0L)")).as("fam_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("fam_sum div n_bigrams").cast("long").as("ppl_score"))
      .withColumn("keep", col("ppl_score") > thr)
}
