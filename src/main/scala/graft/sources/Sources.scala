package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source connectors re-expressing the reference's extract layer
  * (/root/reference src/etl/extractors.py) Spark-first.
  *
  * The reference drains each source into pandas on one node; here every
  * source is a distributed scan — Spark lists/splits the files (or JDBC
  * partitions), pushes filters/projections down, and never materializes
  * on a single machine.
  */
object Sources {

  /** CSV objects under a prefix tree, with provenance and
    * date-inferred-from-object-key — read_minio_inventory_df
    * (extractors.py:103) + _infer_date_from_key (extractors.py:75).
    *
    * `path` may be a glob (e.g. `s3://bucket/inventory/ ** / *.csv`): Spark's
    * file index does the prefix listing that the reference does with
    * paginated ListObjectsV2 calls — on the driver for up to
    * [[graft.GraftSession.DriverListingMaxPaths]] paths, as a distributed
    * job above that.
    * If the data carries no `date` column, it is inferred from the file
    * name (supports YYYY-MM-DD, YYYY_MM_DD, YYYYMMDD).
    */
  def csvWithDateFromKey(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val rd = spark.read.option("header", "true")
    val base = schema.fold(rd.option("inferSchema", "true"))(rd.schema)
      .csv(path)
      .withColumn("object", input_file_name())
    if (base.columns.contains("date")) base
    else {
      // mirror the reference: pull y/m/d groups out of the object key.
      // Match on the file name only (the path above it can contain
      // unrelated digit runs — tmp dirs, bucket ids).
      val key = substring_index(col("object"), "/", -1)
      val pat = "(\\d{4})[-_]?(\\d{2})[-_]?(\\d{2})"
      base.withColumn("date",
        to_date(
          when(regexp_extract(key, pat, 0) =!= "",
            concat_ws("-",
              regexp_extract(key, pat, 1),
              regexp_extract(key, pat, 2),
              regexp_extract(key, pat, 3)))))
    }
  }

  /** JSON-lines event ingestion — the batch shape of the Kafka topic
    * drain (read_kafka_topic, extractors.py:41).
    */
  def jsonLines(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).json(path)

  /** Pretty-printed / array-wrapped JSON documents (one JSON value
    * spanning many lines — the API-dump shape, vs [[jsonLines]]' one
    * record per line). `multiLine` makes each FILE one spark task's
    * parse unit, so this is for modest document dumps, not TB-scale
    * corpora — at scale convert to JSONL once on ingest (the spec
    * pins both the array and single-object shapes).
    */
  def jsonMultiline(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema)
      .option("multiLine", "true").json(path)

  /** XML feed read through Spark 4's NATIVE xml datasource (the
    * spark-xml package merged into core — no extra jar): `rowTag`
    * names the repeated element that becomes one row; nested elements
    * land as structs/arrays and attributes as `_attr` columns, so the
    * sitemap/RSS/export-feed shape a crawler meets parses without a
    * hand-rolled parser. Schema inference is one extra pass — pass
    * `schema` in production (same rule as [[jsonLines]]). Files split
    * per-file (one XML document is one parse unit), so TB-scale feeds
    * should arrive as many files — which is how feed dumps ship.
    */
  def xml(spark: SparkSession, path: String, rowTag: String,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema)
      .format("xml").option("rowTag", rowTag).load(path)

  /** Columnar scan with pushdown (assertions in SourcesSpec check
    * PushedFilters/ReadSchema reach the parquet reader).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC scan — second columnar format, same pushdown machinery. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Avro container read — the Kafka-ecosystem interchange format the
    * reference's topic drain would meet in practice. This distribution
    * carries the avro core/mapred jars but NOT the `spark-avro`
    * DataSource module, so the read rides Hadoop's `AvroKeyInputFormat`
    * (splittable — each container block is an input split, so a 100 TB
    * topic dump scans in parallel like any file source) and converts
    * records to Rows at the partition seam, by FIELD NAME so files
    * written by different (compatible) writer schemas land in one
    * frame. Maps primitives, [null, T] unions, and NESTED record/array
    * fields (record → struct, array → ArrayType, recursively — the
    * envelope+payload shape a real Kafka dump carries). `columns`
    * projects at the partition seam: only the requested top-level
    * fields are converted and shipped (the rest of each record is never
    * materialized into Rows) — the reader-side analog of column
    * pruning, since the row-major container itself can't skip bytes.
    */
  def readAvro(spark: SparkSession, path: String,
      columns: Seq[String] = Nil): DataFrame = {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileStream
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.AvroKeyInputFormat
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.NullWritable
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    // driver-side metadata read: writer schema from the first container
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val firstFile =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath)
          .filter(_.getName.endsWith(".avro")).minBy(_.getName)
      else p
    val stream = new DataFileStream(
      fs.open(firstFile), new GenericDatumReader[GenericRecord]())
    val avroSchema = try stream.getSchema finally stream.close()

    def sql(s: Schema): (org.apache.spark.sql.types.DataType, Boolean) = {
      import org.apache.spark.sql.types._
      s.getType match {
        case Schema.Type.UNION =>
          val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
          require(nonNull.size == 1,
            s"unsupported avro union ${s}: only [null, T] unions map to SQL")
          (sql(nonNull.head)._1, true)
        case Schema.Type.RECORD =>
          (StructType(s.getFields.asScala.toSeq.map { f =>
            val (dt, nullable) = sql(f.schema())
            StructField(f.name(), dt, nullable)
          }), false)
        case Schema.Type.ARRAY =>
          val (et, elemNullable) = sql(s.getElementType)
          (ArrayType(et, containsNull = elemNullable), false)
        case Schema.Type.LONG    => (LongType, false)
        case Schema.Type.INT     => (IntegerType, false)
        case Schema.Type.DOUBLE  => (DoubleType, false)
        case Schema.Type.FLOAT   => (FloatType, false)
        case Schema.Type.BOOLEAN => (BooleanType, false)
        case Schema.Type.STRING  => (StringType, false)
        case Schema.Type.BYTES   => (BinaryType, false)
        case other => throw new IllegalArgumentException(
          s"unsupported avro type $other (maps/fixed/enums not mapped)")
      }
    }
    val allFields = avroSchema.getFields.asScala.toSeq
    val pickedFields =
      if (columns.isEmpty) allFields
      else {
        val missing = columns.filterNot(c => allFields.exists(_.name == c))
        require(missing.isEmpty,
          s"readAvro: requested columns not in writer schema: ${missing.mkString(", ")}")
        columns.map(c => allFields.find(_.name == c).get)
      }
    val struct = org.apache.spark.sql.types.StructType(
      pickedFields.map { f =>
        val (dt, nullable) = sql(f.schema())
        org.apache.spark.sql.types.StructField(f.name(), dt, nullable)
      })
    val rdd = spark.sparkContext
      .newAPIHadoopFile(
        path,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]],
        classOf[NullWritable])
      // GenericRecord is not serializable — conversion happens in the
      // same map stage as the read, nothing avro-typed crosses a shuffle;
      // only the PROJECTED fields are ever converted to Row values
      .map { case (k, _) => Sources.avroToRow(k.datum(), struct) }
    spark.createDataFrame(rdd, struct)
  }

  /** Recursive avro→Row conversion against the mapped SQL type: nested
    * records become Rows (by field NAME, so compatible writer versions
    * coexist), avro arrays become Seqs, Utf8/ByteBuffer unwrap.
    */
  private def avroToRow(rec: org.apache.avro.generic.GenericRecord,
      st: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Row = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def convert(v: Any, dt: DataType): Any = v match {
      case null => null
      case u: org.apache.avro.util.Utf8 => u.toString
      case bb: java.nio.ByteBuffer =>
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
      case r: org.apache.avro.generic.GenericRecord =>
        val nested = dt.asInstanceOf[StructType]
        org.apache.spark.sql.Row.fromSeq(
          nested.fields.toIndexedSeq.map(f => convert(r.get(f.name), f.dataType)))
      case c: java.util.Collection[_] =>
        val et = dt.asInstanceOf[ArrayType].elementType
        c.asScala.toSeq.map(convert(_, et))
      case other => other
    }
    org.apache.spark.sql.Row.fromSeq(
      st.fields.toIndexedSeq.map(f => convert(rec.get(f.name), f.dataType)))
  }

  /** Schema-evolved parquet scan: one table written over time by
    * pipeline versions with different (compatible) schemas, read back
    * as their UNION schema — columns absent in older files surface as
    * nulls instead of failing the read or silently dropping the new
    * fields. `mergeSchema` pays a footer read per file at planning
    * time, which is why it is an explicit opt-in here rather than a
    * global default; at 100 TB the footers are still metadata-only
    * (no data scan) and prune as usual afterwards.
    */
  def parquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** JDBC full-table read — read_pg_table (extractors.py:34), but
    * partitioned: Spark issues `numPartitions` range-predicated queries in
    * parallel instead of one giant cursor.
    */
  final case class JdbcConfig(
      url: String,
      table: String,
      user: String,
      password: String,
      partitionColumn: Option[String] = None,
      lowerBound: Long = 0L,
      upperBound: Long = 1L,
      numPartitions: Int = 8)

  /** Builds the configured reader (callers invoke `.load()`; specs verify
    * the option plumbing without a live database).
    */
  def jdbcReader(spark: SparkSession, cfg: JdbcConfig): DataFrameReader = {
    val base = spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", cfg.table)
      .option("user", cfg.user)
      .option("password", cfg.password)
    cfg.partitionColumn.fold(base) { c =>
      base.option("partitionColumn", c)
        .option("lowerBound", cfg.lowerBound)
        .option("upperBound", cfg.upperBound)
        .option("numPartitions", cfg.numPartitions)
    }
  }

  /** The Kafka sales-event value shape (kafka_loader.py:56-65). */
  val salesEventSchema: StructType = StructType.fromDDL(
    "event_id STRING, ts TIMESTAMP, customer_id BIGINT, product_id BIGINT, " +
      "qty INT, unit_price DOUBLE")

  /** Parse raw Kafka-style (key, value) bytes into typed sales events —
    * shared by the streaming reader and batch replays of a topic dump.
    */
  def parseSalesEvents(raw: DataFrame): DataFrame =
    raw.select(
        col("key").cast("string").as("event_key"),
        from_json(col("value").cast("string"), salesEventSchema).as("e"))
      .select(col("event_key"), col("e.*"))

  /** Streaming Kafka source config (read_kafka_topic streaming twin).
    * `.load()` requires the spark-sql-kafka connector on the cluster; the
    * parse stage is the tested part and is connector-independent.
    */
  final case class KafkaConfig(bootstrap: String, topic: String,
      startingOffsets: String = "earliest",
      endingOffsets: String = "latest",
      maxRecords: Long = 50000L) // KAFKA_MAX_RECORDS default, extractors.py:15

  def kafkaStream(spark: SparkSession, cfg: KafkaConfig): DataFrame =
    parseSalesEvents(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", cfg.bootstrap)
        .option("subscribe", cfg.topic)
        .option("startingOffsets", cfg.startingOffsets)
        .load())

  /** Bounded batch topic drain — read_kafka_topic (extractors.py:41):
    * the reference reads a topic from the beginning, stops after
    * KAFKA_MAX_RECORDS (extractors.py:62), and closes. The Spark twin is
    * a BATCH Kafka scan over [startingOffsets, endingOffsets] with a
    * `limit` for the max-records cap; partitions of the topic are read in
    * parallel, not through one consumer loop.
    *
    * Returns the unparsed (key, value, ...) frame builder; compose with
    * [[parseSalesEvents]] — `.load()` requires the spark-sql-kafka
    * connector on the cluster (specs verify the option plumbing and the
    * parse stage without a broker).
    */
  def kafkaBatchReader(spark: SparkSession, cfg: KafkaConfig): DataFrameReader =
    spark.read
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrap)
      .option("subscribe", cfg.topic)
      .option("startingOffsets", cfg.startingOffsets)
      .option("endingOffsets", cfg.endingOffsets)

  /** The full drain: bounded batch read → typed sales events. */
  def kafkaBatch(spark: SparkSession, cfg: KafkaConfig): DataFrame = {
    require(cfg.maxRecords > 0, s"maxRecords must be positive: ${cfg.maxRecords}")
    // limit() takes an Int; a Long cap beyond Int.MaxValue means
    // "unbounded for any realistic drain" — clamp instead of overflowing
    parseSalesEvents(kafkaBatchReader(spark, cfg).load())
      .limit(math.min(cfg.maxRecords, Int.MaxValue.toLong).toInt)
  }

  /** Incremental extract: only rows with `tsCol` strictly after the last
    * processed watermark. The reference re-drains every source per run
    * (extract_dataframes, etl.py:11) — fine for a dev node, ruinous at
    * 100 TB. Expressed as a plain filter so it PUSHES DOWN to the scan
    * (min/max row-group stats + partition pruning skip untouched data;
    * spec-asserted via PushedFilters).
    */
  def readSince(spark: SparkSession, path: String, tsCol: String,
      watermark: java.sql.Timestamp): DataFrame =
    spark.read.parquet(path).where(col(tsCol) > lit(watermark))

  /** Synthetic sales-event stream — the Spark twin of the reference's
    * continuous producer (data_chargers/kafka_loader.py:57 build_event +
    * its INTERVAL/MAGNITUDE rate knobs): the built-in `rate` source
    * paces emission, and each tick is mapped DETERMINISTICALLY (hash
    * arithmetic on the tick value, no RNG) to the exact event shape
    * [[parseSalesEvents]] produces — so load tests of the streaming
    * pipelines run without a Kafka broker and replay identically.
    */
  def rateEvents(spark: SparkSession, rowsPerSecond: Int,
      nCustomers: Int = 100, nProducts: Int = 50): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()
      .select(
        md5(col("value").cast("string")).as("event_id"),
        col("timestamp").as("ts"),
        pmod(xxhash64(col("value"), lit("c")), lit(nCustomers)).as("customer_id"),
        pmod(xxhash64(col("value"), lit("p")), lit(nProducts)).as("product_id"),
        (pmod(xxhash64(col("value"), lit("q")), lit(4)) + 1).cast("int").as("qty"),
        // price_with_noise analog (kafka_loader.py:49): per-product base
        // 10..10+nProducts, MULTIPLIED by a deterministic factor in
        // [0.90, 1.10] derived from the tick
        round(
          (lit(10.0) + pmod(xxhash64(col("value"), lit("p")), lit(nProducts))) *
            (lit(0.90) +
              pmod(xxhash64(col("value"), lit("n")), lit(21)).cast("double") / 100.0),
          2).as("unit_price"))

  /** Binary-file ingestion — the OBJECT-STORE seam of the multimodal
    * pipeline: `binaryFile` reads each matching file as one
    * (path, modificationTime, length, content) row, distributed across
    * executors by Spark's file index (the same listing machinery the
    * parquet reader uses, so a million-object image bucket parallelizes
    * for free). The numeric id is extracted from the file NAME — the
    * usual object-key convention — so the typed (doc_id, payload) frame
    * plugs directly into the batched codec seam
    * ([[graft.operators.Multimodal]]'s decoders), closing the loop from
    * real files to real decode.
    */
  def binaryFiles(spark: SparkSession, path: String,
      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .select(
        regexp_extract(substring_index(col("path"), "/", -1), "(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("length"),
        col("content").as("payload"))

  /** PERMISSIVE CSV ingestion with corrupt-row capture — the
    * dead-letter pattern at the PARSER seam (a malformed row in a
    * 100 TB drop must neither kill the job (FAILFAST) nor silently
    * null out (DROPMALFORMED)): rows that fail the declared schema
    * land whole in `_corrupt_record` for quarantine routing, parsed
    * columns stay null — the [[graft.operators.Etl.quarantine]]
    * philosophy applied before types even exist. Callers route on
    * `_corrupt_record IS NULL`. NB Spark refuses plans that reference
    * ONLY the corrupt column; route with at least one data column in
    * scope (the spec pins this contract).
    */
  def csvPermissive(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .csv(path)

  /** One column of a fixed-width layout: name, 1-based start, length,
    * and a cast target ("long" / "double" / "date" / "string").
    */
  final case class FixedWidthCol(name: String, start: Int, len: Int,
      typ: String = "string")

  /** Fixed-width text reader — the mainframe/legacy-export format every
    * ETL tool grows eventually (COBOL copybook extracts, bank
    * settlement files). Spark-first: `spark.read.text` gives the
    * distributed splittable line scan for free, and each column is a
    * narrow `substring` + `trim` + cast PROJECTION — whole-stage
    * codegen'd, no per-row parser object, no UDF. Blank/short lines
    * yield nulls (substring past end-of-line is empty), surfaced for a
    * quarantine step rather than crashing the scan — the
    * [[graft.operators.Etl.quarantine]] philosophy.
    */
  def fixedWidth(spark: SparkSession, path: String,
      layout: Seq[FixedWidthCol]): DataFrame = {
    val base = spark.read.text(path)
    layout.foldLeft(base) { (df, c) =>
      val raw = trim(substring(col("value"), c.start, c.len))
      // ANSI mode: casting '' throws — short/blank fields become null
      val v = c.typ match {
        case "string" => raw
        case "date"   => when(raw === "", lit(null)).otherwise(to_date(raw))
        case t        => when(raw === "", lit(null)).otherwise(raw.cast(t))
      }
      df.withColumn(c.name, v)
    }.drop("value")
  }
}
