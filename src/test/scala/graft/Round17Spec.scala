package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Round-17 additions.
  *
  * 1. The KMV distinct-count state stream
  *    ([[graft.streaming.Streams.kmvStateStream]]) — the third member
  *    of the live mergeable-sketch trio. Pins the same contract the
  *    quantile/CM twins pinned in Round16Spec: live fold ≡ one-shot
  *    batch rebuild hash-exactly, bounded version retention, replay
  *    determinism — plus the KMV-specific SET property: feeding the
  *    same rows twice leaves the state unchanged.
  *
  * 2. The multi-merge-per-scan BPE trainer shortcut
  *    ([[graft.operators.Tokenizer]]): the learned merge table must be
  *    IDENTICAL to the one-merge-per-scan reference — the shortcut is
  *    an execution strategy, never a semantics change. The reference
  *    here is an independent in-spec replay (same vocabulary SQL, one
  *    merge per round, plain DataFrame ops), not the production code.
  */
class Round17Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- KMV

  test("kmv state stream: live fold == batch rebuild; versions bounded; replay deterministic; duplicates absorbed") {
    import graft.sources.Sinks
    import graft.streaming.Streams
    import graft.streaming.Streams.Event
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2025-01-01 12:${m % 60}%02d:00")
    def prep(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_type"), (col("user_id") % 500).as("item"))
    val k = 32
    val statePath = java.nio.file.Files.createTempDirectory("graft-kmvss")
      .toString + "/s"
    val input = MemoryStream[Event]
    val q = Streams.kmvStateStream(prep(input.toDF()), Seq("event_type"),
        "item", statePath, k = k)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-kmvss-ck").toString)
      .start()
    val feeds = (0 until 3).map { b =>
      (1 to 200).map { i =>
        // batch 2 REPEATS half of batch 1's users: the set semantics
        // must absorb them without moving the sketch
        val u = if (b == 2 && i <= 100) (1000 + i).toLong
                else (b * 1000 + i).toLong
        Event(u, ts(b), if (i % 2 == 0) "view" else "click", i * 1.0)
      }
    }
    feeds.foreach { f => input.addData(f: _*); q.processAllAvailable() }
    q.stop()
    val v = Streams.latestStateVersion(spark, statePath)
    assert(v.contains(2L), s"latest version $v")
    assert(new java.io.File(statePath).listFiles()
      .count(_.getName.matches("v\\d+")) <= 2, "version retention bound")
    // live state == one-shot fold over everything fed (merge law)
    val allDf = prep(feeds.flatten.toDF())
    val want = Sinks.foldKmvState(None, allDf, Seq("event_type"), "item", k)
      .as[(String, Seq[Long])].collect().toMap
    val got = spark.read.parquet(s"$statePath/v${v.get}")
      .as[(String, Seq[Long])].collect().toMap
    assert(got == want, "stream-folded KMV state differs from batch rebuild")
    // pure-Scala rebuild: bottom-k of the DISTINCT hash set per key
    val h = graft.functions.PortableHash.hash60 _
    val hashed = allDf.select(col("event_type"), h(col("item")).as("h"))
      .as[(String, Long)].collect().toVector
    val pure = hashed.groupBy(_._1).map { case (key, xs) =>
      key -> xs.map(_._2).distinct.sorted.take(k).toSeq
    }
    assert(got == pure, "state must be bottom-k of the distinct hash set")
    // duplicate absorption: folding batch 2 (half repeats) into v1
    // equals v2, and refolding it AGAIN into v2 changes nothing
    val refold = Sinks.foldKmvState(
      Some(spark.read.parquet(s"$statePath/v1")),
      prep(feeds(2).toDF()), Seq("event_type"), "item", k)
      .as[(String, Seq[Long])].collect().toMap
    assert(refold == got, "replayed fold must be identical")
    val refold2 = Sinks.foldKmvState(
      Some(spark.read.parquet(s"$statePath/v${v.get}")),
      prep(feeds(2).toDF()), Seq("event_type"), "item", k)
      .as[(String, Seq[Long])].collect().toMap
    assert(refold2 == got, "re-absorbing already-seen rows must be a no-op")
    // serving: estimates equal the shared KmvOps finish over the state,
    // and are EXACT below the k cut
    val est = Sinks.kmvStateDistinct(
      spark.read.parquet(s"$statePath/v${v.get}"), Seq("event_type"), k)
      .as[(String, Long)].collect().toMap
    val exact = hashed.groupBy(_._1).map { case (key, xs) =>
      key -> xs.map(_._2).distinct.size.toLong
    }
    est.foreach { case (key, n) =>
      if (pure(key).size < k) assert(n == exact(key),
        s"below the cut the estimate must be exact: $key $n != ${exact(key)}")
      else {
        // KMV standard error is ~1/sqrt(k-1); 4 sigma is a safe pin
        val rel = math.abs(n.toDouble - exact(key)) / exact(key)
        assert(rel < 4.0 / math.sqrt((k - 1).toDouble),
          s"estimate off for $key: $n vs ${exact(key)}")
      }
    }
  }

  // ---------------------------------------------------------------- BPE

  test("bpe multi-merge-per-scan equals the one-merge-per-scan reference") {
    // independent sequential reference: same vocabulary construction,
    // ONE merge per scan, no shortcut logic at all
    val vocab = sf.documents
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(trim(regexp_replace(col("word"), "(.)", "$1 ")).as("w"), col("freq"))
      .cache()
    var words = vocab
    val ref = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (rank <- 1 to 20) {
      val best = words
        .withColumn("s", split(col("w"), " "))
        .where(size(col("s")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(s) - 1),
            |  j -> concat(element_at(s, j), ' ', element_at(s, j + 1)))"""
            .stripMargin)).as("pair"), col("freq"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).head(1)
      if (best.nonEmpty) {
        val Array(l, r) = best(0).getString(0).split(" ", 2)
        ref += ((rank, l, r, l + r, best(0).getLong(1)))
        words = words.withColumn("w",
          expr(s"trim(replace(concat(' ', w, ' '), ' $l $r ', ' $l$r '))"))
      }
    }
    vocab.unpersist(false)
    val got = graft.operators.Tokenizer.bpeTrain(sf)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got == ref.toSeq,
      s"shortcut-trained merges differ from the sequential reference:\n got=$got\n ref=$ref")
  }
}
