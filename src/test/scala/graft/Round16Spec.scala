package graft

import graft.functions.{KllIn, KllOps, KllPartial, KllPartialIn, KllState}
import graft.operators.Relational3
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Round-16 additions: the KLL-family mergeable quantile sketch.
  *
  * Pins the three properties that make [[Relational3.sketchQuantiles]]
  * sound at any rollup depth:
  *  1. the state is a pure function of the input MULTISET (any arrival
  *     order, any partitioning, any merge tree → identical state);
  *  2. the lossless-merge identity merge(sk(A), sk(B)) = sk(A ∪ B) holds
  *     EXACTLY, including through Spark's two-level Aggregator path;
  *  3. the retained sample's quantiles land within the uniform-sample
  *     rank-error bound of the exact percentiles.
  */
class Round16Spec extends SparkSpec {
  import spark.implicits._

  private val Cap = 256

  /** (rowHash, cents) for every sf0.001 lineitem — the raw multiset. */
  private lazy val rows: Vector[(Long, Long)] = {
    val h = graft.functions.PortableHash.hash60 _
    sf.lineitem
      .select(
        h(concat_ws("#", col("l_orderkey"), col("l_linenumber"))).as("h"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      .as[(Long, Long)].collect().toVector
  }

  private def build(rs: Seq[(Long, Long)]): KllState =
    rs.foldLeft(KllState(0, Vector.empty)) { case (st, (h, c)) =>
      KllOps.insert(Cap)(st, h, c)
    }

  test("kll state is a pure function of the multiset: order-independent") {
    val direct = build(rows)
    assert(direct.cut > 0, "planted data must force at least one raise")
    assert(direct.items.nonEmpty && direct.items.length <= Cap)
    assert(build(rows.reverse) == direct)
    assert(build(rows.sortBy(_._2)) == direct)
  }

  test("lossless merge identity: merge(sk(A), sk(B)) = sk(A U B), any tree") {
    val direct = build(rows)
    // partition the multiset 7 ways, sketch each part, merge two ways
    val parts = rows.zipWithIndex.groupBy(_._2 % 7).toSeq.sortBy(_._1)
      .map { case (_, xs) => build(xs.map(_._1)) }
    val leftFold = parts.reduceLeft(KllOps.merge(Cap))
    val pairTree = parts.grouped(2)
      .map(g => g.reduceLeft(KllOps.merge(Cap)))
      .reduceLeft(KllOps.merge(Cap))
    assert(leftFold == direct, "left-fold merge must equal direct build")
    assert(pairTree == direct, "pair-tree merge must equal direct build")
    // wire round-trip (what the level-2 aggregation actually ships)
    assert(KllOps.fromWire(KllOps.toWire(direct)) == direct)
  }

  test("two-level Aggregator path equals the multiset function under any partitioning") {
    val h = graft.functions.PortableHash.hash60 _
    val src = sf.lineitem.select(
      (col("l_suppkey") % 7).as("g"),
      h(concat_ws("#", col("l_orderkey"), col("l_linenumber"))).as("rh"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    val partial = udaf(new KllPartial(Cap),
      org.apache.spark.sql.Encoders.product[KllIn])
    val merged = udaf(new graft.functions.KllMergeAgg(Cap),
      org.apache.spark.sql.Encoders.product[KllPartialIn])
    def rollup(parts: Int) = src.repartition(parts)
      .groupBy("g").agg(partial(col("rh"), col("cents")).as("kll"))
      .agg(merged(col("kll")).as("q"))
      .select("q.m", "q.cut", "q.n_est", "q.p50_price", "q.p90_price")
      .as[(Long, Int, Long, Double, Double)].head()
    val expected = {
      val o = KllOps.finish(build(rows))
      (o.m, o.cut, o.n_est, o.p50_price, o.p90_price)
    }
    assert(rollup(1) == expected)
    assert(rollup(13) == expected, "shuffle-partitioning must not change the state")
  }

  test("quantile estimates respect the uniform-sample rank-error bound") {
    val st = build(rows)
    val out = KllOps.finish(st)
    val exact = rows.map(_._2).sorted
    val n = exact.length
    // rank of the estimate within the EXACT data, as a fraction
    def rankOf(dollars: Double): Double =
      exact.count(_ <= math.round(dollars * 100)).toDouble / n
    // m retained Bernoulli samples: |rank - p| <~ 1.36/sqrt(m) whp
    // (DKW at 95%); deterministic data, so this never flakes
    val tol = 1.36 / math.sqrt(out.m.toDouble)
    assert(math.abs(rankOf(out.p50_price) - 0.5) <= tol,
      s"p50 rank ${rankOf(out.p50_price)} vs 0.5 (tol $tol, m=${out.m})")
    assert(math.abs(rankOf(out.p90_price) - 0.9) <= tol,
      s"p90 rank ${rankOf(out.p90_price)} vs 0.9 (tol $tol, m=${out.m})")
    // HT total estimate: within the same multiplicative band of n
    assert(math.abs(out.n_est.toDouble / n - 1.0) <= 3.0 / math.sqrt(out.m.toDouble),
      s"n_est ${out.n_est} vs n $n")
  }

  test("incremental kll state: on-disk fold equals a from-scratch rebuild, hash-exactly") {
    import graft.sources.Sinks
    val h = graft.functions.PortableHash.hash60 _
    val src = sf.lineitem.select(
      (col("l_suppkey") % 3).as("g"),
      h(concat_ws("#", col("l_orderkey"), col("l_linenumber"))).as("rh"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    // three "daily" batches by orderkey range, folded sequentially
    val cuts = Seq(
      col("l_orderkey") % 3 === 0, col("l_orderkey") % 3 === 1,
      col("l_orderkey") % 3 === 2)
    val batches = cuts.map(c => sf.lineitem.where(c).select(
      (col("l_suppkey") % 3).as("g"),
      h(concat_ws("#", col("l_orderkey"), col("l_linenumber"))).as("rh"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents")))
    val path = java.nio.file.Files.createTempDirectory("graft-kllstate")
      .toString + "/state"
    batches.foreach(b =>
      Sinks.mergeKllState(spark, path, b, Seq("g"), "rh", "cents", Cap))
    // ground truth: pure-Scala build over EVERYTHING, per key
    val all = src.as[(Long, Long, Long)].collect().toVector
    val want = all.groupBy(_._1).map { case (g, xs) =>
      g -> build(xs.map(x => (x._2, x._3)))
    }
    val got = spark.read.parquet(path)
      .select(col("g"), col("kll"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (g, st) =>
      assert(KllOps.fromWire(got(g)) == st,
        s"folded state for key $g differs from from-scratch rebuild")
    }
    // serving read: quantiles from state == finish of the direct build
    val served = Sinks.kllStateQuantiles(
      spark.read.parquet(path), Seq("g"), Cap)
      .as[(Long, Long, Int, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    want.foreach { case (g, st) =>
      val o = KllOps.finish(st)
      assert(served(g) == ((o.m, o.cut, o.n_est, o.p50_price, o.p90_price)))
    }
  }

  test("quantile state stream: live fold == batch rebuild; versions bounded; replay deterministic") {
    import graft.sources.Sinks
    import graft.streaming.Streams
    import graft.streaming.Streams.Event
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2025-01-01 10:${m % 60}%02d:00")
    val h = graft.functions.PortableHash.hash60 _
    def prep(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_type"),
      h(concat_ws("#", col("user_id"), col("ts"))).as("rh"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val statePath = java.nio.file.Files.createTempDirectory("graft-kllss")
      .toString + "/s"
    val input = MemoryStream[Event]
    val q = Streams.quantileStateStream(
        prep(input.toDF()), Seq("event_type"), "rh", "cents", cap = 64,
        statePath = statePath)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-kllss-ck").toString)
      .start()
    val feeds = (0 until 3).map { b =>
      (1 to 200).map(i => Event((b * 1000 + i).toLong, ts(b),
        if (i % 2 == 0) "view" else "click", (b * 100 + i) * 0.5))
    }
    feeds.foreach { f => input.addData(f: _*); q.processAllAvailable() }
    q.stop()
    val v = Streams.latestStateVersion(spark, statePath)
    assert(v.contains(2L), s"latest version $v")
    // bounded retention: at most the latest two versions remain
    val vdirs = new java.io.File(statePath).listFiles()
      .count(_.getName.matches("v\\d+"))
    assert(vdirs <= 2, s"$vdirs version dirs retained")
    // live state == pure-Scala rebuild over everything fed
    val allRows = prep(feeds.flatten.toDF())
      .as[(String, Long, Long)].collect().toVector
    val want = allRows.groupBy(_._1).map { case (k, xs) =>
      k -> KllOps.toWire(xs.map(x => (x._2, x._3))
        .foldLeft(KllState(0, Vector.empty)) { case (st, (rh, c)) =>
          KllOps.insert(64)(st, rh, c)
        })
    }
    val got = spark.read.parquet(s"$statePath/v${v.get}")
      .as[(String, Seq[Long])].collect().toMap
    assert(got == want, "stream-folded state differs from batch rebuild")
    // at-least-once replay: refolding batch 2 from v1 is deterministic,
    // so an overwrite of v2 reproduces identical state
    val refold = Sinks.foldKllState(
      Streams.latestStateVersion(spark, statePath, below = Some(2L))
        .map(j => spark.read.parquet(s"$statePath/v$j")),
      prep(feeds(2).toDF()), Seq("event_type"), "rh", "cents", 64)
      .as[(String, Seq[Long])].collect().toMap
    assert(refold == got, "replayed fold must be byte-identical")
  }

  test("cm state stream: live counters == batch rebuild; estimates bounded; replay deterministic") {
    import graft.sources.Sinks
    import graft.streaming.Streams
    import graft.streaming.Streams.Event
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2025-01-01 11:${m % 60}%02d:00")
    // skewed item stream: item = user_id % 10, user 0's item dominates
    def prep(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_type"), (col("user_id") % 10).as("item"))
    val statePath = java.nio.file.Files.createTempDirectory("graft-cmss")
      .toString + "/s"
    val input = MemoryStream[Event]
    val q = Streams.cmStateStream(prep(input.toDF()), Seq("event_type"),
        "item", statePath, depth = 4, width = 64)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cmss-ck").toString)
      .start()
    val feeds = (0 until 3).map { b =>
      (1 to 150).map { i =>
        val u = if (i % 3 == 0) 0L else (b * 1000 + i).toLong // skew item 0
        Event(u, ts(b), if (i % 2 == 0) "view" else "click", i * 1.0)
      }
    }
    feeds.foreach { f => input.addData(f: _*); q.processAllAvailable() }
    q.stop()
    val v = Streams.latestStateVersion(spark, statePath)
    assert(v.contains(2L))
    assert(new java.io.File(statePath).listFiles()
      .count(_.getName.matches("v\\d+")) <= 2)
    // live counters == one-shot fold over everything fed (merge law)
    val allDf = prep(feeds.flatten.toDF())
    val want = Sinks.foldCmState(None, allDf, Seq("event_type"), "item", 4, 64)
      .as[(String, Int, Long, Long)].collect().toSet
    val got = spark.read.parquet(s"$statePath/v${v.get}")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(got == want, "stream-folded counters differ from batch rebuild")
    // estimates: never under the exact count, and a never-seen item
    // reads 0 unless its buckets collide (left join + coalesce path)
    val exact = allDf.groupBy("event_type", "item").count()
      .as[(String, Long, Long)].collect()
      .map { case (k, i, n) => (k, i) -> n }.toMap
    val probes = (exact.keys.toSeq :+ (("view", 99L))).toDF("event_type", "item")
    val est = Sinks.cmStateEstimate(
      spark.read.parquet(s"$statePath/v${v.get}"), probes,
      Seq("event_type"), "item", 4, 64)
      .as[(String, Long, Long)].collect()
      .map { case (k, i, n) => (k, i) -> n }.toMap
    exact.foreach { case (ki, n) =>
      assert(est(ki) >= n, s"CM under-counted $ki: ${est(ki)} < $n")
    }
    // replay determinism: refold batch 2 from v1 reproduces v2 exactly
    val refold = Sinks.foldCmState(
      Streams.latestStateVersion(spark, statePath, below = Some(2L))
        .map(j => spark.read.parquet(s"$statePath/v$j")),
      prep(feeds(2).toDF()), Seq("event_type"), "item", 4, 64)
      .as[(String, Int, Long, Long)].collect().toSet
    assert(refold == got)
  }

  test("cm frequency sketch: never under-counts, epsilon-tight on heavy keys") {
    val rs = Relational3.sketchCmFreq(sf).collect()
    assert(rs.length == 15, s"5 regions x top-3 probes, got ${rs.length}")
    // region row totals for the epsilon bound: overcount per depth is at
    // most the colliding mass, ~n/W expected; min over D depths on
    // deterministic data stays within a few multiples
    val regionN = sf.orders
      .join(sf.customer, col("o_custkey") === col("c_custkey"))
      .join(sf.nation, col("c_nationkey") === col("n_nationkey"))
      .join(sf.region, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").count().as[(String, Long)].collect().toMap
    rs.foreach { r =>
      val region = r.getAs[String]("r_name")
      val exact = r.getAs[Long]("n_exact")
      val est = r.getAs[Long]("n_cm")
      assert(est >= exact, s"CM under-counted $region/${r.get(2)}: $est < $exact")
      val bound = exact + 8L * regionN(region) / 256 + 3
      assert(est <= bound, s"CM estimate $est above bound $bound for $region")
    }
    // ranks are 1..3 per region with the deterministic tie-break
    assert(rs.groupBy(_.getAs[String]("r_name"))
      .forall(_._2.map(_.getAs[Int]("rank")).sorted.sameElements(Seq(1, 2, 3))))
  }

  test("q_sketch_quantiles: one row per region, sane sketch columns") {
    val df = Relational3.sketchQuantiles(sf)
    val rs = df.collect()
    assert(rs.length == 5)
    rs.foreach { r =>
      val m = r.getAs[Long]("m")
      val cut = r.getAs[Int]("cut")
      val nEst = r.getAs[Long]("n_est")
      assert(m > 0 && m <= 512)
      assert(nEst == (m << cut))
      assert(r.getAs[Double]("p50_price") > 0)
      assert(r.getAs[Double]("p90_price") >= r.getAs[Double]("p50_price"))
    }
  }
}
