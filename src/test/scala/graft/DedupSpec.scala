package graft

import java.nio.file.Files

import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Tables view over a temp dir holding a synthetic documents table with
    * planted duplicates.
    */
  private lazy val planted: Tables = {
    val dir = Files.createTempDirectory("graft-dedup").toString
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow") // one-token edit: high jaccard
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src1", base.length.toLong),              // exact dup of 0
      (2L, near, "en", "src2", near.length.toLong),              // near dup of 0/1
      (3L, "completely different content about spark engines and shuffles here", "en", "src3", 60L),
      (4L, "unrelated short text", "en", "src4", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables(spark, dir)
  }

  test("exact dedup groups identical texts under the lowest doc_id") {
    val rows = Dedup.exact(planted).collect()
    val byKeep = rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byKeep(0L) == 2L) // docs 0 and 1 collapse
    assert(rows.map(_.getLong(2)).sum == 5L)
  }

  test("minhash LSH finds the planted near-duplicate pair") {
    val pairs = Dedup.minhashLsh(planted).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))) // b_id sorted select order: a_id,b_id,jaccard
    val ids = Dedup.minhashLsh(planted).select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(ids.contains((0L, 1L))) // exact dup must be found
    assert(ids.contains((0L, 2L)) && ids.contains((1L, 2L)), s"near dup missing: $ids")
    assert(pairs.forall(_._3 >= 0.6))
  }

  test("minhash LSH output equals brute-force ngram jaccard at the same threshold") {
    // brute force over all pairs (no blocking): the oracle the driver runs
    val brute = {
      val g = graft.functions.Shingles.gramsOf(planted.documents)
      val a = g.select($"doc_id".as("a_id"), $"grams".as("ga"))
      val b = g.select($"doc_id".as("b_id"), $"grams".as("gb"))
      a.join(b, $"a_id" < $"b_id")
        .select($"a_id", $"b_id",
          graft.functions.Shingles.jaccard($"ga", $"gb").as("j"))
        .where($"j" >= 0.6)
        .as[(Long, Long, Double)].collect().toSet
    }
    val lsh = Dedup.minhashLsh(planted).as[(Long, Long, Double)].collect().toSet
    assert(lsh == brute)
  }

  test("simhash flags exact and near duplicates within hamming 3") {
    val ids = Dedup.simhash(planted).select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(ids.contains((0L, 1L)))
  }

  test("embedding cosine pair scan is symmetric-free and thresholded") {
    val rows = Dedup.embeddingCosine(sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("embedding cosine plans as a shuffle equi-join, not a nested loop or cartesian") {
    val plan = Dedup.embeddingCosine(sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("edit distance plans as a length-band equi-join, not a nested loop") {
    val plan = Dedup.editDistance(sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("edit distance finds pairs at the band edge (len diff 3, dist 3)") {
    val dir = Files.createTempDirectory("graft-editdist").toString
    val parts = Seq("abc", "abcxyz", "zzzz").zipWithIndex
      .map { case (n, i) => (i.toLong, n) }.toDF("p_partkey", "p_name")
    parts.write.mode("overwrite").parquet(s"$dir/part.parquet")
    val pairs = Dedup.editDistance(Tables(spark, dir))
      .as[(String, String, Int)].collect().toSet
    assert(pairs.contains(("abc", "abcxyz", 3)), s"band-edge pair missing: $pairs")
  }

  test("containment and ngram jaccard plan without nested loops or cartesians") {
    Seq(Dedup.containment(sf), Dedup.ngramJaccard(sf)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("prefix-filtered ngram jaccard equals unblocked brute force") {
    val brute = {
      val g = graft.functions.Shingles.gramsOf(planted.documents)
      val a = g.select($"doc_id".as("a_id"), $"grams".as("ga"))
      val b = g.select($"doc_id".as("b_id"), $"grams".as("gb"))
      a.join(b, $"a_id" < $"b_id")
        .select($"a_id", $"b_id",
          graft.functions.Shingles.jaccard($"ga", $"gb").as("j"))
        .where($"j" >= 0.6)
        .as[(Long, Long, Double)].collect().toSet
    }
    val blocked = Dedup.ngramJaccard(planted).as[(Long, Long, Double)].collect().toSet
    assert(blocked == brute)
  }

  test("embedding LSH pairs are an exact-scored subset of the exact pair scan") {
    val exact = Dedup.embeddingCosine(sf).as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val approx = Dedup.embeddingLsh(sf).as[(Long, Long, Double)].collect()
    assert(approx.nonEmpty)
    approx.foreach { case (a, b, c) =>
      assert(exact.get((a, b)).contains(c), s"($a,$b) not in exact set or score drifted")
    }
  }

  test("containment finds subset docs that symmetric jaccard under-scores") {
    val dir = Files.createTempDirectory("graft-contain").toString
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")       // 38 grams
    val short = (1 to 12).map(i => s"tok$i").mkString(" ")      // 10 grams, all in long
    val docs = Seq(
      (0L, long, "en", "s0", long.length.toLong),
      (1L, short, "en", "s1", short.length.toLong),
      (2L, "totally unrelated words here now", "en", "s2", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    val pairs = Dedup.containment(t)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((1L, 0L)), s"short-in-long containment missing: $pairs")
    assert(pairs((1L, 0L)) == 1.0)
    assert(!pairs.contains((0L, 1L))) // long doc is NOT contained in the short one
    // symmetric jaccard on the same pair (10 shared / 38 union) is far
    // below the 0.8 bar — this is exactly the case containment exists for
    assert(10.0 / 38.0 < 0.8)
  }

  test("pq encoding emits in-range codes with reduced quantization error") {
    val rows = graft.operators.Embeddings.pqEncode(sf).collect()
    assert(rows.length == sf.embeddings.count())
    rows.foreach { r =>
      val codes = r.getString(1).split(",").map(_.toInt)
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
      assert(r.getDouble(2) >= -1e-9) // mse non-negative (fp noise tolerated)
    }
    val again = graft.operators.Embeddings.pqEncode(sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("dim stats profile matches per-dimension extremes and plausible moments") {
    val vecs = sf.embeddings
      .selectExpr("cast(embedding as array<double>) v").collect()
      .map(_.getSeq[Double](0))
    val rows = graft.operators.Embeddings.dimStats(sf).collect()
    assert(rows.length == vecs.head.length)
    rows.foreach { r =>
      val (pos, n) = (r.getInt(0), r.getLong(1))
      val xs = vecs.map(_(pos))
      assert(n == vecs.length.toLong)
      assert(r.getDouble(4) == xs.min && r.getDouble(5) == xs.max)
      val mean = xs.sum / xs.length
      assert(math.abs(r.getDouble(2) - mean) < 1e-9, s"mean at dim $pos")
      assert(r.getDouble(3) > 0, "no dead dimension in this corpus")
      assert(r.getDouble(2) >= r.getDouble(4) && r.getDouble(2) <= r.getDouble(5))
    }
  }

  test("pq ADC search ranks by informative compressed distances") {
    val got = graft.operators.Embeddings.pqAdcTopK(sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.length == 10)
    assert(!got.map(_._1).contains(0L), "the query must not match itself")
    val dists = got.map(_._2).toSeq
    assert(dists == dists.sorted, "ADC distances must be ascending")
    assert(dists.forall(_ >= -1e-9))
    // the compressed index is INFORMATIVE: the exact distances of its
    // top-10 beat the corpus mean by a wide margin (codes carry signal;
    // a random pick would sit at the mean)
    val vecs = sf.embeddings
      .selectExpr("vec_id", "cast(embedding as array<double>) v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val q = vecs(0L)
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = vecs.collect { case (id, v) if id != 0L => id -> l2(q, v) }
    val corpusMean = exact.map(_._2).sum / exact.size
    val pickedMean = got.map(p => exact.toMap.apply(p._1)).sum / got.length
    // (sf0.001's 150 near-random vectors leave little neighbor structure;
    // strictly-below-mean is the honest deterministic bound here)
    assert(pickedMean < corpusMean,
      s"ADC top-10 exact-dist mean $pickedMean vs corpus mean $corpusMean")
    // deterministic across runs (driver-trained codebook is seeded)
    val again = graft.operators.Embeddings.pqAdcTopK(sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.sameElements(again))
  }

  test("label propagation reaches the fixpoint on a diameter-4 chain (both paths)") {
    // chain 10-11-12-13-14: a fixed 3-round propagation would leave the
    // tail labelled wrong; both execution paths must collapse all to 10
    val nodes = Seq(10L, 11L, 12L, 13L, 14L, 99L).toDF("id")
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
      .toDF("a_id", "b_id")
    // driver union-find path (default threshold) AND distributed rounds
    // (threshold forced to 0) must agree exactly
    Seq(1000000L, 0L).foreach { limit =>
      val labels = Dedup.propagateLabels(nodes, pairs, driverEdgeLimit = limit)
        .as[(Long, Long)].collect().toMap
      assert(Seq(10L, 11L, 12L, 13L, 14L).forall(labels(_) == 10L),
        s"limit=$limit: $labels")
      assert(labels(99L) == 99L, s"limit=$limit")
    }
    // two distributed rounds leave the chain's tail unlabelled: the
    // round cap fails loudly instead of returning partial labels
    val e = intercept[IllegalArgumentException](
      Dedup.propagateLabels(nodes, pairs, maxRounds = 2, driverEdgeLimit = 0L))
    assert(e.getMessage.contains("propagateLabels did not converge after 2 rounds"),
      e.getMessage)
  }

  test("pair overlap of empty or disjoint pair sets is one row with no shared pair") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val x = Seq((1L, 2L), (1L, 3L)).toDF("a_id", "b_id")
    val y = Seq((2L, 3L)).toDF("a_id", "b_id")
    Seq((empty, empty, (0L, 0L, 0L)), (x, y, (2L, 1L, 0L))).foreach { case (a, b, want) =>
      val rows = Dedup.pairOverlap(a, b).as[(Long, Long, Long)].collect()
      assert(rows.toSeq == Seq(want))
    }
  }

  test("ann brute-force topk returns 10 ordered neighbours") {
    val rows = Similarity.bruteForceTopK(sf).collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    assert(!rows.map(_.getLong(0)).contains(0L))
  }

  test("ann LSH candidates are a subset reranked exactly") {
    val lsh = Similarity.lshTopK(sf).collect()
    assert(lsh.nonEmpty && lsh.length <= 10)
    val brute = Similarity.bruteForceTopK(sf).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every LSH result's score must equal the exact cosine (rerank is exact)
    lsh.foreach { r =>
      brute.get(r.getLong(0)).foreach(s => assert(s == r.getDouble(1)))
    }
  }

  test("ann IVF probes nearest cells and returns exact-reranked topk") {
    val rows = Similarity.ivfTopK(sf).collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
  }

  test("kmeans clusters every vector with consistent sizes and nearest-cell distances") {
    val rows = Similarity.kmeansClusters(sf).collect()
    assert(rows.length == sf.embeddings.count())
    // cluster_size bookkeeping is self-consistent
    val byCell = rows.groupBy(_.getInt(1))
    rows.foreach(r => assert(r.getLong(3) == byCell(r.getInt(1)).length))
    // squared distances are non-negative (up to fp slack) and the
    // assignment is deterministic across runs
    rows.foreach(r => assert(r.getDouble(2) > -1e-9))
    val again = Similarity.kmeansClusters(sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
    // more than one cluster is actually populated
    assert(byCell.size > 1)
  }

  test("leakproof split: clusters never straddle the split, near-dup pairs co-located") {
    val rows = Dedup.leakproofSplit(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == sf.documents.count())
    // one split per cluster
    rows.groupBy(_._2).foreach { case (c, ds) =>
      assert(ds.map(_._3).distinct.length == 1, s"cluster $c straddles")
    }
    // every verified near-dup pair lands on the same side
    val side = rows.map(r => r._1 -> r._3).toMap
    Dedup.ngramJaccard(sf).collect().foreach { p =>
      assert(side(p.getLong(0)) == side(p.getLong(1)),
        s"near-dup pair ${p.getLong(0)},${p.getLong(1)} split apart")
    }
    // both sides populated, train is the large side
    val n = rows.length.toDouble
    val train = rows.count(_._3 == "train")
    assert(train > 0 && train < rows.length)
    assert(train / n > 0.5, s"train share ${train / n}")
  }

  test("minhash audit covers every verified pair with a sane small-sketch estimate") {
    val pairs = Dedup.ngramJaccard(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rows = Dedup.minhashAudit(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // audit rows ≡ verified near-dup pairs, exact jaccard carried over
    assert(rows.keySet == pairs.keySet)
    rows.foreach { case (k, (j, m, est, err)) =>
      assert(math.abs(j - pairs(k)) < 1e-12, s"pair $k jaccard")
      assert(m >= 0 && m <= 16, s"pair $k matches")
      assert(math.abs(est - m / 16.0) < 1e-12, s"pair $k est")
      assert(math.abs(err - math.abs(est - j)) < 1e-12, s"pair $k err")
    }
    // on true near-dups (J ≥ 0.6) the 16-component estimator should be
    // informative: mean estimate comfortably above the corpus noise floor
    val ests = rows.values.map(_._3)
    assert(ests.sum / ests.size > 0.4, s"mean est ${ests.sum / ests.size}")
  }
}
