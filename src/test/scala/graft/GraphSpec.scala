package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {

  private val Mass = 1000000000000000L

  /** In-memory replay of the exact integer PageRank the operator runs. */
  private def replay(): Map[Long, Long] = {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val baskets = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val pairSupport = baskets.values.toSeq
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size)
    val canonical = pairSupport.filter(_._2 >= 2).keys.toSet
    val edges = canonical ++ canonical.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val share = Mass / deg.size
    val tele = 15L * share / 100L
    var rank = deg.keys.map(_ -> share).toMap
    for (_ <- 1 to 5) {
      val contrib = rank.map { case (u, r) => u -> r / deg(u) }
      val inbox = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (u, v) => inbox(v) += contrib(u) }
      rank = inbox.map { case (v, s) => v -> (tele + 85L * s / 100L) }.toMap
    }
    rank
  }

  test("pagerank matches the exact integer replay node-for-node") {
    val got = Graph.pageRank(sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == replay())
  }

  test("pagerank conserves mass up to truncation and orders by rank") {
    val rows = Graph.pageRank(sf).collect()
    val total = rows.map(_.getLong(1)).sum
    // each contrib/tele division truncates < 1 femto; with 5 supersteps
    // the loss is microscopic against the 10^15 mass
    assert(total <= Mass && total > (Mass * 95) / 100)
    val ranks = rows.map(r => (r.getLong(1), r.getLong(0)))
    assert(ranks.sameElements(ranks.sortBy { case (r, p) => (-r, p) }))
    rows.foreach { r =>
      assert(r.getDouble(2) == r.getLong(1).toDouble / 1e15)
      assert(r.getLong(1) > 0)
    }
  }

  test("pagerank is deterministic across runs") {
    val a = Graph.pageRank(sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Graph.pageRank(sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
  }

  test("triangle counts and clustering coefficients match an in-memory replay") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val baskets = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val canonical = baskets.values.toSeq
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2).keys.toSet
    val adj = (canonical ++ canonical.map { case (a, b) => (b, a) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triPerNode = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, b) <- canonical; c <- adj(a) if c > b && adj(b).contains(c)) {
      triPerNode(a) += 1; triPerNode(b) += 1; triPerNode(c) += 1
    }
    val rows = Graph.triangles(sf).collect()
    assert(rows.map(_.getLong(0)).toSet == adj.keySet)
    rows.foreach { r =>
      val (n, d, t, cc) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d == adj(n).size.toLong)
      assert(t == triPerNode(n), s"node $n")
      val expCc = if (d >= 2) (2.0 * t) / (d * (d - 1)) else 0.0
      assert(cc == expCc)
    }
    assert(rows.map(_.getLong(2)).sum % 3 == 0) // each triangle counted thrice
    assert(rows.exists(_.getLong(2) > 0))
  }

  test("recommendations are the jaccard top-3 per part, cut by the heap plan") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val np = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val support = items.groupBy(_._1).values.toSeq
      .flatMap(es => { val ps = es.map(_._2).toSet
        for (a <- ps; b <- ps if a < b) yield (a, b) })
      .groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2)
    val sym = support.toSeq.flatMap { case ((a, b), s) => Seq((a, b, s), (b, a, s)) }
    val expected = sym
      .map { case (p, r, sup) => (p, r, sup.toDouble / (np(p) + np(r) - sup)) }
      .groupBy(_._1).view
      .mapValues(_.sortBy { case (_, r, j) => (-j, r) }.take(3).map(x => (x._2, x._3)))
      .toMap
    val got = Graph.recommend(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (p, recs) => assert(recs == expected(p), s"part $p") }
    // the per-part cut runs on the custom heap plan, not a window sort
    val plan = Graph.recommend(sf).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"))
    assert(!plan.contains("Window"))
  }

  test("components labels a known multi-component graph with min ids and sizes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-comp").toString
    // support-2 edges: {1,2} (orders 10,11), {3,4} (orders 12,13),
    // {4,5} (orders 13,14 — chains 3-4-5 into one component);
    // (2,3) co-occur only once (order 15) → NO edge; part 6 isolated
    Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 3L), (12L, 4L), (13L, 3L), (13L, 4L),
      (13L, 5L), (14L, 4L), (14L, 5L),
      (15L, 2L), (15L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (1L to 6L).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = Graph.components(Tables(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 1L, 2L), (2L, 1L, 2L),
      (3L, 3L, 3L), (4L, 3L, 3L), (5L, 3L, 3L),
      (6L, 6L, 1L)))
  }

  test("bfs hops: known chain graph gets exact distances; off-component parts absent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bfs").toString
    // support-2 chain 1-2-3-4 (src=1 → hops 0,1,2,3); isolated pair 8-9
    // is a separate component — absent from the result (unreachable)
    def order(o: Long, parts: Long*) = parts.map(p => (o, p))
    (order(10, 1, 2) ++ order(11, 1, 2) ++ order(12, 2, 3) ++ order(13, 2, 3) ++
      order(14, 3, 4) ++ order(15, 3, 4) ++ order(16, 8, 9) ++ order(17, 8, 9))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Graph.bfsHops(Tables(spark, dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L), s"got $got")
  }

  test("bfs hops on the sf graph matches an in-memory BFS replay") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = items.groupBy(_._1).values.toSeq
      .flatMap(es => { val ps = es.map(_._2).toSet
        for (a <- ps; b <- ps if a < b) yield (a, b) })
      .groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2).keys.toSeq
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val src = adj.keys.min
    val distExp = scala.collection.mutable.Map(src -> 0L)
    var frontier = Seq(src)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(n => adj(n).filterNot(distExp.contains)
        .map { m => distExp(m) = distExp(n) + 1; m }).distinct
    }
    val got = Graph.bfsHops(sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == distExp.toMap)
  }

  /** In-memory replay of the sampled-Brandes integer-micro recipe
    * (4 smallest sources, depth 6, term = (σ_v·(10⁶+δ_w)) div σ_w).
    */
  private def bcReplay(adj: Map[Long, Seq[Long]]): Map[Long, Long] = {
    val bc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val srcs = adj.keys.toSeq.sorted.take(4)
    for (s <- srcs) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Seq(s)
      for (d <- 1 to 6) {
        val nxt = scala.collection.mutable.Map.empty[Long, Long]
        for (v <- frontier; w <- adj.getOrElse(v, Nil) if !dist.contains(w))
          nxt(w) = nxt.getOrElse(w, 0L) + sigma(v)
        for ((w, sg) <- nxt) { dist(w) = d; sigma(w) = sg }
        frontier = nxt.keys.toSeq
      }
      val delta = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (d <- 5 to 0 by -1; v <- dist.keys.toSeq.sorted if dist(v) == d) {
        var acc = 0L
        for (w <- adj.getOrElse(v, Nil) if dist.get(w).contains(d + 1))
          acc += sigma(v) * (1000000L + delta(w)) / sigma(w)
        delta(v) = acc
        if (d > 0) bc(v) += acc
      }
    }
    bc.toMap
  }

  test("betweenness: path-graph bridge scores match the integer replay, center on top") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bc").toString
    // support-2 path 1-2-3-4-5: node 3 carries the most shortest paths
    def order(o: Long, parts: Long*) = parts.map(p => (o, p))
    ((10L to 11L).flatMap(order(_, 1, 2)) ++ (12L to 13L).flatMap(order(_, 2, 3)) ++
      (14L to 15L).flatMap(order(_, 3, 4)) ++ (16L to 17L).flatMap(order(_, 4, 5)))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Graph.betweenness(Tables(spark, dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L, 4L),
      4L -> Seq(3L, 5L), 5L -> Seq(4L))
    assert(got == bcReplay(adj), s"got $got expected ${bcReplay(adj)}")
    assert(got.maxBy(_._2)._1 == 3L, s"center must rank first: $got")
  }

  test("betweenness: triangle + 4-cycle + second component match the replay, with an early drain") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bc-mixed").toString
    // sources are the 4 smallest ids {1,2,3,4}. Component one: triangle
    // 1-2-5 (a neighbour at the same level and one at level r-2 must both
    // be excluded) hung on the 4-cycle 5-6-8-7 (node 8 has two shortest-
    // path predecessors, so σ = 2 from sources 1, 2). Component two: the
    // path 3-4-9 holds the other two sources and drains after 2 levels;
    // every BFS drains by level 4, well inside the depth-6 horizon.
    val edgeList = Seq(1L -> 2L, 1L -> 5L, 2L -> 5L, 5L -> 6L, 6L -> 8L, 8L -> 7L,
      7L -> 5L, 3L -> 4L, 4L -> 9L)
    edgeList.zipWithIndex
      .flatMap { case ((a, b), i) => Seq(2L * i, 2L * i + 1).flatMap(o => Seq((o, a), (o, b))) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Graph.betweenness(Tables(spark, dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = (edgeList ++ edgeList.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val exp = bcReplay(adj)
    assert(got == exp, s"got $got expected $exp")
    // 5 bridges the triangle to the cycle; 4 is the middle of the path;
    // 8 is scored (zero) although it is only ever a leaf of the BFS trees
    assert(got(5L) > got(6L) && got(4L) > 0L && got(8L) == 0L, s"$got")
  }

  test("betweenness on the sf graph matches the in-memory Brandes replay") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = items.groupBy(_._1).values.toSeq
      .flatMap(es => { val ps = es.map(_._2).toSet
        for (a <- ps; b <- ps if a < b) yield (a, b) })
      .groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2).keys.toSeq
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val exp = bcReplay(adj).toSeq
      .sortBy { case (id, bc) => (-bc, id) }.take(100)
    val got = Graph.betweenness(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == exp, s"first diff: ${got.zip(exp).find(p => p._1 != p._2)}")
    // scores really separate on this corpus
    assert(got.exists(_._2 > 0L))
  }

  test("personal pagerank on the sf graph matches an in-memory integer replay") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = items.groupBy(_._1).values.toSeq
      .flatMap(es => { val ps = es.map(_._2).toSet
        for (a <- ps; b <- ps if a < b) yield (a, b) })
      .groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2).keys.toSeq
    val edges = pairs ++ pairs.map(_.swap)
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    // teleport: the customer with the most distinct graph-node parts,
    // ties to the smallest custkey
    val custOf = sf.orders.select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cparts = items.flatMap { case (o, p) => custOf.get(o).map(_ -> p) }
      .filter(cp => deg.contains(cp._2)).distinct.groupBy(_._1)
    val pick = cparts.keys.minBy(c => (-cparts(c).length, c))
    val tele = cparts(pick).map(_._2).toSet
    val tm = deg.keys.map(n => n -> (if (tele(n)) Mass / tele.size else 0L)).toMap
    var rank = tm
    for (_ <- 1 to 5) {
      val inbox = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (u, v) => inbox(v) += rank(u) / deg(u) }
      rank = inbox.map { case (v, s) => v -> (15L * tm(v) / 100L + 85L * s / 100L) }.toMap
    }
    val exp = rank.toSeq.map { case (n, r) => (n, if (tm(n) > 0) 1L else 0L, r) }
      .sortBy { case (n, _, r) => (-r, n) }
    val got = Graph.personalPageRank(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp, s"first diff: ${got.zip(exp).find(p => p._1 != p._2)}")
    assert(tele.nonEmpty && got.exists(_._3 > 0L))
  }

  test("components on the sf graph matches a union-find replay over the mined pairs") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = items.groupBy(_._1).values.toSeq
      .flatMap(es => { val ps = es.map(_._2).toSet
        for (a <- ps; b <- ps if a < b) yield (a, b) })
      .groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2).keys.toSeq
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(a: Long): Long = {
      var r = a; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val allParts = sf.part.select("p_partkey").collect().map(_.getLong(0))
    val expLbl = allParts.map(p => p -> find(p)).toMap
    val expSize = expLbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graph.components(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == allParts.length)
    got.foreach { case (p, c, s) =>
      assert(c == expLbl(p), s"part $p label")
      assert(s == expSize(expLbl(p)), s"part $p size")
    }
  }

  test("label propagation splits two triangles joined by a bridge (components would not)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lpa").toString
    // support-2 edges: triangle {1,2,3}, triangle {4,5,6}, bridge 3-4;
    // part 7 isolated. One connected component — but LPA's plurality
    // rule keeps the two dense triangles as separate communities.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((100L + 2 * i, a), (100L + 2 * i, b),
        (101L + 2 * i, a), (101L + 2 * i, b))
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (1L to 7L).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = Graph.labelPropagation(Tables(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // hand-run 3 synchronous rounds (plurality, ties -> min):
    // r1: 1->2 2->1 3->1 4->3 5->4 6->4
    // r2: 1->1 2->1 3->1 4->4 5->3 6->3
    // r3: 1->1 2->1 3->1 4->3 5->3 6->3
    assert(got == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 3L, 3L), (5L, 3L, 3L), (6L, 3L, 3L),
      (7L, 7L, 1L)), s"got ${got.toList}")
    // sanity: components welds the bridge into ONE 6-node island
    val comp = Graph.components(Tables(spark, dir)).collect()
      .map(r => r.getLong(1)).distinct.sorted
    assert(comp.toSeq == Seq(1L, 7L))
  }

  /** A lineitem table in which each pair is bought together in two
    * orders (support 2) and nothing else is, so the mined graph is
    * exactly `pairs`.
    */
  private def supportTwoGraph(pairs: Seq[(Long, Long)]): Tables = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-graph").toString
    pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((100L + 2 * i, a), (100L + 2 * i, b),
        (101L + 2 * i, a), (101L + 2 * i, b))
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Tables(spark, dir)
  }

  /** A support-2 path 1-2-…-n. */
  private def path(n: Long): Tables = supportTwoGraph((1L until n).map(i => (i, i + 1)))

  test("kcore peels chains and keeps the interlocked cluster") {
    // triangle {1,2,3} (every node degree 2) + a pendant chain 3-4-5:
    // peeling at k=2 drops 5 (deg 1), then 4 — triangle survives intact
    val t = supportTwoGraph(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val got = Graph.kcore(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 2L)), s"got $got")
  }

  test("kcore fails loud when peeling needs more rounds than its backstop") {
    // a 30-part path loses its two end parts per round: 15 peel rounds,
    // past KcoreMaxRounds = 12
    val e = intercept[IllegalArgumentException](Graph.kcore(path(30)))
    assert(e.getMessage.contains("kcore did not converge in 12 rounds"), e.getMessage)
  }

  test("bfs hops stops at its round cap, exactly where the oracle's walk stops") {
    // from part 1 along a 35-part path, BfsMaxRounds = 30 rounds reach
    // parts 1..31; the oracle's walk stops at w.d < 30 the same way
    val got = Graph.bfsHops(path(35)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == (0L to 30L).map(h => (h + 1) -> h), s"got $got")
  }

  test("bfs hops, kcore, ktruss, betweenness and personal pagerank return no rows when no pair reaches the edge support") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-graph").toString
    // every pair is bought together in one order only: no mined edge
    Seq((10L, 1L), (10L, 2L), (11L, 2L), (11L, 3L), (12L, 1L), (12L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // personalised PageRank's teleport pick reads the orders too
    Seq((10L, 100L), (11L, 100L), (12L, 101L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val t = Tables(spark, dir)
    Seq(
      Graph.bfsHops(t) -> Seq("p_partkey", "hops"),
      Graph.kcore(t) -> Seq("p_partkey", "core_degree"),
      Graph.ktruss(t) -> Seq("a_part", "b_part", "truss_support"),
      Graph.betweenness(t) -> Seq("p_partkey", "bc_micros", "bc"),
      Graph.personalPageRank(t) -> Seq("p_partkey", "in_teleport", "rank_femto", "rank"))
      .foreach { case (df, cols) =>
        assert(df.columns.toSeq == cols)
        assert(df.collect().isEmpty, cols.mkString(","))
      }
  }

  test("kcore on the sf graph matches an in-memory peeling replay") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val baskets = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val pairSupport = baskets.values.toSeq
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size)
    val und = pairSupport.filter(_._2 >= 2).keys.toSet
    val edges = und ++ und.map { case (a, b) => (b, a) }
    var members = edges.map(_._1)
    var done = false
    while (!done) {
      val deg = edges.toSeq
        .filter(e => members(e._1) && members(e._2))
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val next = members.filter(m => deg.getOrElse(m, 0L) >= 2L)
      done = next == members
      members = next
    }
    val finalDeg = edges.toSeq
      .filter(e => members(e._1) && members(e._2))
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = Graph.kcore(sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == finalDeg, s"sizes: got ${got.size} exp ${finalDeg.size}")
  }

  test("label propagation on the sf graph matches a 3-round in-memory replay") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val baskets = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val pairSupport = baskets.values.toSeq
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size)
    val und = pairSupport.filter(_._2 >= 2).keys.toSet
    val edges = und ++ und.map { case (a, b) => (b, a) }
    val allParts = sf.part.select("p_partkey").collect().map(_.getLong(0))
    var lbl = allParts.map(p => p -> p).toMap
    for (_ <- 1 to 3) {
      val votes = edges.toSeq.groupBy(_._1).view.mapValues(
        _.map(e => lbl(e._2)).groupBy(identity).view.mapValues(_.size))
      val next = votes.map { case (u, cs) =>
        u -> cs.toSeq.minBy { case (cand, c) => (-c, cand) }._1
      }.toMap
      lbl = allParts.map(p => p -> next.getOrElse(p, p)).toMap
    }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graph.labelPropagation(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == allParts.length)
    got.foreach { case (p, c, s) =>
      assert(c == lbl(p), s"part $p community")
      assert(s == sizes(lbl(p)), s"part $p community size")
    }
  }

  test("closeness matches a multi-source BFS replay from the mined edges") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val baskets = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val und = baskets.values.toSeq
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= 2).keys.toSet
    val adj = (und ++ und.map { case (a, b) => (b, a) }).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = adj.toSeq.map { case (u, ns) => (u, ns.size) }
      .sortBy { case (u, d) => (-d, u) }.take(8).map(_._1)
    def bfsHops(src: Long): Map[Long, Long] = {
      var dist = Map(src -> 0L)
      var frontier = Set(src)
      var d = 0L
      while (d < 6 && frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .filterNot(dist.contains)
        dist ++= next.map(_ -> d)
        frontier = next
      }
      dist
    }
    val expect = seeds.map { s =>
      val hops = bfsHops(s).filter(_._2 > 0)
      s -> ((hops.size.toLong, hops.values.map(1000L / _).sum))
    }.toMap
    val got = Graph.closeness(sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
    // output ranked by harmonic centrality
    val ranked = Graph.closeness(sf).collect().map(_.getLong(2))
    assert(ranked.sameElements(ranked.sortBy(-_)))
  }

  test("modularity matches an exact integer replay over the LPA partition") {
    val row = Graph.modularity(sf).collect().head
    val (nComm, mEdges, q) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    // rebuild edges + LPA labels from the operator itself (labels are
    // already spec'd against an in-memory replay above)
    val labels = Graph.labelPropagation(sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val und = items.groupBy(_._1).values
      .flatMap { g =>
        val ps = g.map(_._2).toSet
        for (a <- ps; b <- ps if a < b) yield (a, b)
      }
      .toSeq.groupBy(x => x).view.mapValues(_.size).filter(_._2 >= 2).keys.toSet
    val directed = (und ++ und.map { case (a, b) => (b, a) }).toSeq
      .filter { case (u, v) => labels.contains(u) && labels.contains(v) }
    val m2 = directed.size.toLong
    assert(mEdges == m2 / 2)
    val byComm = directed.groupBy(e => labels(e._1))
    assert(nComm == byComm.size.toLong)
    val numSum = byComm.values.map { es =>
      val eIn = es.count(e => labels(e._1) == labels(e._2)).toLong
      val dc = es.size.toLong
      BigInt(eIn) * m2 - BigInt(dc) * dc
    }.sum
    val expQ = (if (numSum < 0) -1.0 else 1.0) *
      (numSum.abs.toDouble) / (m2.toDouble * m2.toDouble)
    assert(math.abs(q - expQ) < 1e-12, s"$q vs $expQ")
    // a community partition of a clustered co-purchase graph beats random
    assert(q > 0.0)
  }

  test("assortativity matches an exact degree-correlation replay") {
    val row = Graph.assortativity(sf).collect().head
    val (n, r) = (row.getLong(0), row.getDouble(1))
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(rr => (rr.getLong(0), rr.getLong(1))).distinct
    val und = items.groupBy(_._1).values
      .flatMap { g =>
        val ps = g.map(_._2).toSet
        for (a <- ps; b <- ps if a < b) yield (a, b)
      }
      .toSeq.groupBy(x => x).view.mapValues(_.size).filter(_._2 >= 2).keys.toSet
    val directed = (und ++ und.map { case (a, b) => (b, a) }).toSeq
    val deg = directed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(n == directed.size.toLong)
    val xy = directed.map { case (u, v) => (deg(u), deg(v)) }
    def s(f: ((Long, Long)) => Long): BigInt = xy.map(p => BigInt(f(p))).sum
    val (sx, sy) = (s(_._1), s(_._2))
    val sxx = xy.map(p => BigInt(p._1) * p._1).sum
    val syy = xy.map(p => BigInt(p._2) * p._2).sum
    val sxy = xy.map(p => BigInt(p._1) * p._2).sum
    val nD = n.toDouble
    val expect = (nD * sxy.toDouble - sx.toDouble * sy.toDouble) /
      (math.sqrt(nD * sxx.toDouble - sx.toDouble * sx.toDouble) *
        math.sqrt(nD * syy.toDouble - sy.toDouble * sy.toDouble))
    assert(math.abs(r - expect) < 1e-12, s"$r vs $expect")
    assert(r >= -1.0 && r <= 1.0)
  }

  test("hits replays the exact femto-unit bipartite iteration") {
    val out = Graph.hits(sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // driver replay in BigInt with the same truncating normalization
    val byOrder = sf.orders.select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .flatMap(r => byOrder.get(r.getLong(0)).map(c => (c, r.getLong(1))))
      .distinct
    def norm(raw: Map[Long, BigInt]): Map[Long, BigInt] = {
      val t = raw.values.sum
      raw.view.mapValues(v => v * Mass / t).toMap
    }
    // one normalization per round (on hubs) + a final one on authorities
    // — the operator's contract
    var h = norm(edges.map(_._1).distinct.map(_ -> BigInt(1)).toMap)
    var aRaw = Map.empty[Long, BigInt]
    for (_ <- 1 to 3) {
      aRaw = edges.groupBy(_._2).view
        .mapValues(_.map(e => h(e._1)).sum).toMap
      h = norm(edges.groupBy(_._1).view
        .mapValues(_.map(e => aRaw(e._2)).sum).toMap)
    }
    val a = norm(aRaw)
    assert(out.size == a.size + h.size)
    a.foreach { case (p, s) =>
      assert(out(("authority", p)) == s.toLong, s"auth $p") }
    h.foreach { case (c, s) =>
      assert(out(("hub", c)) == s.toLong, s"hub $c") }
    // L1 mass survives modulo truncation: sum in (Mass - n, Mass]
    val aSum = a.values.sum
    assert(aSum <= Mass && aSum > Mass - a.size)
  }
  test("random walks replay the hash-argmin hops along real edges") {
    val out = Graph.randomWalks(sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    // rebuild the support-2 co-purchase edge set
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = items.groupBy(_._1).values
      .flatMap(g => { val ps = g.map(_._2).toSet
        for (a <- ps; b <- ps if a < b) yield (a, b) })
      .groupBy(identity).filter(_._2.size >= 2).keys.toSet
    val nbrs = (pairs ++ pairs.map { case (a, b) => (b, a) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    def unitHash(key: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / 1152921504606846976.0
    }
    assert(out.length == nbrs.size) // one walk per node with edges
    out.foreach { case (id, path, end) =>
      val hops = path.split("->").map(_.toLong)
      assert(hops.length == 4 && hops.head == id && hops.last == end)
      var cur = id
      for (step <- 1 to 3) {
        val next = nbrs(cur)
          .minBy(v => (unitHash(s"${id}_${step}_$v"), v))
        assert(hops(step) == next, s"walk $id step $step")
        cur = next
      }
    }
  }
  test("two hop reach replays BFS-2 neighbourhood sizes") {
    val rows = Graph.twoHopReach(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = items.groupBy(_._1).values
      .flatMap(g => { val ps = g.map(_._2).toSet
        for (a <- ps; b <- ps if a < b) yield (a, b) })
      .groupBy(identity).filter(_._2.size >= 2).keys.toSet
    val adj = (pairs ++ pairs.map { case (a, b) => (b, a) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(rows.map(_._1).toSet == adj.keySet)
    rows.foreach { case (u, n1, n2, exp) =>
      val one = adj(u)
      val two = (one ++ one.flatMap(adj(_))) - u
      assert(n1 == one.size, s"node $u 1-hop")
      assert(n2 == two.size, s"node $u 2-hop")
      assert(n2 >= n1)
      assert(math.abs(exp - n2.toDouble / n1) < 1e-12)
    }
  }

  test("ktruss peels triangle-free edges and keeps shared-edge supports") {
    // two triangles sharing edge (2,3) + a pendant edge (4,5): the
    // pendant closes no triangle and peels in round 1; every remaining
    // edge sits in ≥1 triangle; (2,3) sits in both
    val t = supportTwoGraph(
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)))
    val got = Graph.ktruss(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L),
      (2L, 4L, 1L), (3L, 4L, 1L)), s"got $got")
  }

  test("ktruss on the sf graph matches an in-memory peeling replay") {
    val items = sf.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val baskets = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val pairSupport = baskets.values.toSeq
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size)
    var cur = pairSupport.filter(_._2 >= 2).keys.toSet
    def supports(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = (es ++ es.map { case (a, b) => (b, a) })
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      es.iterator.map(e => e -> (adj(e._1) & adj(e._2)).size.toLong).toMap
    }
    var done = false
    while (!done) {
      val next = supports(cur).filter(_._2 >= 1L).keySet
      done = next == cur
      cur = next
    }
    val exp = supports(cur)
    val got = Graph.ktruss(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == exp, s"sizes: got ${got.size} exp ${exp.size}")
  }

  test("effective diameter histogram is consistent with closeness reach") {
    val rows = Graph.effectiveDiameter(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    // hops contiguous from 1, histogram sums to the cumulative column
    assert(rows.map(_._1).toSeq == (1L to rows.length).toSeq)
    var cum = 0L
    rows.foreach { case (_, n, c, f, flag) =>
      cum += n
      assert(c == cum)
      assert(math.abs(f - c.toDouble / rows.last._3) < 1e-12)
      assert(flag == (c * 10 >= rows.last._3 * 9))
    }
    // final row covers everything
    assert(math.abs(rows.last._4 - 1.0) < 1e-12 && rows.last._5)
    // total pairs equals closeness's n_reached sum (same shared BFS)
    val reach = Graph.closeness(sf).collect().map(_.getLong(1)).sum
    assert(rows.last._3 == reach)
  }
}
