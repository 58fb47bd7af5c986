package graft.operators

import graft.Tables
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Iterative graph algorithms over the mined co-purchase graph, in two
  * shapes.
  *
  * Most operators run the Pregel-shaped message-passing loop as
  * DataFrames: each superstep is one join (messages out along edges)
  * plus one aggregation (combine at the receiver), over (node, rank)
  * pairs — never the source fact table. With a FIXED superstep count
  * the whole dataflow stays lazy (one fused job, no driver actions); the
  * edge relation is pinned once per session so every superstep reads
  * the mined graph, not the mining pipeline. Loops whose round count
  * depends on the data ([[bfsHops]], [[kcore]], [[ktruss]]) run through
  * one helper, [[untilRowCountStable]]: it pins every round with a
  * localCheckpoint, which keeps lineage linear, and reads the round's
  * row count from that same action.
  *
  * [[betweenness]] and [[personalPageRank]] instead iterate INSIDE
  * tasks, over one broadcast CSR [[Adjacency]] of the mined edges
  * (bounded by [[MaxAdjacencyEdges]]): the support-mined graph is tiny
  * next to the facts, and a per-level or per-superstep Spark job costs
  * far more in scheduling than the level's work. Only their fact-scale
  * inputs (the personalised teleport pick) and their final ranking stay
  * Spark plans.
  *
  * All rank arithmetic is INTEGER femto-units (10⁻¹⁵ of total mass)
  * with truncating division — deterministic under any partitioning and
  * replayable verbatim by an external SQL engine, so an approximate-
  * looking iterative algorithm still gets a hash-exact oracle (the same
  * sound-algorithm-with-exact-replay contract the sketch and LSH
  * operators use).
  *
  * Reference scope: the reference's ETL surface has no graph step;
  * this is part of the training-data-pipeline extension surface
  * (influence-ranked corpus curation uses exactly this loop shape).
  */
object Graph {

  /** Supersteps. Fixed (not convergence-tested) so the oracle can unroll. */
  private val Iters = 5

  /** Edges need this many distinct co-purchase orders — the repeat-
    * co-purchase network (single-co-occurrence edges are noise at every
    * SF and would dominate the edge count ~300:1 at sf0.1).
    */
  private val EdgeSupport = 2

  /** Session-shared mined co-purchase pair frame (a_part, b_part) at
    * support [[EdgeSupport]] — the signal graph EVERY graph analytic
    * here derives from. §4's design note ("a production pipeline
    * materializes that signal graph once and runs every graph analytic
    * from it") applied literally via the [[graft.SessionMemo]]
    * convention: the mining pass (fact distinct + per-basket expansion
    * + support count) runs once per (session, dir), the frame pins via
    * localCheckpoint, and all ~15 graph operators join the pinned
    * blocks instead of re-scanning the fact table. Deterministic, so
    * results are unchanged.
    */
  private val minedPairsMemo = new graft.SessionMemo[DataFrame]

  /** [[graft.Training]] forcer for the mined pair graph, its doubled
    * edge form and the broadcast [[Adjacency]] built from it.
    */
  private[graft] def warmEdges(t: Tables): Unit = { adjacencyShared(t); () }

  private def minedPairsShared(t: Tables): DataFrame =
    minedPairsMemo.getOrCompute(t.spark, t.dir)(
      Relational7.basketPairsRaw(t, EdgeSupport).localCheckpoint(true))

  /** The mined pairs doubled into both edge directions (u, v) — the form
    * every traversal operator consumes, pinned once per (session, dir)
    * like [[minedPairsShared]] (it feeds per-round joins in six
    * fixpoint/level loops, so per-operator persists are replaced by one
    * shared leaf).
    */
  private val edgesMemo = new graft.SessionMemo[DataFrame]

  private def edgesShared(t: Tables): DataFrame =
    edgesMemo.getOrCompute(t.spark, t.dir)(
      minedPairsShared(t)
        .select(explode(array(
          struct(col("a_part").as("u"), col("b_part").as("v")),
          struct(col("b_part").as("u"), col("a_part").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .localCheckpoint(true))

  /** Directed edges [[adjacencyShared]] collects at most: 10⁶, about
    * 300× the mined graph at sf0.01–sf0.1 (≈ 6.9k edges). At the bound
    * the CSR arrays take about 4 MB of neighbour indices plus at most
    * 12 MB of node ids and offsets, broadcast once per session; the
    * collect itself holds up to 10⁶ + 1 two-long rows on the driver.
    */
  private[graft] val MaxAdjacencyEdges = 1000000

  /** The mined edge set as a compressed sparse row graph: node `i` has
    * id `ids(i)` (ascending) and neighbours `nbrs(offsets(i) until
    * offsets(i + 1))`, as indices into `ids`, ascending.
    */
  private[graft] final class Adjacency(val ids: Array[Long],
      val offsets: Array[Int], val nbrs: Array[Int]) extends Serializable {
    def size: Int = ids.length
    def degree(i: Int): Int = offsets(i + 1) - offsets(i)
    /** Index of node `id`, negative when it is not a node. */
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  /** [[edgesShared]] collected once per (session, dir) into an
    * [[Adjacency]] and broadcast; the memo holds the `Broadcast` itself,
    * so every consumer ships the same block. The collect reads at most
    * [[MaxAdjacencyEdges]] + 1 rows and fails, naming both, above the
    * bound.
    */
  private val adjacencyMemo = new graft.SessionMemo[Broadcast[Adjacency]]

  private def adjacencyShared(t: Tables): Broadcast[Adjacency] =
    adjacencyMemo.getOrCompute(t.spark, t.dir) {
      val rows = edgesShared(t).limit(MaxAdjacencyEdges + 1).collect()
      require(rows.length <= MaxAdjacencyEdges,
        s"adjacency bound exceeded: the mined co-purchase graph has at least ${rows.length} " +
          s"directed edges, above MaxAdjacencyEdges = $MaxAdjacencyEdges")
      val edges = rows.map(r => (r.getLong(0), r.getLong(1))).sorted
      // the edge set is symmetric, so every endpoint is a source too
      val ids = edges.map(_._1).distinct
      val offsets = new Array[Int](ids.length + 1)
      edges.foreach { case (u, _) => offsets(java.util.Arrays.binarySearch(ids, u) + 1) += 1 }
      for (i <- ids.indices) offsets(i + 1) += offsets(i)
      val nbrs = edges.map { case (_, v) => java.util.Arrays.binarySearch(ids, v) }
      t.spark.sparkContext.broadcast(new Adjacency(ids, offsets, nbrs))
    }

  /** Oracle twin of [[minedPairsShared]]: the CTEs `items` and
    * `cp(a, b)`, the canonical a < b pairs at support [[EdgeSupport]].
    * Oracles that need the support column or `MATERIALIZED` CTEs spell
    * their own form.
    */
  private val coPurchasePairsSql: String =
    s"""items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |cp AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $EdgeSupport)""".stripMargin

  /** Oracle twin of [[edgesShared]]: [[coPurchasePairsSql]] plus
    * `edges(u, v)`, the pairs doubled into both directions.
    */
  private val coPurchaseEdgesSql: String =
    s"""$coPurchasePairsSql,
       |edges AS (SELECT a AS u, b AS v FROM cp
       |          UNION ALL SELECT b AS u, a AS v FROM cp)""".stripMargin

  /** Total rank mass in femto-units: 10¹⁵ (< 2⁵³, so the final
    * femto→double division is exact in both engines).
    */
  private val Mass = 1000000000000000L

  /** PageRank (damping 0.85) over the repeat-co-purchase part network:
    * parts are nodes, an undirected edge links two parts bought
    * together in ≥ [[EdgeSupport]] distinct orders (the same mining
    * pipeline as [[Relational7.basketPairs]], shared via
    * `basketPairsRaw` — in-row basket expansion, no fact self-join).
    * Rank updates are `tele + (85·Σ contrib) div 100` in pure long
    * math, where `contrib = r div deg` and
    * `tele = (15·(Mass div N)) div 100`. `div` (not `/`) everywhere:
    * Spark's Divide on longs is DOUBLE division, and 85·Σcontrib can
    * exceed 2⁵³ — a double round-trip would corrupt low bits; `div`
    * stays in exact long math, matching DuckDB's `//`.
    *
    * The node count reaches the plan as a broadcast 1-row aggregate
    * (never a driver collect), and each node's rank row carries its
    * static degree so the per-superstep contribution is a narrow
    * projection — the only joins are messages-along-edges and the
    * degree re-attach at the receiver. The mined edge set is persisted
    * (it is the support-filtered signal graph, orders of magnitude
    * smaller than the pair space) so the five supersteps read the
    * graph, not the mining pipeline; the harness/caller owns cache
    * lifetime, as with the shared shingle projections in [[Dedup]].
    */
  def pageRank(t: Tables): DataFrame = {
    val edges = edgesShared(t)
    val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
    val nRow = deg.agg(count(lit(1)).as("n"))
    // each edge carries its RECEIVER's degree, attached once before the
    // loop — so a superstep is exactly one join + one aggregation, with
    // no post-combine degree re-attach (5 joins saved across the loop)
    val edgesD = edges
      .join(deg.select(col("u").as("dv"), col("d").as("vd")), col("v") === col("dv"))
      .select(col("u"), col("v"), col("vd"))
      // localCheckpoint, not persist: every superstep joins this frame
      // (the fixpoint-loop pin convention; a cacheManager entry would
      // run the loop over a CACHED plan and leak past the query).
      // NOT pre-partitioned: the mined signal graph is small enough that
      // every superstep join already broadcasts the rank side (r17
      // measured a repartition here as a pure regression, +0.3 s)
      .localCheckpoint(true)

    // the per-node share (Mass div N) seeds rank AND derives the teleport
    // term; it rides along as a column (`sh`) so no superstep needs the
    // node count again — one broadcast of the 1-row aggregate total,
    // instead of one per superstep
    var ranks = deg.crossJoin(broadcast(nRow))
      .select(col("u").as("node"), col("d"),
        expr(s"${Mass}L div n").as("sh"), expr(s"${Mass}L div n").as("r"))
    for (i <- 1 to Iters) {
      // per-superstep column names keep the repeated self-referencing
      // joins unambiguous (same convention as Dedup.clusters)
      val contrib = ranks.select(col("node").as(s"cu$i"), col("sh"),
        expr("r div d").as(s"c$i"))
      ranks = edgesD.join(contrib, col("u") === col(s"cu$i"))
        .groupBy(col("v"))
        // vd/sh are group-constant (receiver degree, global share);
        // first() re-attaches them deterministically
        .agg(sum(col(s"c$i")).as(s"s$i"), first(col("vd")).as("d"),
          first(col("sh")).as("sh"))
        .select(col("v").as("node"), col("d"), col("sh"),
          expr(s"(15L * sh) div 100L + (85L * s$i) div 100L").as("r"))
    }
    ranks
      .select(col("node").as("p_partkey"), col("r").as("rank_femto"),
        (col("r").cast("double") / lit(1e15)).as("rank"))
      .orderBy(col("rank_femto").desc, col("p_partkey"))
  }

  /** PERSONALIZED PageRank over the same repeat-co-purchase network —
    * the "also bought for THIS customer" recommendation surface: the
    * teleport distribution concentrates on one customer's purchased
    * parts (the customer holding the MOST distinct graph-node parts,
    * tie-broken by min custkey — a deterministic, plan-side pick), so
    * rank mass diffuses outward from their basket instead of spreading
    * uniformly. Seed = the teleport distribution itself (`Mass div |S|`
    * on teleport nodes, 0 elsewhere); update
    * `r_v = (15·tm_v) div 100 + (85·Σ r_u div d_u) div 100` in exact
    * femto-longs, replayed verbatim by the unrolled-CTE oracle.
    *
    * Scale: the teleport pick is the one fact-scale step and stays a
    * Spark plan — `orders ⋈ lineitem`, filtered to graph nodes by a
    * lookup in the broadcast [[Adjacency]], one `collect_set` per
    * customer and a TakeOrdered top-1. Its single row, that customer's
    * parts, is a subset of the nodes, so collecting it is bounded by
    * [[MaxAdjacencyEdges]]. The [[Iters]] supersteps then run in ONE
    * task over the broadcast adjacency (O(Iters·edges) long adds, with
    * overflow failing as Spark's ANSI arithmetic would), and only the
    * final ordering is a Spark sort.
    */
  def personalPageRank(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val g = adjacencyShared(t)
    val isNode = udf((p: Long) => g.value.indexOf(p) >= 0)
    val pick = t.orders.select(col("o_custkey"), col("o_orderkey"))
      .join(t.lineitem.select(col("l_orderkey"), col("l_partkey"))
        .where(isNode(col("l_partkey"))), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(collect_set(col("l_partkey")).as("parts"))
      .orderBy(size(col("parts")).desc, col("o_custkey")).limit(1)
      .select(col("parts")).collect()
    val tele = pick.flatMap(_.getSeq[Long](0)).map(g.value.indexOf)
    spark.sparkContext.parallelize(Seq(0), 1)
      .flatMap(_ => personalRanks(g.value, tele))
      .toDF("p_partkey", "in_teleport", "rank_femto")
      .select(col("p_partkey"), col("in_teleport"), col("rank_femto"),
        (col("rank_femto").cast("double") / lit(1e15)).as("rank"))
      .orderBy(col("rank_femto").desc, col("p_partkey"))
  }

  /** [[personalPageRank]]'s supersteps over `g` from teleport node
    * indices `tele`: (node id, in_teleport, rank_femto) for every node.
    */
  private def personalRanks(g: Adjacency, tele: Array[Int]): Iterator[(Long, Long, Long)] = {
    val tm = new Array[Long](g.size)
    tele.foreach(i => tm(i) = Mass / tele.length)
    var r = tm
    for (_ <- 1 to Iters) {
      val s = new Array[Long](g.size)
      for (u <- 0 until g.size) {
        val c = r(u) / g.degree(u)
        for (j <- g.offsets(u) until g.offsets(u + 1))
          s(g.nbrs(j)) = Math.addExact(s(g.nbrs(j)), c)
      }
      r = Array.tabulate(g.size)(v => Math.addExact(
        Math.multiplyExact(15L, tm(v)) / 100L, Math.multiplyExact(85L, s(v)) / 100L))
    }
    Iterator.range(0, g.size).map(v => (g.ids(v), if (tm(v) > 0) 1L else 0L, r(v)))
  }

  /** Oracle: the personalized teleport pick + five unrolled supersteps
    * as CTEs — the [[pageRankSql]] convention with the per-receiver
    * teleport mass joined in place of the uniform share.
    */
  val personalPageRankSql: String = {
    val mass = Mass.toString
    def iter(i: Int, prev: String): String =
      s"""it$i AS (
         |  SELECT e.v AS node,
         |    CAST((15 * tmv.tm) // 100
         |      + (85 * SUM(r.r // deg.d)) // 100 AS BIGINT) AS r
         |  FROM edges e JOIN $prev r ON r.node = e.u
         |  JOIN deg ON deg.u = e.u
         |  JOIN tm tmv ON tmv.node = e.v
         |  GROUP BY e.v, tmv.tm)""".stripMargin
    val iters = (1 to Iters).map(i => iter(i, if (i == 1) "r0" else s"it${i - 1}"))
      .mkString(",\n")
    s"""WITH $coPurchaseEdgesSql,
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
       |cparts AS (
       |  SELECT DISTINCT o.o_custkey, l.l_partkey
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  JOIN deg ON deg.u = l.l_partkey),
       |pick AS (SELECT o_custkey FROM cparts GROUP BY 1
       |         ORDER BY COUNT(*) DESC, o_custkey LIMIT 1),
       |tele AS (SELECT c.l_partkey AS tnode FROM cparts c
       |         JOIN pick p ON p.o_custkey = c.o_custkey),
       |ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM tele),
       |tm AS (
       |  SELECT deg.u AS node,
       |    CAST(CASE WHEN tele.tnode IS NOT NULL
       |      THEN $mass // ts.s ELSE 0 END AS BIGINT) AS tm
       |  FROM deg LEFT JOIN tele ON tele.tnode = deg.u, ts),
       |r0 AS (SELECT node, tm AS r FROM tm),
       |$iters
       |SELECT f.node AS p_partkey,
       |  CAST(CASE WHEN tmf.tm > 0 THEN 1 ELSE 0 END AS BIGINT) AS in_teleport,
       |  f.r AS rank_femto,
       |  CAST(f.r AS DOUBLE) / 1e15 AS rank
       |FROM it$Iters f JOIN tm tmf ON tmf.node = f.node
       |ORDER BY rank_femto DESC, p_partkey""".stripMargin
  }

  /** Per-node triangle count + local clustering coefficient over the
    * same repeat-co-purchase network as [[pageRank]] — the cohesion
    * analytics (how clique-like is each part's neighbourhood). The
    * canonical a<b edge orientation makes each triangle x<y<z meet in
    * EXACTLY one wedge join: e(x,y) ⋈ e(y,z) builds ordered wedges, one
    * closing equi-join against e(x,z) confirms them — the standard
    * distributed triangle enumeration, join work Σdeg² on the
    * support-thresholded SIGNAL graph, never the raw pair space. Nodes
    * explode per triangle corner and one aggregation yields per-node
    * counts; the coefficient is `2·t / (d·(d−1))` with an exact-integer
    * numerator (one correctly-rounded double division, engine-portable).
    */
  def triangles(t: Tables): DataFrame = {
    // no pin needed: the three wedge-join consumers each read a cheap
    // row-local projection of the already-pinned mined pair frame
    val cp = minedPairsShared(t)
      .select(col("a_part").as("a"), col("b_part").as("b"))
    val tri = cp.select(col("a").as("x"), col("b").as("y"))
      .join(cp.select(col("a").as("y2"), col("b").as("z")), col("y") === col("y2"))
      .join(cp.select(col("a").as("x2"), col("b").as("z2")),
        col("x") === col("x2") && col("z") === col("z2"))
      .select(col("x"), col("y"), col("z"))
    val triPerNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
    val deg = cp
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node").as("p_partkey"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(col("d") >= 2,
          (lit(2) * coalesce(col("t"), lit(0L))).cast("double") /
            (col("d") * (col("d") - 1)))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .orderBy("p_partkey")
  }

  val trianglesSql: String =
    s"""WITH $coPurchasePairsSql,
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM cp e1 JOIN cp e2 ON e2.a = e1.b
       |  JOIN cp e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
       |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri) GROUP BY 1),
       |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
       |  SELECT a AS node FROM cp UNION ALL SELECT b FROM cp) GROUP BY 1)
       |SELECT deg.node AS p_partkey, deg.d AS degree,
       |  COALESCE(tn.t, 0) AS triangles,
       |  CASE WHEN deg.d >= 2
       |       THEN CAST(2 * COALESCE(tn.t, 0) AS DOUBLE) / (deg.d * (deg.d - 1))
       |       ELSE 0.0 END AS clustering_coeff
       |FROM deg LEFT JOIN tn USING (node) ORDER BY p_partkey""".stripMargin

  private val RecK = 3

  /** Item-item collaborative filtering over the co-purchase signal: for
    * every part, the top-[[RecK]] other parts by order-set Jaccard
    * (`support / (nₐ + n_b − support)` — repeat-co-purchase support over
    * the union of containing orders). The "customers who bought this
    * also bought" query, built from the shared mining pipeline plus one
    * broadcastable per-part order count, with the per-part top-k cut by
    * the [[graft.plans.TopKPerKey]] heap plan — k rows of state per
    * part, never a per-part sort, the same custom whole-operator node
    * the inverted-index postings cap uses. Jaccard is one
    * exact-integer-fed double division, engine-portable.
    */
  def recommend(t: Tables): DataFrame = {
    val n = t.lineitem.select("l_orderkey", "l_partkey").distinct()
      .groupBy("l_partkey").agg(count(lit(1)).as("np"))
    val sym = minedPairsShared(t)
      .select(explode(array(
        struct(col("a_part").as("part"), col("b_part").as("rec"), col("support")),
        struct(col("b_part").as("part"), col("a_part").as("rec"), col("support"))))
        .as("e"))
      .select(col("e.part").as("part"), col("e.rec").as("rec"),
        col("e.support").as("support"))
    val j = sym
      .join(broadcast(n.select(col("l_partkey").as("part"), col("np").as("na"))),
        Seq("part"))
      .join(broadcast(n.select(col("l_partkey").as("rec"), col("np").as("nb"))),
        Seq("rec"))
      .select(col("part"), col("rec"),
        (col("support").cast("double") / (col("na") + col("nb") - col("support")))
          .as("jaccard"))
    graft.plans.TopKPerKey(j, Seq("part"),
        Seq(("jaccard", false), ("rec", true)), RecK)
      .select(col("part").as("p_partkey"), col("rec").as("rec_partkey"),
        col("jaccard"))
      .orderBy(col("p_partkey"), col("jaccard").desc, col("rec_partkey"))
  }

  val recommendSql: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |n AS (SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS np
       |      FROM items GROUP BY 1),
       |cp AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b, CAST(COUNT(*) AS BIGINT) AS support
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $EdgeSupport),
       |sym AS (SELECT a AS part, b AS rec, support FROM cp
       |        UNION ALL SELECT b AS part, a AS rec, support FROM cp),
       |j AS (SELECT part, rec,
       |        CAST(support AS DOUBLE) / (na.np + nb.np - support) AS jaccard
       |      FROM sym JOIN n na ON na.p = part JOIN n nb ON nb.p = rec),
       |r AS (SELECT part, rec, jaccard,
       |        ROW_NUMBER() OVER (PARTITION BY part
       |          ORDER BY jaccard DESC, rec) AS rk
       |      FROM j)
       |SELECT part AS p_partkey, rec AS rec_partkey, jaccard
       |FROM r WHERE rk <= $RecK
       |ORDER BY p_partkey, jaccard DESC, rec_partkey""".stripMargin

  /** Degree distribution of the repeat-co-purchase network — the first
    * chart of any graph health report (and the skew diagnostic that
    * decides whether the wedge joins above need salting). Node degrees
    * come from one explode over the canonical pairs; the histogram is a
    * second tiny aggregation; the share divides exact longs over the
    * histogram window. All heavy work is the shared pair mining.
    */
  def degreeDistribution(t: Tables): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    minedPairsShared(t)
      .select(explode(array(col("a_part"), col("b_part"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .select(col("degree"), col("n_nodes"),
        (col("n_nodes").cast("double") /
          sum(col("n_nodes")).over(wAll)).as("node_share"))
      .orderBy("degree")
  }

  val degreeDistributionSql: String =
    s"""WITH $coPurchasePairsSql,
       |deg AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
       |    SELECT a AS node FROM cp UNION ALL SELECT b AS node FROM cp)
       |  GROUP BY node),
       |h AS (SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |      FROM deg GROUP BY degree)
       |SELECT degree, n_nodes,
       | CAST(n_nodes AS DOUBLE) / CAST(SUM(n_nodes) OVER () AS BIGINT)
       |   AS node_share
       |FROM h ORDER BY degree""".stripMargin

  /** Oracle: the same five supersteps unrolled as CTEs in portable
    * integer math (`//` is DuckDB's truncating integer division).
    */
  val pageRankSql: String = {
    val mass = Mass.toString
    def iter(i: Int, prev: String): String =
      s"""it$i AS (
         |  SELECT e.v AS node,
         |    CAST((15 * ($mass // nn.n)) // 100
         |      + (85 * SUM(r.r // deg.d)) // 100 AS BIGINT) AS r
         |  FROM edges e JOIN $prev r ON r.node = e.u
         |  JOIN deg ON deg.u = e.u, nn
         |  GROUP BY e.v, nn.n)""".stripMargin
    val iters = (1 to Iters).map(i => iter(i, if (i == 1) "r0" else s"it${i - 1}"))
      .mkString(",\n")
    s"""WITH $coPurchaseEdgesSql,
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |r0 AS (SELECT deg.u AS node, CAST($mass // nn.n AS BIGINT) AS r
       |       FROM deg, nn),
       |$iters
       |SELECT node AS p_partkey, r AS rank_femto,
       |  CAST(r AS DOUBLE) / 1e15 AS rank
       |FROM it$Iters ORDER BY rank_femto DESC, p_partkey""".stripMargin
  }

  /** Connected components of the co-purchase network — the generic graph
    * operator behind [[Dedup.clusters]]' label machinery, promoted to
    * the Graph family: every part labeled with the minimum part key
    * reachable through support-≥[[EdgeSupport]] co-purchase edges
    * (isolated parts label themselves), plus the component size.
    *
    * Execution reuses [[Dedup.propagateLabels]]' hybrid fixpoint: the
    * mined edge list is orders of magnitude smaller than the pair space,
    * so small graphs resolve in one driver union-find pass and large
    * ones run the converging min-label join loop — either way the heavy
    * work is the shared basket mining, and the component size attaches
    * with one window over the labels (no second join).
    */
  def components(t: Tables): DataFrame = {
    val pairs = minedPairsShared(t)
      .select(col("a_part").as("a_id"), col("b_part").as("b_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lbl")
    Dedup.propagateLabels(t.part.select(col("p_partkey").as("id")), pairs)
      .select(col("id").as("p_partkey"), col("lbl").as("component"),
        count(lit(1)).over(w).as("comp_size"))
      .orderBy("p_partkey")
  }

  /** The loop behind every data-dependent fixpoint here ([[bfsHops]],
    * [[kcore]], [[ktruss]]): pin `init`, then apply `step` to the pinned
    * frame until a round keeps the row count of the round before, or
    * `maxRounds` rounds have run. Returns the last pinned frame and
    * whether it converged. A row count is a sound stop test only for a
    * monotone step, whose output contains (BFS growth) or is contained in
    * (peeling) its input: then an equal count means an equal frame.
    *
    * Each round is ONE Spark action: the eager localCheckpoint pins the
    * round (round r+1 reads pinned blocks instead of replaying rounds
    * 1..r, and a step that reads its input twice keeps a linear plan),
    * and an `Observation` on that same action reads the row count — the
    * [[betweenness]] level convention.
    */
  private def untilRowCountStable(init: DataFrame, maxRounds: Int)(
      step: DataFrame => DataFrame): (DataFrame, Boolean) = {
    def pin(df: DataFrame, round: Int): (DataFrame, Long) = {
      val rows = new Observation(s"fixpoint_round_$round")
      val pinned = df.observe(rows, count(lit(1)).as("n")).localCheckpoint(true)
      (pinned, rows.get("n").asInstanceOf[Long])
    }
    var (cur, n) = pin(init, 0)
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      round += 1
      val (next, m) = pin(step(cur), round)
      stable = m == n
      cur = next
      n = m
    }
    (cur, stable)
  }

  private val BfsMaxRounds = 30

  /** Single-source BFS hop distances over the co-purchase network —
    * the Pregel staple the Graph family lacked (components answers
    * "which island", this answers "how far"). Source = the minimum
    * part key appearing in the edge set (deterministic); per superstep
    * one join relaxes `hops+1` along edges and one min-aggregation
    * folds it into the frontier, run to fixpoint by
    * [[untilRowCountStable]]. [[BfsMaxRounds]] caps the depth, silently,
    * exactly where the oracle's walk stops. Unreachable parts are absent
    * by construction — at 100 TB the result stays proportional to the
    * reachable component, never the part table.
    */
  def bfsHops(t: Tables): DataFrame = {
    val edges = edgesShared(t)
    // an EMPTY mined edge set (no pair reaches EdgeSupport) has no
    // source: the null minimum is filtered out, so the seed frame and
    // the result are empty — the oracle's walk drops its NULL seed the
    // same way
    val seed = edges.agg(min(col("u")).as("node"))
      .where(col("node").isNotNull)
      .select(col("node"), lit(0L).as("hops"))
    // Level-synchronous BFS reaches a node first at its minimum hop
    // count, so a round never improves a node it already holds: "new or
    // improved" is exactly growth in row count.
    val (dist, _) = untilRowCountStable(seed, BfsMaxRounds) { dist =>
      val relaxed = edges.join(dist, col("u") === col("node"))
        .select(col("v").as("node"), (col("hops") + 1L).as("hops"))
      dist.union(relaxed).groupBy("node").agg(min(col("hops")).as("hops"))
    }
    dist.select(col("node").as("p_partkey"), col("hops"))
      .orderBy("p_partkey")
  }

  /** Oracle: bounded-depth walk enumeration in a recursive CTE; MIN(d)
    * per node is the true hop distance for any graph whose diameter
    * fits the [[BfsMaxRounds]] bound the operator shares.
    */
  val bfsHopsSql: String =
    s"""WITH RECURSIVE
       |$coPurchaseEdgesSql,
       |walk(node, d) AS (
       |  SELECT MIN(u), CAST(0 AS BIGINT) FROM edges HAVING MIN(u) IS NOT NULL
       |  UNION
       |  SELECT e.v, w.d + 1 FROM walk w JOIN edges e ON e.u = w.node
       |  WHERE w.d < $BfsMaxRounds)
       |SELECT node AS p_partkey, MIN(d) AS hops
       |FROM walk GROUP BY node ORDER BY p_partkey""".stripMargin

  /** Oracle: exact reachability via a recursive CTE — the minimum label
    * floods along edges (pruned to strictly-smaller labels, which is
    * complete because the component minimum is smaller than every node
    * it must reach), then every part takes the min reachable label.
    */
  val componentsSql: String =
    s"""WITH RECURSIVE
       |$coPurchaseEdgesSql,
       |reach(node, lbl) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
       |  WHERE r.lbl < e.v),
       |comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
       |lab AS (
       |  SELECT p.p_partkey, COALESCE(c.component, p.p_partkey) AS component
       |  FROM part p LEFT JOIN comp c ON c.node = p.p_partkey)
       |SELECT p_partkey, component,
       |  CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS comp_size
       |FROM lab ORDER BY p_partkey""".stripMargin

  private val KcoreK = 2
  private val KcoreMaxRounds = 12

  /** k-core of the co-purchase network (k = [[KcoreK]]): repeatedly
    * peel nodes with fewer than k surviving neighbours until fixpoint —
    * the densest-backbone extraction that drops hairs and chains while
    * keeping the interlocked clusters (the graph-curation sibling of a
    * frequency floor). Output: surviving parts with their within-core
    * degree.
    *
    * Peeling is monotone (the remaining set only shrinks), so the
    * fixpoint is unique and an oracle that unrolls MORE rounds than
    * convergence needs is exact — extra rounds are no-ops. The operator
    * therefore runs to fixpoint through [[untilRowCountStable]] with
    * [[KcoreMaxRounds]] as a fail-loud backstop, and the oracle unrolls
    * exactly [[KcoreMaxRounds]] rounds. Per round: two semi-joins (edge
    * endpoints against survivors) + one degree count — edge-relation
    * shuffles, never quadratic; localCheckpoint pins each round's
    * membership.
    */
  def kcore(t: Tables): DataFrame = {
    val edges = edgesShared(t)
    def degrees(members: DataFrame): DataFrame =
      edges
        .join(members.select(col("id").as("mu")), col("u") === col("mu"), "left_semi")
        .join(members.select(col("id").as("mv")), col("v") === col("mv"), "left_semi")
        .groupBy("u").agg(count(lit(1)).as("deg"))
    val (members, converged) = untilRowCountStable(
        edges.select(col("u").as("id")).distinct(), KcoreMaxRounds) { members =>
      degrees(members).where(col("deg") >= KcoreK).select(col("u").as("id"))
    }
    require(converged,
      s"kcore did not converge in $KcoreMaxRounds rounds; raise the backstop")
    degrees(members)
      .select(col("u").as("p_partkey"), col("deg").as("core_degree"))
      .orderBy("p_partkey")
  }

  /** Oracle: [[KcoreMaxRounds]] unrolled peel rounds (no-ops after
    * convergence, so the fixed count is exact).
    */
  val kcoreSql: String = {
    val rounds = (1 to KcoreMaxRounds).map { r =>
      s"""c$r AS MATERIALIZED (
         | SELECT e.u FROM edges e
         | WHERE e.u IN (SELECT u FROM c${r - 1})
         |   AND e.v IN (SELECT u FROM c${r - 1})
         | GROUP BY e.u HAVING COUNT(*) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |cp AS MATERIALIZED (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $EdgeSupport),
       |edges AS MATERIALIZED (SELECT a AS u, b AS v FROM cp
       |          UNION ALL SELECT b AS u, a AS v FROM cp),
       |c0 AS MATERIALIZED (SELECT DISTINCT u FROM edges),
       |$rounds
       |SELECT e.u AS p_partkey, CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM edges e
       |WHERE e.u IN (SELECT u FROM c$KcoreMaxRounds)
       |  AND e.v IN (SELECT u FROM c$KcoreMaxRounds)
       |GROUP BY e.u
       |ORDER BY p_partkey""".stripMargin
  }

  /** Synchronous rounds for [[labelPropagation]] — a FIXED count, not a
    * fixpoint: LPA can oscillate under synchronous updates (bipartite
    * 2-cycles), so "run R rounds" IS the algorithm's contract and the
    * oracle replays exactly R rounds. Communities stabilize in a few
    * rounds on co-purchase-like graphs; raise for larger diameters.
    */
  private[graft] val LpaRounds = 3

  /** Label-propagation community detection over the co-purchase network
    * — the lightweight community sibling of [[components]]: instead of
    * flooding the MINIMUM label (which welds every connected node into
    * one island), each part adopts its neighbors' PLURALITY label each
    * round (ties → smallest label), so densely-wired clusters coalesce
    * while bridge edges don't merge their endpoints' communities.
    *
    * Per round: one edge-labels join + one (node, candidate) count
    * aggregation + one per-node argmax — all key-partitioned shuffles
    * of the EDGE relation, never quadratic, the Pregel shape shared
    * with [[pageRank]]. The argmax is a single max(struct(count,
    * -label)) aggregation (no window over the votes), and isolated
    * parts keep their own id through a left join. Deterministic:
    * synchronous updates, exact counts, total tie order.
    */
  def labelPropagation(t: Tables): DataFrame = {
    val labels = lpaShared(t)._2
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lbl")
    labels.select(col("id").as("p_partkey"), col("lbl").as("community"),
        count(lit(1)).over(w).as("comm_size"))
      .orderBy("p_partkey")
  }

  /** Session-scoped memo of the (edge frame, converged LPA label frame)
    * pair, keyed by data dir. The LPA run is deterministic (synchronous
    * updates, exact counts, total tie order), so every consumer —
    * [[labelPropagation]]'s presentation query, [[modularity]]'s quality
    * audit, any future community-feature join — reads ONE computed label
    * frame instead of re-deriving the mine + vote rounds per consumer
    * (r10 verdict: modularity re-ran the full LPA it audits). Both
    * frames are localCheckpoint-pinned: their blocks live at the RDD
    * layer, so `catalog.clearCache()` session hygiene (Verify/Bench
    * between-query clearing) does not evict the shared community model —
    * exactly the lifetime a production pipeline gives a trained
    * artifact. Bounded: edges are support-filtered co-purchase pairs,
    * labels are one row per part. WeakHashMap on the session so a
    * stopped session's entries are collectable.
    */
  private val lpaMemo = new graft.SessionMemo[(DataFrame, DataFrame)]

  private[graft] def lpaShared(t: Tables): (DataFrame, DataFrame) =
    lpaMemo.getOrCompute(t.spark, t.dir)(computeLpaShared(t))

  private def computeLpaShared(t: Tables): (DataFrame, DataFrame) = {
    // localCheckpoint, not persist: the edge frame outlives this call
    // (memoized for modularity's label-attach joins), so its blocks must
    // survive catalog.clearCache; eager, so every LPA round's join reads
    // pinned blocks instead of re-mining
    val edges = edgesShared(t)
    val nodes = t.part.select(col("p_partkey").as("id"))
    var labels = nodes.select(col("id"), col("id").as("lbl"))
    for (r <- 1 to LpaRounds) {
      val votes = edges
        .join(labels.select(col("id").as(s"v$r"), col("lbl").as(s"cl$r")),
          col("v") === col(s"v$r"))
        .groupBy(col("u"), col(s"cl$r").as("cand"))
        .agg(count(lit(1)).as("c"))
      val winner = votes.groupBy("u")
        .agg(max(struct(col("c"), (-col("cand")).as("neg"))).as("m"))
        .select(col("u").as("id"), (-col("m.neg")).as("lbl"))
      // localCheckpoint pins each round (the fixpoint-loop convention)
      labels = nodes.join(winner, Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
        .localCheckpoint(true)
    }
    (edges, labels)
  }

  /** The shared LPA CTE chain (mined edges → [[LpaRounds]] vote rounds,
    * ending in `l{LpaRounds}(id, lbl)`) — used by [[labelPropagationSql]]
    * and [[modularitySql]].
    */
  private def lpaCtesSql: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""v$r AS (
         | SELECT e.u AS id, l.lbl AS cand, COUNT(*) AS c
         | FROM edges e JOIN l${r - 1} l ON l.id = e.v
         | GROUP BY 1, 2),
         |w$r AS (
         | SELECT id, cand AS lbl FROM v$r
         | QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, cand) = 1),
         |l$r AS (
         | SELECT n.id, COALESCE(w.lbl, n.id) AS lbl
         | FROM nodes n LEFT JOIN w$r w USING (id))""".stripMargin
    }.mkString(",\n")
    s"""$coPurchaseEdgesSql,
       |nodes AS (SELECT p_partkey AS id FROM part),
       |l0 AS (SELECT id, id AS lbl FROM nodes),
       |$rounds""".stripMargin
  }

  /** Oracle: the [[LpaRounds]] synchronous rounds unrolled as CTE pairs
    * (votes → plurality winner with the same (count desc, label) order).
    */
  val labelPropagationSql: String =
    s"""WITH $lpaCtesSql
       |SELECT id AS p_partkey, lbl AS community,
       | CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS comm_size
       |FROM l$LpaRounds ORDER BY p_partkey""".stripMargin

  /** Newman modularity of the [[labelPropagation]] communities,
    * computed EXACTLY: with m₂ = directed edge count, eᶜ = directed
    * edges inside community c, dᶜ = degree mass of c,
    *   Q = Σᶜ (eᶜ/m₂ − (dᶜ/m₂)²) = Σᶜ (eᶜ·m₂ − dᶜ²) / m₂²
    * — the numerators are exact integers (DECIMAL(38,0) headroom for
    * dᶜ² at web-graph degree mass), their sum is order-independent,
    * and ONE double division happens at the end: no per-community
    * float summation to drift. The quality gate for accepting a
    * community detection run (Q ≈ 0 ⇒ no better than random). Shape:
    * the LPA labels attach to each directed edge end (two joins on the
    * edge relation), then two bounded aggregations.
    */
  def modularity(t: Tables): DataFrame = {
    // reads the SHARED (edges, labels) pair — one LPA computation per
    // session/dir serves both the community query and this audit
    val (edges, labels) = lpaShared(t)
    val lu = labels.select(col("id").as("u"), col("lbl").as("lu"))
    val lv = labels.select(col("id").as("v"), col("lbl").as("lv"))
    val labeled = edges.join(lu, Seq("u")).join(lv, Seq("v"))
    val perComm = labeled
      .groupBy(col("lu").as("community"))
      .agg(
        sum((col("lu") === col("lv")).cast("long")).as("e_in"),
        count(lit(1)).as("deg_mass"))
    val m2 = labeled.agg(count(lit(1)).as("m2"))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val out = perComm
      .crossJoin(broadcast(m2))
      .select((col("e_in").cast(d38) * col("m2") -
        col("deg_mass").cast(d38) * col("deg_mass")).as("num"),
        col("m2"))
      .groupBy()
      .agg(count(lit(1)).as("n_communities"), first(col("m2")).as("m2"),
        sum(col("num")).as("num_sum"))
      .select(col("n_communities"), expr("m2 div 2").as("m_edges"),
        // the numerator sum can be negative; the hi/lo double split is
        // nonnegative-only, so split |Σ| and reattach the sign (the
        // oracle does exactly this)
        ((when(col("num_sum") < 0, lit(-1.0)).otherwise(lit(1.0)) *
          graft.functions.Exact.decToDouble(abs(col("num_sum")))) /
          (col("m2").cast("double") * col("m2").cast("double")))
          .as("modularity"))
    out
  }

  /** Oracle: shared LPA CTEs + the identical exact-integer numerator
    * sum. NOTE the numerator can be negative, so the hi/lo
    * [[graft.functions.Exact.decToDouble]] split (nonnegative-only)
    * applies to the ABSOLUTE value with the sign reattached — both
    * engines do exactly this.
    */
  val modularitySql: String =
    s"""WITH $lpaCtesSql,
       |labeled AS (
       | SELECT e.u, e.v, a.lbl AS lu, b.lbl AS lv
       | FROM edges e
       | JOIN l$LpaRounds a ON a.id = e.u
       | JOIN l$LpaRounds b ON b.id = e.v),
       |per_comm AS (
       | SELECT lu AS community,
       |  CAST(SUM(CASE WHEN lu = lv THEN 1 ELSE 0 END) AS BIGINT) AS e_in,
       |  CAST(COUNT(*) AS BIGINT) AS deg_mass
       | FROM labeled GROUP BY 1),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM labeled),
       |acc AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  MAX(m.m2) AS m2,
       |  SUM(CAST(e_in AS HUGEINT) * m.m2
       |    - CAST(deg_mass AS HUGEINT) * deg_mass) AS num_sum
       | FROM per_comm CROSS JOIN m)
       |SELECT n_communities, CAST(m2 // 2 AS BIGINT) AS m_edges,
       | (CASE WHEN num_sum < 0 THEN -1.0 ELSE 1.0 END *
        ${graft.functions.Exact.decToDoubleSql("abs(num_sum)")})
       |  / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) AS modularity
       |FROM acc""".stripMargin

  /** Degree assortativity of the co-purchase network — Pearson
    * correlation of endpoint degrees over the DIRECTED edge list
    * ("do hubs link to hubs?", positive for social-style graphs,
    * negative for hub-and-spoke): the six power sums (n, Σx, Σy, Σx²,
    * Σy², Σxy over per-edge endpoint degrees) are exact DECIMAL(38,0)
    * aggregates — degree products overflow longs on web-scale hubs —
    * and the correlation evaluates in double from
    * [[graft.functions.Exact.decToDouble]]-converted sums with the
    * oracle's expression tree (the rollingCorr recipe on graph
    * structure). Shape: degree aggregation + two degree-attach joins
    * on the edge relation + one global six-sum fold. Symmetric edge
    * list ⇒ Σx = Σy, but both are computed independently so the
    * formula stays the general one.
    */
  def assortativity(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val edges = edgesShared(t)
    val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
    val du = deg.select(col("u"), col("d").as("x"))
    val dv = deg.select(col("u").as("v"), col("d").as("y"))
    val toD = graft.functions.Exact.decToDouble _
    edges.join(du, Seq("u")).join(dv, Seq("v"))
      .groupBy()
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("y").cast(d38) * col("y")).as("syy"),
        sum(col("x").cast(d38) * col("y")).as("sxy"))
      .select(col("n"),
        ((col("n") * toD(col("sxy")) - toD(col("sx")) * toD(col("sy"))) /
          (sqrt(col("n") * toD(col("sxx")) - toD(col("sx")) * toD(col("sx"))) *
            sqrt(col("n") * toD(col("syy")) - toD(col("sy")) * toD(col("sy")))))
          .as("assortativity"))
  }

  val assortativitySql: String = {
    val toD = graft.functions.Exact.decToDoubleSql _
    s"""WITH $coPurchaseEdgesSql,
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
       |xy AS (
       | SELECT du.d AS x, dv.d AS y
       | FROM edges e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v),
       |s AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
       |  SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |  SUM(CAST(y AS HUGEINT) * y) AS syy,
       |  SUM(CAST(x AS HUGEINT) * y) AS sxy
       | FROM xy)
       |SELECT n,
       | (n * ${toD("sxy")} - ${toD("sx")} * ${toD("sy")}) /
       |  (sqrt(n * ${toD("sxx")} - ${toD("sx")} * ${toD("sx")}) *
       |   sqrt(n * ${toD("syy")} - ${toD("sy")} * ${toD("sy")})) AS assortativity
       |FROM s""".stripMargin
  }

  /** Seed count and hop radius for [[closeness]]. Bounded-radius
    * harmonic centrality from the top-degree hubs IS the contract (not
    * an approximation of all-pairs): state stays seeds × reachable-set,
    * never n². Harmonic contributions are integer milli-units
    * (1000 div hops — truncating, engine-portable).
    */
  private val ClosenessSeeds = 8
  private val ClosenessRadius = 6

  /** Per-(seed, node) hop distances from the [[ClosenessSeeds]]
    * highest-degree seeds, memoized per (session, dir) — the shared
    * front-end of [[closeness]] and [[effectiveDiameter]] (the BFS is
    * the whole cost of both; the consumers are one aggregation each).
    */
  private val seedDistMemo = new graft.SessionMemo[DataFrame]

  /** [[graft.Training]] forcer for the seed-BFS distance frame (also
    * forces the mined-pair and edge frames it derives from).
    */
  private[graft] def warmSeedDistances(t: Tables): Unit = { seedDistancesShared(t); () }

  private def seedDistancesShared(t: Tables): DataFrame =
    seedDistMemo.getOrCompute(t.spark, t.dir) {
      val edges = edgesShared(t)
      val seeds = edges.groupBy("u").agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("u"))
        .limit(ClosenessSeeds)
        .select(col("u").as("seed"))
      var dist = seeds.select(col("seed"), col("seed").as("node"), lit(0L).as("hops"))
        .localCheckpoint(true)
      for (r <- 1 to ClosenessRadius) {
        val relaxed = dist
          .join(edges.select(col("u").as(s"eu$r"), col("v").as(s"ev$r")),
            col("node") === col(s"eu$r"))
          .select(col("seed"), col(s"ev$r").as("node"), (col("hops") + 1L).as("hops"))
        dist = dist.union(relaxed)
          .groupBy("seed", "node").agg(min(col("hops")).as("hops"))
          .localCheckpoint(true)
      }
      dist
    }

  /** Oracle twin of [[seedDistancesShared]], after
    * [[coPurchaseEdgesSql]] in a `WITH RECURSIVE`: the same seeds
    * (degree desc, then id) and a depth-bounded walk per seed, ending in
    * `dist(seed, node, hops)` with MIN(d) as the hop distance.
    */
  private val seedDistancesSql: String =
    s"""deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY u),
       |seeds AS (SELECT u AS seed FROM deg
       |          ORDER BY deg DESC, u LIMIT $ClosenessSeeds),
       |walk(seed, node, d) AS (
       |  SELECT seed, seed, CAST(0 AS BIGINT) FROM seeds
       |  UNION
       |  SELECT w.seed, e.v, w.d + 1 FROM walk w JOIN edges e ON e.u = w.node
       |  WHERE w.d < $ClosenessRadius),
       |dist AS (
       |  SELECT seed, node, MIN(d) AS hops FROM walk GROUP BY seed, node)""".stripMargin

  /** Harmonic closeness centrality of the [[ClosenessSeeds]] highest-
    * degree hubs within [[ClosenessRadius]] hops: multi-source BFS
    * (frontier rows keyed (seed, node)), then per seed
    * Σ 1000 div hops over reached nodes — "which hubs can touch the
    * most of the network, and how tightly". All-pairs closeness is
    * quadratic state; seeding from the hub set keeps the frontier at
    * S×|reachable| while answering the question the metric is actually
    * used for (ranking the network's centers). The round count is FIXED
    * (the radius bound is part of the metric's definition), but unlike
    * [[pageRank]] — whose superstep references the rank frame ONCE and
    * so stays a linear lazy plan — the BFS min-fold references `dist`
    * twice (the union and the relax join), which doubles the plan per
    * round and re-executes subtrees (measured: 21.7 s at sf0.1 for the
    * lazy form). Each round therefore localCheckpoints, the
    * [[bfsHops]] convention. Per round: one join along edges + one
    * min-fold, both keyed (seed, node).
    */
  def closeness(t: Tables): DataFrame = {
    val out = seedDistancesShared(t)
      .where(col("hops") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000L div hops")).as("harmonic_milli"))
      .select(col("seed").as("p_partkey"), col("n_reached"), col("harmonic_milli"))
      .orderBy(col("harmonic_milli").desc, col("p_partkey"))
    out
  }

  /** Oracle: the [[seedDistancesSql]] walk, with 1000 // hops as the
    * harmonic term.
    */
  val closenessSql: String =
    s"""WITH RECURSIVE
       |$coPurchaseEdgesSql,
       |$seedDistancesSql
       |SELECT seed AS p_partkey,
       |  CAST(COUNT(*) AS BIGINT) AS n_reached,
       |  CAST(SUM(1000 // hops) AS BIGINT) AS harmonic_milli
       |FROM dist WHERE hops > 0
       |GROUP BY seed
       |ORDER BY harmonic_milli DESC, p_partkey""".stripMargin

  /** Hop-plot / effective-diameter report (the ANF family, Palmer et
    * al. 2002 — here the sampled-seed exact variant): from the shared
    * seed BFS, the distance histogram N(h) over (seed, node) pairs,
    * cumulative reach, and the 90%-threshold flag whose first true row
    * IS the effective diameter — the "how many hops until the graph is
    * basically covered" curve that sizes every fixed-depth traversal
    * bound in this file. Same seeds/radius as [[closeness]]; both
    * consumers read the memoized [[seedDistancesShared]] frame, so the
    * BFS runs once per session.
    *
    * Scale: the BFS is radius× edge-linear (shared); this report is one
    * histogram aggregation plus a window over the ≤radius-row hop
    * domain (bounded, never data-sized). The 90% cut compares integers
    * (cum·10 ≥ total·9) — no double-threshold ambiguity at the seam.
    */
  def effectiveDiameter(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = seedDistancesShared(t).where(col("hops") > 0)
    val w = Window.orderBy("hops")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.groupBy("hops").agg(count(lit(1)).as("n_pairs"))
      .withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("total"))))
      .select(col("hops"), col("n_pairs").cast("long").as("n_pairs"),
        col("cum_pairs").cast("long").as("cum_pairs"),
        (col("cum_pairs").cast("double") / col("total")).as("cum_frac"),
        (col("cum_pairs") * 10 >= col("total") * 9).as("reaches_90pct"))
      .orderBy("hops")
  }

  /** Oracle: the [[seedDistancesSql]] walk + the identical histogram /
    * cumulative / integer-threshold chain.
    */
  val effectiveDiameterSql: String =
    s"""WITH RECURSIVE
       |$coPurchaseEdgesSql,
       |$seedDistancesSql,
       |hist AS (
       |  SELECT hops, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM dist WHERE hops > 0 GROUP BY hops),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total
       |        FROM dist WHERE hops > 0)
       |SELECT hops, n_pairs,
       | CAST(SUM(n_pairs) OVER (ORDER BY hops) AS BIGINT) AS cum_pairs,
       | CAST(SUM(n_pairs) OVER (ORDER BY hops) AS DOUBLE) / total AS cum_frac,
       | SUM(n_pairs) OVER (ORDER BY hops) * 10 >= total * 9 AS reaches_90pct
       |FROM hist CROSS JOIN tot
       |ORDER BY hops""".stripMargin

  /** Fixed BFS horizon for [[betweenness]] — shared with the oracle's
    * unrolled rounds, so both engines truncate identically.
    */
  private val BcDepth = 6
  /** Sampled sources (smallest node ids — deterministic). */
  private val BcSources = 4
  /** Dependency scores carry 10⁶-scaled integers (micro units). */
  private val BcScale = 1000000L
  private val BcTopK = 100

  /** Sampled betweenness centrality (Brandes 1:2001, sampled per
    * Bader/Brandes-style pivoting — both public knowledge): dependency
    * scores accumulated from [[BcSources]] deterministic source BFS
    * trees, the standard "who sits on the shortest paths" ranking for
    * bridge detection. Per source: a BFS to the fixed [[BcDepth]]
    * horizon summing shortest-path counts σ, then Brandes' backward
    * accumulation δ(v) = Σ_{w∈succ} σ(v)/σ(w)·(1+δ(w)) evaluated in
    * EXACT INTEGER MICROS — each term is `(σ_v·(10⁶+δ_w)) div σ_w`, so
    * per-node sums are order-free integer adds and the score is
    * engine-portable bit-for-bit (the graph_hits femto convention; a
    * double Σ here would be partitioning-dependent). Every node at
    * level ≥ 1 scores, the zero-δ leaves included; the sources do not.
    *
    * Scale: Brandes is independent per source, so the sources become
    * ONE Spark stage with one task each, and every task runs its whole
    * BFS and accumulation over the broadcast [[Adjacency]] (O(nodes +
    * edges) per source, bounded by [[MaxAdjacencyEdges]]), failing on
    * long overflow as Spark's ANSI arithmetic would. Only the per-node
    * sum over sources and the top-[[BcTopK]] ordering are Spark
    * operators. The sampled-sources design is exactly how betweenness
    * is run on big graphs (exact all-pairs is O(nm)).
    */
  def betweenness(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val g = adjacencyShared(t)
    // the node ids are sorted, so the sources are the first indices
    val k = math.min(BcSources, g.value.size)
    spark.sparkContext.parallelize(0 until k, math.max(k, 1))
      .flatMap(s => brandes(g.value, s))
      .toDF("node", "delta")
      .groupBy("node")
      .agg(sum(col("delta")).cast("long").as("bc_micros"))
      .select(col("node").as("p_partkey"), col("bc_micros"),
        (col("bc_micros").cast("double") / lit(1.0e6)).as("bc"))
      .orderBy(col("bc_micros").desc, col("p_partkey"))
      .limit(BcTopK)
  }

  /** One source's Brandes pass for [[betweenness]]: (node id, δ) for
    * every node at BFS level 1 to [[BcDepth]] from node index `s`.
    */
  private def brandes(g: Adjacency, s: Int): Iterator[(Long, Long)] = {
    val dist = Array.fill(g.size)(-1)
    val sigma = new Array[Long](g.size)
    dist(s) = 0
    sigma(s) = 1L
    val levels = scala.collection.mutable.ArrayBuffer(Array(s))
    // a drained frontier ends the BFS early: an empty level adds nothing
    while (levels.size <= BcDepth && levels.last.nonEmpty) {
      val d = levels.size
      val next = scala.collection.mutable.ArrayBuilder.make[Int]
      for (v <- levels.last; j <- g.offsets(v) until g.offsets(v + 1)) {
        val w = g.nbrs(j)
        if (dist(w) < 0) { dist(w) = d; next += w }
        if (dist(w) == d) sigma(w) = Math.addExact(sigma(w), sigma(v))
      }
      levels += next.result()
    }
    val delta = new Array[Long](g.size)
    for (l <- levels.size - 2 to 1 by -1; v <- levels(l);
         j <- g.offsets(v) until g.offsets(v + 1)) {
      val w = g.nbrs(j)
      if (dist(w) == l + 1) delta(v) = Math.addExact(delta(v),
        Math.multiplyExact(sigma(v), Math.addExact(BcScale, delta(w))) / sigma(w))
    }
    levels.iterator.drop(1).flatMap(_.iterator.map(v => (g.ids(v), delta(v))))
  }

  /** Oracle: the same BFS levels and integer-micro backward
    * accumulation, unrolled level by level as materialized
    * CTEs ([[pageRankSql]] convention — every level is referenced
    * twice, so inlining would re-derive the chain exponentially).
    */
  val betweennessSql: String = {
    val fwd = (1 to BcDepth).map { r =>
      s"""f$r AS MATERIALIZED (
         | SELECT x.s, x.node, SUM(x.sigma) AS sigma FROM (
         |   SELECT f.s, e.v AS node, f.sigma
         |   FROM f${r - 1} f JOIN edges e ON e.u = f.node) x
         | LEFT JOIN v${r - 1} vv ON vv.s = x.s AND vv.node = x.node
         | WHERE vv.node IS NULL
         | GROUP BY 1, 2),
         |v$r AS MATERIALIZED (
         | SELECT * FROM v${r - 1}
         | UNION ALL SELECT s, node FROM f$r)""".stripMargin
    }.mkString(",\n")
    val bwd = (BcDepth - 1 to 0 by -1).map { l =>
      s"""d$l AS MATERIALIZED (
         | SELECT g.s, g.node, g.sigma,
         |  COALESCE(SUM((g.sigma * ($BcScale + n.delta)) // n.sigma), 0)
         |    AS delta
         | FROM f$l g
         | LEFT JOIN edges e ON e.u = g.node
         | LEFT JOIN d${l + 1} n ON n.s = g.s AND n.node = e.v
         | GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    val nonSrc = (1 to BcDepth)
      .map(l => s"SELECT node, delta FROM d$l").mkString("\n  UNION ALL ")
    s"""WITH $coPurchaseEdgesSql,
       |srcs AS (SELECT DISTINCT u AS s FROM edges ORDER BY s LIMIT $BcSources),
       |f0 AS (SELECT s, s AS node, CAST(1 AS BIGINT) AS sigma FROM srcs),
       |v0 AS (SELECT s, node FROM f0),
       |$fwd,
       |d$BcDepth AS (
       | SELECT s, node, sigma, CAST(0 AS BIGINT) AS delta FROM f$BcDepth),
       |$bwd,
       |bc AS (
       | SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_micros
       | FROM ($nonSrc)
       | GROUP BY node)
       |SELECT node AS p_partkey, bc_micros,
       | CAST(bc_micros AS DOUBLE) / 1e6 AS bc
       |FROM bc
       |ORDER BY bc_micros DESC, p_partkey
       |LIMIT $BcTopK""".stripMargin
  }

  private val NodeSimThreshold = 0.2

  /** Structural node similarity on the co-purchase graph: Jaccard of
    * NEIGHBOR SETS for every part pair that shares at least one
    * neighbor — "parts bought alongside the same other parts", the
    * structural-equivalence signal behind item-item collaborative
    * filtering (contrast [[recommend]], which counts shared ORDERS).
    *
    * Spark shape: ONE wedge join (two edge copies meeting on the shared
    * neighbor, a < b — Σ deg² budget, never nodes²) whose aggregation
    * IS the intersection size: since the edge list is distinct,
    * #wedges(a,·,b) = |N(a) ∩ N(b)|, so no neighbor ARRAYS ever attach
    * to the pair space (the r11 first cut shuffled two full arrays per
    * candidate and paid 9.5 s at sf0.1; counting wedges + two degree
    * joins runs the identical math in a fraction). Jaccard =
    * common / (deg(a) + deg(b) − common) — one correctly-rounded double
    * division, bit-identical in both engines. Complete for any positive
    * threshold (J > 0 ⟺ a shared neighbor exists).
    */
  def nodeSimilarity(t: Tables): DataFrame = {
    val edges = edgesShared(t)
    val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
    val common = edges.select(col("v").as("w"), col("u").as("a"))
      .join(edges.select(col("v").as("w"), col("u").as("b")), Seq("w"))
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a").as("a_part"), col("b").as("b_part"), col("n_common"),
        (col("n_common").cast("double") /
          (col("da") + col("db") - col("n_common")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= NodeSimThreshold)
      .orderBy("a_part", "b_part")
  }

  /** Oracle: neighbor lists + brute-force pair scan (the wedge blocking
    * is complete for J > 0, so the blocked result equals the full scan).
    */
  val nodeSimilaritySql: String =
    s"""WITH $coPurchaseEdgesSql,
       |nb AS (SELECT u, list_sort(list(DISTINCT v)) AS ns FROM edges GROUP BY u)
       |SELECT a.u AS a_part, b.u AS b_part,
       | CAST(len(list_intersect(a.ns, b.ns)) AS BIGINT) AS n_common,
       | CAST(len(list_intersect(a.ns, b.ns)) AS DOUBLE)
       |   / len(list_distinct(list_concat(a.ns, b.ns))) AS jaccard
       |FROM nb a JOIN nb b ON a.u < b.u
       |WHERE CAST(len(list_intersect(a.ns, b.ns)) AS DOUBLE)
       |   / len(list_distinct(list_concat(a.ns, b.ns))) >= $NodeSimThreshold
       |ORDER BY a_part, b_part""".stripMargin

  private val LinkPredictTopK = 100

  /** Link prediction by the RESOURCE-ALLOCATION index — the
    * strongest-performing of the classic local similarity indices
    * (Zhou/Lü/Zhang 2009): RA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/deg(w),
    * scored here for NON-adjacent pairs (the prediction targets) in
    * exact integer MICROS (`10⁶ div deg(w)` per shared neighbor — no
    * ln, unlike Adamic-Adar, so the score is bit-portable). Spark
    * shape: the wedge join already enumerates exactly the (a, w, b)
    * paths, each contributing its center's integer weight — one
    * aggregation, one anti-join against the edge list to keep only
    * new-link candidates, TakeOrdered top-[[LinkPredictTopK]].
    */
  def linkPredict(t: Tables): DataFrame = {
    val edges = edgesShared(t)
    val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
    val wedgeScores = edges.select(col("v").as("w"), col("u").as("a"))
      .join(edges.select(col("v").as("w"), col("u").as("b")), Seq("w"))
      .where(col("a") < col("b"))
      .join(deg.select(col("u").as("w"), col("d").as("dw")), Seq("w"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000L div dw")).as("ra_micros"))
    val existing = edges.where(col("u") < col("v"))
      .select(col("u").as("a"), col("v").as("b"))
    wedgeScores.join(existing, Seq("a", "b"), "left_anti")
      .select(col("a").as("a_part"), col("b").as("b_part"),
        col("n_common"), col("ra_micros"))
      .orderBy(col("ra_micros").desc, col("a_part"), col("b_part"))
      .limit(LinkPredictTopK)
  }

  /** Oracle: neighbor-set brute force with the same integer weights and
    * the NOT-EXISTS edge exclusion. */
  val linkPredictSql: String =
    s"""WITH $coPurchaseEdgesSql,
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
       |wedge AS (
       | SELECT e1.u AS a, e2.u AS b, e1.v AS w
       | FROM edges e1 JOIN edges e2
       |   ON e1.v = e2.v AND e1.u < e2.u),
       |sc AS (
       | SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
       |  CAST(SUM(1000000 // deg.d) AS BIGINT) AS ra_micros
       | FROM wedge JOIN deg ON deg.u = wedge.w
       | GROUP BY a, b),
       |nonadj AS (
       | SELECT sc.* FROM sc
       | WHERE NOT EXISTS (SELECT 1 FROM cp
       |   WHERE cp.a = sc.a AND cp.b = sc.b))
       |SELECT a AS a_part, b AS b_part, n_common, ra_micros
       |FROM nonadj
       |ORDER BY ra_micros DESC, a_part, b_part
       |LIMIT $LinkPredictTopK""".stripMargin

  /** Per-community structure profile over the SHARED LPA labels — the
    * third [[lpaShared]] consumer (with [[labelPropagation]] and
    * [[modularity]]): community size, internal edge count, internal
    * density in ppm (exact integer `2e·10⁶ div (n·(n−1))`), and
    * boundary (cut) edges. One label-attach join per edge end + two
    * bounded aggregations — the labels and edges are the memoized
    * localCheckpoint-pinned frames, computed once per session.
    */
  def communityProfile(t: Tables): DataFrame = {
    val (edges, labels) = lpaShared(t)
    val lu = labels.select(col("id").as("u"), col("lbl").as("lu"))
    val lv = labels.select(col("id").as("v"), col("lbl").as("lv"))
    val labeled = edges.join(lu, Seq("u")).join(lv, Seq("v"))
    val sizes = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
    val edgeStats = labeled.groupBy(col("lu").as("community"))
      .agg((sum((col("lu") === col("lv")).cast("long")) / 2).cast("long")
        .as("internal_edges"),
        sum((col("lu") =!= col("lv")).cast("long")).as("cut_edges"))
    sizes.join(edgeStats, Seq("community"), "left")
      .select(col("community"), col("n_members"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
        when(col("n_members") >= 2,
          expr("(coalesce(internal_edges, 0L) * 2000000L) div (n_members * (n_members - 1))"))
          .otherwise(lit(0L)).as("density_ppm"))
      .where(col("n_members") >= 2)
      .orderBy(col("n_members").desc, col("community"))
  }

  /** Oracle: the shared LPA CTE chain + the same per-community folds. */
  val communityProfileSql: String =
    s"""WITH $lpaCtesSql,
       |sizes AS (
       | SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
       | FROM l$LpaRounds GROUP BY lbl),
       |lab AS (
       | SELECT a.lbl AS lu, b.lbl AS lv
       | FROM edges e
       | JOIN l$LpaRounds a ON a.id = e.u
       | JOIN l$LpaRounds b ON b.id = e.v),
       |es AS (
       | SELECT lu AS community,
       |  CAST(SUM(CASE WHEN lu = lv THEN 1 ELSE 0 END) // 2 AS BIGINT)
       |    AS internal_edges,
       |  CAST(SUM(CASE WHEN lu <> lv THEN 1 ELSE 0 END) AS BIGINT) AS cut_edges
       | FROM lab GROUP BY lu)
       |SELECT s.community, s.n_members,
       | COALESCE(es.internal_edges, 0) AS internal_edges,
       | COALESCE(es.cut_edges, 0) AS cut_edges,
       | CASE WHEN s.n_members >= 2
       |  THEN CAST((COALESCE(es.internal_edges, 0) * 2000000)
       |    // (s.n_members * (s.n_members - 1)) AS BIGINT)
       |  ELSE 0 END AS density_ppm
       |FROM sizes s LEFT JOIN es USING (community)
       |WHERE s.n_members >= 2
       |ORDER BY s.n_members DESC, s.community""".stripMargin

  /** Two-hop reachability profile — the neighbourhood-growth statistic
    * behind friend-of-friend recommendation reach and influence-seed
    * selection: per node, the exact count of DISTINCT nodes reachable
    * in ≤ 1 hop and in ≤ 2 hops over the co-purchase network (self
    * excluded), plus the expansion ratio. One wedge join (the
    * [[triangles]] Σdeg² bound on the support-thresholded signal
    * graph), one distinct, one count — no iteration, no driver state.
    */
  def twoHopReach(t: Tables): DataFrame = {
    val edges = edgesShared(t)
    val oneHop = edges.groupBy("u").agg(count(lit(1)).as("n1"))
    val twoHop = edges.as("a")
      .join(edges.select(col("u").as("m"), col("v").as("w")).as("b"),
        col("a.v") === col("b.m"))
      .select(col("a.u").as("u"), col("w"))
      .where(col("u") =!= col("w"))
      .unionAll(edges.select(col("u"), col("v").as("w")))
      .distinct()
      .groupBy("u").agg(count(lit(1)).as("n2"))
    oneHop.join(twoHop, Seq("u"))
      .select(col("u").as("p_partkey"), col("n1").as("reach_1"),
        col("n2").as("reach_2"),
        (col("n2").cast("double") / col("n1")).as("expansion"))
      .orderBy("p_partkey")
  }

  val twoHopReachSql: String =
    s"""WITH $coPurchaseEdgesSql,
       |one AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n1 FROM edges GROUP BY u),
       |two AS (
       |  SELECT u, CAST(COUNT(*) AS BIGINT) AS n2 FROM (
       |    SELECT DISTINCT u, w FROM (
       |      SELECT a.u, b.v AS w FROM edges a JOIN edges b ON a.v = b.u
       |      WHERE a.u <> b.v
       |      UNION ALL SELECT u, v FROM edges))
       |  GROUP BY u)
       |SELECT one.u AS p_partkey, n1 AS reach_1, n2 AS reach_2,
       |  CAST(n2 AS DOUBLE) / n1 AS expansion
       |FROM one JOIN two ON one.u = two.u
       |ORDER BY p_partkey""".stripMargin

  /** Walk length (steps) for [[randomWalks]]. Fixed so the oracle can
    * unroll — the [[pageRank]] convention.
    */
  private val WalkSteps = 3

  /** Deterministic random-walk corpus over the co-purchase network —
    * the DeepWalk/node2vec DATA-PREP step (emit one walk sequence per
    * node; the sequences then train embeddings like sentences train
    * word vectors). "Random" is the portable hash order every sampler
    * here uses: at each step the walk at node u moves to the neighbour
    * v minimizing `unitHash(walk_id ⊕ step ⊕ v)` — rerun-exact, engine-
    * replayable, no RNG state — so an inherently stochastic algorithm
    * still gets a hash-exact oracle (the pageRank contract).
    *
    * Per step the plan is one join along the edge relation plus a
    * walk-partitioned window over each walk's candidate set (bounded by
    * the node's degree — the same bound the triangle wedge join
    * carries). Walks backtrack freely (standard for DeepWalk corpora).
    */
  def randomWalks(t: Tables): DataFrame = {
    val edges = edgesShared(t)
    var walks = edges.select(col("u")).distinct()
      .select(col("u").as("walk_id"), col("u").as("cur"),
        col("u").cast("string").as("path"))
    for (step <- 1 to WalkSteps) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("walk_id").orderBy(col("h"), col("v"))
      walks = walks.join(edges, col("cur") === col("u"))
        .withColumn("h", Sampling.unitHash(
          concat_ws("_", col("walk_id"), lit(step), col("v"))))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("walk_id"), col("v").as("cur"),
          concat(col("path"), lit("->"), col("v")).as("path"))
    }
    walks.select(col("walk_id"), col("path"), col("cur").as("end_node"))
      .orderBy("walk_id")
  }

  lazy val randomWalksSql: String = {
    def step(i: Int, prev: String): String = {
      val h = Sampling.unitHashSqlFmt.format(
        s"(w.walk_id || '_' || $i || '_' || e.v)")
      s"""s$i AS (
         |  SELECT walk_id, v AS cur, path || '->' || v AS path FROM (
         |    SELECT w.walk_id, e.v, w.path,
         |      row_number() OVER (PARTITION BY w.walk_id
         |        ORDER BY $h, e.v) AS rk
         |    FROM $prev w JOIN edges e ON e.u = w.cur)
         |  WHERE rk = 1)""".stripMargin
    }
    val steps = (1 to WalkSteps)
      .map(i => step(i, if (i == 1) "w0" else s"s${i - 1}"))
      .mkString(",\n")
    s"""WITH $coPurchaseEdgesSql,
       |w0 AS (SELECT DISTINCT u AS walk_id, u AS cur, CAST(u AS VARCHAR) AS path
       |       FROM edges),
       |$steps
       |SELECT walk_id, path, cur AS end_node
       |FROM s$WalkSteps ORDER BY walk_id""".stripMargin
  }

  /** HITS supersteps. Fixed (not convergence-tested) so the oracle can
    * unroll — the [[pageRank]] convention.
    */
  private val HitsIters = 3

  /** HITS hubs-and-authorities over the BIPARTITE customer→part purchase
    * graph — the directed companion to [[pageRank]]'s undirected
    * co-purchase rank: a customer is a good hub when it buys
    * authoritative parts, a part is authoritative when good hubs buy it
    * (Kleinberg's mutual reinforcement; on a bipartite purchase graph
    * this is exactly the "influential buyers / canonical products"
    * curation signal).
    *
    * Arithmetic mirrors the pageRank exact-replay contract: scores live
    * in integer femto-units, each half-step is one join + one
    * aggregation along the edge relation, and the L1 normalization
    * `(score · Mass) div Σscores` runs in DECIMAL(38,0) (score·Mass
    * reaches 10³⁰ — far past long range) with truncating integral
    * division, matching DuckDB HUGEINT `//` digit for digit. The
    * normalizer total re-enters the plan as a broadcast 1-row aggregate
    * (never a driver collect), so a full hub+authority round is exactly
    * two shuffles along edges plus two bounded broadcasts — linear per
    * superstep, 100 TB-safe.
    *
    * Output: one row per node with its `role` ('authority' for parts,
    * 'hub' for customers), final femto score, and the exact double view.
    */
  def hits(t: Tables): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val edges0 = t.orders.select(col("o_orderkey"), col("o_custkey"))
      .join(t.lineitem.select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
    // TWO pinned ADJACENCY-ARRAY copies of the edge relation (the
    // classic by-src/by-dst layout): one row per customer with its part
    // list, one row per part with its customer list. A half-step's join
    // then matches NODE-count rows (15–20k here) instead of EDGE-count
    // rows (~580k), and the edge-sized explode happens IN-TASK after the
    // join, feeding the aggregation's map-side combine directly — the
    // join side shrinks ~30× and each pin materializes node-count rows
    // instead of the full pair list (guide §2.3: shuffle/join the
    // lightweight proxy, expand heavy rows once where they are needed).
    // Σ-per-receiver arithmetic is unchanged: the explode regenerates
    // exactly one row per (c,p) edge, so every group sums the identical
    // multiset in the identical exact type.
    // localCheckpoint, not persist: six consumers (two joins per
    // round), and a cacheManager persist would force the whole
    // orders⋈lineitem distinct to build as a CACHED plan with AQE
    // re-planning restricted (the dedup_clusters/verifyJaccard
    // mechanism)
    // collect_set FUSES the pair dedup into the adjacency build (one
    // exchange instead of distinct + groupBy); the by-part copy derives
    // from the pinned by-customer copy, never re-running the fact join
    val edgesByC = edges0.groupBy("c")
      .agg(collect_set(col("p")).as("ps")).localCheckpoint(true)
    val edgesByP = edgesByC
      .select(col("c"), explode(col("ps")).as("p"))
      .groupBy("p").agg(collect_list(col("c")).as("cs"))
      .localCheckpoint(true)
    // One L1 normalization per ROUND (on hubs) plus a final one on the
    // output authorities — not per half-step: only relative magnitudes
    // matter inside a round, raw sums stay exact in DECIMAL(38,0)
    // (Σ over two unnormalized hops ≤ maxdeg²·Mass ≈ 10¹⁹ passes 2⁶³,
    // hence the d38 sums), and halving the normalizer count halves the
    // checkpoint/broadcast chain (measured 6.5 s → see BENCH_DETAIL).
    // Each normalization pins its input with a localCheckpoint: the
    // total and the division both consume it, and unpinned the two
    // consumers per level would re-execute the whole upstream chain
    // (measured as a broadcast-build OOM at sf0.1). Node-count-sized
    // frames — bounded model state, never corpus state.
    def normalized(raw: DataFrame, key: String, scoreCol: String): DataFrame = {
      val pinned = raw.localCheckpoint(true)
      val tot = pinned.agg(sum(col(scoreCol).cast(d38)).as("t"))
      pinned.crossJoin(broadcast(tot))
        .select(col(key),
          expr(s"(CAST($scoreCol AS DECIMAL(38,0)) * ${Mass}L) div t")
            .as(scoreCol))
    }
    // adjacency rows are one-per-node already — no distinct needed
    var hubs = normalized(
      edgesByC.select("c").withColumn("h", lit(1L)), "c", "h")
    var authsRaw: DataFrame = null
    for (_ <- 1 to HitsIters) {
      authsRaw = edgesByC.join(hubs, Seq("c"))
        .select(explode(col("ps")).as("p"), col("h"))
        .groupBy("p").agg(sum(col("h").cast(d38)).as("a"))
      hubs = normalized(
        edgesByP.join(authsRaw, Seq("p"))
          .select(explode(col("cs")).as("c"), col("a"))
          .groupBy("c").agg(sum(col("a")).as("h")),
        "c", "h")
    }
    val auths = normalized(authsRaw, "p", "a")
    auths.select(lit("authority").as("role"), col("p").as("node_id"),
        col("a").as("score_femto"))
      .unionAll(hubs.select(lit("hub").as("role"), col("c").as("node_id"),
        col("h").as("score_femto")))
      .select(col("role"), col("node_id"), col("score_femto"),
        (col("score_femto").cast("double") / lit(1e15)).as("score"))
      .orderBy(col("role"), col("score_femto").desc, col("node_id"))
  }

  val hitsSql: String = {
    val mass = Mass.toString
    def round(i: Int, prevH: String): (String, String) = {
      val a =
        s"""a${i}r AS (
           |  SELECT p, SUM(h) AS a FROM edges JOIN $prevH USING (c)
           |  GROUP BY p)""".stripMargin
      val h =
        s"""h${i}r AS (
           |  SELECT c, SUM(a) AS h FROM edges JOIN a${i}r USING (p)
           |  GROUP BY c),
           |h$i AS (
           |  SELECT c, CAST(h * $mass // (SELECT SUM(h) FROM h${i}r)
           |    AS BIGINT) AS h FROM h${i}r)""".stripMargin
      (a, h)
    }
    val rounds = (1 to HitsIters).map(i => round(i, if (i == 1) "h0" else s"h${i - 1}"))
    val body = rounds.flatMap { case (a, h) => Seq(a, h) }
      .mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |h0r AS (SELECT c, CAST(1 AS BIGINT) AS h FROM (SELECT DISTINCT c FROM edges)),
       |h0 AS (SELECT c, CAST(h * $mass // (SELECT SUM(h) FROM h0r)
       |  AS BIGINT) AS h FROM h0r),
       |$body,
       |a$HitsIters AS (
       |  SELECT p, CAST(a * $mass // (SELECT SUM(a) FROM a${HitsIters}r)
       |    AS BIGINT) AS a FROM a${HitsIters}r)
       |SELECT role, node_id, score_femto,
       |  CAST(score_femto AS DOUBLE) / 1e15 AS score
       |FROM (
       |  SELECT 'authority' AS role, p AS node_id, a AS score_femto
       |  FROM a$HitsIters
       |  UNION ALL
       |  SELECT 'hub', c, h FROM h$HitsIters)
       |ORDER BY role, score_femto DESC, node_id""".stripMargin
  }

  /** Truss order: an edge survives while it closes ≥ [[KtrussK]]−2
    * triangles among surviving edges.
    */
  private val KtrussK = 3

  /** Fixed unroll bound shared with the oracle — peeling is monotone
    * (edges only leave), so rounds after convergence are no-ops and the
    * oracle's full unroll equals the operator's early-exited fixpoint.
    * Both SFs converge in 2 rounds; 6 is the fail-loud backstop.
    */
  private val KtrussMaxRounds = 6

  /** K-truss decomposition of the co-purchase graph (edge-level sibling
    * of [[kcore]]): iteratively peel every edge whose triangle support —
    * the number of common neighbors of its endpoints among SURVIVING
    * edges — falls below K−2, until fixpoint; emit the surviving edges
    * with their final support. The truss is the standard dense-subgraph
    * primitive one level stronger than k-core (every truss edge sits in
    * K−2 triangles, so truss communities are cohesive, not just
    * well-connected). Reference scope: the co-purchase mining family
    * (analyze.py:60-102); the truss refinement is standard public
    * knowledge (Cohen 2008).
    *
    * Scale: each round is one wedge join bounded by Σdeg(v)² over the
    * mined SIGNAL graph (support-thresholded, orders of magnitude
    * smaller than the fact table) plus a group-by — the same per-round
    * shape as [[kcore]]'s degree filter, shuffling on edge keys. Rounds
    * are data-dependent but bounded: [[untilRowCountStable]] pins each
    * round's survivor set, and [[KtrussMaxRounds]] is a fail-loud
    * backstop.
    */
  def ktruss(t: Tables): DataFrame = {
    val canon = minedPairsShared(t)
      .select(col("a_part").as("a"), col("b_part").as("b"))
    def support(cur: DataFrame): DataFrame = {
      val dbl = cur.select(col("a").as("u"), col("b").as("v"))
        .union(cur.select(col("b").as("u"), col("a").as("v")))
      cur
        .join(dbl.select(col("u").as("a"), col("v").as("w")), Seq("a"))
        .join(dbl.select(col("u").as("b"), col("v").as("w")), Seq("b", "w"))
        .groupBy("a", "b").agg(count(lit(1)).as("sup"))
    }
    val (cur, converged) = untilRowCountStable(canon, KtrussMaxRounds) { cur =>
      support(cur).where(col("sup") >= KtrussK - 2).select("a", "b")
    }
    require(converged,
      s"ktruss did not converge in $KtrussMaxRounds rounds; raise the backstop")
    support(cur)
      .select(col("a").as("a_part"), col("b").as("b_part"),
        col("sup").cast("long").as("truss_support"))
      .orderBy("a_part", "b_part")
  }

  /** Oracle: [[KtrussMaxRounds]] unrolled peel rounds over materialized
    * survivor sets (the [[kcoreSql]] convention — no-ops after
    * convergence, so the fixed unroll is exact), then the final support
    * recomputed on the surviving set.
    */
  val ktrussSql: String = {
    def supSql(tn: String, dn: String): String =
      s"""SELECT t.a, t.b, COUNT(*) AS sup FROM $tn t
         | JOIN $dn x ON x.u = t.a
         | JOIN $dn y ON y.u = t.b AND y.v = x.v
         | GROUP BY t.a, t.b""".stripMargin
    val rounds = (1 to KtrussMaxRounds).map { r =>
      s"""t$r AS MATERIALIZED (
         | SELECT a, b FROM (${supSql(s"t${r - 1}", s"d${r - 1}")})
         | WHERE sup >= ${KtrussK - 2}),
         |d$r AS MATERIALIZED (SELECT a AS u, b AS v FROM t$r
         |  UNION ALL SELECT b, a FROM t$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |t0 AS MATERIALIZED (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $EdgeSupport),
       |d0 AS MATERIALIZED (SELECT a AS u, b AS v FROM t0
       |  UNION ALL SELECT b, a FROM t0),
       |$rounds
       |SELECT a AS a_part, b AS b_part, CAST(sup AS BIGINT) AS truss_support
       |FROM (${supSql(s"t$KtrussMaxRounds", s"d$KtrussMaxRounds")})
       |ORDER BY a_part, b_part""".stripMargin
  }

  /** Degree thresholds probed by [[richClub]]. */
  private val RichClubKs = Seq(1L, 2L, 4L, 8L, 16L)

  /** Rich-club coefficient curve — "do the hubs preferentially connect
    * to each other" (Colizza et al., public knowledge), the one-number-
    * per-threshold summary that separates a hub-backbone topology from
    * a flat one: for each degree threshold k, take the club of nodes
    * with degree > k, count the mined edges with BOTH endpoints in the
    * club, and report the club's edge density
    * φ(k) = 2·E_k / (N_k·(N_k−1)) in exact ppm
    * (integer-scaled division — engine-portable, no float sums).
    *
    * Scale: degrees come off the shared mined-pair frame (one
    * aggregation); each of the |[[RichClubKs]]| thresholds is two
    * broadcast-able semi-joins of the edge list against the club's
    * node set plus one count — the whole curve is a bounded family of
    * linear passes over the SIGNAL graph, never the raw pair space.
    */
  def richClub(t: Tables): DataFrame = {
    val cp = minedPairsShared(t)
      .select(col("a_part").as("a"), col("b_part").as("b"))
    val deg = cp.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val perK = RichClubKs.map { k =>
      val club = deg.where(col("d") > k).select(col("node"))
      val nNodes = club.agg(count(lit(1)).as("n_nodes"))
      val nEdges = cp
        .join(club.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(club.select(col("node").as("b")), Seq("b"), "left_semi")
        .agg(count(lit(1)).as("n_edges"))
      nNodes.crossJoin(nEdges).select(lit(k).as("k"),
        col("n_nodes").cast("long").as("n_nodes"),
        col("n_edges").cast("long").as("n_edges"),
        when(col("n_nodes") >= 2,
          expr("(n_edges * 2000000L) div (n_nodes * (n_nodes - 1))"))
          .otherwise(lit(0L)).as("phi_ppm"))
    }
    perK.reduce(_ unionAll _).orderBy("k")
  }

  /** Oracle: the shared cp CTE + per-threshold club density, unioned
    * over the bounded threshold list.
    */
  val richClubSql: String = {
    val blocks = RichClubKs.map { k =>
      s"""SELECT $k AS k,
         | (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d > $k) AS n_nodes,
         | (SELECT CAST(COUNT(*) AS BIGINT) FROM cp
         |   WHERE a IN (SELECT node FROM deg WHERE d > $k)
         |     AND b IN (SELECT node FROM deg WHERE d > $k)) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |cp AS MATERIALIZED (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $EdgeSupport),
       |deg AS MATERIALIZED (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
       |   SELECT a AS node FROM cp UNION ALL SELECT b FROM cp) GROUP BY 1),
       |curve AS ($blocks)
       |SELECT k, n_nodes, n_edges,
       | CASE WHEN n_nodes >= 2
       |      THEN (n_edges * 2000000) // (n_nodes * (n_nodes - 1))
       |      ELSE 0 END AS phi_ppm
       |FROM curve ORDER BY k""".stripMargin
  }
}
