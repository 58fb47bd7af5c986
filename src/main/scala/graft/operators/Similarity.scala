package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column.
  *
  * Three tiers:
  *  - brute force: exact cosine top-k, the correctness baseline (linear
  *    scan, fine when the query set is small and the corpus is the big
  *    side — it's one broadcast + one TakeOrdered).
  *  - random-hyperplane LSH: corpus bucketed by a 16-bit sign signature —
  *    at scale, a query probes one bucket (≈ corpus/65536) instead of
  *    everything.
  *  - IVF: coarse k-means quantizer, probe the nearest cells. The
  *    centroid model is tiny driver-side state (k×dim doubles); the data
  *    never leaves the cluster.
  */
object Similarity {

  /** Exact cosine in double: sequential left fold via the codegen'd
    * [[graft.functions.DotProduct]], bit-identical to DuckDB's
    * `list_dot_product` (verified empirically).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b) /
      (sqrt(graft.functions.DotProduct(a, a)) * sqrt(graft.functions.DotProduct(b, b)))

  private[operators] def vectors(t: Tables): DataFrame =
    t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def queryVector(t: Tables): DataFrame =
    vectors(t).where(col("vec_id") === 0).select(col("v").as("qv"))

  /** Exact top-10 cosine neighbours of vec_id 0. */
  def bruteForceTopK(t: Tables): DataFrame =
    vectors(t)
      .where(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVector(t)))
      .select(col("vec_id"), cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)

  val bruteForceTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      |SELECT e.vec_id,
      | list_dot_product(e.v, q.qv) /
      |   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
      |FROM e CROSS JOIN q
      |WHERE e.vec_id <> 0
      |ORDER BY cosine DESC, vec_id
      |LIMIT 10""".stripMargin

  private[operators] val NumPlanes = 6 // 64 buckets; sized so buckets hold ~n/64 vectors
  private val Dim       = 64

  /** Deterministic ±1 hyperplanes (fixed LCG seed — no runtime RNG). */
  private[graft] val planes: Seq[Seq[Double]] = {
    var s = 0x9e3779b97f4a7c15L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    Seq.fill(NumPlanes)(Seq.fill(Dim)(if ((next() >>> 40 & 1) == 1) 1.0 else -1.0))
  }

  /** Random-hyperplane sign signature — the blocking key shared by
    * [[lshTopK]] and [[Dedup.embeddingCosine]]. Codegen'd dot products;
    * one narrow projection, no shuffle.
    */
  private[graft] def signBucket(v: Column): Column =
    (0 until NumPlanes).map { i =>
      when(graft.functions.DotProduct(v, typedLit(planes(i))) > 0, lit(1 << i))
        .otherwise(lit(0))
    }.reduce[Column](_ + _)

  /** LSH ANN: corpus bucketed by sign signature; the query probes its own
    * bucket plus all 1-bit-flip neighbours (multiprobe), then exact
    * rerank. Rows-only (bucket membership is implementation-defined).
    * At scale: candidate fetch touches ~(planes+1)/2^planes of the corpus.
    */
  def lshTopK(t: Tables): DataFrame = {
    val bucketed = vectors(t).withColumn("bucket", signBucket(col("v")))
    val probes = bucketed.where(col("vec_id") === 0)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
      .withColumn("probe",
        explode(array(col("qbucket") +:
          (0 until NumPlanes).map(i => col("qbucket").bitwiseXOR(1 << i)): _*)))
    bucketed
      .where(col("vec_id") =!= 0)
      .join(broadcast(probes), col("bucket") === col("probe"))
      .select(col("vec_id"), cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Oracle: full signature rebuild — the ±1 hyperplanes are
    * deterministic constants, so they inline into the SQL as literals and
    * DuckDB recomputes the exact same buckets, probes, and rerank
    * (list_dot_product folds bit-identically to [[graft.functions.DotProduct]]).
    */
  /** DuckDB expression computing [[signBucket]] over list column `v` —
    * the single source of truth for the plane literals, shared by this
    * oracle and [[Dedup.embeddingLshSql]].
    */
  private[operators] val bucketSqlExpr: String =
    (0 until NumPlanes).map { i =>
      val planeLit = planes(i).map(x => if (x > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, $planeLit::DOUBLE[]) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  val lshTopKSql: String = {
    val bucketExpr = bucketSqlExpr
    val probeList = ("qb" +: (0 until NumPlanes).map(i => s"xor(qb, ${1 << i})")).mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
       |q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
       |probes AS (SELECT qv, unnest([$probeList]) AS probe FROM q)
       |SELECT b.vec_id,
       | list_dot_product(b.v, p.qv) /
       |   (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(p.qv, p.qv))) AS cosine
       |FROM b JOIN probes p ON b.bucket = p.probe
       |WHERE b.vec_id <> 0
       |ORDER BY cosine DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  private val NumCells  = 16
  private val NumProbes = 4
  private val Iters     = 2

  /** Oracle: the whole IVF pipeline rebuilt in SQL — deterministic init
    * (first NumCells vectors), per-iteration argmin assignment with the
    * same (distance, cell) tie-break, DECIMAL(38,15)-exact centroid
    * means, probe selection by the same rank (q·q is row-constant so
    * ordering by c·c − 2q·c equals ordering by squared distance), exact
    * cosine rerank. Every arithmetic step pairs bit-identically with the
    * Spark side (list_dot_product ≡ DotProduct, decimal sums exact).
    */
  /** DuckDB CTE builders for the k-means replay — shared by the IVF and
    * [[kmeansClusters]] oracles. `assignSql` keeps the ordering distance
    * `d = c·c − 2v·c` so consumers can surface full squared distances.
    */
  private def assignSql(from: String, cents: String): String =
    s"""SELECT vec_id, v, cell, d FROM (
       | SELECT $from.vec_id, $from.v, $cents.cell,
       |  list_dot_product($cents.c, $cents.c)
       |    - 2 * list_dot_product($from.v, $cents.c) AS d,
       |  ROW_NUMBER() OVER (PARTITION BY $from.vec_id
       |   ORDER BY list_dot_product($cents.c, $cents.c)
       |     - 2 * list_dot_product($from.v, $cents.c), $cents.cell) AS rk
       | FROM $from CROSS JOIN $cents) WHERE rk = 1""".stripMargin
  private def meansSql(from: String): String =
    s"""SELECT cell, list(m ORDER BY pos) AS c FROM (
       | SELECT cell, pos,
       |  CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS m
       | FROM (SELECT cell, unnest(range(len(v))) AS pos, unnest(v) AS x FROM $from)
       | GROUP BY cell, pos)
       |GROUP BY cell""".stripMargin

  val ivfTopKSql: String = {
    def assign(from: String, cents: String): String = assignSql(from, cents)
    def means(from: String): String = meansSql(from)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assign("e", "c0")}),
       |c1 AS (${means("a1")}),
       |a2 AS (${assign("e", "c1")}),
       |c2 AS (${means("a2")}),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (
       | SELECT cell FROM c2, q
       | ORDER BY list_dot_product(c, c) - 2 * list_dot_product(qv, c), cell
       | LIMIT $NumProbes),
       |a3 AS (${assign("e", "c2")})
       |SELECT a3.vec_id,
       | list_dot_product(a3.v, q.qv) /
       |   (sqrt(list_dot_product(a3.v, a3.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine,
       | a3.cell
       |FROM a3 JOIN probe USING (cell), q
       |WHERE a3.vec_id <> 0
       |ORDER BY cosine DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** IVF ANN: k-means coarse quantizer (deterministic init: the first k
    * vectors), Lloyd iterations as DataFrame aggregations, then probe the
    * cells nearest the query and rerank exactly. Rows-only.
    *
    * The collect() here pulls only the k×dim centroid model (16×64
    * doubles) to the driver — bounded state, independent of corpus size.
    */
  // Nearest cell by squared distance expanded as ‖v−c‖² = v·v − 2v·c + c·c:
  // v·v is constant per row so the argmin only needs d = c·c − 2v·c, with
  // c·c precomputed driver-side and v·c the codegen'd DotProduct — no
  // interpreted HOF lambdas anywhere in the per-row hot path. Keeps both
  // the chosen cell and its d (for full-distance consumers).
  private def assignCells(vecs: DataFrame,
                          cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val scored = cents.map { case (id, c) =>
      val cc = c.map(x => x * x).sum
      struct(
        (lit(cc) - lit(2.0) * graft.functions.DotProduct(col("v"), typedLit(c))).as("d"),
        lit(id).as("cell"))
    }
    vecs
      .withColumn("_best", array_min(array(scored: _*)))
      .withColumn("cell", col("_best.cell"))
      .withColumn("d", col("_best.d"))
      .drop("_best")
  }

  /** Lloyd k-means over the cached vector frame: deterministic init (the
    * first [[NumCells]] vec_ids), [[Iters]] assignment/mean rounds.
    * Returns (final centroids, init centroids). Centroid means use the
    * portable scale-30 decimal recipe — order-independent AND
    * engine-portable by construction, so the oracle recomputes the exact
    * same centroid doubles and knife-edge argmins cannot diverge.
    */
  /** Session-scoped k-means model memo keyed by (session, data dir) —
    * the [[Graph.lpaShared]] artifact-lifetime convention applied to the
    * ANN coarse quantizer: a production pipeline trains the index model
    * once and every consumer (IVF, IVF-PQ, diversity/k-center/silhouette
    * audits, the kNN-graph tiers, the streaming gate) reuses it.
    * Training is deterministic per dir, so memoization changes no
    * result, only removes repeated Lloyd runs; the value is bounded
    * driver model state (k×dim doubles), WeakHashMap-scoped to the
    * session.
    */
  private val kmeansMemo =
    new graft.SessionMemo[(Seq[(Int, Seq[Double])], Seq[(Int, Seq[Double])])]

  private def trainKmeansShared(t: graft.Tables, vecs: DataFrame)
      : (Seq[(Int, Seq[Double])], Seq[(Int, Seq[Double])]) =
    kmeansMemo.getOrCompute(t.spark, t.dir)(trainKmeans(vecs))

  /** Force the shared k-means model for [[graft.Training]] — so Bench
    * charges Lloyd training to an explicit `_training:` row instead of
    * whichever family member runs first.
    */
  private[graft] def warmKmeans(t: graft.Tables): Unit = {
    val vecs = vectors(t).cache()
    try { trainKmeansShared(t, vecs); () } finally { vecs.unpersist(false) }
  }

  /** [[Iters]] Lloyd assignment/mean rounds from an explicit seed set —
    * the training loop factored out so half-corpus trainers
    * ([[clusterStability]]) run the IDENTICAL rounds as the shared
    * quantizer. Cells that lose every member vanish from the model
    * (matching the SQL replay's GROUP BY).
    */
  private def lloyd(vecs: DataFrame,
                    init: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    var cents = init
    for (_ <- 0 until Iters) {
      cents = assignCells(vecs, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(graft.functions.Exact.portableMean(col("x")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), expr("transform(pm, s -> s.m)").as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .toSeq
        .sortBy(_._1)
    }
    cents
  }

  private def trainKmeans(vecs: DataFrame)
      : (Seq[(Int, Seq[Double])], Seq[(Int, Seq[Double])]) = {
    val init: Seq[(Int, Seq[Double])] = vecs
      .where(col("vec_id") < NumCells)
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1)))
      .toSeq
    (lloyd(vecs, init), init)
  }

  /** The IVF query vector (vec 0). It usually rode along in the k-means
    * init collect (vec 0 is among the first [[NumCells]] ids); only an
    * id-gapped corpus pays an extra bounded fetch.
    */
  private def ivfQuery(vecs: DataFrame, init: Seq[(Int, Seq[Double])]): Seq[Double] =
    init.find(_._1 == 0).map(_._2).getOrElse(
      vecs.where(col("vec_id") === 0).select(col("v"))
        .collect()(0).getSeq[Double](0))

  /** Cell ids nearest-first for query `qv`: probe rank c·c − 2q·c (q·q
    * is row-constant), ties to the smaller id, with the SAME sequential
    * fold the SQL oracle's list_dot_product uses — so the ranking is
    * bit-identical across engines, not just mathematically equal (the
    * (a−b)² form accumulates different rounding).
    */
  private def probeOrder(cents: Seq[(Int, Seq[Double])], qv: Seq[Double]): Seq[Int] =
    cents
      .map { case (id, c) =>
        val cc = c.map(x => x * x).sum
        val qc = c.zip(qv).map { case (a, b) => a * b }.sum
        (id, cc - 2.0 * qc)
      }
      .sortBy(p => (p._2, p._1))
      .map(_._1)

  /** The bounded driver model a STREAMING ANN gate broadcasts: the
    * k-means coarse quantizer, the PQ codebook, and the tracked query
    * vector — trained once offline over the corpus, the anomaly-gate
    * train-batch/score-stream convention applied to vectors.
    */
  final case class AnnGateModel(
      query: Seq[Double],
      cents: Seq[(Int, Seq[Double])],
      pq: Map[(Int, Int), Seq[Double]])

  private[graft] def annGateModel(t: Tables): AnnGateModel = {
    val vecs = vectors(t).cache()
    val (cents, init) = trainKmeansShared(t, vecs)
    val pq = Embeddings.trainPqShared(t, vecs)
    val qv = ivfQuery(vecs, init)
    vecs.unpersist(false)
    AnnGateModel(qv, cents, pq)
  }

  /** Row-local coarse-cell assignment against literal centroids — the
    * streaming projection of [[assignCells]] (identical argmin structs).
    */
  private[graft] def cellColumn(v: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val scored = cents.map { case (id, c) =>
      val cc = c.map(x => x * x).sum
      struct(
        (lit(cc) - lit(2.0) * graft.functions.DotProduct(v, typedLit(c))).as("d"),
        lit(id).as("cell"))
    }
    array_min(array(scored: _*)).getField("cell")
  }

  def ivfTopK(t: Tables): DataFrame = {
    val vecs = vectors(t).cache()
    val (cents, init) = trainKmeansShared(t, vecs)
    def assign(cs: Seq[(Int, Seq[Double])]): DataFrame =
      assignCells(vecs, cs).drop("d")
    // no separate cache of the assignment — the final query is its only
    // consumer and reads the cached base vectors
    val qv = ivfQuery(vecs, init)
    val probeCells = probeOrder(cents, qv).take(NumProbes)
    val out = assign(cents)
      .where(col("cell").isin(probeCells: _*) && col("vec_id") =!= 0)
      .select(col("vec_id"), cosine(col("v"), typedLit(qv)).as("cosine"), col("cell"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
    // the cache only serves the training iterations above; release it so
    // library callers don't accumulate leaked storage (the final probe
    // query re-reads the narrow source once)
    vecs.unpersist(false)
    out
  }

  /** The shared IVF-PQ scoring pipeline: both models trained, the
    * query's probe cells chosen, survivors ADC-scored from codes alone —
    * returned UNRANKED as (vec_id, adc_dist) so [[ivfPqTopK]] and the
    * hybrid-retrieval fusion arm ([[Hybrid.hybridRrf]]) share one
    * definition of the vector ranking's inputs.
    */
  private[operators] def ivfPqAdc(t: Tables): DataFrame = {
    val vecs = vectors(t).cache()
    val (cents, init) = trainKmeansShared(t, vecs)
    val pq = Embeddings.trainPqShared(t, vecs)
    val qv = ivfQuery(vecs, init)
    val probeCells = probeOrder(cents, qv).take(NumProbes)
    val survivors = assignCells(vecs, cents)
      .where(col("cell").isin(probeCells: _*) && col("vec_id") =!= 0)
      .select(col("vec_id"), col("v"))
    // scoring = the SHARED ADC tail on the pruned candidate set
    val out = Embeddings.adcScores(Embeddings.subExplode(survivors),
      Embeddings.querySubvectors(vecs), pq)
    vecs.unpersist(false)
    out
  }

  /** IVF-PQ combined index search — the standard large-scale ANN
    * architecture (a FAISS `IVFx,PQy` shape): the k-means coarse
    * quantizer prunes the corpus to the [[NumProbes]] cells nearest the
    * query, and the survivors are scored by PQ asymmetric distance from
    * their 4-bit codes alone ([[Embeddings.pqAdcTopK]]'s scoring on
    * [[ivfTopK]]'s candidate set). At 100 TB this composes the two
    * independent savings: the probe touches ~probes/cells of the corpus,
    * and the scoring pass reads 32-bit codes instead of 512-bit vectors.
    * Codes here quantize the RAW vectors (IVF-Flat-PQ); residual PQ —
    * encoding v − centroid(cell) — would sharpen the codes with one
    * extra broadcast-subtract before training, on the same plumbing.
    *
    * Both models are bounded driver state trained deterministically, so
    * the oracle replays the ENTIRE composition: the k-means chain, the
    * probe choice, the PQ chain (CTE-prefixed to coexist), and the
    * decimal-portable ADC sum.
    */
  def ivfPqTopK(t: Tables): DataFrame =
    ivfPqAdc(t).orderBy(col("adc_dist"), col("vec_id")).limit(10)

  /** The CTE chain of [[ivfPqAdc]]: k-means replay, probe choice,
    * "pq"-prefixed PQ chain, survivor filter, and the decimal-portable
    * ADC aggregation, ending in `adc(vec_id, adc_dist)` — shared by
    * [[ivfPqTopKSql]] and [[Hybrid.hybridRrfSql]].
    */
  private[operators] val ivfPqAdcCte: String =
    s"""${Embeddings.eCte},
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${meansSql("a1")}),
       |a2 AS (${assignSql("e", "c1")}),
       |c2 AS (${meansSql("a2")}),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (
       | SELECT cell FROM c2, q
       | ORDER BY list_dot_product(c, c) - 2 * list_dot_product(qv, c), cell
       | LIMIT $NumProbes),
       |a3 AS (${assignSql("e", "c2")}),
       |surv AS (
       | SELECT a3.vec_id FROM a3 JOIN probe USING (cell)
       | WHERE a3.vec_id <> 0),
       |${Embeddings.pqCtesPrefixed("pq")},
       |qs AS (SELECT s, sv AS qsv FROM pqe2 WHERE vec_id = 0),
       |adc AS (
       | SELECT pqa2.vec_id,
       |  CAST(CAST(CAST(SUM(CAST(
       |    list_dot_product(pqcf.c, pqcf.c) - 2 * list_dot_product(qs.qsv, pqcf.c)
       |      + list_dot_product(qs.qsv, qs.qsv)
       |    AS DECIMAL(38,30))) AS DOUBLE) AS DECIMAL(24,12)) AS DOUBLE)
       |    AS adc_dist
       | FROM pqa2
       | JOIN surv ON pqa2.vec_id = surv.vec_id
       | JOIN pqcf ON pqa2.s = pqcf.s AND pqa2.cell = pqcf.cell
       | JOIN qs ON qs.s = pqa2.s
       | GROUP BY pqa2.vec_id)""".stripMargin

  /** Oracle: k-means replay + probe choice + the "pq"-prefixed PQ chain
    * + the survivor filter + the decimal-portable ADC aggregation, all
    * in one WITH.
    */
  val ivfPqTopKSql: String =
    s"""WITH $ivfPqAdcCte
       |SELECT vec_id, adc_dist FROM adc
       |ORDER BY adc_dist, vec_id
       |LIMIT 10""".stripMargin

  private val DiverseQuota = 10

  /** Diversity sampling via cluster quotas — the curation step that
    * keeps a corpus from collapsing onto its dominant mode: every
    * k-means cell of the embedding space contributes its
    * [[DiverseQuota]] best documents (longest text, deterministic
    * tie-break), so rare topics survive selection that a global
    * quality cut would starve. Assignment is the shared deterministic
    * Lloyd model (bounded driver state); the per-cell cut is the
    * TopKPerKey HEAP plan (k rows of state per cell, no per-cell
    * sort); the documents join is 1:1 by id. The oracle replays the
    * full k-means chain and takes the same per-cell top-k by
    * row_number.
    */
  def diverseSample(t: Tables): DataFrame = {
    val vecs = vectors(t).cache()
    val (cents, _) = trainKmeansShared(t, vecs)
    val scored = assignCells(vecs, cents)
      .select(col("vec_id"), col("cell"))
      .join(t.documents.select(col("doc_id"), col("n_chars")),
        col("vec_id") === col("doc_id"))
    val top = graft.plans.TopKPerKey(
      scored.select("cell", "doc_id", "n_chars"),
      Seq("cell"), Seq(("n_chars", false), ("doc_id", true)), DiverseQuota)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("n_chars").desc, col("doc_id"))
    val out = top
      .withColumn("cell_rank", row_number().over(w))
      .orderBy("cell", "cell_rank")
    vecs.unpersist(false)
    out
  }

  val diverseSampleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${meansSql("a1")}),
       |a2 AS (${assignSql("e", "c1")}),
       |c2 AS (${meansSql("a2")}),
       |a3 AS (${assignSql("e", "c2")})
       |SELECT cell, doc_id, n_chars, cell_rank FROM (
       | SELECT a3.cell, d.doc_id, d.n_chars,
       |  ROW_NUMBER() OVER (PARTITION BY a3.cell
       |    ORDER BY d.n_chars DESC, d.doc_id) AS cell_rank
       | FROM a3 JOIN documents d ON a3.vec_id = d.doc_id)
       |WHERE cell_rank <= $DiverseQuota
       |ORDER BY cell, cell_rank""".stripMargin

  /** Corpus k-means clustering as a first-class operator — the "cluster
    * the embedding space" step of curation (topic balancing, diversity
    * sampling, per-cluster quotas). Same deterministic Lloyd training as
    * IVF; output is every vector's final cell, its exact squared distance
    * to the centroid (d + v·v with the shared fold orders), and the
    * cluster size (one tiny per-cell aggregation broadcast back). The
    * centroid model is bounded driver state (k×dim doubles); assignment
    * is one narrow codegen'd pass over the corpus.
    */
  def kmeansClusters(t: Tables): DataFrame = {
    val vecs = vectors(t).cache()
    val (cents, _) = trainKmeansShared(t, vecs)
    val assigned = assignCells(vecs, cents)
      .select(col("vec_id"), col("cell"),
        (col("d") + graft.functions.DotProduct(col("v"), col("v"))).as("dist2"))
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("cluster_size"))
    val out = assigned.join(broadcast(sizes), Seq("cell"))
      .select("vec_id", "cell", "dist2", "cluster_size")
      .orderBy("vec_id")
    // training cache released — see ivfTopK
    vecs.unpersist(false)
    out
  }

  /** Oracle: the full 2-round Lloyd replay (same CTEs as the IVF oracle)
    * with the final assignment's d surfaced and v·v added back — every
    * arithmetic step pairs bit-identically with the Spark side.
    */
  val kmeansClustersSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${meansSql("a1")}),
       |a2 AS (${assignSql("e", "c1")}),
       |c2 AS (${meansSql("a2")}),
       |a3 AS (${assignSql("e", "c2")}),
       |sizes AS (SELECT cell, COUNT(*) AS cluster_size FROM a3 GROUP BY cell)
       |SELECT a3.vec_id, a3.cell,
       | a3.d + list_dot_product(a3.v, a3.v) AS dist2,
       | sizes.cluster_size
       |FROM a3 JOIN sizes USING (cell)
       |ORDER BY a3.vec_id""".stripMargin

  private val KnnK      = 3
  private val KnnBlocks = 16

  /** Shared ranking tail of BOTH kNN-join tiers: bounded-state
    * TopKPerKey heap reduction + rank + presentation sort. One
    * definition so the tiers cannot drift on k or tie-breaks.
    * `cand` columns: (vec_id, nb_id, cosine).
    */
  private def rankTopK(cand: DataFrame): DataFrame = {
    val top = graft.plans.TopKPerKey(cand, Seq("vec_id"),
      Seq(("cosine", false), ("nb_id", true)), KnnK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cosine").desc, col("nb_id"))
    top.withColumn("nn_rank", row_number().over(w))
      .orderBy("vec_id", "nn_rank")
  }

  /** Symmetric kNN join: the 3 nearest neighbours of EVERY vector — the
    * kNN-graph build behind diversity sampling, semantic clustering, and
    * graph-based curation. Exact all-pairs scoring via the same triangle
    * block replication as [[Dedup.embeddingCosine]] (each unordered pair
    * scored ONCE — uniform O(n²/G) tasks, no broadcast, no nested loop),
    * then mirrored and reduced to per-vector top-k by the bounded-state
    * [[graft.plans.TopKPerKey]] heap plan. This is the exact-baseline
    * tier; [[knnJoinLsh]] is the registered sub-quadratic tier that runs
    * the same score-and-heap shape per LSH bucket to break n².
    */
  def knnJoin(t: Tables): DataFrame = {
    // norms precomputed ONCE PER VECTOR before replication: the per-pair
    // score is then one dot product and two multiplies. sqrt(v·v) is the
    // same fold + sqrt the per-pair form evaluated, and (na*nb) the same
    // multiply as sqrt(..)*sqrt(..), so the cosine doubles are bitwise
    // unchanged and the oracle still hash-matches.
    val e = vectors(t).withColumn("blk", (col("vec_id") % KnnBlocks).cast("int"))
      .withColumn("nrm", sqrt(graft.functions.DotProduct(col("v"), col("v"))))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"),
      col("nrm").as("na"), col("blk").as("a_blk"),
      explode(sequence(col("blk"), lit(KnnBlocks - 1))).as("j"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"),
      col("nrm").as("nb"), col("blk").as("j"))
    val pairs = a.join(b, Seq("j"))
      .where(col("a_blk") =!= col("j") || col("a_id") < col("b_id"))
      .withColumn("cosine",
        graft.functions.DotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
      .select("a_id", "b_id", "cosine")
    // cosine is symmetric BITWISE (the index-order dot fold and the
    // commutative norm product are identical either way), so one score
    // serves both directions of the mirror
    val mirrored = pairs
      .select(col("a_id").as("vec_id"), col("b_id").as("nb_id"), col("cosine"))
      .unionAll(pairs
        .select(col("b_id").as("vec_id"), col("a_id").as("nb_id"), col("cosine")))
    rankTopK(mirrored)
  }

  val knnJoinSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (
       | SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
       |  list_dot_product(a.v, b.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
       | FROM e a JOIN e b ON a.vec_id <> b.vec_id)
       |SELECT vec_id, nb_id, cosine,
       | CAST(row_number() OVER (PARTITION BY vec_id
       |   ORDER BY cosine DESC, nb_id) AS INT) AS nn_rank
       |FROM p
       |QUALIFY nn_rank <= $KnnK
       |ORDER BY vec_id, nn_rank""".stripMargin

  /** Bucketed (LSH) kNN join — the SCALE tier of [[knnJoin]]. Every
    * vector probes its own sign bucket plus all 1-bit-flip neighbours
    * (the same multiprobe as [[lshTopK]]) and scores ONLY those
    * candidates, so the quadratic term is per-bucket — Σ|bucket|² ·
    * (planes+1), never corpus-global n² — and raising [[NumPlanes]]
    * keeps bucket populations bounded as the corpus grows. Candidates
    * are scored DIRECTED (a vector's probe ring covers every bucket
    * within hamming 1, and hamming is symmetric, so no mirror pass is
    * needed and no pair matches twice — the probe values are distinct
    * and a neighbour has one bucket), then reduced per vector by the
    * bounded-state [[graft.plans.TopKPerKey]] heap and ranked exactly
    * like the exact tier. Approximate by construction (recall depends
    * on the planes); the ORACLE replays the identical buckets, probe
    * rings, and scoring, so the contract is exact.
    */
  def knnJoinLsh(t: Tables): DataFrame = rankTopK(lshCandidates(t))

  /** The multiprobe candidate stage of [[knnJoinLsh]], shared with the
    * operators that consume the approximate kNN graph downstream
    * ([[hubness]], [[nnDescent]]): directed (vec_id, nb_id, cosine)
    * rows, Σ|bucket|²·(planes+1) work.
    */
  private def lshCandidates(t: Tables): DataFrame = {
    // per-vector norms precomputed before the probe-ring explosion —
    // same bitwise-parity argument as [[knnJoin]]
    val bucketed = vectors(t).withColumn("bucket", signBucket(col("v")))
      .withColumn("nrm", sqrt(graft.functions.DotProduct(col("v"), col("v"))))
    val probes = bucketed.select(
      col("vec_id"), col("v").as("qv"), col("nrm").as("qn"),
      explode(array(col("bucket") +:
        (0 until NumPlanes).map(i => col("bucket").bitwiseXOR(1 << i)): _*)).as("probe"))
    probes
      .join(bucketed.select(col("vec_id").as("nb_id"), col("v").as("nv"),
        col("nrm").as("nn"), col("bucket")),
        col("probe") === col("bucket"))
      .where(col("vec_id") =!= col("nb_id"))
      .select(col("vec_id"), col("nb_id"),
        (graft.functions.DotProduct(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .as("cosine"))
  }

  /** Top-[[KnnK]] cut WITHOUT the presentation sort — for internal
    * consumers of the kNN graph where a final ORDER BY would be a dead
    * range exchange.
    */
  private def topKUnsorted(cand: DataFrame): DataFrame =
    graft.plans.TopKPerKey(cand, Seq("vec_id"),
      Seq(("cosine", false), ("nb_id", true)), KnnK)

  /** Shared oracle CTE prefix for the LSH candidate stage — same plane
    * literals (via [[bucketSqlExpr]]), same probe ring, same directed
    * scoring as [[lshCandidates]]. `lazy` (init-order safety: splices
    * object constants).
    */
  private lazy val knnLshCoreSql: String = {
    val probeList =
      ("bucket" +: (0 until NumPlanes).map(i => s"xor(bucket, ${1 << i})")).mkString(", ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucketSqlExpr AS bucket FROM e),
       |probes AS (
       | SELECT vec_id, v AS qv, unnest([$probeList]) AS probe FROM b),
       |cand AS (
       | SELECT p.vec_id, b.vec_id AS nb_id,
       |  list_dot_product(p.qv, b.v) /
       |    (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
       | FROM probes p JOIN b ON p.probe = b.bucket
       | WHERE p.vec_id <> b.vec_id)""".stripMargin
  }

  /** Oracle: full replay — the shared [[knnLshCoreSql]] candidate
    * stage, then the same rank cut as the operator.
    */
  lazy val knnJoinLshSql: String =
    s"""WITH $knnLshCoreSql
       |SELECT vec_id, nb_id, cosine,
       | CAST(row_number() OVER (PARTITION BY vec_id
       |   ORDER BY cosine DESC, nb_id) AS INT) AS nn_rank
       |FROM cand
       |QUALIFY nn_rank <= $KnnK
       |ORDER BY vec_id, nn_rank""".stripMargin

  /** k-occurrence hubness audit of the embedding space — the
    * ANN-quality diagnostic from the hubness literature (Radovanović et
    * al.: in high dimensions a few points become "hubs" that appear in
    * a disproportionate share of other points' kNN lists while
    * "antihubs" appear in none, and retrieval quality degrades): for
    * every vector, N_k = how many OTHER vectors list it in their
    * top-[[KnnK]] (over the [[knnJoinLsh]] approximate graph — the
    * tier a 100 TB index build would actually run), plus the role
    * classification (hub ≥ 2k, antihub = 0).
    *
    * Plan: the shared Σ|bucket|² candidate stage, the bounded-state
    * TopKPerKey cut, ONE count aggregation keyed by the NEIGHBOUR id,
    * and a left join back to the corpus for the zero-occurrence rows.
    * No new quadratic term beyond the bucketed candidate stage.
    */
  def hubness(t: Tables): DataFrame = {
    val occ = topKUnsorted(lshCandidates(t))
      .groupBy(col("nb_id").as("vec_id"))
      .agg(count(lit(1)).as("k_occurrence"))
    vectors(t).select("vec_id")
      .join(occ, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("k_occurrence"), lit(0L)).as("k_occurrence"))
      .withColumn("node_role",
        when(col("k_occurrence") >= 2L * KnnK, "hub")
          .when(col("k_occurrence") === 0L, "antihub")
          .otherwise("normal"))
      .orderBy(col("k_occurrence").desc, col("vec_id"))
  }

  lazy val hubnessSql: String =
    s"""WITH $knnLshCoreSql,
       |knn AS (
       | SELECT vec_id, nb_id FROM (
       |  SELECT vec_id, nb_id, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cosine DESC, nb_id) AS rk FROM cand)
       | WHERE rk <= $KnnK),
       |occ AS (SELECT nb_id AS vec_id, CAST(COUNT(*) AS BIGINT)
       |  AS k_occurrence FROM knn GROUP BY 1)
       |SELECT e.vec_id, COALESCE(occ.k_occurrence, 0) AS k_occurrence,
       | CASE WHEN COALESCE(occ.k_occurrence, 0) >= ${2 * KnnK} THEN 'hub'
       |      WHEN COALESCE(occ.k_occurrence, 0) = 0 THEN 'antihub'
       |      ELSE 'normal' END AS node_role
       |FROM e LEFT JOIN occ ON occ.vec_id = e.vec_id
       |ORDER BY k_occurrence DESC, e.vec_id""".stripMargin

  /** One NN-descent refinement round over the [[knnJoinLsh]] seed graph
    * — the standard way a large-scale kNN-graph build recovers the
    * recall an LSH seeding loses (Dong et al.'s NN-Descent: a
    * neighbour of my neighbour is probably my neighbour): candidates =
    * seed edges ∪ neighbour-of-neighbour expansions (≤ k + k² per
    * vector — bounded by construction, never corpus-quadratic),
    * rescored with the exact cosine and re-cut to top-[[KnnK]].
    *
    * The seed's top-k lists are read three times (both sides of the
    * expansion join + the union), so the frame is localCheckpoint-pinned
    * (not persisted: a cacheManager persist would build the seed as a
    * CACHED plan with AQE restricted and leak the entry); rescoring
    * reuses the identical dot-product fold, so surviving seed edges
    * keep bitwise-equal cosines and the oracle replays the whole round.
    */
  def nnDescent(t: Tables): DataFrame = {
    val seed = topKUnsorted(lshCandidates(t))
      .select("vec_id", "nb_id").localCheckpoint(true)
    val nn2 = seed.as("s1")
      .join(seed.as("s2"), col("s1.nb_id") === col("s2.vec_id"))
      .select(col("s1.vec_id").as("vec_id"), col("s2.nb_id").as("nb_id"))
      .where(col("vec_id") =!= col("nb_id"))
    val cands = seed.unionAll(nn2).distinct()
    val vecs = vectors(t)
      .withColumn("nrm", sqrt(graft.functions.DotProduct(col("v"), col("v"))))
    val scored = cands
      .join(vecs.select(col("vec_id"), col("v").as("qv"), col("nrm").as("qn")),
        Seq("vec_id"))
      .join(vecs.select(col("vec_id").as("nb_id"), col("v").as("nv"),
        col("nrm").as("nn")), Seq("nb_id"))
      .select(col("vec_id"), col("nb_id"),
        (graft.functions.DotProduct(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .as("cosine"))
    rankTopK(scored)
  }

  lazy val nnDescentSql: String =
    s"""WITH $knnLshCoreSql,
       |knn AS (
       | SELECT vec_id, nb_id FROM (
       |  SELECT vec_id, nb_id, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cosine DESC, nb_id) AS rk FROM cand)
       | WHERE rk <= $KnnK),
       |cands AS (
       | SELECT DISTINCT vec_id, nb_id FROM (
       |  SELECT vec_id, nb_id FROM knn
       |  UNION ALL
       |  SELECT s1.vec_id, s2.nb_id FROM knn s1
       |  JOIN knn s2 ON s1.nb_id = s2.vec_id
       |  WHERE s1.vec_id <> s2.nb_id)),
       |scored AS (
       | SELECT c.vec_id, c.nb_id,
       |  list_dot_product(a.v, b.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
       | FROM cands c JOIN e a ON a.vec_id = c.vec_id
       | JOIN e b ON b.vec_id = c.nb_id)
       |SELECT vec_id, nb_id, cosine,
       | CAST(row_number() OVER (PARTITION BY vec_id
       |   ORDER BY cosine DESC, nb_id) AS INT) AS nn_rank
       |FROM scored
       |QUALIFY nn_rank <= $KnnK
       |ORDER BY vec_id, nn_rank""".stripMargin

  /** Cosine threshold for [[semDedup]] (the [[Dedup.embeddingCosine]]
    * family threshold, so the tiers report comparable duplicates).
    */
  private val SemDedupTau = 0.4

  /** SemDeDup — semantic deduplication by k-means cell blocking (Abbas
    * et al. 2023, public knowledge): embed → cluster → compare ONLY
    * within a cluster → drop all but the lowest-id member of each
    * near-dup neighbourhood. This is the published recipe for semantic
    * dedup at web scale, and the third rung of the embedding-dedup
    * ladder here: [[Dedup.embeddingCosine]] is the exact O(n²/G)
    * baseline, [[Dedup.embeddingLsh]] blocks by sign buckets, this
    * blocks by the SHARED k-means cells (the memoized coarse quantizer
    * every ANN consumer already uses — one more consumer, zero extra
    * training). Pair work is Σ|cell|², never n²; a duplicate is any
    * vector with an EARLIER (lower vec_id) same-cell vector at cosine ≥
    * [[SemDedupTau]] (the incremental-dedup keep-first convention).
    * Output per vector: cell, count of earlier near-dups, the max such
    * cosine (0.0 for keepers — the documented sentinel), keep flag.
    */
  def semDedup(t: Tables): DataFrame = {
    val vecs = vectors(t).cache()
    val (cents, _) = trainKmeansShared(t, vecs)
    val assigned = assignCells(vecs, cents)
      .select(col("vec_id"), col("cell"), col("v"))
    val dups = assigned.select(col("cell"), col("vec_id").as("a_id"),
        col("v").as("va"))
      .join(assigned.select(col("cell"), col("vec_id").as("b_id"),
        col("v").as("vb")), Seq("cell"))
      .where(col("a_id") < col("b_id"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .where(col("cosine") >= SemDedupTau)
      .groupBy(col("b_id").as("vec_id"))
      .agg(count(lit(1)).as("n_dups_earlier"),
        max(col("cosine")).as("max_cosine"))
    val out = assigned.select("vec_id", "cell")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups_earlier"), lit(0L)).as("n_dups_earlier"),
        coalesce(col("max_cosine"), lit(0.0)).as("max_cosine"),
        col("n_dups_earlier").isNull.as("keep"))
      .orderBy("vec_id")
    vecs.unpersist(false)
    out
  }

  /** Oracle: the shared 2-round Lloyd replay, then the within-cell
    * ordered pair scan with the identical cosine and threshold.
    */
  val semDedupSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${meansSql("a1")}),
       |a2 AS (${assignSql("e", "c1")}),
       |c2 AS (${meansSql("a2")}),
       |a3 AS (${assignSql("e", "c2")}),
       |p AS (
       | SELECT y.vec_id,
       |  list_dot_product(x.v, y.v) /
       |    (sqrt(list_dot_product(x.v, x.v)) *
       |     sqrt(list_dot_product(y.v, y.v))) AS cosine
       | FROM a3 x JOIN a3 y ON x.cell = y.cell AND x.vec_id < y.vec_id),
       |d AS (
       | SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups_earlier,
       |  MAX(cosine) AS max_cosine
       | FROM p WHERE cosine >= $SemDedupTau GROUP BY vec_id)
       |SELECT a3.vec_id, a3.cell,
       | COALESCE(d.n_dups_earlier, 0) AS n_dups_earlier,
       | COALESCE(d.max_cosine, 0.0) AS max_cosine,
       | d.n_dups_earlier IS NULL AS keep
       |FROM a3 LEFT JOIN d USING (vec_id)
       |ORDER BY a3.vec_id""".stripMargin

  /** Prefix-renamed oracle CTE chain for [[semDedup]]'s keep verdict,
    * ending in `<p>keep(vec_id, keep)` — for compositions whose WITH
    * block already uses the default e/c0/a1… names (the dc*-rename
    * convention of [[Curation.pretrainPipelineSql]]).
    */
  private[operators] def semDedupKeepCtes(p: String): String =
    s"""${p}e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${p}c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM ${p}e
       |  WHERE vec_id < $NumCells),
       |${p}a1 AS (${assignSql(s"${p}e", s"${p}c0")}),
       |${p}c1 AS (${meansSql(s"${p}a1")}),
       |${p}a2 AS (${assignSql(s"${p}e", s"${p}c1")}),
       |${p}c2 AS (${meansSql(s"${p}a2")}),
       |${p}a3 AS (${assignSql(s"${p}e", s"${p}c2")}),
       |${p}p AS (
       | SELECT y.vec_id,
       |  list_dot_product(x.v, y.v) /
       |    (sqrt(list_dot_product(x.v, x.v)) *
       |     sqrt(list_dot_product(y.v, y.v))) AS cosine
       | FROM ${p}a3 x JOIN ${p}a3 y
       |   ON x.cell = y.cell AND x.vec_id < y.vec_id),
       |${p}d AS (
       | SELECT vec_id FROM ${p}p WHERE cosine >= $SemDedupTau
       | GROUP BY vec_id),
       |${p}keep AS (
       | SELECT ${p}a3.vec_id, ${p}d.vec_id IS NULL AS keep
       | FROM ${p}a3 LEFT JOIN ${p}d USING (vec_id))""".stripMargin

  /** Beam width for [[graphSearch]]. */
  private val SearchBeam = 8
  /** Fixed greedy-expansion rounds for [[graphSearch]] — shared with
    * the oracle's unrolled CTEs.
    */
  private val SearchRounds = 3
  /** Results returned per query by [[graphSearch]]. */
  private val SearchK = 5
  /** Indexed (base) fraction for [[graphSearch]]'s hash split. */
  private val SearchBaseFrac = 0.8

  /** Graph-based ANN search — the HNSW/NSG base-layer search pattern
    * (Malkov & Yashunin 2018, public knowledge) expressed as bounded
    * relational rounds: the INDEX is the top-[[KnnK]] LSH-kNN graph
    * over the base split (what a production build ships to disk), and a
    * QUERY greedily walks it — start every query's beam at one
    * deterministic entry point (the minimum base id, the HNSW
    * fixed-entry convention), then [[SearchRounds]] rounds of
    * expand-neighbours → exact-cosine score → keep the best
    * [[SearchBeam]] per query, finishing with the top-[[SearchK]] cut.
    *
    * Spark shape per round: the id-only beam frontier (≤ queries ×
    * [[SearchBeam]] pairs of longs — broadcast by construction)
    * broadcast-joins the graph adjacency and then the base vectors, so
    * neither corpus-sized relation is re-shuffled across rounds (work
    * is queries × beam × degree, never queries × corpus); the
    * expansion is NOT pre-distinct'd — a candidate reachable from
    * several frontier nodes scores ≤ [[SearchBeam]] duplicate rows
    * (cheap codegen'd dot products) that the dedup-max groupBy folds
    * map-side, which beats a whole extra shuffle per round; then the
    * bounded-state [[graft.plans.TopKPerKey]] beam cut; each round's
    * beam pins via localCheckpoint. Unlike
    * [[lshTopK]] (probe buckets) and [[ivfTopK]] (probe cells), the
    * candidate set ADAPTS to what the query has already seen — the
    * property that makes graph indexes the recall/latency frontier.
    * Approximate by construction; the oracle replays the identical
    * graph, entry, rounds, beam cuts, and tie-breaks, so the contract
    * is exact.
    */
  def graphSearch(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val split = Sampling.unitHash(col("vec_id")) < SearchBaseFrac
    val base = vectors(t).where(split)
      .withColumn("nrm", sqrt(graft.functions.DotProduct(col("v"), col("v"))))
      .localCheckpoint(true)
    val queries = vectors(t).where(!split)
      .withColumn("qn", sqrt(graft.functions.DotProduct(col("v"), col("v"))))
      .select(col("vec_id"), col("v").as("qv"), col("qn"))
      .localCheckpoint(true)
    val entryRow = base.agg(min(col("vec_id"))).head()
    if (entryRow.isNullAt(0))
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("vec_id", "nb_id", "cosine", "nn_rank")
    val entryId = entryRow.getLong(0)
    // base membership is the deterministic hash split, so it filters as
    // a PREDICATE pushed through the LSH bucket join (both endpoints),
    // instead of two corpus-sized membership joins AFTER scoring —
    // non-base pairs are never even scored
    val graph = topKUnsorted(
      lshCandidates(t)
        .where(Sampling.unitHash(col("vec_id")) < SearchBaseFrac &&
          Sampling.unitHash(col("nb_id")) < SearchBaseFrac))
      .select(col("vec_id").as("u"), col("nb_id").as("nb"))
      .localCheckpoint(true)
    // id pairs broadcast into the base join (queries × beam × degree
    // longs); the queries join is left to AQE — both of its sides are
    // query-count-bounded, so a shuffle join is the correct shape when
    // the query set itself is large
    def score(cands: DataFrame): DataFrame =
      base.select(col("vec_id").as("cand"), col("v").as("nv"),
        col("nrm").as("nn"))
        .join(broadcast(cands), Seq("cand"))
        .join(queries, Seq("vec_id"))
        .select(col("vec_id"), col("cand"),
          (graft.functions.DotProduct(col("qv"), col("nv")) /
            (col("qn") * col("nn"))).as("cosine"))
    var beam = score(
      queries.select(col("vec_id")).withColumn("cand", lit(entryId)))
      .localCheckpoint(true)
    for (_ <- 1 to SearchRounds) {
      val expanded = graph
        .join(broadcast(beam.select(col("vec_id"), col("cand"))),
          col("cand") === col("u"))
        .select(col("vec_id"), col("nb").as("cand"))
      // beam ∪ expansion dedups by MAX (identical cosines — the dot
      // fold is deterministic per pair), then the heap cut keeps the
      // per-query state bounded at SearchBeam rows
      beam = graft.plans.TopKPerKey(
        beam.unionByName(score(expanded))
          .groupBy("vec_id", "cand").agg(max(col("cosine")).as("cosine")),
        Seq("vec_id"), Seq(("cosine", false), ("cand", true)), SearchBeam)
        .localCheckpoint(true)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cosine").desc, col("cand"))
    beam.withColumn("nn_rank", row_number().over(w))
      .where(col("nn_rank") <= SearchK)
      .select(col("vec_id"), col("cand").as("nb_id"), col("cosine"),
        col("nn_rank"))
      .orderBy("vec_id", "nn_rank")
  }

  /** Oracle: full replay — shared LSH candidate stage filtered to the
    * base split, the identical top-[[KnnK]] graph, entry point, and
    * [[SearchRounds]] unrolled beam rounds (MATERIALIZED — each beam is
    * referenced by the next round's expansion AND its own union).
    */
  lazy val graphSearchSql: String = {
    val u = Sampling.unitHashSqlFmt.format("vec_id")
    val rounds = (1 to SearchRounds).map { r =>
      s"""x$r AS (
         | SELECT DISTINCT bm.vec_id, g.nb AS cand
         | FROM bm${r - 1} bm JOIN graph g ON g.u = bm.cand),
         |s$r AS (
         | SELECT x.vec_id, x.cand,
         |  list_dot_product(q.v, bv.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) *
         |     sqrt(list_dot_product(bv.v, bv.v))) AS cosine
         | FROM x$r x JOIN q ON q.vec_id = x.vec_id
         | JOIN bv ON bv.vec_id = x.cand),
         |bm$r AS MATERIALIZED (
         | SELECT vec_id, cand, cosine FROM (
         |  SELECT vec_id, cand, cosine, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, cand) AS rk
         |  FROM (
         |   SELECT vec_id, cand, MAX(cosine) AS cosine
         |   FROM (SELECT * FROM bm${r - 1} UNION ALL SELECT * FROM s$r)
         |   GROUP BY vec_id, cand))
         | WHERE rk <= $SearchBeam)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnLshCoreSql,
       |sp AS (SELECT vec_id, $u < $SearchBaseFrac AS is_base FROM embeddings),
       |bv AS (SELECT e.vec_id, e.v FROM e JOIN sp USING (vec_id) WHERE is_base),
       |q AS (SELECT e.vec_id, e.v FROM e JOIN sp USING (vec_id) WHERE NOT is_base),
       |gc AS (
       | SELECT c.vec_id, c.nb_id, c.cosine FROM cand c
       | JOIN sp a ON a.vec_id = c.vec_id
       | JOIN sp b2 ON b2.vec_id = c.nb_id
       | WHERE a.is_base AND b2.is_base),
       |graph AS MATERIALIZED (
       | SELECT vec_id AS u, nb_id AS nb FROM (
       |  SELECT vec_id, nb_id, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cosine DESC, nb_id) AS rk FROM gc)
       | WHERE rk <= $KnnK),
       |ent AS (SELECT MIN(vec_id) AS eid FROM bv),
       |bm0 AS MATERIALIZED (
       | SELECT q.vec_id, ent.eid AS cand,
       |  list_dot_product(q.v, bv.v) /
       |    (sqrt(list_dot_product(q.v, q.v)) *
       |     sqrt(list_dot_product(bv.v, bv.v))) AS cosine
       | FROM q CROSS JOIN ent JOIN bv ON bv.vec_id = ent.eid),
       |$rounds
       |SELECT vec_id, cand AS nb_id, cosine,
       | CAST(row_number() OVER (PARTITION BY vec_id
       |   ORDER BY cosine DESC, cand) AS INT) AS nn_rank
       |FROM bm$SearchRounds
       |QUALIFY nn_rank <= $SearchK
       |ORDER BY vec_id, nn_rank""".stripMargin
  }

  /** Train fraction for [[knnClassify]]'s hash split. */
  private val ClassifyTrainFrac = 0.8

  /** kNN label transfer over the LSH-bucketed graph — the
    * weak-supervision / label-propagation workhorse of dataset curation
    * (label a new shard from an already-labeled corpus, or audit labels
    * by self-prediction): vectors split train/test by the portable
    * vec_id hash ([[Sampling.unitHash]] — rerun-exact, no RNG), each
    * TEST vector probes its sign bucket ring and scores only TRAIN
    * candidates (the directed Σ|bucket|² shape of [[knnJoinLsh]]), the
    * top-[[KnnK]] cut runs through the bounded-state TopKPerKey heap,
    * and the vote is a (vector, label) count with a deterministic
    * (count desc, label asc) tie-break over ≤ k rows per vector.
    * Test vectors whose probe ring holds no train candidate drop out —
    * the honest contract for a bucketed index (the oracle replays the
    * same drop).
    */
  def knnClassify(t: Tables): DataFrame = {
    val base = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label").cast("long").as("label"))
      .withColumn("bucket", signBucket(col("v")))
      .withColumn("nrm", sqrt(graft.functions.DotProduct(col("v"), col("v"))))
      .withColumn("is_train",
        Sampling.unitHash(col("vec_id")) < ClassifyTrainFrac)
    val probes = base.where(!col("is_train")).select(
      col("vec_id"), col("label"), col("v").as("qv"), col("nrm").as("qn"),
      explode(array(col("bucket") +:
        (0 until NumPlanes).map(i => col("bucket").bitwiseXOR(1 << i)): _*)).as("probe"))
    val cand = probes
      .join(base.where(col("is_train")).select(col("v").as("nv"),
        col("nrm").as("nn"), col("bucket"), col("label").as("nb_label")),
        col("probe") === col("bucket"))
      .select(col("vec_id"), col("label"), col("nb_label"),
        (graft.functions.DotProduct(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .as("cosine"))
    val top = graft.plans.TopKPerKey(cand, Seq("vec_id"),
      Seq(("cosine", false), ("nb_label", true)), KnnK)
    val votes = top.groupBy("vec_id", "label", "nb_label")
      .agg(count(lit(1)).as("n_votes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      .orderBy(col("n_votes").desc, col("nb_label"))
    votes.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("nb_label").as("predicted"),
        col("n_votes"),
        (col("nb_label") === col("label")).as("correct"))
      .orderBy("vec_id")
  }

  /** Oracle: full replay — hash split, probe ring, directed scoring,
    * rank cut, majority vote with the identical tie-break. `lazy`
    * (init-order safety: splices [[bucketSqlExpr]]).
    */
  lazy val knnClassifySql: String = {
    val u = Sampling.unitHashSqlFmt.format("vec_id")
    val probeList =
      ("bucket" +: (0 until NumPlanes).map(i => s"xor(bucket, ${1 << i})")).mkString(", ")
    s"""WITH e AS (
       | SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS label,
       |  $u < $ClassifyTrainFrac AS is_train
       | FROM embeddings),
       |b AS (SELECT vec_id, v, label, is_train, $bucketSqlExpr AS bucket FROM e),
       |probes AS (
       | SELECT vec_id, label, v AS qv, unnest([$probeList]) AS probe
       | FROM b WHERE NOT is_train),
       |cand AS (
       | SELECT p.vec_id, p.label, t.label AS nb_label,
       |  list_dot_product(p.qv, t.v) /
       |    (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(t.v, t.v))) AS cosine
       | FROM probes p JOIN b t ON p.probe = t.bucket AND t.is_train),
       |top AS (
       | SELECT vec_id, label, nb_label FROM (
       |  SELECT vec_id, label, nb_label, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cosine DESC, nb_label) AS rk
       |  FROM cand)
       | WHERE rk <= $KnnK),
       |votes AS (
       | SELECT vec_id, label, nb_label, CAST(COUNT(*) AS BIGINT) AS n_votes
       | FROM top GROUP BY 1, 2, 3)
       |SELECT vec_id, label, nb_label AS predicted, n_votes,
       | nb_label = label AS correct
       |FROM (
       | SELECT *, row_number() OVER (PARTITION BY vec_id
       |   ORDER BY n_votes DESC, nb_label) AS rk FROM votes)
       |WHERE rk = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** Terms per cluster reported by [[topicClusters]]. */
  private val TopicTerms = 5

  /** Topic clustering report — the "what IS in my corpus" deliverable a
    * curation run ends with: documents clustered in embedding space
    * (the same deterministic Lloyd k-means as [[kmeansClusters]], so
    * clusters are replayable), then each cluster labeled by its top
    * [[TopicTerms]] terms (alphabetic, ≥ 4 chars, exact term
    * frequency over the cluster's documents). The embedding side gives
    * semantic grouping; the text side names it.
    *
    * Plan: bounded centroid model broadcast back (never corpus-sized
    * driver state), one narrow assignment pass, a row-local word
    * explode, ONE (cell, term) aggregation with map-side combine, and
    * the bounded-state TopKPerKey cut. The word-frequency domain is
    * vocabulary-sized per cluster, never corpus².
    */
  def topicClusters(t: Tables): DataFrame = {
    val vecs = vectors(t).cache()
    val (cents, _) = trainKmeansShared(t, vecs)
    val assigned = assignCells(vecs, cents).select(col("vec_id"), col("cell"))
    val words = t.documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(length(col("term")) >= 4 && col("term").rlike("^[a-z]+$"))
    val tf = assigned.join(words, col("doc_id") === col("vec_id"))
      .groupBy("cell", "term").agg(count(lit(1)).as("tf"))
    val top = graft.plans.TopKPerKey(tf, Seq("cell"),
      Seq(("tf", false), ("term", true)), TopicTerms)
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("cluster_size"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("tf").desc, col("term"))
    val out = top.withColumn("term_rank", row_number().over(w))
      .join(broadcast(sizes), Seq("cell"))
      .select("cell", "cluster_size", "term_rank", "term", "tf")
      .orderBy("cell", "term_rank")
    // training cache released — see ivfTopK
    vecs.unpersist(false)
    out
  }

  /** Oracle: the Lloyd replay CTEs plus a word explode and the same
    * per-cluster rank cut.
    */
  lazy val topicClustersSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${meansSql("a1")}),
       |a2 AS (${assignSql("e", "c1")}),
       |c2 AS (${meansSql("a2")}),
       |a3 AS (${assignSql("e", "c2")}),
       |words AS (
       | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |wf AS (
       | SELECT a3.cell, w.term, CAST(COUNT(*) AS BIGINT) AS tf
       | FROM a3 JOIN words w ON w.doc_id = a3.vec_id
       | WHERE length(w.term) >= 4 AND regexp_matches(w.term, '^[a-z]+$$')
       | GROUP BY 1, 2),
       |sizes AS (
       | SELECT cell, CAST(COUNT(*) AS BIGINT) AS cluster_size
       | FROM a3 GROUP BY 1)
       |SELECT cell, cluster_size, term_rank, term, tf FROM (
       | SELECT cell, term, tf, CAST(row_number() OVER (PARTITION BY cell
       |   ORDER BY tf DESC, term) AS INT) AS term_rank FROM wf)
       |JOIN sizes USING (cell)
       |WHERE term_rank <= $TopicTerms
       |ORDER BY cell, term_rank""".stripMargin

  private val OutliersPerCell = 5

  /** Embedding-space outliers: the [[OutliersPerCell]] vectors farthest
    * from their k-means centroid in each cell — the "drop far-from-
    * cluster noise" curation step. Selection is purely rank-based (no
    * floating aggregate over row order): distances are the same
    * deterministic d + v·v folds as [[kmeansClusters]], and the per-cell
    * cut is a window rank, so results replay exactly. One narrow
    * assignment pass over the corpus; centroids are bounded driver state.
    */
  def clusterOutliers(t: Tables): DataFrame = {
    val vecs = vectors(t).cache()
    val (cents, _) = trainKmeansShared(t, vecs)
    val assigned = assignCells(vecs, cents)
      .select(col("vec_id"), col("cell"),
        (col("d") + graft.functions.DotProduct(col("v"), col("v"))).as("dist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("dist2").desc, col("vec_id"))
    val out = assigned.withColumn("out_rank", row_number().over(w))
      .where(col("out_rank") <= OutliersPerCell)
      .select("cell", "vec_id", "dist2", "out_rank")
      .orderBy("cell", "out_rank")
    // training cache released — see ivfTopK
    vecs.unpersist(false)
    out
  }

  /** Oracle: the shared Lloyd replay CTEs with a per-cell rank cut. */
  val clusterOutliersSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${meansSql("a1")}),
       |a2 AS (${assignSql("e", "c1")}),
       |c2 AS (${meansSql("a2")}),
       |a3 AS (${assignSql("e", "c2")})
       |SELECT cell, vec_id, d + list_dot_product(v, v) AS dist2,
       | CAST(row_number() OVER (PARTITION BY cell
       |   ORDER BY d + list_dot_product(v, v) DESC, vec_id) AS INT) AS out_rank
       |FROM a3
       |QUALIFY out_rank <= $OutliersPerCell
       |ORDER BY cell, out_rank""".stripMargin

  private val RangeTau    = 0.30
  private val RangeQueries = 20

  /** Range (radius) search — the similarity-search sibling of top-k:
    * for each of a small query set, EVERY other vector with cosine ≥ τ,
    * not a fixed count. The query set broadcasts, so the corpus is
    * scanned once with a narrow codegen'd projection per (row, query) —
    * no shuffle at all for a bounded query set, which is the actual
    * production shape (dozens of probes against a 100 TB corpus). An
    * unbounded query set graduates to the same sign-LSH bucket join the
    * kNN-join scale tier uses; the threshold filter is then per-bucket.
    * Cosines share the sequential fold with the SQL oracle, so the ≥ τ
    * cut is bit-identical across engines.
    */
  def rangeSearch(t: Tables): DataFrame = {
    val qs = vectors(t).where(col("vec_id") < RangeQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    vectors(t)
      .join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("v"), col("qv")).as("cosine"))
      .where(col("cosine") >= RangeTau)
      .orderBy(col("q_id"), col("cosine").desc, col("vec_id"))
  }

  val rangeSearchSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $RangeQueries)
       |SELECT q.q_id, e.vec_id,
       | list_dot_product(e.v, q.qv) /
       |   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
       |FROM e JOIN q ON e.vec_id <> q.q_id
       |WHERE list_dot_product(e.v, q.qv) /
       |   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) >= $RangeTau
       |ORDER BY q_id, cosine DESC, vec_id""".stripMargin

  private val MmrCandidates = 16
  private val MmrK = 5

  /** Maximal-marginal-relevance re-ranking: the retrieval stage between
    * ANN candidate generation and what a RAG/training pipeline actually
    * consumes — greedily pick [[MmrK]] of the top-[[MmrCandidates]]
    * neighbours maximizing `0.7·relevance − 0.3·max-sim-to-already-
    * picked` (score ties → lower vec id; the first pick is pure scaled
    * relevance). The DISTRIBUTED work is the candidate scan — exactly
    * [[bruteForceTopK]]'s shape, swappable for any ANN tier; the greedy
    * loop runs on the driver over the collected candidate set (bounded:
    * 16 vectors — the same bounded-model convention as the k-means
    * centroids), with the dot-product fold sequence identical to the
    * scan's codegen so driver scores replay bit-exact in the oracle.
    *
    * The 0.3 complement is a LITERAL in both engines, never `1 − 0.7`
    * (which is 0.30000000000000004 in doubles).
    */
  def mmrRerank(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val cand = vectors(t)
      .where(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVector(t)))
      .select(col("vec_id"), col("v"), cosine(col("v"), col("qv")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrCandidates)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Seq[Double]](1).toArray, r.getDouble(2)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val remaining = scala.collection.mutable.ArrayBuffer(cand: _*)
    for (rank <- 1 to MmrK if remaining.nonEmpty) {
      val scored = remaining.map { case (id, v, rel) =>
        val maxSim =
          if (picked.isEmpty) 0.0
          else picked.iterator.map(p => cos(v, p._2)).max
        (id, v, rel, 0.7 * rel - 0.3 * maxSim)
      }
      val best = scored.minBy { case (id, _, _, score) => (-score, id) }
      selected += ((rank, best._1, best._3, best._4))
      picked += ((best._1, best._2))
      remaining.remove(remaining.indexWhere(_._1 == best._1))
    }
    selected.toSeq
      .toDF("mmr_rank", "vec_id", "relevance", "mmr_score")
      .orderBy("mmr_rank")
  }

  /** Oracle: candidate scan + the greedy rounds unrolled — pick i takes
    * the score argmax over candidates not yet picked, with GREATEST
    * over the sims to every prior pick.
    */
  val mmrRerankSql: String = {
    def sim(a: String, b: String): String =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    def pick(i: Int): String = {
      val prev = (1 until i).map(j => s"s$j")
      val score =
        if (prev.isEmpty) "CAST(0.7 AS DOUBLE) * c.rel"
        else {
          val sims = prev.map(p => sim("c.v", s"(SELECT v FROM $p)")).mkString(",\n      ")
          s"CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * GREATEST(\n      $sims)"
        }
      val notIn =
        if (prev.isEmpty) ""
        else s"WHERE c.vec_id NOT IN (${prev.map(p => s"SELECT vec_id FROM $p").mkString(" UNION ALL ")})"
      s"""s$i AS MATERIALIZED (
         |  SELECT c.vec_id, c.v, c.rel, $score AS score
         |  FROM cand c $notIn
         |  ORDER BY score DESC, c.vec_id LIMIT 1)""".stripMargin
    }
    val picks = (1 to MmrK).map(pick).mkString(",\n")
    val out = (1 to MmrK).map(i =>
      s"SELECT $i AS mmr_rank, vec_id, rel AS relevance, score AS mmr_score FROM s$i")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT e.vec_id, e.v,
       |    ${sim("e.v", "q.qv")} AS rel
       |  FROM e CROSS JOIN q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, vec_id LIMIT $MmrCandidates),
       |$picks
       |SELECT mmr_rank, vec_id, relevance, mmr_score FROM (
       |$out)
       |ORDER BY mmr_rank""".stripMargin
  }

  /** Binary-quantization ANN — the most compressed tier of the index
    * ladder (float → int8 → PQ → 1 BIT per dimension): each coordinate
    * keeps only its sign, and candidates rank by Hamming distance to
    * the query's sign pattern. 64 dims ≡ 8 bytes per vector — a 32×
    * shrink over float32 — which is why production vector stores ship
    * binary quantization as the first-pass filter. Hamming evaluates
    * as an exact integer zip-fold (no bit packing, no floats), entirely
    * codegen-friendly; the scan is one narrow pass ending in a
    * distributed top-k cut. Refinement over the shortlist is
    * [[Hybrid.twoStageTopK]]'s pattern, composable downstream.
    */
  def binaryTopK(t: Tables): DataFrame = {
    val q = queryVector(t)
    vectors(t)
      .where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        expr("""aggregate(zip_with(v, qv, (x, y) ->
               |  IF((x > CAST(0.0 AS DOUBLE)) != (y > CAST(0.0 AS DOUBLE)), 1, 0)),
               |  0, (a, b) -> a + b)""".stripMargin).as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(10)
  }

  val binaryTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      |SELECT e.vec_id,
      | CAST(list_sum(list_transform(range(1, len(e.v) + 1),
      |   i -> CASE WHEN (e.v[i] > 0.0) <> (qv[i] > 0.0) THEN 1 ELSE 0 END))
      |  AS INT) AS hamming
      |FROM e, q
      |WHERE e.vec_id <> 0
      |ORDER BY hamming, vec_id
      |LIMIT 10""".stripMargin

  private[operators] val KCenters = 8

  /** Greedy k-center coreset over the embedding corpus (farthest-point
    * traversal, the 2-approximation of Gonzalez 1985) — coreset
    * selection for data-efficient training: each round adds the point
    * FARTHEST from the already-chosen set, so the [[KCenters]] picks
    * cover the corpus's extremes instead of oversampling its dominant
    * mode (contrast [[diverseSample]], which quotas k-means cells).
    *
    * Per round: ONE pass over a shared narrow cached projection
    * (vec_id, v, hoisted self-dot — computed once, not per
    * (point, center) pair per round). The ≤ [[KCenters]] chosen
    * vectors ride in the plan as literal arrays (the
    * assignCells/silhouette bounded-model pattern), so the per-point
    * min-fold is an in-row LEAST over codegen'd dot products — no
    * join, no shuffle; the round ends in a distributed argmax cut
    * (TakeOrdered 1, ties → smallest vec_id). Driver state is the
    * chosen list (bounded model, the k-means convention); k passes IS
    * the algorithm. Distances are the shared squared-L2 dot form on
    * the codegen [[graft.functions.DotProduct]] fold; the driver-side
    * self-dot of a chosen vector uses the identical left-to-right
    * fold, so values stay bit-identical to the oracle's
    * list_dot_product chain.
    */
  def kcenterSample(t: Tables): DataFrame = {
    import graft.functions.DotProduct
    val spark = t.spark
    import spark.implicits._
    val vecs = vectors(t)
      .select(col("vec_id"), col("v"),
        DotProduct(col("v"), col("v")).as("vv"))
      .cache()
    var chosen = Vector((1, 0L, 0.0)) // (rank, vec_id, dist at selection)
    var chosenVecs = Vector(
      vecs.where(col("vec_id") === 0L).select(col("v"))
        .head().getSeq[Double](0))
    for (rank <- 2 to KCenters) {
      val ids = chosen.map(_._2)
      val dists = chosenVecs.map { cv =>
        // driver-side cc = DotProduct(cv, cv): Seq.sum is the same
        // left-to-right 0.0-seeded fold as the codegen expression
        val cc = cv.map(x => x * x).sum
        col("vv") - lit(2.0) * DotProduct(typedLit(cv), col("v")) + lit(cc)
      }
      val md = if (dists.size == 1) dists.head else least(dists: _*)
      val next = vecs
        .where(!col("vec_id").isin(ids: _*))
        .select(col("vec_id"), md.as("md"), col("v"))
        .orderBy(col("md").desc, col("vec_id"))
        .limit(1).collect()(0)
      chosen = chosen :+ ((rank, next.getLong(0), next.getDouble(1)))
      chosenVecs = chosenVecs :+ next.getSeq[Double](2)
    }
    vecs.unpersist(false)
    chosen.toDF("rank", "vec_id", "dist_to_set").orderBy("rank")
  }

  /** Oracle: the greedy rounds unrolled — each round joins the corpus
    * to the chosen set, min-folds, and picks the (max, min-id) point
    * with the identical distance expression.
    */
  val kcenterSampleSql: String = {
    val rounds = (2 to KCenters).map { r =>
      s"""md$r AS (
         | SELECT e.vec_id, MIN(
         |   list_dot_product(e.v, e.v) - 2 * list_dot_product(c.cv, e.v)
         |     + list_dot_product(c.cv, c.cv)) AS md
         | FROM e, (SELECT v AS cv FROM e
         |          WHERE vec_id IN (SELECT vec_id FROM ch${r - 1})) c
         | WHERE e.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
         | GROUP BY e.vec_id),
         |pk$r AS (
         | SELECT CAST($r AS INT) AS rank, vec_id, md AS dist_to_set
         | FROM md$r ORDER BY md DESC, vec_id LIMIT 1),
         |ch$r AS (SELECT rank, vec_id, dist_to_set FROM ch${r - 1}
         |         UNION ALL SELECT rank, vec_id, dist_to_set FROM pk$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${Embeddings.eCte},
       |ch1 AS (SELECT CAST(1 AS INT) AS rank, CAST(0 AS BIGINT) AS vec_id,
       |        CAST(0.0 AS DOUBLE) AS dist_to_set),
       |$rounds
       |SELECT rank, vec_id, dist_to_set FROM ch$KCenters
       |ORDER BY rank""".stripMargin
  }

  /** Simplified-silhouette cluster quality over the shared k-means
    * model — the "is this clustering any good" audit run before
    * trusting per-cluster quotas ([[diverseSample]]) or IVF routing:
    * per vector, a = squared distance to its OWN centroid, b = squared
    * distance to the nearest OTHER centroid, s = (b−a)/max(a,b) ∈
    * [−1,1] (the centroid-based simplification of full silhouette —
    * O(n·k) instead of O(n²), the only affordable form at corpus
    * scale; squared distances are rank-equivalent to Euclidean for a/b
    * picks and keep the math sqrt-free until none is needed at all).
    * All-cell distances are one in-row literal-array projection
    * (bounded model state, the assignCells pattern); a/b come from the
    * sorted (dist2, cell) array with the argmin's tie-break; per-cell
    * means use the portable scale-30 decimal recipe so the oracle's
    * replay is bit-exact.
    */
  def silhouette(t: Tables): DataFrame = {
    val vecs = vectors(t).cache()
    val (cents, _) = trainKmeansShared(t, vecs)
    val vv = graft.functions.DotProduct(col("v"), col("v"))
    val scored = cents.map { case (id, c) =>
      val cc = c.map(x => x * x).sum
      struct(
        ((lit(cc) - lit(2.0) * graft.functions.DotProduct(col("v"), typedLit(c)))
          + vv).as("dist2"),
        lit(id).as("cell"))
    }
    val out = vecs
      .withColumn("arr", array_sort(array(scored: _*)))
      .withColumn("own", col("arr").getItem(0).getField("cell"))
      .withColumn("a", col("arr").getItem(0).getField("dist2"))
      .withColumn("b", col("arr").getItem(1).getField("dist2"))
      .withColumn("sil",
        when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)))
      .groupBy(col("own").as("cell"))
      .agg(
        count(lit(1)).as("n_vecs"),
        graft.functions.Exact.portableMean(col("sil")).as("mean_sil"),
        min(col("sil")).as("min_sil"),
        max(col("sil")).as("max_sil"))
      .orderBy("cell")
    vecs.unpersist(false)
    out
  }

  val silhouetteSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${meansSql("a1")}),
       |a2 AS (${assignSql("e", "c1")}),
       |c2 AS (${meansSql("a2")}),
       |alldist AS (
       | SELECT e.vec_id, c2.cell,
       |  list_dot_product(c2.c, c2.c) - 2 * list_dot_product(e.v, c2.c)
       |    + list_dot_product(e.v, e.v) AS dist2
       | FROM e CROSS JOIN c2),
       |rk AS (
       | SELECT vec_id, cell, dist2,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rk
       | FROM alldist),
       |ab AS (
       | SELECT r1.vec_id, r1.cell AS own, r1.dist2 AS a, r2.dist2 AS b
       | FROM rk r1 JOIN rk r2 ON r1.vec_id = r2.vec_id
       |  AND r1.rk = 1 AND r2.rk = 2),
       |sil AS (
       | SELECT own,
       |  CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
       |       ELSE 0.0 END AS sil
       | FROM ab)
       |SELECT own AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       | CAST(CAST(CAST(SUM(CAST(sil AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*)
       |   AS DECIMAL(24,12)) AS DOUBLE) AS mean_sil,
       | MIN(sil) AS min_sil, MAX(sil) AS max_sil
       |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin

  private val HardNegAnchors = 8
  private val HardNegK = 3

  /** Hard-negative mining for contrastive training — the step that
    * makes embedding models actually learn (random negatives are too
    * easy; the informative ones are near-misses): for each of the
    * first [[HardNegAnchors]] anchor vectors, the [[HardNegK]] most
    * similar vectors with a DIFFERENT label (similar content, wrong
    * class — the definition of a hard negative). Anchors broadcast as
    * a tiny frame; the corpus scans once, scores against every anchor
    * (n·A work, A fixed), and the per-anchor cut runs through the
    * TopKPerKey heap operator — no global sort, no pair space.
    */
  def hardNegatives(t: Tables): DataFrame = {
    val labeled = t.embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val anchors = labeled.where(col("vec_id") < HardNegAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("v").as("av"))
    val scored = labeled
      .crossJoin(broadcast(anchors))
      .where(col("vec_id") =!= col("anchor_id") &&
        col("label") =!= col("a_label"))
      .select(col("anchor_id"), col("vec_id"), col("label"),
        cosine(col("v"), col("av")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("anchor_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    graft.plans.TopKPerKey(scored, Seq("anchor_id"),
        Seq(("cosine", false), ("vec_id", true)), HardNegK)
      .withColumn("rank", row_number().over(w))
      .select(col("anchor_id"), col("rank"), col("vec_id"),
        col("label"), col("cosine"))
      .orderBy("anchor_id", "rank")
  }

  val hardNegativesSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |anchors AS (
       | SELECT vec_id AS anchor_id, label AS a_label, v AS av
       | FROM e WHERE vec_id < $HardNegAnchors),
       |scored AS (
       | SELECT a.anchor_id, e.vec_id, e.label,
       |  list_dot_product(e.v, a.av) /
       |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(a.av, a.av)))
       |    AS cosine
       | FROM e CROSS JOIN anchors a
       | WHERE e.vec_id <> a.anchor_id AND e.label <> a.a_label),
       |rk AS (
       | SELECT anchor_id, vec_id, label, cosine,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
       |    ORDER BY cosine DESC, vec_id) AS INT) AS rank
       | FROM scored)
       |SELECT anchor_id, rank, vec_id, label, cosine
       |FROM rk WHERE rank <= $HardNegK
       |ORDER BY anchor_id, rank""".stripMargin

  private val FilteredK = 5

  /** Metadata-FILTERED vector search — the production problem plain ANN
    * benchmarks skip ("nearest docs WITH label = x"): top-[[FilteredK]]
    * cosine neighbours of the query within EVERY label class at once,
    * via pre-filtering (the per-class ranking runs only over that
    * class's vectors). Pre- vs post-filter is the scale decision this
    * operator encodes: a global top-k cut first and filtered after
    * STARVES selective classes (a rare label may have zero survivors in
    * any affordable global k), while per-class heaps guarantee k
    * results each. Shape: one narrow scan + broadcast query vector,
    * then the [[graft.plans.TopKPerKey]] custom physical operator —
    * per-partition (label, heap) state, never a global sort; ranks
    * attach with a window over the ≤ labels×k surviving rows.
    */
  def filteredTopK(t: Tables): DataFrame = {
    val labeled = t.embeddings
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val scored = labeled
      .where(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryVector(t)))
      .select(col("label"), col("vec_id"), cosine(col("v"), col("qv")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("label")
      .orderBy(col("cosine").desc, col("vec_id"))
    graft.plans.TopKPerKey(scored, Seq("label"),
        Seq(("cosine", false), ("vec_id", true)), FilteredK)
      .withColumn("rank", row_number().over(w))
      .select(col("label"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("label", "rank")
  }

  val filteredTopKSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |scored AS (
       | SELECT e.label, e.vec_id,
       |  list_dot_product(e.v, q.qv) /
       |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
       |    AS cosine
       | FROM e CROSS JOIN q WHERE e.vec_id <> 0),
       |rk AS (
       | SELECT label, vec_id, cosine,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY label
       |    ORDER BY cosine DESC, vec_id) AS INT) AS rank
       | FROM scored)
       |SELECT label, rank, vec_id, cosine
       |FROM rk WHERE rank <= $FilteredK
       |ORDER BY label, rank""".stripMargin

  /** nprobe values swept by [[ivfSweep]]. */
  private val SweepProbes = Seq(1, 2, 3, 4)

  /** IVF nprobe operating-characteristic sweep — the tuning report that
    * DECIDES an IVF deployment instead of assuming one (the ANN sibling
    * of [[Dedup.tierEval]]): for each nprobe, how many candidates the
    * probe set scans (the cost axis) and recall@10 against the exact
    * brute-force truth (the quality axis). Cells are ranked by the same
    * probe distance form as [[ivfTopK]] (c·c − 2q·c, bit-identical
    * folds), every vector is tagged with its cell's probe rank once,
    * and each sweep point is a filter + TakeOrdered top-10 over that
    * shared tagged frame — the whole curve costs one assignment pass
    * plus four heap cuts, not four index rebuilds.
    *
    * Scale: training is the memoized shared k-means model; the tagged
    * frame is one narrow projection of the assignment (pinned — four
    * consumers); each sweep point is a TakeOrdered (per-partition heap,
    * driver merges 10 rows) plus a 1-row count — no global sorts.
    */
  def ivfSweep(t: Tables): DataFrame = {
    val vecs = vectors(t)
    val (cents, init) = trainKmeansShared(t, vecs)
    val qv = ivfQuery(vecs, init)
    val rankedCells = probeOrder(cents, qv).zipWithIndex
      .map { case (id, i) => (id, i + 1) }.toMap
    val assigned = assignCells(vecs, cents).drop("d")
      .where(col("vec_id") =!= 0)
      .withColumn("cell_rank", element_at(typedLit(rankedCells), col("cell")))
      .withColumn("cosine", cosine(col("v"), typedLit(qv)))
      .select("vec_id", "cell_rank", "cosine")
      .localCheckpoint(true)
    val truth = bruteForceTopK(t).select(col("vec_id")).localCheckpoint(true)
    SweepProbes.map { p =>
      val cand = assigned.where(col("cell_rank") <= p)
      val hits = cand.orderBy(col("cosine").desc, col("vec_id")).limit(10)
        .join(truth, Seq("vec_id"), "left_semi")
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(lit(p).as("nprobe"), col("n_candidates"),
          (col("n_hits").cast("double") / lit(10.0)).as("recall_at_10"))
    }.reduce(_ union _).orderBy("nprobe")
  }

  /** Oracle: the k-means replay chain, cell probe ranks by the same
    * distance form, and per-nprobe candidate counts + top-10 ∩ truth.
    */
  val ivfSweepSql: String = {
    val points = SweepProbes.map { p =>
      s"""SELECT $p AS nprobe,
         | (SELECT CAST(COUNT(*) AS BIGINT) FROM av WHERE cell_rank <= $p)
         |   AS n_candidates,
         | CAST((SELECT COUNT(*) FROM (
         |    SELECT vec_id FROM av WHERE cell_rank <= $p
         |    ORDER BY cosine DESC, vec_id LIMIT 10) x
         |   JOIN truth USING (vec_id)) AS DOUBLE) / 10.0 AS recall_at_10"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${meansSql("a1")}),
       |a2 AS (${assignSql("e", "c1")}),
       |c2 AS (${meansSql("a2")}),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |pr AS (
       | SELECT cell, CAST(ROW_NUMBER() OVER (
       |   ORDER BY list_dot_product(c, c) - 2 * list_dot_product(qv, c),
       |     cell) AS INT) AS cell_rank
       | FROM c2, q),
       |a3 AS (${assignSql("e", "c2")}),
       |av AS MATERIALIZED (
       | SELECT a3.vec_id, pr.cell_rank,
       |  list_dot_product(a3.v, q.qv) /
       |    (sqrt(list_dot_product(a3.v, a3.v)) *
       |     sqrt(list_dot_product(q.qv, q.qv))) AS cosine
       | FROM a3 JOIN pr USING (cell), q
       | WHERE a3.vec_id <> 0),
       |truth AS MATERIALIZED (
       | SELECT vec_id FROM av ORDER BY cosine DESC, vec_id LIMIT 10)
       |SELECT nprobe, n_candidates, recall_at_10 FROM (
       |$points)
       |ORDER BY nprobe""".stripMargin
  }

  /** IVF cell-balance report — the "why is my ANN index slow" skew
    * audit: per-cell population of the shared k-means coarse quantizer,
    * each cell's share of the corpus, and its load factor (n·cells /
    * total — 1.0 is perfectly balanced). A hot cell is scanned by every
    * query that probes it, so one 10× cell costs ~10× probe latency
    * regardless of nprobe; this report is what tells you to re-train or
    * sub-split before blaming the query path. Complements
    * [[ivfSweep]]'s per-query curve with the index-side view.
    *
    * Scale: training is the memoized shared model; the report is one
    * assignment pass + a [[NumCells]]-row aggregation.
    */
  def cellBalance(t: Tables): DataFrame = {
    val vecs = vectors(t)
    val (cents, _) = trainKmeansShared(t, vecs)
    val assigned = assignCells(vecs, cents)
    val total = assigned.agg(count(lit(1)).as("total"))
    assigned.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(total))
      .select(col("cell"),
        col("n_vectors").cast("long").as("n_vectors"),
        (col("n_vectors").cast("double") / col("total")).as("share"),
        (col("n_vectors").cast("double") * lit(NumCells) / col("total"))
          .as("load_factor"))
      .orderBy("cell")
  }

  /** Oracle: the k-means replay + per-cell counts and ratios. */
  val cellBalanceSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < $NumCells),
       |a1 AS (${assignSql("e", "c0")}),
       |c1 AS (${meansSql("a1")}),
       |a2 AS (${assignSql("e", "c1")}),
       |c2 AS (${meansSql("a2")}),
       |a3 AS (${assignSql("e", "c2")}),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM a3)
       |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       | CAST(COUNT(*) AS DOUBLE) / total AS share,
       | CAST(COUNT(*) AS DOUBLE) * $NumCells / total AS load_factor
       |FROM a3 CROSS JOIN tot
       |GROUP BY cell, total
       |ORDER BY cell""".stripMargin

  /** Target anchor COUNT for [[twoNn]]. The anchor stride derives from
    * the corpus size (`mod = max(1, n div target)`), so the sample stays
    * ~fixed-size and the distance work stays LINEAR in n — the r13 sf1
    * scaling run measured the former fixed-stride version (every 4th
    * vector ⇒ n²/4 pairs) growing 15× on 10× data. TwoNN only needs a
    * stable sample of anchors; ~128 gives the µ distribution plenty of
    * support at any corpus size.
    */
  private val TwoNnAnchorTarget = 128

  /** TwoNN intrinsic-dimension diagnostic (Facco et al. 2017, public
    * knowledge): for each sampled anchor, the exact first- and
    * second-nearest Euclidean distances and their ratio µ = d₂/d₁ — the
    * statistic whose distribution estimates the manifold's intrinsic
    * dimension (µ concentrated near 1 ⇒ high ID: neighbors
    * indistinguishable, ANN recall will degrade; heavy µ tail ⇒ low ID:
    * indexing will work). Emitted per anchor so any estimator can
    * consume the raw ratios; the ln-based ML estimate is left to the
    * consumer (ln is not correctly-rounded across engines — the
    * engine-portable seam is the ratio itself). Degenerate anchors with
    * an exact duplicate (d₁ = 0) are excluded — µ is undefined there.
    *
    * Scale: anchors are a deterministic hash sample broadcast against
    * the full corpus — |sample|×n distance pairs, a per-anchor
    * partitioned window (never global), one 2-row pivot per anchor.
    * d² = a·a + c·c − 2·a·c with the shared left-fold dot product, so
    * every distance pairs bit-identically with the oracle.
    */
  def twoNn(t: Tables): DataFrame = {
    import graft.functions.DotProduct
    val nRow = vectors(t).agg(count(lit(1)).as("nv"))
    val anchors = vectors(t)
      .crossJoin(broadcast(nRow))
      .where(pmod(col("vec_id"),
        greatest(lit(1L), expr(s"nv div $TwoNnAnchorTarget"))) === 0)
      .select(col("vec_id").as("a_id"), col("v").as("av"))
    val dsq = vectors(t)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
      .join(broadcast(anchors), col("c_id") =!= col("a_id"))
      .select(col("a_id"), col("c_id"),
        (DotProduct(col("av"), col("av")) + DotProduct(col("cv"), col("cv"))
          - lit(2.0) * DotProduct(col("av"), col("cv"))).as("dsq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id").orderBy(col("dsq"), col("c_id"))
    dsq.withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
      .groupBy("a_id")
      .agg(max(when(col("rn") === 1, col("dsq"))).as("d1_sq"),
        max(when(col("rn") === 2, col("dsq"))).as("d2_sq"))
      .where(col("d1_sq") > 0)
      .select(col("a_id").as("vec_id"),
        sqrt(col("d1_sq")).as("d1"), sqrt(col("d2_sq")).as("d2"),
        (sqrt(col("d2_sq")) / sqrt(col("d1_sq"))).as("mu"))
      .orderBy("vec_id")
  }

  /** Oracle: the identical anchor sample, d² expression tree, ranked
    * 2-NN pivot, and µ ratio.
    */
  val twoNnSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nv AS (SELECT GREATEST(1, COUNT(*) // $TwoNnAnchorTarget) AS m FROM e),
       |a AS (SELECT vec_id AS a_id, v AS av FROM e, nv
       |      WHERE vec_id % nv.m = 0),
       |d AS (
       | SELECT a.a_id, e.vec_id AS c_id,
       |  list_dot_product(a.av, a.av) + list_dot_product(e.v, e.v)
       |    - 2.0 * list_dot_product(a.av, e.v) AS dsq
       | FROM e JOIN a ON e.vec_id <> a.a_id),
       |r AS (
       | SELECT a_id, c_id, dsq,
       |  ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dsq, c_id) AS rn
       | FROM d),
       |g AS (
       | SELECT a_id,
       |  MAX(CASE WHEN rn = 1 THEN dsq END) AS d1_sq,
       |  MAX(CASE WHEN rn = 2 THEN dsq END) AS d2_sq
       | FROM r WHERE rn <= 2 GROUP BY 1)
       |SELECT a_id AS vec_id, sqrt(d1_sq) AS d1, sqrt(d2_sq) AS d2,
       | sqrt(d2_sq) / sqrt(d1_sq) AS mu
       |FROM g WHERE d1_sq > 0
       |ORDER BY vec_id""".stripMargin

  /** Cluster-count stability check (Ben-Hur et al.'s resampled-
    * clustering stability, public knowledge, in its cheapest honest
    * form): train the SAME Lloyd recipe independently on the two
    * id-parity halves of the corpus, assign EVERY vector to both
    * models, and score agreement as the RAND INDEX from the bounded
    * k×k contingency grid in EXACT INTEGERS — RI·10⁶ =
    * (C(n,2) + 2·Σ_ij C(n_ij,2) − Σ_i C(a_i,2) − Σ_j C(b_j,2))·10⁶
    * div C(n,2). A k that carves real structure re-finds the same
    * partition from either half (RI → 1); a k slicing noise lands
    * arbitrary boundaries (RI drops) — the "is k right" screen that
    * runs BEFORE committing a 100 TB index build to a cell count.
    *
    * Scale: two half-corpus Lloyd runs (each the audited k-means
    * shape), two full assignment passes, one k²-bounded contingency
    * aggregation; the Rand arithmetic never touches a float.
    */
  def clusterStability(t: Tables): DataFrame = {
    // pinned: feeds two trainings (each Iters+1 passes) + two assigns
    val vecs = vectors(t).localCheckpoint(true)
    val hA = vecs.where(pmod(col("vec_id"), lit(2)) === 0)
    val hB = vecs.where(pmod(col("vec_id"), lit(2)) === 1)
    // Both halves train in LOCKSTEP: one job fetches both seed sets
    // (union of two bounded limits) and one job per Lloyd iteration runs
    // both halves' assignment+means under a `half` tag. The per-group
    // arithmetic is untouched — tagging adds a group-constant column, so
    // every (half, cell, pos) group sees exactly the multiset the
    // separate lloyd() runs saw and portableMean reproduces the same
    // doubles — while driver round-trips drop from 2·(Iters+1) jobs to
    // Iters+1 (r17: 2.88 → see OPTIMIZATION_r17.md).
    def seedRows(h: DataFrame, tag: String): DataFrame =
      h.orderBy("vec_id").limit(NumCells)
        .select(lit(tag).as("half"), col("vec_id"), col("v"))
    val seedRaw = seedRows(hA, "A").unionByName(seedRows(hB, "B"))
      .collect().groupBy(_.getString(0))
    def seedsOf(tag: String): Seq[(Int, Seq[Double])] =
      seedRaw.getOrElse(tag, Array.empty[org.apache.spark.sql.Row])
        .sortBy(_.getLong(1)).map(_.getSeq[Double](2))
        .zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    var cA = seedsOf("A")
    var cB = seedsOf("B")
    // a half with no vectors has no seeds: fail here, by name
    require(cA.nonEmpty && cB.nonEmpty,
      "clusterStability needs embeddings with both even and odd vec_id " +
        s"(even-half seeds: ${cA.size}, odd-half seeds: ${cB.size})")
    for (_ <- 0 until Iters) {
      val next = assignCells(hA, cA).withColumn("half", lit("A"))
        .unionByName(assignCells(hB, cB).withColumn("half", lit("B")))
        .select(col("half"), col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("half", "cell", "pos")
        .agg(graft.functions.Exact.portableMean(col("x")).as("m"))
        .groupBy("half", "cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("half"), col("cell"), expr("transform(pm, s -> s.m)").as("c"))
        .collect()
      def centsOf(tag: String): Seq[(Int, Seq[Double])] = next
        .filter(_.getString(0) == tag)
        .map(r => (r.getInt(1), r.getSeq[Double](2))).toSeq.sortBy(_._1)
      cA = centsOf("A")
      cB = centsOf("B")
    }
    val cont = assignCells(vecs, cA)
      .select(col("vec_id"), col("cell").as("cell_a"))
      .join(assignCells(vecs, cB)
        .select(col("vec_id").as("vid2"), col("cell").as("cell_b")),
        col("vec_id") === col("vid2"))
      .groupBy("cell_a", "cell_b")
      .agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(true) // k²-bounded; feeds three integer folds
    val inSums = cont.agg(sum(col("c")).cast("long").as("n"),
      countDistinct(col("cell_a")).cast("long").as("k_a"),
      countDistinct(col("cell_b")).cast("long").as("k_b"),
      sum(expr("(c * (c - 1)) div 2")).cast("long").as("s_in"))
    val rowSums = cont.groupBy("cell_a")
      .agg(sum(col("c")).as("ra"))
      .agg(sum(expr("(ra * (ra - 1)) div 2")).cast("long").as("s_a"))
    val colSums = cont.groupBy("cell_b")
      .agg(sum(col("c")).as("rb"))
      .agg(sum(expr("(rb * (rb - 1)) div 2")).cast("long").as("s_b"))
    inSums.crossJoin(broadcast(rowSums)).crossJoin(broadcast(colSums))
      .withColumn("pairs_total", expr("(n * (n - 1)) div 2"))
      .select(col("n").as("n_vectors"), col("k_a"), col("k_b"),
        col("s_in"), col("s_a"), col("s_b"),
        expr("((pairs_total + 2 * s_in - s_a - s_b) * 1000000L)" +
          " div pairs_total").as("rand_index_ppm"))
  }

  /** Oracle: both half Lloyd chains replayed with prefixed CTEs
    * (rank-based seeds per half), full-corpus assignment to each final
    * codebook, and the identical exact-integer Rand arithmetic.
    */
  val clusterStabilitySql: String = {
    def half(p: String, src: String): String =
      s"""${p}c0 AS (
         | SELECT CAST(rn - 1 AS INT) AS cell, v AS c FROM (
         |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, v FROM $src)
         | WHERE rn <= $NumCells),
         |${p}a1 AS (${assignSql(src, s"${p}c0")}),
         |${p}c1 AS (${meansSql(s"${p}a1")}),
         |${p}a2 AS (${assignSql(src, s"${p}c1")}),
         |${p}c2 AS (${meansSql(s"${p}a2")})""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ea AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
       |eb AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
       |${half("A", "ea")},
       |${half("B", "eb")},
       |fa AS (${assignSql("e", "Ac2")}),
       |fb AS (${assignSql("e", "Bc2")}),
       |cont AS (
       | SELECT fa.cell AS cell_a, fb.cell AS cell_b,
       |  CAST(COUNT(*) AS BIGINT) AS c
       | FROM fa JOIN fb USING (vec_id) GROUP BY 1, 2),
       |si AS (
       | SELECT CAST(SUM(c) AS BIGINT) AS n,
       |  CAST(COUNT(DISTINCT cell_a) AS BIGINT) AS k_a,
       |  CAST(COUNT(DISTINCT cell_b) AS BIGINT) AS k_b,
       |  CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS s_in
       | FROM cont),
       |sa AS (
       | SELECT CAST(SUM((ra * (ra - 1)) // 2) AS BIGINT) AS s_a FROM (
       |  SELECT CAST(SUM(c) AS BIGINT) AS ra FROM cont GROUP BY cell_a)),
       |sb AS (
       | SELECT CAST(SUM((rb * (rb - 1)) // 2) AS BIGINT) AS s_b FROM (
       |  SELECT CAST(SUM(c) AS BIGINT) AS rb FROM cont GROUP BY cell_b))
       |SELECT n AS n_vectors, k_a, k_b, s_in, s_a, s_b,
       | (((n * (n - 1)) // 2 + 2 * s_in - s_a - s_b) * 1000000)
       |   // ((n * (n - 1)) // 2) AS rand_index_ppm
       |FROM si, sa, sb""".stripMargin
  }
}
