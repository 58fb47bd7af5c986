package graft.operators

import graft.Tables
import graft.functions.Exact.d38
import graft.functions.DotProduct
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding-column utilities beyond search: normalization and exact
  * centroid aggregation — the preprocessing steps an embedding-dedup /
  * clustering pipeline runs before LSH or IVF.
  */
object Embeddings {

  /** Unit-normalize each vector (L2); carries the norm for inspection.
    * Element math mirrors the oracle exactly (x / sqrt(dot(v,v))).
    * Output is the exploded (vec_id, pos, x, norm, u) form: doubles stay
    * doubles (bitwise-comparable across engines) instead of going through
    * engine-specific array/string formatting.
    */
  def normalize(t: Tables): DataFrame =
    t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(DotProduct(col("v"), col("v"))))
      .select(col("vec_id"), col("norm"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), col("x"), col("norm"),
        (col("x") / col("norm")).as("u"))
      .orderBy("vec_id", "pos")

  val normalizeSql: String =
    """SELECT vec_id, CAST(pos AS INT) AS pos, x,
      | sqrt(list_dot_product(v, v)) AS norm,
      | x / sqrt(list_dot_product(v, v)) AS u
      |FROM (
      | SELECT vec_id, v, unnest(range(len(v))) AS pos, unnest(v) AS x
      | FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))
      |ORDER BY vec_id, pos""".stripMargin

  /** Exact per-label centroids: element-wise mean computed through
    * scale-30 DECIMAL sums (element rounding error is sub-ulp at this
    * magnitude) + a final 12-decimal rounding, so the result is
    * partition-order independent and engine-portable — the same trick
    * [[graft.functions.Exact]] uses for money, applied to vector math.
    * At scale this is one partial-agg shuffle keyed by (label, dim).
    */
  def centroids(t: Tables): DataFrame =
    t.embeddings
      .select(col("label"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(
        // scale-30 decimal sum → order-independent with only sub-ulp
        // element rounding; the final 12-decimal rounding absorbs the
        // engines' differing double→decimal conversion paths
        // (shortest-string vs binary expansion), and decimal(24,12)→double
        // is correctly rounded in both (unscaled value < 2^53). The
        // oracle recomputes this exactly, which is why the scale stays 30
        // here (sub-ulp noise) rather than decimalMean's 15 (headroom).
        (sum(col("x").cast(DecimalType(38, 30))).cast("double") / count(lit(1)))
          .cast(DecimalType(24, 12)).cast("double").as("m"),
        count(lit(1)).as("n_vecs"))
      .orderBy("label", "pos")

  /** Per-dimension embedding health profile: mean/std/min/max of every
    * coordinate — the drift/collapse check before indexing a corpus (a
    * dead dimension has std ≈ 0; a scale-drifted batch shifts min/max).
    * Sums run through scale-30 decimals with the final 12-decimal
    * rounding (the [[centroids]] recipe; x² is the per-element double
    * product — one identical rounding per engine — because a
    * decimal-30 square would need scale 60); std evaluates in double
    * from the two portable sums with the oracle's exact expression
    * tree. One exploded pass, (dim)-keyed partial aggregation.
    */
  def dimStats(t: Tables): DataFrame =
    t.embeddings
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 30))).cast("double")
          .cast(DecimalType(24, 12)).cast("double").as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(38, 30))).cast("double")
          .cast(DecimalType(24, 12)).cast("double").as("sxx"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
      .select(col("pos"), col("n"),
        (col("sx") / col("n")).as("mean_x"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
          (col("n") - 1)).as("std_x"),
        col("min_x"), col("max_x"))
      .orderBy("pos")

  val dimStatsSql: String =
    """WITH x AS (
      | SELECT CAST(pos AS INT) AS pos, x FROM (
      |  SELECT unnest(range(len(v))) AS pos, unnest(v) AS x
      |  FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings))),
      |s AS (
      | SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE)
      |    AS DECIMAL(24,12)) AS DOUBLE) AS sx,
      |  CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,30))) AS DOUBLE)
      |    AS DECIMAL(24,12)) AS DOUBLE) AS sxx,
      |  MIN(x) AS min_x, MAX(x) AS max_x
      | FROM x GROUP BY pos)
      |SELECT pos, n, sx / n AS mean_x,
      | sqrt((sxx - sx * sx / n) / (n - 1)) AS std_x, min_x, max_x
      |FROM s ORDER BY pos""".stripMargin

  private val PqSubs = 8 // 8 subspaces × 8 dims = 64
  private val PqDims = 8
  private val PqK    = 16

  /** (vector × subspace) rows: s, sv = the s-th [[PqDims]]-dim slice. */
  private[operators] def subExplode(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      explode(array((0 until PqSubs).map(s =>
        struct(lit(s).as("s"), slice(col("v"), s * PqDims + 1, PqDims).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.sv").as("sv"))

  /** best = argmin_k ‖sv − c(s,k)‖²; sv·sv dropped from the argmin (row
    * constant), centroid terms come from array literals indexed by s.
    */
  private[operators] def withBest(
      cs: Map[(Int, Int), Seq[Double]])(df: DataFrame): DataFrame = {
    import graft.functions.DotProduct
    val scored = (0 until PqK).map { k =>
      val cArr  = typedLit((0 until PqSubs).map(s => cs((s, k))))
      val ccArr = typedLit((0 until PqSubs).map(s => cs((s, k)).map(x => x * x).sum))
      struct(
        (element_at(ccArr, col("s") + 1) -
          lit(2.0) * DotProduct(col("sv"), element_at(cArr, col("s") + 1))).as("d"),
        lit(k).as("cell"))
    }
    df.withColumn("best", array_min(array(scored: _*)))
  }

  /** Deterministic PQ codebook training (seed from the [[PqK]] lowest-id
    * vectors + one DECIMAL-exact Lloyd refinement) — bounded driver-side
    * model state shared by [[pqEncode]] and [[pqAdcTopK]]. `vecs` should
    * be persisted by the caller (training runs two jobs over it).
    */
  /** Session-scoped PQ codebook memo keyed by (session, data dir) — the
    * same artifact-lifetime convention as the k-means memo in
    * [[Similarity]]: deterministic training, bounded driver model,
    * reused by every ADC consumer instead of retrained per query.
    */
  private val pqMemo = new graft.SessionMemo[Map[(Int, Int), Seq[Double]]]

  /** [[graft.Training]] forcer for the shared PQ codebook. */
  private[graft] def warmPq(t: graft.Tables): Unit = {
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    try { trainPqShared(t, vecs); () } finally { vecs.unpersist(false) }
  }

  private[operators] def trainPqShared(t: graft.Tables, vecs: DataFrame)
      : Map[(Int, Int), Seq[Double]] =
    pqMemo.getOrCompute(t.spark, t.dir)(trainPq(vecs))

  private[operators] def trainPq(vecs: DataFrame): Map[(Int, Int), Seq[Double]] = {
    def sub(v: Seq[Double], s: Int): Seq[Double] = v.slice(s * PqDims, (s + 1) * PqDims)
    // seed = the PqK lowest-id vectors, whatever their ids are; a corpus
    // with fewer than PqK vectors wraps around (duplicate seed centroids
    // merge in the Lloyd step)
    val seed = vecs.orderBy("vec_id").limit(PqK)
      .collect().map(_.getSeq[Double](1).toIndexedSeq)
    require(seed.nonEmpty, "PQ training needs a non-empty embeddings table")
    val cents: Map[(Int, Int), Seq[Double]] =
      (for { s <- 0 until PqSubs; k <- 0 until PqK }
        yield ((s, k), sub(seed(k % seed.length), s))).toMap
    // one Lloyd refinement: mean subvector per (subspace, cell)
    val refined = withBest(cents)(subExplode(vecs))
      .select(col("s"), col("best.cell").as("cell"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("s", "cell", "pos")
      // portable mean → codebook doubles identical in ANY engine, so the
      // oracle's argmin replay cannot diverge on knife-edge assignments
      .agg(graft.functions.Exact.portableMean(col("x")).as("m"))
      .groupBy("s", "cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("s"), col("cell"), expr("transform(pm, q -> q.m)").as("c"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2)))
      .toMap
    // unassigned (s, cell) slots keep their seed centroid
    cents.map { case (key, old) => key -> refined.getOrElse(key, old) }
  }

  /** Product-quantization encoding — the memory-compression path for
    * embedding retrieval at 100 TB: each 64-dim float vector becomes 8
    * four-bit codes (one per 8-dim subspace; 512 bits → 32 bits, 64×),
    * with the codebook trained as deterministic per-subspace k-means
    * (seeded by the first 16 vectors, one Lloyd refinement).
    *
    * Spark shape: the codebook is bounded driver-side model state
    * (8×16×8 doubles); training and encoding are ONE exploded
    * (vector × subspace) pass each, with the per-centroid distance as the
    * codegen'd dot-product expansion (no interpreted HOFs) — the same
    * pattern as [[Similarity.ivfTopK]]. Rows-only (codebooks are
    * implementation-defined); spec asserts code ranges, determinism, and
    * that quantization error beats the unrefined codebook.
    */
  def pqEncode(t: Tables): DataFrame = {
    import graft.functions.DotProduct
    // localCheckpoint, not persist: a cacheManager entry would build the
    // result as a CACHED plan (AQE re-planning restricted) and leak past
    // the query; pinned RDD blocks give the same reuse without either
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    val cents = trainPqShared(t, vecs)
    val out = withBest(cents)(subExplode(vecs))
      .withColumn("dt", col("best.d") + DotProduct(col("sv"), col("sv")))
      .groupBy("vec_id")
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(s, best.cell AS cell)))," +
          " q -> cast(q.cell AS string)), ',')").as("codes"),
        // scale-30 decimal sum (order-independent, sub-ulp) + final
        // 12-decimal rounding → engine-portable: absorbs Spark's
        // shortest-string vs DuckDB's binary-expansion double→decimal
        // conversion (the same recipe as [[centroids]])
        ((sum(col("dt").cast(DecimalType(38, 30))).cast("double") /
          lit(PqSubs * PqDims)).cast(DecimalType(24, 12)).cast("double")).as("mse"))
      .orderBy("vec_id")
    out
  }

  /** Oracle: the whole PQ pipeline rebuilt in SQL — seed codebook from
    * the PqK lowest-id vectors, per-(vector, subspace) argmin with the
    * (distance, cell) tie-break, one DECIMAL-exact Lloyd refinement with
    * unassigned (s, cell) slots keeping their seed centroid, then the
    * final encode + decimal-exact MSE. Pairs bit-identically with the
    * Spark side for the same reasons as `Similarity.ivfTopKSql`.
    */
  /** Shared oracle CTE chain for the PQ pipeline (seed → refine → final
    * codebook `cf` → final assignment `a2`), reused by [[pqEncodeSql]],
    * [[pqAdcTopKSql]], and (prefixed, so its c0/a1/c1/a2 names don't
    * collide with the k-means replay chain) `Similarity.ivfPqTopKSql`.
    * `e` is shared deliberately — both chains define it identically.
    */
  /** The shared `e` base CTE — defined once so composed oracles (PQ +
    * k-means chains in one WITH) can prepend it exactly once.
    */
  private[operators] val eCte: String =
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

  private[operators] def pqCtesPrefixed(p: String): String = {
    val subs = PqSubs; val dims = PqDims; val k = PqK
    val (c0, a1, c1, a2) = (s"${p}c0", s"${p}a1", s"${p}c1", s"${p}a2")
    val (sr, ks, seed, ss, e2, cf) =
      (s"${p}sr", s"${p}ks", s"${p}seed", s"${p}ss", s"${p}e2", s"${p}cf")
    s"""$sr AS (
       | SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS rn, v
       | FROM e ORDER BY vec_id LIMIT $k),
       |$ks AS (SELECT CAST(unnest(range($k)) AS INT) AS cell),
       |-- seed wrap-around parity: a corpus with fewer than $k vectors
       |-- reuses seeds cyclically, exactly like the Spark side
       |$seed AS (
       | SELECT $ks.cell, $sr.v
       | FROM $ks JOIN $sr ON $sr.rn = $ks.cell % (SELECT COUNT(*) FROM $sr)),
       |$ss AS (SELECT CAST(unnest(range($subs)) AS INT) AS s),
       |$c0 AS (
       | SELECT $ss.s, $seed.cell, $seed.v[($ss.s*$dims+1):($ss.s*$dims+$dims)] AS c
       | FROM $seed CROSS JOIN $ss),
       |$e2 AS (
       | SELECT e.vec_id, $ss.s, e.v[($ss.s*$dims+1):($ss.s*$dims+$dims)] AS sv
       | FROM e CROSS JOIN $ss),
       |$a1 AS (
       | SELECT vec_id, s, sv, cell FROM (
       |  SELECT $e2.vec_id, $e2.s, $e2.sv, $c0.cell,
       |   ROW_NUMBER() OVER (PARTITION BY $e2.vec_id, $e2.s
       |    ORDER BY list_dot_product($c0.c, $c0.c)
       |      - 2 * list_dot_product($e2.sv, $c0.c), $c0.cell) AS rk
       |  FROM $e2 JOIN $c0 ON $e2.s = $c0.s) WHERE rk = 1),
       |$c1 AS (
       | SELECT s, cell, list(m ORDER BY pos) AS c FROM (
       |  SELECT s, cell, pos,
       |   CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*)
       |     AS DECIMAL(24,12)) AS DOUBLE) AS m
       |  FROM (SELECT s, cell, unnest(range(len(sv))) AS pos, unnest(sv) AS x FROM $a1)
       |  GROUP BY s, cell, pos)
       | GROUP BY s, cell),
       |$cf AS (
       | SELECT $c0.s, $c0.cell, COALESCE($c1.c, $c0.c) AS c
       | FROM $c0 LEFT JOIN $c1 ON $c0.s = $c1.s AND $c0.cell = $c1.cell),
       |$a2 AS (
       | SELECT vec_id, s, sv, cell, d FROM (
       |  SELECT $e2.vec_id, $e2.s, $e2.sv, $cf.cell,
       |   list_dot_product($cf.c, $cf.c) - 2 * list_dot_product($e2.sv, $cf.c) AS d,
       |   ROW_NUMBER() OVER (PARTITION BY $e2.vec_id, $e2.s
       |    ORDER BY list_dot_product($cf.c, $cf.c)
       |      - 2 * list_dot_product($e2.sv, $cf.c), $cf.cell) AS rk
       |  FROM $e2 JOIN $cf ON $e2.s = $cf.s) WHERE rk = 1)""".stripMargin
  }

  private val pqCtes: String = s"$eCte,\n" + pqCtesPrefixed("")

  val pqEncodeSql: String =
    s"""WITH $pqCtes
       |SELECT vec_id,
       | string_agg(CAST(cell AS VARCHAR), ',' ORDER BY s) AS codes,
       | CAST(CAST(
       |   CAST(SUM(CAST(d + list_dot_product(sv, sv) AS DECIMAL(38,30))) AS DOUBLE)
       |     / ${PqSubs * PqDims} AS DECIMAL(24,12)) AS DOUBLE) AS mse
       |FROM a2
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin

  private val AdcTopK = 10

  /** PQ asymmetric-distance search (ADC) — the retrieval path the PQ
    * compression exists FOR: corpus vectors are represented only by
    * their codes, and the query scores each vector as the sum of
    * per-subspace distances from the query's own subvector to the
    * vector's ASSIGNED CENTROID (query side stays full-precision —
    * "asymmetric"). Per corpus row the work is [[PqSubs]] centroid
    * lookups from the broadcast codebook literal — no full-dimension
    * dot product against the corpus, which is the 64× scan saving at
    * 100 TB. The per-subspace terms sum through DECIMAL(38,30) with a
    * final 12-decimal rounding (order-independent, engine-portable),
    * then exact top-[[AdcTopK]] by (distance, vec_id).
    *
    * Cites reference behavior: extractors.py:103 builds the embedding
    * retrieval candidates; this is the compressed-index variant.
    */
  /** The query's subvectors, guarded: an absent vec_id-0 row would
    * make the downstream broadcast join silently return an empty
    * "top-k" — fail loudly instead (one tiny probe, same cost class as
    * the training collects). Shared by both ADC consumers.
    */
  private[operators] def querySubvectors(vecs: DataFrame): DataFrame = {
    val query = vecs.where(col("vec_id") === 0)
    require(!query.isEmpty, "ADC search expects the query vector at vec_id = 0")
    subExplode(query).select(col("s"), col("sv").as("qsv"))
  }

  /** Shared ADC scoring tail — (vec_id, s, sv) rows coded against the
    * PQ model, scored per subspace against the broadcast query
    * subvectors, summed decimal-portably to one `adc_dist` per vector.
    * ONE definition for [[pqAdcTopK]] and `Similarity.ivfPqTopK`, so
    * the distance recipe cannot drift between the flat and IVF tiers.
    */
  private[operators] def adcScores(subRows: DataFrame, qsubs: DataFrame,
      pq: Map[(Int, Int), Seq[Double]]): DataFrame = {
    import graft.functions.DotProduct
    val nSubs  = pq.keys.map(_._1).max + 1
    val nCodes = pq.keys.map(_._2).max + 1
    val cArr = typedLit((0 until nSubs).map(s =>
      (0 until nCodes).map(k => pq((s, k)))))
    val ccArr = typedLit((0 until nSubs).map(s =>
      (0 until nCodes).map(k => pq((s, k)).map(x => x * x).sum)))
    val csel  = element_at(element_at(cArr, col("s") + 1), col("cell") + 1)
    val ccsel = element_at(element_at(ccArr, col("s") + 1), col("cell") + 1)
    withBest(pq)(subRows)
      .select(col("vec_id"), col("s"), col("best.cell").as("cell"))
      .join(broadcast(qsubs), Seq("s"))
      .withColumn("d",
        ccsel - lit(2.0) * DotProduct(col("qsv"), csel) +
          DotProduct(col("qsv"), col("qsv")))
      .groupBy("vec_id")
      .agg(sum(col("d").cast(DecimalType(38, 30))).cast("double")
        .cast(DecimalType(24, 12)).cast("double").as("adc_dist"))
  }

  /** ROW-LOCAL ADC score of a full vector column against a FIXED query —
    * the streaming twin of [[adcScores]]: a live gate cannot shuffle
    * (vec, subspace) rows through a groupBy, so each arriving vector is
    * coded per subspace (the [[withBest]] argmin over the broadcast
    * codebook, on an in-row slice) and the per-subspace ADC terms —
    * precomputed against the fixed query with the IDENTICAL left-fold
    * IEEE sequence [[adcScores]] evaluates at runtime — sum through the
    * same DECIMAL(38,30)→double→DECIMAL(24,12)→double chain. One narrow
    * projection per event, no state; bit-equal to the batch scorer
    * (StreamingSpec pins it against [[pqAdcTopK]]).
    */
  private[graft] def adcScoreColumn(
      v: Column, qv: Seq[Double], pq: Map[(Int, Int), Seq[Double]]): Column = {
    import graft.functions.DotProduct
    // term(s, k) = c·c − 2·q_s·c + q_s·q_s, all driver doubles with the
    // same fold order DotProduct uses (acc starts 0.0, adds pairwise
    // products left to right)
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val termArr = typedLit((0 until PqSubs).map { s =>
      val qs = qv.slice(s * PqDims, (s + 1) * PqDims)
      (0 until PqK).map { k =>
        val c = pq((s, k))
        c.map(x => x * x).sum - 2.0 * dot(qs, c) + dot(qs, qs)
      }
    })
    val terms = (0 until PqSubs).map { s =>
      val sv = slice(v, s * PqDims + 1, PqDims)
      // the same assignment argmin as withBest, on the in-row slice
      val scored = (0 until PqK).map { k =>
        val cLit  = typedLit(pq((s, k)))
        val ccLit = lit(pq((s, k)).map(x => x * x).sum)
        struct((ccLit - lit(2.0) * DotProduct(sv, cLit)).as("d"),
          lit(k).as("cell"))
      }
      val cell = array_min(array(scored: _*)).getField("cell")
      element_at(element_at(termArr, s + 1), cell + 1).cast(DecimalType(38, 30))
    }
    terms.reduceLeft[Column](_ + _)
      .cast("double").cast(DecimalType(24, 12)).cast("double")
  }

  def pqAdcTopK(t: Tables): DataFrame = {
    // localCheckpoint, not persist — same cached-plan/AQE rationale as
    // [[pqEncode]]; two consumers (query subvectors + corpus explode)
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    val cents = trainPqShared(t, vecs)
    val qsubs = querySubvectors(vecs)
    adcScores(
        subExplode(vecs.where(col("vec_id") =!= 0)), qsubs, cents)
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(AdcTopK)
  }

  /** Oracle: the shared PQ CTE replay plus the ADC scoring — query
    * subvectors from `e2`, centroid per (s, assigned cell) from `cf`,
    * identical distance expression and decimal-portable sum.
    */
  val pqAdcTopKSql: String =
    s"""WITH $pqCtes,
       |qs AS (SELECT s, sv AS qsv FROM e2 WHERE vec_id = 0)
       |SELECT a2.vec_id,
       | CAST(CAST(CAST(SUM(CAST(
       |   list_dot_product(cf.c, cf.c) - 2 * list_dot_product(qs.qsv, cf.c)
       |     + list_dot_product(qs.qsv, qs.qsv)
       |   AS DECIMAL(38,30))) AS DOUBLE) AS DECIMAL(24,12)) AS DOUBLE)
       |   AS adc_dist
       |FROM a2
       |JOIN cf ON a2.s = cf.s AND a2.cell = cf.cell
       |JOIN qs ON qs.s = a2.s
       |WHERE a2.vec_id <> 0
       |GROUP BY a2.vec_id
       |ORDER BY adc_dist, vec_id
       |LIMIT $AdcTopK""".stripMargin

  val centroidsSql: String =
    """SELECT label, CAST(pos AS INT) AS pos,
      | CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*)
      |   AS DECIMAL(24,12)) AS DOUBLE) AS m,
      | CAST(COUNT(*) AS BIGINT) AS n_vecs
      |FROM (
      | SELECT label, unnest(range(len(v))) AS pos, unnest(v) AS x
      | FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings))
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  /** int8 scalar quantization — the simple 8x-compression tier next to
    * [[pqEncode]]'s 64x: per-DIMENSION min/max bounds (one tiny
    * aggregation, broadcast back) and a 256-level uniform code per
    * element, with midpoint dequantization and the per-element error
    * surfaced. `floor` (not round) keeps the code deterministic across
    * engines; a constant dimension (hi == lo) codes to 0 and
    * reconstructs exactly. One narrow pass over the corpus at scale.
    */
  def int8Quantize(t: Tables): DataFrame = {
    // NOT persisted: the exploded projection (dims× the corpus row count)
    // feeds both the bounds aggregate and the code join, so the scan +
    // explode run twice — but both passes are narrow and codegen'd, while
    // caching the exploded frame would pin dims× the corpus in storage
    // for the lifetime of a lazily-returned frame (a leak in a long-lived
    // session, and unpayable at 100 TB). Two cheap scans beat one giant
    // cache.
    val ex = t.embeddings.select(col("vec_id"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
    val bounds = ex.groupBy("pos").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    ex.join(broadcast(bounds), Seq("pos"))
      .withColumn("code",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(255L), floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 256)))
        .cast("int"))
      .withColumn("xhat",
        col("lo") + (col("code") + lit(0.5)) / lit(256.0) * (col("hi") - col("lo")))
      .select(col("vec_id"), col("pos"), col("x"), col("code"), col("xhat"),
        (col("x") - col("xhat")).as("err"))
      .orderBy("vec_id", "pos")
  }

  val int8QuantizeSql: String =
    """WITH ex AS (
      | SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS x
      | FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
      |b AS (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY pos),
      |c AS (
      | SELECT vec_id, ex.pos, x, lo, hi,
      |  CAST(CASE WHEN hi = lo THEN 0
      |       ELSE LEAST(255, floor((x - lo) / (hi - lo) * 256)) END AS INT) AS code
      | FROM ex JOIN b ON ex.pos = b.pos)
      |SELECT vec_id, CAST(pos AS INT) AS pos, x, code,
      | lo + (code + 0.5) / 256.0 * (hi - lo) AS xhat,
      | x - (lo + (code + 0.5) / 256.0 * (hi - lo)) AS err
      |FROM c
      |ORDER BY vec_id, pos""".stripMargin

  private val MatDims    = 16
  private val MatQueries = 20
  private val MatK       = 10

  /** Matryoshka truncation audit: how much ANN quality survives keeping
    * only the first [[MatDims]] of 64 dimensions (the
    * matryoshka-representation trick — prefix dims as a cheap coarse
    * index, 4× less memory and flops). For each of [[MatQueries]]
    * probe vectors, rank the corpus by full-dim AND by truncated cosine,
    * then report recall@k (k ≤ [[MatK]]) of the truncated ranking
    * averaged over the probes — the go/no-go number for routing a 100 TB
    * corpus scan through the truncated tier first.
    *
    * One broadcast of the probe set, one narrow scoring pass computing
    * BOTH cosines, two per-probe rank windows over the scored rows, and
    * a k-explode over the top-k intersection (MatQueries·MatK rows).
    * Truncated cosine re-normalizes implicitly (dot/norms over the
    * prefix), matching the oracle's slice fold bit-for-bit.
    */
  def matryoshkaRecall(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = Similarity.vectors(t)
      .withColumn("vt", slice(col("v"), 1, MatDims))
    val qs = vecs.where(col("vec_id") < MatQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("vt").as("qt"))
    val scored = vecs.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Similarity.cosine(col("v"), col("qv")).as("cf"),
        Similarity.cosine(col("vt"), col("qt")).as("ct"))
    val wf = Window.partitionBy("q_id").orderBy(col("cf").desc, col("vec_id"))
    val wt = Window.partitionBy("q_id").orderBy(col("ct").desc, col("vec_id"))
    val ranked = scored
      .withColumn("fr", row_number().over(wf))
      .withColumn("tr", row_number().over(wt))
      .where(col("fr") <= MatK && col("tr") <= MatK)
    val hits = ranked
      .select(explode(sequence(lit(1), lit(MatK))).as("k"),
        greatest(col("fr"), col("tr")).as("worst"))
      .groupBy("k")
      .agg(sum(when(col("worst") <= col("k"), 1).otherwise(0)).as("h"))
    // dense k frame LEFT-joined (broadcast: MatK rows) so a degenerate
    // corpus with zero agreeing top-K rows still yields MatK recall-0
    // rows — matching the oracle's `range(1,K+1) LEFT JOIN hits` shape
    t.spark.range(1, MatK + 1).select(col("id").cast("int").as("k"))
      .join(broadcast(hits), Seq("k"), "left")
      .select(col("k"),
        (coalesce(col("h"), lit(0L)).cast("double") /
          (lit(MatQueries) * col("k"))).as("recall"))
      .orderBy("k")
  }

  /** Oracle: the same double ranking replayed with slice folds. */
  val matryoshkaRecallSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |            (embedding::DOUBLE[])[1:$MatDims] AS vt FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv, vt AS qt FROM e WHERE vec_id < $MatQueries),
       |sc AS (
       |  SELECT q.q_id, e.vec_id,
       |    list_dot_product(e.v, q.qv) /
       |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cf,
       |    list_dot_product(e.vt, q.qt) /
       |      (sqrt(list_dot_product(e.vt, e.vt)) * sqrt(list_dot_product(q.qt, q.qt))) AS ct
       |  FROM e JOIN q ON e.vec_id <> q.q_id),
       |rk AS (
       |  SELECT q_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cf DESC, vec_id) AS fr,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ct DESC, vec_id) AS tr
       |  FROM sc),
       |hits AS (SELECT fr, tr FROM rk WHERE fr <= $MatK AND tr <= $MatK)
       |SELECT CAST(ks.k AS INT) AS k,
       |  CAST(SUM(CASE WHEN GREATEST(fr, tr) <= ks.k THEN 1 ELSE 0 END) AS DOUBLE)
       |    / ($MatQueries * ks.k) AS recall
       |FROM (SELECT UNNEST(range(1, ${MatK + 1})) AS k) ks LEFT JOIN hits ON TRUE
       |GROUP BY ks.k ORDER BY k""".stripMargin

  /** Leading dims analyzed by [[pcaPower]] (the matryoshka-prefix
    * convention — keeps the oracle's D² expansion bounded).
    */
  private[graft] val PcaDims = 16
  private[graft] val PcaIters = 3
  private[graft] val PcaScale = 1000000.0

  /** Dominant principal direction of the leading [[PcaDims]] embedding
    * dims by power iteration — the whitening/drift-axis primitive of
    * embedding-space curation (dedup by projection, batch-effect
    * detection, dimension pruning).
    *
    * The pipeline is engineered so every engine-crossing number is
    * exact or identically rounded: (1) the covariance matrix comes from
    * ONE in-row D² moment expansion (flatten/transform over the vector —
    * no self-join) aggregated through scale-30 decimal sums, centered as
    * E[xy] − E[x]E[y] (no mean-subtraction pass), rounded by the
    * [[centroids]] decimal(24,12) recipe, then floored to integer
    * MICROS; (2) power iterations run on that 16×16 INTEGER matrix with
    * exact int64 dot products, renormalizing each round to maxabs = 10⁶
    * via a deterministic double floor-divide (the femto-unit PageRank
    * convention, so no iterate ever overflows and no `sqrt` norm
    * enters); (3) a zero matrix keeps the raw zero vector (COALESCE
    * twin in the oracle). The 16×16 matrix is bounded driver model
    * state (the k-means-centroid convention) — iterations are
    * driver-local on the model, never data passes. At scale: one scan,
    * one 256-group and one 16-group partial aggregation; nothing else
    * touches the corpus.
    */
  /** The trained model behind [[pcaPower]] (and [[abtt]]): per-dim
    * means (the portable decimal-rounded doubles) and the final iterate
    * in integer micros. Bounded driver state.
    */
  private[operators] def pcaModel(t: Tables): (Array[Double], Array[Long]) = {
    val withV = t.embeddings
      .select(col("embedding").cast("array<double>").as("v"))
    val mom = withV.select(explode(expr(
        s"""flatten(transform(sequence(0, ${PcaDims - 1}), i ->
           |  transform(sequence(0, ${PcaDims - 1}), j ->
           |    named_struct('i', i, 'j', j,
           |      'p', element_at(v, i + 1) * element_at(v, j + 1)))))"""
          .stripMargin)).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(col("e.p").cast(DecimalType(38, 30))).as("sd"),
        count(lit(1)).as("n"))
    val means = withV
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .where(col("pos") < PcaDims)
      .groupBy("pos")
      // the centroids recipe INCLUDING the final 12-decimal rounding:
      // the decimal sum is exact, but decimal→double conversion can
      // differ by an ulp between engines, and [[abtt]] consumes these
      // means RAW (no covariance floor to absorb the ulp)
      .agg((sum(col("x").cast(DecimalType(38, 30))).cast("double") /
        count(lit(1))).cast(DecimalType(24, 12)).cast("double").as("m"))
    val cint = mom
      .join(broadcast(means.select(col("pos").as("i"), col("m").as("mi"))), Seq("i"))
      .join(broadcast(means.select(col("pos").as("j"), col("m").as("mj"))), Seq("j"))
      .select(col("i"), col("j"),
        floor((col("sd").cast("double") / col("n") - col("mi") * col("mj"))
          .cast(DecimalType(24, 12)).cast("double") * lit(PcaScale)).as("c"))
    val mu = new Array[Double](PcaDims)
    means.collect().foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    val c = Array.ofDim[Long](PcaDims, PcaDims)
    cint.collect().foreach(r => c(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    var v = Array.tabulate(PcaDims)(i => if (i == 0) 1000000L else 0L)
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(PcaDims) { i =>
        var s = 0L; var j = 0
        while (j < PcaDims) { s += c(i)(j) * v(j); j += 1 }
        s
      }
      val mx = w.map(math.abs).max
      v = if (mx == 0L) w
      else w.map(x => math.floor(x.toDouble * PcaScale / mx.toDouble).toLong)
    }
    (mu, v)
  }

  def pcaPower(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val (_, v) = pcaModel(t)
    v.zipWithIndex
      .map { case (vi, i) => (i, vi, vi.toDouble / PcaScale) }
      .toSeq.toDF("pos", "v_micros", "loading")
      .orderBy("pos")
  }

  /** Oracle: moments/means/covariance through the identical decimal →
    * double → micros chain, then the [[PcaIters]] iterations unrolled as
    * exact-integer matrix-vector CTEs with the same floor renormalize.
    */
  val pcaPowerSql: String = {
    s"""WITH $pcaCtesSql
       |SELECT CAST(i AS INT) AS pos, CAST(v AS BIGINT) AS v_micros,
       | CAST(v AS DOUBLE) / 1000000.0 AS loading
       |FROM v$PcaIters ORDER BY pos""".stripMargin
  }

  /** The covariance-to-final-iterate CTE chain of [[pcaPowerSql]],
    * shared with [[abttSql]]: ends in `v$PcaIters(i, v)` (the direction
    * in integer micros), `mean(pos, m)`, and `e(vec_id, v)`. A `def`,
    * not a val: [[pcaPowerSql]] initializes before this point in the
    * object body.
    */
  private[operators] def pcaCtesSql: String = {
    val d = PcaDims
    val iters = (1 to PcaIters).map { r =>
      s"""w$r AS (
         | SELECT c.i, SUM(c.c * v${r - 1}.v) AS w
         | FROM c JOIN v${r - 1} ON v${r - 1}.i = c.j GROUP BY c.i),
         |x$r AS (SELECT MAX(ABS(w)) AS mx FROM w$r),
         |v$r AS (
         | SELECT w$r.i,
         |  COALESCE(CAST(FLOOR(CAST(w AS DOUBLE) * 1000000.0
         |    / CAST(NULLIF(mx, 0) AS DOUBLE)) AS BIGINT), w) AS v
         | FROM w$r, x$r)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |xs AS (SELECT v, unnest(range(0, $d)) AS i FROM e),
       |xy AS (SELECT v, i, unnest(range(0, $d)) AS j FROM xs),
       |mom AS (
       | SELECT i, j, SUM(CAST(v[i + 1] * v[j + 1] AS DECIMAL(38, 30))) AS sd,
       |  COUNT(*) AS n
       | FROM xy GROUP BY i, j),
       |mean AS (
       | SELECT i AS pos,
       |  CAST(CAST(CAST(SUM(CAST(v[i + 1] AS DECIMAL(38, 30))) AS DOUBLE)
       |    / COUNT(*) AS DECIMAL(24, 12)) AS DOUBLE) AS m
       | FROM xs GROUP BY i),
       |c AS (
       | SELECT mom.i, mom.j,
       |  CAST(FLOOR(CAST(CAST(CAST(sd AS DOUBLE) / n - m1.m * m2.m
       |    AS DECIMAL(24, 12)) AS DOUBLE) * 1000000.0) AS BIGINT) AS c
       | FROM mom JOIN mean m1 ON m1.pos = mom.i JOIN mean m2 ON m2.pos = mom.j),
       |v0 AS (
       | SELECT i, CASE WHEN i = 0 THEN 1000000 ELSE 0 END AS v
       | FROM (SELECT unnest(range(0, $d)) AS i)),
       |$iters""".stripMargin
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath 2018) on
    * the [[PcaDims]] prefix: subtract the corpus mean, then remove the
    * projection onto the dominant principal direction — the standard
    * isotropy fix that recovers similarity quality from anisotropic
    * embedding spaces. Per vector: the centered prefix `vc = v − μ`,
    * its coefficient `coef = vc·û` on the unit direction, and the
    * residual energy `‖vc‖² − coef²` (computed by THAT formula in both
    * engines — materializing v′ would change the op sequence).
    *
    * The model (μ, û) is [[pcaModel]]'s bounded driver state applied as
    * exact literal arrays (no string round-trip; `lit(Double)` carries
    * the binary value), so the corpus pass is one narrow row-local
    * projection — no joins, no shuffle beyond the model training's own
    * bounded aggregations. Division by a zero norm is guarded to 0 in
    * both engines (degenerate all-equal corpus).
    */
  def abtt(t: Tables): DataFrame = {
    import graft.functions.DotProduct
    val (mu, vm) = pcaModel(t)
    // replicate the oracle's exact op sequence: u = micros/1e6,
    // nu = sqrt(fold u·u), û_i = u_i / nu (0 when nu = 0)
    val u = vm.map(_.toDouble / PcaScale)
    val nu = math.sqrt(u.foldLeft(0.0)((s, x) => s + x * x))
    val uh = u.map(x => if (nu == 0.0) 0.0 else x / nu)
    val muCol = array(mu.map(lit(_)): _*)
    val uhCol = array(uh.map(lit(_)): _*)
    t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("mu", muCol)
      .withColumn("uh", uhCol)
      .withColumn("vc", expr(
        s"transform(sequence(0, ${PcaDims - 1}), i -> element_at(v, i + 1) - element_at(mu, i + 1))"))
      .select(col("vec_id"),
        DotProduct(col("vc"), col("uh")).as("coef"),
        (DotProduct(col("vc"), col("vc")) -
          DotProduct(col("vc"), col("uh")) * DotProduct(col("vc"), col("uh")))
          .as("resid_norm2"))
      .orderBy("vec_id")
  }

  /** Oracle: the shared PCA CTE chain rebuilds (μ, û) from scratch,
    * then the identical per-vector projection formulas.
    */
  val abttSql: String =
    s"""WITH $pcaCtesSql,
       |muv AS (SELECT list(m ORDER BY pos) AS mu FROM mean),
       |uv AS (SELECT list(CAST(v AS DOUBLE) / 1000000.0 ORDER BY i) AS u
       |       FROM v$PcaIters),
       |un AS (SELECT u, sqrt(list_dot_product(u, u)) AS nu FROM uv),
       |uhv AS (SELECT list_transform(u,
       |          x -> CASE WHEN nu = 0 THEN 0.0 ELSE x / nu END) AS uh
       |        FROM un),
       |vc AS (
       | SELECT vec_id,
       |  list_transform(range(1, ${PcaDims + 1}), i -> v[i] - mu[i]) AS vc, uh
       | FROM e, muv, uhv)
       |SELECT vec_id,
       | list_dot_product(vc, uh) AS coef,
       | list_dot_product(vc, vc)
       |   - list_dot_product(vc, uh) * list_dot_product(vc, uh) AS resid_norm2
       |FROM vc
       |ORDER BY vec_id""".stripMargin

  /** Target dimensionality for [[randomProjection]]. */
  private val RpDims = 16

  /** Johnson-Lindenstrauss sign random projection to [[RpDims]] dims —
    * the cheap-and-cheerful dimensionality reduction that preserves
    * pairwise distances within (1±ε) whp (Achlioptas ±1 projections):
    * p_j = Σᵢ sign(i,j)·vᵢ with a DETERMINISTIC sign grid
    * (parity of i·31 + j·17 — a fixed pseudo-random matrix is exactly
    * what production JL uses, just usually seeded), so reruns and other
    * engines reproduce the projection bit-for-bit. Each p_j is a
    * row-local LEFT FOLD over the signed coordinates (seeded with the
    * first element, the ewma convention) — a deterministic IEEE
    * rounding sequence the oracle replays via list_reduce. Row-local
    * per vector, no shuffle, no driver state; output in exploded
    * (vec_id, rp_dim, rp_val) long form (array outputs can't be
    * canonicalized by the compare harness).
    */
  def randomProjection(t: Tables): DataFrame = {
    // NB: Spark `v[i]` is 0-based where DuckDB's `v[i+1]` is 1-based —
    // the same coordinate either way
    val signed = (j: String) =>
      s"""transform(sequence(0, size(v) - 1),
         |  i -> IF(((i * 31 + $j * 17) % 2) = 0, v[i], -v[i]))""".stripMargin
    t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        posexplode(expr(
          s"""transform(sequence(0, ${RpDims - 1}), j ->
             |  aggregate(slice(${signed("j")}, 2, size(v) - 1),
             |    element_at(${signed("j")}, 1),
             |    (a, x) -> a + x))""".stripMargin)).as(Seq("rp_dim", "rp_val")))
      .select(col("vec_id"), col("rp_dim").cast("long").as("rp_dim"),
        col("rp_val"))
      .orderBy("vec_id", "rp_dim")
  }

  val randomProjectionSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |d AS (SELECT unnest(range(0, $RpDims)) AS j),
       |p AS (
       | SELECT vec_id, j,
       |  list_reduce(
       |    list_transform(range(0, len(v)),
       |      i -> CASE WHEN ((i * 31 + j * 17) % 2) = 0
       |           THEN v[i + 1] ELSE -v[i + 1] END),
       |    (a, x) -> a + x) AS rp_val
       | FROM e CROSS JOIN d)
       |SELECT vec_id, CAST(j AS BIGINT) AS rp_dim, rp_val
       |FROM p ORDER BY vec_id, rp_dim""".stripMargin

  /** Embedding drift report — "did the new batch shift the embedding
    * distribution": per dimension, mean shift between the standing
    * corpus (vec_id % 5 ≠ 0) and the arriving batch (vec_id % 5 = 0,
    * the incremental-dedup split convention), in the ORACLE-SAFE
    * portable-mean form ([[graft.functions.Exact.portableMean]]), plus
    * a drift flag where |Δ| exceeds the threshold. The monitoring twin
    * of [[dimStats]]: one exploded aggregation per cohort, dimension-
    * keyed equi-join of two d-row frames — bounded output at any
    * corpus size.
    */
  def driftReport(t: Tables): DataFrame = {
    val ex = t.embeddings
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    def cohort(pred: org.apache.spark.sql.Column) = ex.where(pred)
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.portableMean(col("x")).as("m"))
    val corpus = cohort(pmod(col("vec_id"), lit(5)) =!= 0)
      .select(col("dim"), col("n").as("n_corpus"), col("m").as("mean_corpus"))
    val batch = cohort(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("dim"), col("n").as("n_batch"), col("m").as("mean_batch"))
    corpus.join(batch, Seq("dim"))
      .withColumn("shift", col("mean_batch") - col("mean_corpus"))
      .withColumn("drifted", abs(col("shift")) > 0.05)
      .orderBy("dim")
  }

  val driftReportSql: String = {
    def m(filt: String) =
      s"""SELECT dim - 1 AS dim, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*)
         |    AS DECIMAL(24,12)) AS DOUBLE) AS mn
         | FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         |         generate_subscripts(embedding::DOUBLE[], 1) AS dim
         |       FROM embeddings)
         | WHERE $filt GROUP BY 1""".stripMargin
    s"""WITH corpus AS (${m("vec_id % 5 <> 0")}),
       |batch AS (${m("vec_id % 5 = 0")})
       |SELECT corpus.dim, corpus.n AS n_corpus, corpus.mn AS mean_corpus,
       | batch.n AS n_batch, batch.mn AS mean_batch,
       | batch.mn - corpus.mn AS shift,
       | abs(batch.mn - corpus.mn) > 0.05 AS drifted
       |FROM corpus JOIN batch USING (dim)
       |ORDER BY corpus.dim""".stripMargin
  }

  /** Pairs reported by [[dimCorr]]. */
  private val DimCorrK = 20

  /** Redundant-dimension audit — the embedding-capacity health check
    * behind [[dimStats]]' per-axis view: the [[DimCorrK]] most
    * correlated dimension PAIRS across the corpus (highly correlated
    * axes mean the model wastes capacity — the signal PCA/matryoshka
    * truncation would exploit). Values are floor-quantized to integer
    * micros FIRST (floor, not cast: Spark truncates double→long while
    * DuckDB rounds, floor is the one portable edge), so every moment
    * (Σq, Σq², Σqᵢqⱼ) is an exact order-free DECIMAL(38,0) sum and the
    * Pearson correlation evaluates in double from exact integers with
    * the oracle's expression tree.
    *
    * Plan: one posexplode pass, a vec-keyed self-join that fans each
    * vector into its d(d−1)/2 in-row pairs (output volume n·d²/2 but
    * it feeds an aggregation with map-side combine down to d²/2
    * cells — no corpus-sized shuffle survives), and a TakeOrdered
    * top-[[DimCorrK]] cut.
    */
  def dimCorr(t: Tables): DataFrame = {
    val q = t.embeddings
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        floor(col("x") * lit(1000000.0)).cast("long").as("qx"))
    val cells = q.as("a")
      .join(q.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("dim_a"), col("b.i").as("dim_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("a.qx").cast(d38)).as("sa"),
        sum(col("b.qx").cast(d38)).as("sb"),
        sum((col("a.qx") * col("a.qx")).cast(d38)).as("saa"),
        sum((col("b.qx") * col("b.qx")).cast(d38)).as("sbb"),
        sum((col("a.qx") * col("b.qx")).cast(d38)).as("sab"))
    // sa/sb/sab carry sign (embedding axes straddle zero) — the SIGNED
    // conversion keeps the hi/lo split exact on both engines; saa/sbb
    // are sums of squares, nonnegative by construction
    import graft.functions.Exact.{decToDouble, decToDoubleSigned}
    cells.select(col("dim_a"), col("dim_b"), col("n"),
        ((col("n") * decToDoubleSigned(col("sab")) -
          decToDoubleSigned(col("sa")) * decToDoubleSigned(col("sb"))) /
          (sqrt(col("n") * decToDouble(col("saa")) -
            decToDoubleSigned(col("sa")) * decToDoubleSigned(col("sa"))) *
            sqrt(col("n") * decToDouble(col("sbb")) -
              decToDoubleSigned(col("sb")) * decToDoubleSigned(col("sb")))))
          .as("corr"))
      .orderBy(abs(col("corr")).desc, col("dim_a"), col("dim_b"))
      .limit(DimCorrK)
  }

  lazy val dimCorrSql: String = {
    import graft.functions.Exact.{decToDoubleSql, decToDoubleSignedSql}
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (
       | SELECT vec_id, CAST(unnest(range(len(v))) AS INT) AS i,
       |  CAST(FLOOR(unnest(v) * 1000000) AS BIGINT) AS qx
       | FROM e),
       |cells AS (
       | SELECT a.i AS dim_a, b.i AS dim_b, CAST(COUNT(*) AS BIGINT) AS n,
       |  SUM(a.qx) AS sa, SUM(b.qx) AS sb,
       |  SUM(a.qx * a.qx) AS saa, SUM(b.qx * b.qx) AS sbb,
       |  SUM(a.qx * b.qx) AS sab
       | FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i < b.i
       | GROUP BY 1, 2)
       |SELECT dim_a, dim_b, n,
       | (n * ${decToDoubleSignedSql("sab")} -
       |    ${decToDoubleSignedSql("sa")} * ${decToDoubleSignedSql("sb")}) /
       |  (sqrt(n * ${decToDoubleSql("saa")} -
       |     ${decToDoubleSignedSql("sa")} * ${decToDoubleSignedSql("sa")}) *
       |   sqrt(n * ${decToDoubleSql("sbb")} -
       |     ${decToDoubleSignedSql("sb")} * ${decToDoubleSignedSql("sb")})) AS corr
       |FROM cells
       |ORDER BY ABS((n * ${decToDoubleSignedSql("sab")} -
       |    ${decToDoubleSignedSql("sa")} * ${decToDoubleSignedSql("sb")}) /
       |  (sqrt(n * ${decToDoubleSql("saa")} -
       |     ${decToDoubleSignedSql("sa")} * ${decToDoubleSignedSql("sa")}) *
       |   sqrt(n * ${decToDoubleSql("sbb")} -
       |     ${decToDoubleSignedSql("sb")} * ${decToDoubleSignedSql("sb")}))) DESC,
       | dim_a, dim_b
       |LIMIT $DimCorrK""".stripMargin
  }

  /** Participation ratio — the embedding space's EFFECTIVE
    * dimensionality PR = tr(C)² / ‖C‖²_F over the mean-centered
    * covariance C, computed WITHOUT any eigendecomposition (tr C = Σλ
    * and ‖C‖²_F = Σλ², so PR = (Σλ)²/Σλ² — the inverse-HHI of the
    * variance spectrum; PR ≪ d means the embedding collapsed onto a
    * few directions, the representation-health twin of [[abtt]]'s
    * dominant-direction removal and the global view next to
    * [[Similarity.twoNn]]'s local intrinsic dimension). One linear
    * pass emits each vector's d(d+1)/2 upper-triangle products; cell
    * sums ride the scale-30 decimal recipe (map-side combined into a
    * d²-bounded grid), and the two spectral sums fold over the sorted
    * bounded cell list. d is the data's fixed 64 (the PQ subspace
    * convention).
    */
  def participationRatio(t: Tables): DataFrame = {
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = vecs.select(explode(expr(
        """flatten(transform(v, (xj, j) ->
          |  transform(slice(v, j + 1, size(v) - j), (xk, kk) ->
          |    struct(j AS j, j + kk AS k, xj * xk AS p))))""".stripMargin))
        .as("c"))
      .select(col("c.j").as("j"), col("c.k").as("k"), col("c.p").as("p"))
    val cells = pairs.groupBy("j", "k")
      .agg(count(lit(1)).as("n"),
        sum(col("p").cast(DecimalType(38, 30))).cast("double")
          .cast(DecimalType(24, 12)).cast("double").as("sp"))
    val means = t.embeddings
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sum(col("x").cast(DecimalType(38, 30))).cast("double")
        .cast(DecimalType(24, 12)).cast("double").as("sx"))
    val cov = cells
      .join(means.select(col("pos").as("j"), col("sx").as("sj")), Seq("j"))
      .join(means.select(col("pos").as("k"), col("sx").as("sk")), Seq("k"))
      .withColumn("c",
        ((col("sp") - col("sj") * col("sk") / col("n")) / (col("n") - 1))
          .cast(DecimalType(24, 12)).cast("double"))
    cov
      .agg(first(col("n")).as("n"),
        sort_array(collect_list(struct(col("j"), col("k"),
          when(col("j") === col("k"), col("c")).otherwise(lit(0.0)).as("d"),
          (col("c") * col("c") *
            when(col("j") === col("k"), lit(1.0)).otherwise(lit(2.0)))
            .as("f")))).as("arr"))
      .select(col("n").cast("long").as("n"),
        expr("aggregate(arr, CAST(0.0 AS DOUBLE), (a, x) -> a + x.d)")
          .cast(DecimalType(24, 12)).cast("double").as("trace"),
        expr("aggregate(arr, CAST(0.0 AS DOUBLE), (a, x) -> a + x.f)")
          .cast(DecimalType(24, 12)).cast("double").as("fro2"))
      .select(col("n"), col("trace"), col("fro2"),
        ((col("trace") * col("trace")) / col("fro2"))
          .cast(DecimalType(24, 12)).cast("double")
          .as("participation_ratio"))
  }

  /** Oracle: the 64-dim upper triangle replays through a range cross
    * join (DuckDB lists are 1-based), identical decimal sums and fold
    * order.
    */
  val participationRatioSql: String =
    """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |pairs AS (
      | SELECT j, k, v[CAST(j AS INT) + 1] * v[CAST(k AS INT) + 1] AS p
      | FROM vecs,
      |  (SELECT unnest(range(0, 64)) AS j),
      |  (SELECT unnest(range(0, 64)) AS k)
      | WHERE k >= j),
      |cells AS (
      | SELECT j, k, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CAST(CAST(SUM(CAST(p AS DECIMAL(38,30))) AS DOUBLE)
      |    AS DECIMAL(24,12)) AS DOUBLE) AS sp
      | FROM pairs GROUP BY 1, 2),
      |means AS (
      | SELECT pos, CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE)
      |   AS DECIMAL(24,12)) AS DOUBLE) AS sx
      | FROM (SELECT unnest(range(len(v))) AS pos, unnest(v) AS x FROM vecs)
      | GROUP BY 1),
      |cov AS (
      | SELECT j, k, n,
      |  CAST(CAST((sp - mj.sx * mk.sx / n) / (n - 1) AS DECIMAL(24,12))
      |    AS DOUBLE) AS c
      | FROM cells
      | JOIN means mj ON mj.pos = cells.j
      | JOIN means mk ON mk.pos = cells.k),
      |folded AS (
      | SELECT CAST(MIN(n) AS BIGINT) AS n,
      |  CAST(CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list(CASE WHEN j = k THEN c ELSE 0.0 END ORDER BY j, k)),
      |    (a, x) -> a + x) AS DECIMAL(24,12)) AS DOUBLE) AS trace,
      |  CAST(CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list(c * c * (CASE WHEN j = k THEN 1.0 ELSE 2.0 END)
      |      ORDER BY j, k)), (a, x) -> a + x) AS DECIMAL(24,12)) AS DOUBLE)
      |    AS fro2
      | FROM cov)
      |SELECT n, trace, fro2,
      | CAST(CAST((trace * trace) / fro2 AS DECIMAL(24,12)) AS DOUBLE)
      |   AS participation_ratio
      |FROM folded""".stripMargin
}
