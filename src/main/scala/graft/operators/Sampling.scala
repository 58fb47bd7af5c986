package graft.operators

import graft.Tables
import graft.functions.Exact.{d38, decToDouble, decToDoubleSql}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic, engine-portable sampling for training-data pipelines.
  *
  * All sampling decisions hash the ROW KEY (never RAND()): reruns,
  * retries, and other engines reproduce the exact same sample — the
  * property a 100 TB pipeline needs for resumable jobs and train/eval
  * hygiene. The hash is the first 15 hex chars of md5 parsed big-endian
  * (60 bits), the same portable construction [[Dedup.simhash]] uses, so
  * DuckDB rebuilds identical decisions and the oracle is hash-exact.
  *
  * At scale both operators are a single narrow filter / one window pass —
  * no shuffle for the stratified filter, one key-partitioned shuffle for
  * the per-key cap.
  */
object Sampling {

  /** Uniform-in-[0,1) hash of a key column: md5 → 60-bit int / 2^60. */
  private[operators] def unitHash(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("double") /
      lit(1152921504606846976.0) // 2^60

  private[operators] val unitHashSqlFmt: String =
    "CAST('0x' || substr(md5(CAST(%s AS VARCHAR)), 1, 15) AS BIGINT) / 1152921504606846976.0"

  /** Stratified sampling: a different keep-fraction per stratum (here:
    * per document language-independent source), decided row-locally from
    * the doc_id hash — no shuffle, no coordination, exactly reproducible.
    * The fractions map is tiny broadcast-able state expressed as a CASE
    * ladder.
    */
  def stratified(t: Tables): DataFrame = {
    val fractions = Seq("src0" -> 0.75, "src1" -> 0.5, "src2" -> 0.25)
    val frac = fractions.foldLeft(lit(0.1)) { case (acc, (src, f)) =>
      when(col("source") === src, f).otherwise(acc)
    }
    t.documents
      .where(unitHash(col("doc_id")) < frac)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  val stratifiedSql: String = {
    val u = unitHashSqlFmt.format("doc_id")
    s"""SELECT doc_id, source, n_chars
       |FROM documents
       |WHERE $u < (CASE WHEN source = 'src2' THEN 0.25
       |                 WHEN source = 'src1' THEN 0.5
       |                 WHEN source = 'src0' THEN 0.75
       |                 ELSE 0.1 END)
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-key sample cap (deterministic reservoir analog): keep at most k
    * rows per key, chosen by hash order — the dedup-adjacent "cap
    * documents per domain" step of corpus curation. One window pass
    * partitioned by the key; ties impossible (hash of a unique id).
    */
  def perKeyCap(t: Tables, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(unitHash(col("event_id")), col("event_id"))
    t.events
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy("user_id", "event_id")
  }

  def perKeyCapSql(k: Int = 20): String = {
    val u = unitHashSqlFmt.format("event_id")
    s"""SELECT user_id, event_id, event_type FROM (
       | SELECT user_id, event_id, event_type,
       |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY $u, event_id) AS rk
       | FROM events)
       |WHERE rk <= $k
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** Class-balanced downsampling: every label class cut to the size of
    * the SMALLEST class, members chosen by the portable row-key hash —
    * the "balance the label distribution before training" step, exactly
    * reproducible across reruns and engines. One per-label window pass
    * (same shuffle shape as [[perKeyCap]]); the global minimum is a
    * two-row broadcast, so no driver state and no second scan of the
    * data.
    */
  def balancedClasses(t: Tables): DataFrame = {
    val minN = t.embeddings.groupBy("label")
      .agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("min_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(unitHash(col("vec_id")), col("vec_id"))
    t.embeddings.select(col("vec_id"), col("label"))
      .withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(minN))
      .where(col("rk") <= col("min_n"))
      .select("label", "rk", "vec_id")
      .orderBy("label", "rk")
  }

  val balancedClassesSql: String = {
    val u = unitHashSqlFmt.format("vec_id")
    s"""WITH m AS (
       | SELECT MIN(n) AS min_n FROM (
       |  SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)),
       |r AS (
       | SELECT label, vec_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY $u, vec_id) AS INT) AS rk
       | FROM embeddings)
       |SELECT label, rk, vec_id FROM r, m
       |WHERE rk <= min_n
       |ORDER BY label, rk""".stripMargin
  }

  private val ReservoirK = 100

  /** Global uniform k-sample (deterministic reservoir): the k documents
    * with the SMALLEST portable key hash — the classic bottom-k /
    * min-wise sample, equivalent in distribution to reservoir sampling
    * but coordination-free and exactly reproducible across reruns,
    * partitionings, and engines. Spark executes the orderBy+limit as
    * TakeOrdered: each partition keeps its local k smallest hashes and
    * only those k-row heaps travel — no global sort, no full shuffle,
    * driver state bounded at k rows. Growing the corpus 100× changes
    * WHICH rows win but not the plan shape.
    */
  def reservoir(t: Tables): DataFrame =
    t.documents
      .orderBy(unitHash(col("doc_id")), col("doc_id"))
      .limit(ReservoirK)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  val reservoirSql: String = {
    val u = unitHashSqlFmt.format("doc_id")
    s"""SELECT doc_id, lang, source FROM (
       | SELECT doc_id, lang, source FROM documents
       | ORDER BY $u, doc_id LIMIT $ReservoirK)
       |ORDER BY doc_id""".stripMargin
  }

  private val PriorityK = 100

  /** Fixed-size WEIGHTED sample (priority/bottom-k sampling, the
    * Duffield–Lund–Thorup family): each document draws an integer
    * priority `hash60(doc_id) div weight` and the k SMALLEST priorities
    * win — a heavier document divides its hash by a larger weight, so
    * it wins proportionally more often, while the sample size stays
    * EXACTLY k (contrast [[graft.operators.Curation.weightedSample]]'s
    * Bernoulli keeps, whose size is only k in expectation). Weight here
    * is the capped document length (the "longer docs carry more
    * training signal" prior). All-integer priorities — no u^(1/w)
    * exponentials, no libm — so the draw replays exactly; execution is
    * the same TakeOrdered bottom-k as [[reservoir]]: per-partition
    * k-row heaps, no global sort, k-row driver state.
    */
  def prioritySample(t: Tables): DataFrame =
    t.documents
      .withColumn("w", least(greatest(col("n_chars"), lit(1L)), lit(2000L)))
      .withColumn("h", graft.functions.PortableHash.hash60(col("doc_id")))
      .withColumn("priority", expr("h div w"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(PriorityK)
      .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))
      .orderBy("doc_id")

  val prioritySampleSql: String =
    s"""SELECT doc_id, source, n_chars, priority FROM (
       | SELECT doc_id, source, n_chars,
       |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       |    // LEAST(GREATEST(n_chars, 1), 2000) AS priority
       | FROM documents
       | ORDER BY priority, doc_id LIMIT $PriorityK)
       |ORDER BY doc_id""".stripMargin

  private val NeymanBudget = 120L

  /** Neyman-optimal stratified allocation — the variance-minimizing way
    * to spend a fixed labeling/inspection budget across strata: stratum
    * h gets `n_h = budget · N_h·σ_h / Σ N_h·σ_h` (large AND internally
    * varied strata earn more samples than proportional allocation
    * gives), then each stratum's quota fills by the portable hash order
    * ([[perKeyCap]] convention). σ uses the integer floor-sqrt of the
    * exact population variance of document length — `floor(sqrt
    * (bigint))` is engine-exact below 2⁵³ — and the allocation floor
    * divides exact integers, so quotas are bit-portable; capped at the
    * stratum size. One stats aggregation (broadcast back) + one window
    * pass: linear, no corpus sort.
    */
  def neymanSample(t: Tables): DataFrame = {
    val stats = t.documents.groupBy("source")
      .agg(count(lit(1)).as("nh"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      .select(col("source"), col("nh"),
        floor(sqrt(expr("(nh * s2 - s1 * s1) div (nh * nh)").cast("double")))
          .cast("long").as("sigma"))
      .withColumn("w", col("nh") * col("sigma"))
    val tot = stats.agg(sum(col("w")).as("wsum"))
    val alloc = stats.crossJoin(broadcast(tot))
      .select(col("source"), col("nh"),
        least(col("nh"),
          expr(s"($NeymanBudget * w) div wsum")).as("quota"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(unitHash(col("doc_id")), col("doc_id"))
    t.documents
      .join(broadcast(alloc), Seq("source"))
      .withColumn("rk", row_number().over(wOrd))
      .where(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("n_chars"), col("quota"))
      .orderBy("source", "doc_id")
  }

  val neymanSampleSql: String = {
    val u = unitHashSqlFmt.format("doc_id")
    s"""WITH st AS (
       | SELECT source, CAST(COUNT(*) AS BIGINT) AS nh,
       |  CAST(SUM(n_chars) AS BIGINT) AS s1,
       |  CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
       | FROM documents GROUP BY source),
       |sg AS (
       | SELECT source, nh,
       |  nh * CAST(FLOOR(SQRT(CAST((nh * s2 - s1 * s1) // (nh * nh) AS DOUBLE)))
       |    AS BIGINT) AS w
       | FROM st),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM sg),
       |alloc AS (
       | SELECT source, LEAST(nh, ($NeymanBudget * w) // wsum) AS quota
       | FROM sg, tot),
       |r AS (
       | SELECT d.source, d.doc_id, d.n_chars, a.quota,
       |  ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY $u, d.doc_id) AS rk
       | FROM documents d JOIN alloc a USING (source))
       |SELECT source, doc_id, n_chars, CAST(quota AS BIGINT) AS quota
       |FROM r WHERE rk <= quota
       |ORDER BY source, doc_id""".stripMargin
  }

  /** Curriculum phases for [[curriculum]]. */
  private val CurriculumPhases = 4L

  /** Sequence-length curriculum schedule — the "train on short sequences
    * first" ordering every large-model recipe with curriculum learning
    * uses: documents cut into [[CurriculumPhases]] exact quantile phases
    * by BPE-style token count (shortest quartile = phase 1), then given
    * a global training position that walks the phases in order with a
    * deterministic hash shuffle INSIDE each phase (in-phase order must
    * not correlate with length, or each phase is itself a ramp).
    *
    * Both global orderings run through [[graft.operators.Ranks]]'
    * two-level distributed prefix sum — two range shuffles and two
    * bounded per-partition-count collects, never an unpartitioned
    * window. Phase assignment is the engine-portable exact-quantile form
    * `⌈P·rk/n⌉ = (P·rk + n − 1) div n` on the fully tie-broken
    * (token count, doc_id) rank, so the cut is identical at any
    * partitioning and in the oracle's ROW_NUMBER replay.
    */
  def curriculum(t: Tables): DataFrame = {
    val toks = t.documents.select(
      col("doc_id"),
      size(expr("regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0)"))
        .cast("long").as("n_tokens"))
    val (ranked, n) = Ranks.withGlobalRank(toks, "rk",
      col("n_tokens"), col("doc_id"))
    val phased = ranked.withColumn("phase",
      expr(s"($CurriculumPhases * rk + ${n}L - 1L) div ${n}L")).drop("rk")
    val (positioned, _) = Ranks.withGlobalRank(phased, "position",
      col("phase"), unitHash(col("doc_id")), col("doc_id"))
    positioned
      .select(col("doc_id"), col("n_tokens"), col("phase"), col("position"))
      .orderBy("position")
  }

  val curriculumSql: String = {
    val u = unitHashSqlFmt.format("doc_id")
    s"""WITH tk AS (
       | SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))
       |    AS BIGINT) AS n_tokens
       | FROM documents),
       |rk AS (
       | SELECT doc_id, n_tokens,
       |  CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS rk,
       |  CAST(COUNT(*) OVER () AS BIGINT) AS n
       | FROM tk),
       |ph AS (
       | SELECT doc_id, n_tokens, (4 * rk + n - 1) // n AS phase FROM rk)
       |SELECT doc_id, n_tokens, phase,
       | CAST(ROW_NUMBER() OVER (ORDER BY phase, $u, doc_id) AS BIGINT)
       |   AS position
       |FROM ph ORDER BY position""".stripMargin
  }

  /** Negatives kept per user and the oversampling factor that absorbs
    * collisions with actual purchases ([[negativeSample]]).
    */
  private val NegK = 5
  private val NegOversample = 3

  /** Deterministic negative sampling — the training-pair generator
    * every two-tower / matrix-factorization recommender needs (positive
    * pairs come from purchases; negatives must be items the user did
    * NOT buy, sampled uniformly): per purchasing customer, candidate
    * part ids are drawn directly by hash arithmetic
    * (`⌊unitHash(user⊕i)·nParts⌋` for i = 1..k·oversample — k
    * candidates per user BY CONSTRUCTION, never a user×parts cross
    * join), validated against the part dim, anti-joined against the
    * user's actual purchases, deduped keeping the smallest draw index,
    * and cut to [[NegK]] per user in draw order. RNG-free, rerun-exact,
    * oracle-replayable; the part-count enters as a broadcast 1-row
    * aggregate.
    */
  def negativeSample(t: Tables): DataFrame = {
    val users = t.orders.select(col("o_custkey").as("user_id")).distinct()
    val np = t.part.agg((max(col("p_partkey")) + 1L).as("n_parts"))
    val cand = users.crossJoin(broadcast(np))
      .select(col("user_id"), col("n_parts"),
        explode(sequence(lit(1), lit(NegK * NegOversample))).as("draw"))
      .withColumn("cand_part",
        floor(unitHash(concat_ws("_", col("user_id"), col("draw")))
          * col("n_parts")).cast("long"))
    val purchased = t.orders
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("cand_part"))
      .distinct()
    val valid = cand
      .join(t.part.select(col("p_partkey").as("cand_part")), Seq("cand_part"))
      .join(purchased, Seq("user_id", "cand_part"), "left_anti")
      .groupBy("user_id", "cand_part").agg(min(col("draw")).as("draw"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("draw", "cand_part")
    valid.withColumn("rk", row_number().over(w))
      .where(col("rk") <= NegK)
      .select(col("user_id"), col("cand_part").as("neg_part"), col("draw"))
      .orderBy("user_id", "draw", "neg_part")
  }

  val negativeSampleSql: String = {
    val u = unitHashSqlFmt.format("(user_id || '_' || draw)")
    s"""WITH users AS (SELECT DISTINCT o_custkey AS user_id FROM orders),
       |np AS (SELECT MAX(p_partkey) + 1 AS n_parts FROM part),
       |cand AS (
       | SELECT user_id, draw,
       |  CAST(FLOOR($u * n_parts) AS BIGINT) AS cand_part
       | FROM users
       | CROSS JOIN (SELECT UNNEST(range(1, ${NegK * NegOversample + 1}))
       |   AS draw) d, np),
       |purchased AS (
       | SELECT DISTINCT o_custkey AS user_id, l_partkey AS cand_part
       | FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |valid AS (
       | SELECT user_id, cand_part, CAST(MIN(draw) AS INT) AS draw
       | FROM cand
       | JOIN part ON cand_part = p_partkey
       | ANTI JOIN purchased USING (user_id, cand_part)
       | GROUP BY 1, 2)
       |SELECT user_id, cand_part AS neg_part, draw FROM (
       | SELECT user_id, cand_part, draw,
       |  ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY draw, cand_part) AS rk
       | FROM valid)
       |WHERE rk <= $NegK
       |ORDER BY user_id, draw, neg_part""".stripMargin
  }

  /** Horvitz–Thompson weight scale: inclusion probability
    * p = min(1, n_chars / HtScale) — long documents are (near-)certain,
    * short ones enter with probability ∝ length.
    */
  private val HtScale = 600.0

  /** Horvitz–Thompson estimation audit: sample documents with
    * length-proportional inclusion probability (hash-decided, shuffle-
    * free, rerun-exact) and compare the HT estimator Σ nᵢ/pᵢ of total
    * characters per source against the TRUE total — the design-based
    * "is my weighted sample unbiased" check every sampled-pipeline
    * report needs. Per-source true totals are exact integer sums — and
    * so is the HT sum itself: with p = min(1, n/S) the term n/p is
    * ALGEBRAICALLY greatest(n, S) (see inline note), an exact long, so
    * the estimator accumulates as a plain integer sum with ONE final
    * double cast at the output seam. No decimal accumulator anywhere.
    * One scan, one groupBy on the source dim.
    */
  def horvitzThompson(t: Tables): DataFrame = {
    // p = min(1, n/S) makes the HT term n/p ALGEBRAICALLY greatest(n, S)
    // — computed that way it is an exact integer (S integral), so the
    // estimator is an exact long sum instead of a double accumulation
    // (the numeric n/(n/S) round-trip loses ulps that differ at the
    // decimal seam). Only the keep DECISION touches doubles, and that
    // double formula is identical in both engines.
    val scored = t.documents
      .withColumn("p_keep",
        least(lit(1.0), col("n_chars").cast("double") / lit(HtScale)))
      .withColumn("kept", (unitHash(col("doc_id")) < col("p_keep")).cast("long"))
      .withColumn("ht_term",
        col("kept") * greatest(col("n_chars"), lit(HtScale.toLong)))
    scored.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(col("n_chars")).as("true_chars"),
        sum(col("ht_term")).cast("double").as("ht_estimate"))
      .withColumn("rel_err",
        (col("ht_estimate") - col("true_chars").cast("double")) /
          col("true_chars").cast("double"))
      .orderBy("source")
  }

  val horvitzThompsonSql: String = {
    val u = unitHashSqlFmt.format("doc_id")
    s"""WITH scored AS (
       | SELECT source, n_chars,
       |  CASE WHEN $u < LEAST(1.0, CAST(n_chars AS DOUBLE) / $HtScale)
       |    THEN 1 ELSE 0 END AS kept
       | FROM documents)
       |SELECT source,
       | CAST(COUNT(*) AS BIGINT) AS n_docs,
       | CAST(SUM(kept) AS BIGINT) AS n_kept,
       | CAST(SUM(n_chars) AS BIGINT) AS true_chars,
       | CAST(SUM(kept * GREATEST(n_chars, ${HtScale.toLong})) AS DOUBLE)
       |   AS ht_estimate,
       | (CAST(SUM(kept * GREATEST(n_chars, ${HtScale.toLong})) AS DOUBLE)
       |   - CAST(SUM(n_chars) AS DOUBLE)) / CAST(SUM(n_chars) AS DOUBLE)
       |   AS rel_err
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Effective sample size of length-proportional importance weights,
    * per source: ESS = (Σw)²/Σw² with w = n_chars — "how many
    * equal-weight documents is this weighted sample worth", the
    * degeneracy audit run before trusting any weighted estimate
    * ([[horvitzThompson]]'s design-check companion; ESS/n ≪ 1 means a
    * few huge documents dominate the source). Both power sums are
    * exact DECIMAL(38,0) integers in one aggregation; the two
    * divisions convert through the hi/lo split and take the portable
    * 12-decimal rounding.
    */
  def sampleEss(t: Tables): DataFrame =
    t.documents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast(d38)).as("sw"),
        sum((col("n_chars") * col("n_chars")).cast(d38))
          .as("sw2"))
      .select(col("source"), col("n_docs"),
        col("sw").cast("long").as("sum_w"),
        ((decToDouble(col("sw")) * decToDouble(col("sw"))) /
          decToDouble(col("sw2")))
          .cast(DecimalType(24, 12)).cast("double").as("ess"),
        (((decToDouble(col("sw")) * decToDouble(col("sw"))) /
          decToDouble(col("sw2"))) / col("n_docs"))
          .cast(DecimalType(24, 12)).cast("double").as("ess_ratio"))
      .orderBy("source")

  val sampleEssSql: String = {
    val swD = decToDoubleSql("sw")
    val sw2D = decToDoubleSql("sw2")
    s"""WITH s AS (
       | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS HUGEINT) AS sw,
       |  CAST(SUM(n_chars * n_chars) AS HUGEINT) AS sw2
       | FROM documents GROUP BY 1)
       |SELECT source, n_docs, CAST(sw AS BIGINT) AS sum_w,
       | CAST(CAST(($swD * $swD) / $sw2D AS DECIMAL(24,12)) AS DOUBLE) AS ess,
       | CAST(CAST((($swD * $swD) / $sw2D) / n_docs AS DECIMAL(24,12))
       |   AS DOUBLE) AS ess_ratio
       |FROM s ORDER BY source""".stripMargin
  }

  /** Cap and divisor for the systematic-PPS sample size
    * m = min([[PpsMaxDraws]], ⌈n/[[PpsEveryN]]⌉) — corpus-derived up to a
    * bounded cap (the hillK / heapsLadder convention). */
  private val PpsMaxDraws = 500L
  private val PpsEveryN = 20L

  private[graft] def ppsDraws(n: Long): Long =
    math.min(PpsMaxDraws, math.ceil(n / PpsEveryN.toDouble).toLong)

  /** Systematic probability-proportional-to-size sampling (Madow's
    * method) of documents by character length — the classic
    * zero-randomness PPS design: lay m equally spaced points on the
    * cumulative-weight line (at the half-step offsets (2j−1)·T/(2m))
    * and keep every document whose weight interval contains a point. A
    * long document can catch several points (`hits` — its exact
    * multiplicity); every comparison is EXACT INTEGER arithmetic
    * (2m·cum vs (2j−1)·T, never a float grid), so the sample is
    * bit-reproducible on any engine. The cumulative weights come from
    * ONE distributed prefix scan in doc-id order
    * ([[Ranks.withGlobalPrefixAggs]] — no single-partition window, the
    * scale path a 100 TB systematic sampler needs); everything after is
    * row-local. The HT weight T/(m·w) is the design's inverse
    * inclusion intensity, 12-dec rounded.
    */
  def ppsSystematic(t: Tables): DataFrame = {
    val n = t.documents.count()
    val m = ppsDraws(n)
    val docs = t.documents.select(col("doc_id"),
      greatest(col("n_chars").cast("long"), lit(1L)).as("w"))
    val scanned = Ranks.withGlobalPrefixAggs(docs, Seq(col("doc_id")),
      Seq(("cum0", col("w"), "sum", false)))
    val tot = docs.agg(sum(col("w")).cast("long").as("tw"))
    scanned.crossJoin(broadcast(tot))
      .withColumn("a", lit(2L * m) * coalesce(col("cum0"), lit(0L)))
      .withColumn("b",
        lit(2L * m) * (coalesce(col("cum0"), lit(0L)) + col("w")))
      // j-th grid point (2j−1)·T lands in [a, b) ⇔ jmin ≤ j ≤ jmax,
      // with ceil-division folded into integer div (a, b, tw ≥ 0)
      .withColumn("jmin", expr("((a + tw - 1) div tw + 2) div 2"))
      .withColumn("jmax", expr("((b + tw - 1) div tw) div 2"))
      .withColumn("hits", greatest(lit(0L), col("jmax") - col("jmin") + 1))
      .where(col("hits") > 0)
      .select(col("doc_id"), col("w").as("w_chars"), col("hits"),
        lit(m).as("m_target"),
        (col("tw").cast("double") / (lit(m.toDouble) * col("w").cast("double")))
          .cast(DecimalType(24, 12)).cast("double").as("ht_weight"))
      .orderBy("doc_id")
  }

  /** Oracle: replays the identical min(cap, ⌈n/20⌉) draw rule and the
    * exact integer grid containment over a window cumulative sum.
    */
  val ppsSystematicSql: String =
    s"""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
       |mm AS (SELECT CAST(LEAST($PpsMaxDraws, CEIL(n / $PpsEveryN.0))
       |         AS BIGINT) AS m FROM nn),
       |docs AS (
       | SELECT doc_id, GREATEST(CAST(n_chars AS BIGINT), 1) AS w
       | FROM documents),
       |tt AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM docs),
       |cum AS (
       | SELECT doc_id, w,
       |  CAST(COALESCE(SUM(w) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS c0
       | FROM docs),
       |h AS (
       | SELECT doc_id, w, m, tw,
       |  2 * m * c0 AS a, 2 * m * (c0 + w) AS b
       | FROM cum CROSS JOIN mm CROSS JOIN tt),
       |j AS (
       | SELECT doc_id, w, m, tw,
       |  ((a + tw - 1) // tw + 2) // 2 AS jmin,
       |  ((b + tw - 1) // tw) // 2 AS jmax
       | FROM h)
       |SELECT doc_id, w AS w_chars,
       | GREATEST(0, jmax - jmin + 1) AS hits, m AS m_target,
       | CAST(CAST(CAST(tw AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(w AS DOUBLE))
       |   AS DECIMAL(24,12)) AS DOUBLE) AS ht_weight
       |FROM j WHERE jmax - jmin + 1 > 0 ORDER BY doc_id""".stripMargin

  /** Cumulative Poisson(1) CDF thresholds for replicate weights 0..7
    * (weight 8 beyond) — literal doubles so both engines compare the
    * identical constants. */
  private val PoissonCum = Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058, 0.9810118431238463, 0.9963401531726563, 0.9994058151824183, 0.999916758850712, 0.9999897508033253)

  /** Bootstrap replicates drawn per document. */
  private val BootReps = 8

  /** Poisson bootstrap of the per-source mean document length — the
    * shuffle-free, resample-free bootstrap a distributed pipeline can
    * actually run (Chamandy et al.: give every row an independent
    * Poisson(1) weight per replicate instead of materializing
    * resamples). Weights are DETERMINISTIC — the (doc_id, replicate)
    * hash drives the inverse Poisson CDF through literal thresholds —
    * so reruns and the oracle reproduce the exact sample. Each
    * replicate's weighted mean is one double division of exact
    * integer sums; the bootstrap SE folds over the replicate estimates
    * in replicate order (bounded), 12-dec. A replicate whose Poisson
    * weights all drew 0 (probability ~0.37^n_docs per stratum — only
    * plausible for tiny strata) is DROPPED rather than divided by
    * zero: both engines drop the identical replicates (weights are
    * deterministic) and the mean/SE divide by the surviving count.
    */
  def poissonBootstrap(t: Tables): DataFrame = {
    val reps = t.documents
      .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("w"))
      .withColumn("r", explode(array((0 until BootReps).map(i => lit(i.toLong)): _*)))
      .withColumn("u", unitHash(
        concat(col("doc_id").cast("string"), lit(":"), col("r").cast("string"))))
      .withColumn("pw", PoissonCum.zipWithIndex.foldRight(lit(BootReps.toLong)) {
        case ((thr, k), tail) => when(col("u") < thr, lit(k.toLong)).otherwise(tail)
      })
    val byRep = reps.groupBy("source", "r")
      .agg(sum(col("pw")).as("nw"),
        sum(col("pw") * col("w")).as("sw"))
      .where(col("nw") > 0) // all-zero-weight replicate: drop, don't 0/0
      .withColumn("est", col("sw").cast("double") / col("nw").cast("double"))
    val base = t.documents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars").cast(d38)).cast("double") /
          count(lit(1))).cast(DecimalType(24, 12)).cast("double")
          .as("mean_chars"))
    byRep.groupBy("source")
      .agg(sort_array(collect_list(struct(col("r"), col("est")))).as("arr"))
      .withColumn("eb", expr(
        "aggregate(slice(arr, 2, size(arr) - 1), arr[0].est," +
          " (a, x) -> a + x.est)") / size(col("arr")).cast("double"))
      .withColumn("ss", expr(
        "aggregate(arr, CAST(0.0 AS DOUBLE)," +
          " (a, x) -> a + (x.est - eb) * (x.est - eb))"))
      .join(base, Seq("source"))
      .select(col("source"), col("n_docs"), col("mean_chars"),
        col("eb").cast(DecimalType(24, 12)).cast("double").as("boot_mean"),
        when(size(col("arr")) > 1,
          sqrt(col("ss") / (size(col("arr")) - 1).cast("double")))
          .cast(DecimalType(24, 12)).cast("double").as("boot_se"))
      .orderBy("source")
  }

  val poissonBootstrapSql: String = {
    val u = unitHashSqlFmt.format(
      "(CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR))")
    val ladder = PoissonCum.zipWithIndex
      .map { case (thr, k) => s"WHEN $u < $thr THEN $k" }
      .mkString("CASE ", " ", s" ELSE $BootReps END")
    s"""WITH reps AS (
       | SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
       |  unnest(range(0, $BootReps)) AS r
       | FROM documents),
       |weighted AS (
       | SELECT source, r, w, CAST($ladder AS BIGINT) AS pw
       | FROM reps),
       |by_rep AS (
       | SELECT source, r,
       |  CAST(SUM(pw * w) AS DOUBLE) / CAST(SUM(pw) AS DOUBLE) AS est
       | FROM weighted GROUP BY 1, 2
       | HAVING SUM(pw) > 0),
       |folded AS (
       | SELECT source,
       |  list_reduce(list(est ORDER BY r), (a, x) -> a + x)
       |    / CAST(COUNT(*) AS DOUBLE) AS eb,
       |  list(est ORDER BY r) AS l
       | FROM by_rep GROUP BY 1),
       |ss AS (
       | SELECT source, eb, len(l) AS nr,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(l, x -> (x - eb) * (x - eb))),
       |    (a, x) -> a + x) AS ss
       | FROM folded),
       |base AS (
       | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(CAST(CAST(SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE) / COUNT(*)
       |    AS DECIMAL(24,12)) AS DOUBLE) AS mean_chars
       | FROM documents GROUP BY 1)
       |SELECT base.source, n_docs, mean_chars,
       | CAST(CAST(eb AS DECIMAL(24,12)) AS DOUBLE) AS boot_mean,
       | CAST(CAST(CASE WHEN nr > 1 THEN sqrt(ss / (nr - 1)) END
       |   AS DECIMAL(24,12)) AS DOUBLE) AS boot_se
       |FROM base JOIN ss ON ss.source = base.source
       |ORDER BY base.source""".stripMargin
  }
}
