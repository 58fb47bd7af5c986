package graft.operators

import graft.Tables
import graft.functions.WordNGrams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingestion and tokenization: benchmark decontamination, repetition
  * filtering (the Gopher-style quality gates), and quality-weighted
  * sampling. All deterministic — reruns reproduce the exact corpus.
  */
object Curation {

  private[graft] val ContamN = 5
  // declared BEFORE the eager *Sql vals that splice them into oracle
  // strings — a later declaration would interpolate the pre-init 0
  private[graft] val DomainCap     = 5
  private[graft] val PplHoldoutMod = 7
  private[graft] val PplGatePct    = 25L // drop the bottom quartile

  /** Benchmark decontamination: flag training documents sharing any
    * word-5-gram with a held-out benchmark set (here the deterministic
    * stand-in `doc_id % 97 = 0` — in production, the eval suites).
    * This is the n-gram-overlap decontamination step every LLM data
    * pipeline runs so eval prompts don't leak into training data.
    *
    * Spark shape: both sides explode to distinct (doc, gram-hash) rows;
    * contamination is ONE equi-join on the 64-bit gram hash (benchmark
    * side is tiny → broadcast) + one aggregation. Never pairwise over
    * the corpus; linear in total grams at 100 TB.
    */
  def decontaminate(t: Tables): DataFrame = {
    val g = t.documents
      .select(col("doc_id"), explode(array_distinct(WordNGrams(col("text"), ContamN))).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("h"))
    val bench = g.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("bench_id"), col("h"))
    g.where(pmod(col("doc_id"), lit(97)) =!= 0)
      .join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).as("n_bench_matches"))
      .orderBy("doc_id")
  }

  /** DuckDB word-5-gram list (distinct), mirroring [[WordNGrams]]. */
  /** Visible twin for cross-object composition (ngramNovelty). */
  private[operators] def grams5SqlShared(c: String): String = grams5Sql(c)

  private def grams5Sql(c: String): String = {
    val w = s"string_split($c, ' ')"
    val concat = (0 until ContamN).map(i => s"$w[i+$i]").mkString(" || ' ' || ")
    s"""CASE WHEN len($w) >= $ContamN THEN
       |  list_distinct(list_transform(range(1, len($w) - ${ContamN - 2}), i -> $concat))
       |ELSE [] END""".stripMargin
  }

  val decontaminateSql: String =
    s"""WITH g AS (
       | SELECT doc_id, ${grams5Sql("text")} AS grams FROM documents),
       |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
       |b AS (SELECT doc_id AS bench_id, gram FROM e WHERE doc_id % 97 = 0)
       |SELECT e.doc_id, COUNT(DISTINCT b.bench_id) AS n_bench_matches
       |FROM e JOIN b USING (gram)
       |WHERE e.doc_id % 97 <> 0
       |GROUP BY e.doc_id
       |ORDER BY e.doc_id""".stripMargin

  private val TopWordMax = 0.25
  private val Dup2GramMax = 0.10

  /** Repetition quality gate (Gopher-style): per document, the fraction
    * of tokens taken by the single most frequent word and the fraction of
    * duplicate word-2-grams; docs above either threshold are filtered.
    * Both ratios are small-integer divisions, so every engine computes
    * the identical double and the keep decision is portable.
    *
    * Spark shape: the 2-gram ratio is row-local (one narrow map via the
    * native [[WordNGrams]]); the top-word ratio is explode → one
    * (doc, word) aggregation → one doc aggregation, all partitioned by
    * doc_id — linear, no corpus-wide state.
    */
  def repetitionFilter(t: Tables): DataFrame = {
    val wordCounts = t.documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg((max(col("n")).cast("double") / sum(col("n"))).as("top_word_frac"))
    val dup2g = t.documents.select(
      col("doc_id"),
      when(size(WordNGrams(col("text"), 2)) > 0,
        lit(1.0) - size(array_distinct(WordNGrams(col("text"), 2))).cast("double") /
          size(WordNGrams(col("text"), 2)))
        .otherwise(lit(0.0)).as("dup_2gram_frac"))
    wordCounts.join(dup2g, Seq("doc_id"))
      .withColumn("keep",
        col("top_word_frac") <= TopWordMax && col("dup_2gram_frac") <= Dup2GramMax)
      .orderBy("doc_id")
  }

  val repetitionFilterSql: String =
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |c AS (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY doc_id, word),
       |topw AS (
       | SELECT doc_id, CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_word_frac
       | FROM c GROUP BY doc_id),
       |g2 AS (
       | SELECT doc_id,
       |  CASE WHEN len(string_split(text, ' ')) >= 2 THEN
       |   list_transform(range(1, len(string_split(text, ' '))),
       |     i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
       |  ELSE [] END AS gs
       | FROM documents),
       |d2 AS (
       | SELECT doc_id,
       |  CASE WHEN len(gs) > 0
       |   THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
       |   ELSE 0.0 END AS dup_2gram_frac
       | FROM g2)
       |SELECT topw.doc_id, top_word_frac, dup_2gram_frac,
       | top_word_frac <= $TopWordMax AND dup_2gram_frac <= $Dup2GramMax AS keep
       |FROM topw JOIN d2 ON topw.doc_id = d2.doc_id
       |ORDER BY topw.doc_id""".stripMargin

  private val WeightScale = 600.0

  /** Quality-weighted sampling: keep probability proportional to a
    * per-row weight (here document length, capped at 1), decided by the
    * portable doc_id hash — longer/higher-quality docs survive more
    * often, short ones are thinned. Row-local filter: no shuffle, no
    * RNG, rerun-exact at any scale.
    */
  def weightedSample(t: Tables): DataFrame =
    t.documents
      .withColumn("p_keep", least(lit(1.0), col("n_chars") / lit(WeightScale)))
      .where(Sampling.unitHash(col("doc_id")) < col("p_keep"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("p_keep"))
      .orderBy("doc_id")

  val weightedSampleSql: String = {
    val u = Sampling.unitHashSqlFmt.format("doc_id")
    s"""SELECT doc_id, source, n_chars,
       | LEAST(1.0, n_chars / $WeightScale) AS p_keep
       |FROM documents
       |WHERE $u < LEAST(1.0, n_chars / $WeightScale)
       |ORDER BY doc_id""".stripMargin
  }

  /** Target corpus budget for [[domainMix]], as a fraction of the input. */
  private val MixBudget = 0.5
  /** Target domain weights over the 20 sources (sum to 1): half the
    * budget on src0–4, 30% on src5–9, the tail split over src10–19.
    */
  private[graft] val MixWeights: Seq[(String, Double)] =
    (0 to 4).map(i => s"src$i" -> 0.10) ++
      (5 to 9).map(i => s"src$i" -> 0.06) ++
      (10 to 19).map(i => s"src$i" -> 0.02)

  /** Domain-mixture rebalancing — the "mix web/code/books to target
    * proportions" step of training-data curation: given per-domain target
    * weights and a total budget, each domain keeps
    * `min(1, budget·w_domain / n_domain)` of its documents, decided
    * row-locally by the portable doc_id hash. The per-domain counts are
    * one tiny aggregation broadcast back; the keep decision is then a
    * shuffle-free filter — rerun-exact, any scale. Domains smaller than
    * their target keep everything (the fraction caps at 1).
    */
  def domainMix(t: Tables): DataFrame = {
    val w = MixWeights.tail.foldLeft(
      when(col("source") === MixWeights.head._1, MixWeights.head._2)) {
      case (acc, (s, f)) => acc.when(col("source") === s, f)
    }.otherwise(0.0)
    val perDomain = t.documents.groupBy("source")
      .agg(count(lit(1)).cast("long").as("ns"))
    val total = perDomain.agg(sum(col("ns")).cast("long").as("total"))
    val fracs = perDomain.crossJoin(broadcast(total))
      .select(col("source"),
        least(lit(1.0),
          lit(MixBudget) * col("total").cast("double") * w /
            col("ns").cast("double")).as("keep_frac"))
    t.documents
      .join(broadcast(fracs), Seq("source"))
      .where(Sampling.unitHash(col("doc_id")) < col("keep_frac"))
      .select(col("doc_id"), col("source"), col("keep_frac"))
      .orderBy("doc_id")
  }

  val domainMixSql: String = {
    val u = Sampling.unitHashSqlFmt.format("doc_id")
    val wCase = MixWeights.map { case (s, f) =>
      s"WHEN source = '$s' THEN $f"
    }.mkString("CASE ", " ", " ELSE 0.0 END")
    s"""WITH n AS (
       | SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM documents GROUP BY source),
       |tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS total FROM n),
       |f AS (
       | SELECT source,
       |  LEAST(1.0, $MixBudget * CAST((SELECT total FROM tot) AS DOUBLE)
       |    * ($wCase) / CAST(ns AS DOUBLE)) AS keep_frac
       | FROM n)
       |SELECT d.doc_id, d.source, f.keep_frac
       |FROM documents d JOIN f USING (source)
       |WHERE $u < f.keep_frac
       |ORDER BY d.doc_id""".stripMargin
  }

  /** End-to-end curation decision — the composed daily pipeline in one
    * operator: a document ships iff it passes the Gopher rule gate
    * ([[TextAnalysis2.gopherColumns]]) AND it is its near-dup cluster's
    * best representative ([[Dedup.keepBest]]). One row per doc with
    * each stage's verdict, so the pipeline's yield is auditable per
    * stage. Both stages are the already-green operators run unchanged;
    * the oracle composes their CTEs the same way — the COMPOSITION is
    * what this query verifies.
    */
  def curateCorpus(t: Tables): DataFrame = {
    val quality = TextAnalysis2.gopherColumns(t.documents)
      .select(col("doc_id"), col("n_words"), col("keep").as("keep_quality"))
    val kb = Dedup.keepBestShared(t)
      .select(col("doc_id"), col("cluster_id"), col("keep_best").as("keep_dedup"))
    // r11: the URL/domain front door joins the gate chain — blocklisted
    // or over-cap domains drop here just like quality/dedup failures
    val dom = domainFilterShared(t)
      .select(col("doc_id"), col("keep").as("keep_domain"))
    quality.join(kb, Seq("doc_id"))
      .join(dom, Seq("doc_id"))
      .withColumn("kept",
        col("keep_quality") && col("keep_dedup") && col("keep_domain"))
      .select("doc_id", "cluster_id", "n_words", "keep_quality", "keep_dedup",
        "keep_domain", "kept")
      .orderBy("doc_id")
  }

  val curateCorpusSql: String =
    s"""${graft.operators.Dedup.clustersCte},
       |kb AS (
       | SELECT l3.id AS doc_id, l3.lbl AS cluster_id,
       |  ${graft.operators.Dedup.keepBestRankSql} AS keep_dedup
       | FROM l3 JOIN documents d ON l3.id = d.doc_id),
       |q AS (
       | SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       |  ${TextAnalysis2.gopherKeepRawSql} AS keep_quality
       | FROM documents),
       |$domainFilterCtes
       |SELECT q.doc_id, kb.cluster_id, q.n_words, q.keep_quality, kb.keep_dedup,
       | dom.keep AS keep_domain,
       | q.keep_quality AND kb.keep_dedup AND dom.keep AS kept
       |FROM q JOIN kb USING (doc_id) JOIN dom ON dom.doc_id = q.doc_id
       |ORDER BY q.doc_id""".stripMargin

  /** [[temperatureSample]] keeps `TempBudgetNum/TempBudgetDen` of the
    * corpus, reallocated across sources by the T=2 temperature rule.
    */
  private[graft] val TempBudgetNum = 1L
  private[graft] val TempBudgetDen = 2L
  /** Hash-space denominator for the integer keep threshold (1e6 ≪ 2^60,
    * so the `< thr/Scale` comparison never sits on a hash boundary).
    */
  private[graft] val TempScale = 1000000L

  /** Temperature-scaled source mixing (T = 2) — the multilingual /
    * multi-domain rebalancing rule of large-scale LM data work (e.g.
    * mC4's exponent-smoothed language sampling): a source's share of the
    * output budget is proportional to `count^(1/T)` = √count instead of
    * its raw count, flattening head domains and boosting the tail
    * WITHOUT a hand-written per-domain weight table (contrast
    * [[domainMix]], where the mix is an explicit prior).
    *
    * Portability/scale: weights are INTEGER floor-square-roots
    * (`floor(sqrt(bigint))` is exact in IEEE double far past any
    * realistic domain count, and both engines agree bit-for-bit), and
    * the per-source keep threshold `floor(B·w_s·Scale / (W·c_s))` is
    * evaluated as the identical left-associated IEEE double op sequence
    * in both engines — double, NOT int64, deliberately: at 100 TB the
    * int64 product B·w·Scale overflows around 10^13-row corpora, while
    * double carries the magnitude and IEEE determinism makes the floor
    * bit-identical. The keep decision compares the portable 60-bit
    * doc_id hash against the threshold row-locally — per-source counts
    * are one tiny aggregate broadcast back over the scan, then a
    * shuffle-free filter. Rerun-exact at any scale; no RNG, no `pow`,
    * no `ln`.
    */
  def temperatureSample(t: Tables): DataFrame = {
    val perSource = t.documents.groupBy("source")
      .agg(count(lit(1)).cast("long").as("ns"))
      .withColumn("w", floor(sqrt(col("ns").cast("double"))).cast("long"))
    val totals = perSource.agg(
      sum(col("ns")).cast("long").as("total"),
      sum(col("w")).cast("long").as("wsum"))
    // thr in millionths of the hash space; capped at Scale so
    // under-budget sources keep everything
    val budget = floor(col("total").cast("double") *
      lit(TempBudgetNum.toDouble / TempBudgetDen))
    val thr = perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("ns"), col("w"),
        least(lit(TempScale.toDouble),
          floor(budget * col("w").cast("double") * lit(TempScale.toDouble) /
            (col("wsum").cast("double") * col("ns").cast("double")))).as("thr"))
    t.documents
      .join(broadcast(thr), Seq("source"))
      .where(Sampling.unitHash(col("doc_id")) * TempScale < col("thr"))
      .select(col("doc_id"), col("source"), col("thr"))
      .orderBy("doc_id")
  }

  val temperatureSampleSql: String = {
    val u = Sampling.unitHashSqlFmt.format("d.doc_id")
    val ratio = TempBudgetNum.toDouble / TempBudgetDen
    s"""WITH n AS (
       | SELECT source, CAST(COUNT(*) AS BIGINT) AS ns,
       |  CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
       | FROM documents GROUP BY source),
       |tot AS (
       | SELECT CAST(SUM(ns) AS BIGINT) AS total, CAST(SUM(w) AS BIGINT) AS wsum
       | FROM n),
       |f AS (
       | SELECT source, LEAST(CAST($TempScale AS DOUBLE),
       |   FLOOR(FLOOR(CAST(total AS DOUBLE) * $ratio)
       |     * CAST(w AS DOUBLE) * CAST($TempScale AS DOUBLE)
       |     / (CAST(wsum AS DOUBLE) * CAST(ns AS DOUBLE)))) AS thr
       | FROM n, tot)
       |SELECT d.doc_id, d.source, f.thr
       |FROM documents d JOIN f USING (source)
       |WHERE $u * $TempScale < f.thr
       |ORDER BY d.doc_id""".stripMargin
  }

  private val PretrainCapacity = 2048 // tokens per packed training sequence
  private val PretrainBucket   = 64   // docs per cumsum bucket (prefix-sum level)

  /** The END-TO-END pretraining data pipeline in one auditable relation
    * — the composition a corpus actually ships through before training:
    * Gopher quality gate → near-dup keep-best → benchmark
    * decontamination (5-gram overlap AND the benchmark docs themselves
    * excluded) → WordPiece tokenization → greedy sequence packing of
    * the SURVIVING docs into [[PretrainCapacity]]-token bins. One row
    * per document with every stage's verdict plus its packed bin (NULL
    * when dropped), so each stage's yield is auditable from the single
    * output.
    *
    * Every stage is an already-green operator run unchanged
    * ([[TextAnalysis2.gopherColumns]], [[Dedup.keepBest]],
    * [[decontaminate]], [[TextAnalysis3.wordpiece]]); the packing is
    * the two-level distributed prefix sum of
    * [[TextAnalysis.packSequences]] applied to the kept set. The
    * COMPOSITION — flag alignment, bench-doc exclusion, tokens-joined
    * packing — is what this query verifies; the oracle composes the
    * same stages' CTEs.
    */
  def pretrainPipeline(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qg = TextAnalysis2.gopherColumns(t.documents)
      .select(col("doc_id"), col("keep").as("keep_quality"))
    val kb = Dedup.keepBestShared(t)
      .select(col("doc_id"), col("keep_best").as("keep_dedup"))
    val flagged = decontaminate(t)
      .select(col("doc_id"), lit(true).as("dc_flag"))
    val wp = TextAnalysis3.wordpieceShared(t)
      .select(col("doc_id"), col("n_wp_tokens"))
    // r11: the perplexity gate joins the chain — docs the reference LM
    // finds out-of-distribution drop before tokenization/packing.
    // Unscored docs (the LM holdout slice itself, and docs with no
    // bigrams) pass by default: the gate only judges what it scored.
    val ppl = perplexityGateShared(t)
      .select(col("doc_id"), col("keep").as("ppl_keep"))
    val base = t.documents.select(col("doc_id"))
      .join(qg, Seq("doc_id"))
      .join(kb, Seq("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .join(wp, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
      .withColumn("keep_clean",
        pmod(col("doc_id"), lit(97)) =!= 0 && col("dc_flag").isNull)
      .withColumn("keep_ppl", coalesce(col("ppl_keep"), lit(true)))
      .withColumn("n_wp_tokens", coalesce(col("n_wp_tokens"), lit(0L)))
      .withColumn("kept",
        col("keep_quality") && col("keep_dedup") && col("keep_clean") &&
          col("keep_ppl"))
    val keptDocs = base.where(col("kept"))
      .select(col("doc_id"), col("n_wp_tokens"),
        expr(s"doc_id div $PretrainBucket").as("bucket"))
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = keptDocs
      .withColumn("local_cum", sum(col("n_wp_tokens")).over(wIn))
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keptDocs.groupBy("bucket")
      .agg(sum(col("n_wp_tokens")).as("bt"))
      .withColumn("bo", coalesce(sum(col("bt")).over(wB), lit(0L)))
      .select("bucket", "bo")
    val bins = local.join(broadcast(offsets), Seq("bucket"))
      .select(col("doc_id"),
        expr(s"(bo + local_cum - n_wp_tokens) div $PretrainCapacity").as("bin"))
    base.join(bins, Seq("doc_id"), "left")
      .select(col("doc_id"), col("keep_quality"), col("keep_dedup"),
        col("keep_clean"), col("keep_ppl"), col("kept"), col("n_wp_tokens"),
        col("bin"))
      .orderBy("doc_id")
  }

  /** Oracle: the stages' own CTE fragments composed in one WITH
    * (decontamination renamed dc* — its g/e names collide with the
    * cluster chain's), the pack replayed as the flat cumulative sum the
    * two-level form provably equals.
    */
  val pretrainPipelineSql: String =
    s"""${graft.operators.Dedup.clustersCte},
       |kb AS (
       | SELECT l3.id AS doc_id,
       |  ${graft.operators.Dedup.keepBestRankSql} AS keep_dedup
       | FROM l3 JOIN documents d ON l3.id = d.doc_id),
       |qg AS (
       | SELECT doc_id, ${TextAnalysis2.gopherKeepRawSql} AS keep_quality
       | FROM documents),
       |dcg AS (SELECT doc_id, ${grams5Sql("text")} AS grams FROM documents),
       |dce AS (SELECT doc_id, unnest(grams) AS gram FROM dcg),
       |dcb AS (SELECT gram FROM dce WHERE doc_id % 97 = 0),
       |dcf AS (
       | SELECT DISTINCT e2.doc_id FROM dce e2 JOIN dcb USING (gram)
       | WHERE e2.doc_id % 97 <> 0),
       |${TextAnalysis3.wordpieceCtesSql},
       |$perplexityGateCtes,
       |pb AS (
       | SELECT d0.doc_id, qg.keep_quality, kb.keep_dedup,
       |  (d0.doc_id % 97 <> 0
       |    AND d0.doc_id NOT IN (SELECT doc_id FROM dcf)) AS keep_clean,
       |  COALESCE(pplg.keep, TRUE) AS keep_ppl,
       |  COALESCE(wtok.n_wp_tokens, 0) AS n_wp_tokens
       | FROM documents d0
       | JOIN qg USING (doc_id)
       | JOIN kb USING (doc_id)
       | LEFT JOIN wtok USING (doc_id)
       | LEFT JOIN pplg USING (doc_id)),
       |pk AS (
       | SELECT doc_id,
       |  COALESCE(SUM(n_wp_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS so
       | FROM pb WHERE keep_quality AND keep_dedup AND keep_clean AND keep_ppl)
       |SELECT pb.doc_id, pb.keep_quality, pb.keep_dedup, pb.keep_clean,
       | pb.keep_ppl,
       | pb.keep_quality AND pb.keep_dedup AND pb.keep_clean AND pb.keep_ppl AS kept,
       | pb.n_wp_tokens,
       | CAST(pk.so // $PretrainCapacity AS BIGINT) AS bin
       |FROM pb LEFT JOIN pk ON pb.doc_id = pk.doc_id
       |ORDER BY pb.doc_id""".stripMargin

  /** URL/domain-level curation — the Common-Crawl front door: extract
    * the registrable domain from each document's crawl URL (here a
    * deterministic synthetic URL with real parsing hazards — scheme
    * http/https, optional `www.`, optional `:8080` port, path, optional
    * query string — since the test corpus carries no URL column; the
    * oracle rebuilds the identical string), then gate on a domain
    * BLOCKLIST (the `.net` TLD plus one literal bad domain) and cap each
    * surviving domain's contribution at [[DomainCap]] docs chosen by the
    * portable hash order (the [[Sampling.perKeyCap]] convention) so no
    * single domain dominates the corpus.
    *
    * Spark shape: URL build + regex domain extraction are row-local; the
    * blocklist is a literal predicate (production: a broadcast join
    * against the blocklist table); the cap is ONE window pass
    * partitioned by (domain, blocked) — key-partitioned shuffle, linear
    * at 100 TB, no global state.
    */
  def domainFilter(t: Tables): DataFrame =
    domainFilterShared(t).orderBy("doc_id")

  /** Session-shared domain-gate frame (doc_id, url, domain, blocked,
    * keep), localCheckpoint-pinned per (session, dir) — three consumers
    * ([[domainFilter]], [[curateCorpus]], [[ragPipeline]]) reuse one
    * computation (the [[graft.SessionMemo]] convention).
    */
  private val domainMemo = new graft.SessionMemo[DataFrame]

  private[graft] def domainFilterShared(t: Tables): DataFrame =
    domainMemo.getOrCompute(t.spark, t.dir) {
      val url = Dedup.syntheticUrl(col("doc_id"))
      // domain comes from PARSING the url (scheme/www/port/path stripped),
      // not from the build ingredients — that's the operator under test
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("domain", "blocked")
        .orderBy(Sampling.unitHash(col("doc_id")), col("doc_id"))
      t.documents
        .select(col("doc_id"), url.as("url"))
        .withColumn("domain",
          regexp_extract(col("url"), "^[a-z]+://(?:www\\.)?([^/:?]+)", 1))
        .withColumn("blocked",
          col("domain").endsWith(".net") || col("domain") === "src0.com")
        .withColumn("rk", row_number().over(w))
        .withColumn("keep", !col("blocked") && col("rk") <= DomainCap)
        .select("doc_id", "url", "domain", "blocked", "keep")
        .localCheckpoint(true)
    }

  /** The shared (doc_id, url, domain, blocked, keep) CTE chain ending in
    * `dom` — used by [[domainFilterSql]] and the curate composition.
    */
  private[graft] lazy val domainFilterCtes: String = {
    val u = Sampling.unitHashSqlFmt.format("doc_id")
    s"""du AS (
       | SELECT doc_id,
       |  ${Dedup.syntheticUrlSql("doc_id")} AS url
       | FROM documents),
       |dd AS (
       | SELECT doc_id, url,
       |  regexp_extract(url, '^[a-z]+://(?:www\\.)?([^/:?]+)', 1) AS domain
       | FROM du),
       |db AS (
       | SELECT doc_id, url, domain,
       |  (domain LIKE '%.net' OR domain = 'src0.com') AS blocked,
       |  ROW_NUMBER() OVER (PARTITION BY domain, blocked
       |                     ORDER BY $u, doc_id) AS rk
       | FROM dd),
       |dom AS (
       | SELECT doc_id, url, domain, blocked,
       |  (NOT blocked AND rk <= $DomainCap) AS keep
       | FROM db)""".stripMargin
  }

  val domainFilterSql: String =
    s"""WITH $domainFilterCtes
       |SELECT doc_id, url, domain, blocked, keep
       |FROM dom ORDER BY doc_id""".stripMargin

  /** Perplexity-style LM quality gate — the CCNet/KenLM move every
    * public pretrain recipe ships: train a bigram LM on a HELD-OUT
    * clean reference corpus (here the deterministic `doc_id %
    * [[PplHoldoutMod]] = 0` slice — in production, curated wiki-grade
    * text), score every other document's mean bigram familiarity in the
    * scaled-integer ln-free form ([[TextRank.lmScore]] convention:
    * each bigram contributes `count(w1,w2)·10⁶ div count(w1)` under the
    * REFERENCE counts, unseen bigrams contribute 0), and gate at a
    * percentile: the bottom [[PplGatePct]]% of scores — the
    * out-of-distribution tail a perplexity filter drops — fail the
    * gate.
    *
    * The percentile threshold is computed EXACTLY and portably without
    * a global sort of the corpus: scores are integers in [0, 10⁶], so
    * a (score → count) histogram (bounded domain, ≤10⁶+1 rows at ANY
    * corpus size), one cumulative window over that bounded histogram,
    * and `thr = max score with cum ≤ ⌊n·pct/100⌋` give the same cut in
    * both engines; `keep = score > thr` (ties survive, deterministic).
    * Shape at scale: two count aggregations over the holdout slice, two
    * equi-joins on gram keys, one bounded-domain window, one broadcast
    * threshold — linear, no pair space, no driver state.
    */
  /** The trained reference-LM artifacts + percentile threshold the
    * STREAMING gate consumes ([[graft.streaming.Streams.perplexityGateStream]]):
    * hashed unigram/bigram count frames (built offline on the holdout
    * slice, shipped like any dimension table) and the batch gate's own
    * threshold scalar. The threshold collect is ONE row.
    */
  private[graft] def pplModel(t: Tables): (DataFrame, DataFrame, Long) = {
    val docs = t.documents.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val hold = docs.where(pmod(col("doc_id"), lit(PplHoldoutMod)) === 0)
    val uni = hold.select(explode(col("ws")).as("w1"))
      .select(xxhash64(col("w1")).as("h1"))
      .groupBy("h1").agg(count(lit(1)).as("uc"))
    val bc = hold
      .select(explode(
        when(size(col("ws")) >= 2,
          expr("transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))"))
          .otherwise(expr("array()"))).as("b"))
      .select(xxhash64(col("b.w1"), col("b.w2")).as("h12"))
      .groupBy("h12").agg(count(lit(1)).as("bc"))
    val thr = perplexityGateShared(t)
      .where(!col("keep")).agg(coalesce(max(col("ppl_score")), lit(-1L)))
      .head().getLong(0)
    (uni, bc, thr)
  }

  def perplexityGate(t: Tables): DataFrame =
    perplexityGateShared(t).orderBy("doc_id")

  /** Session-shared perplexity-gate verdict frame (doc_id, n_bigrams,
    * ppl_score, keep), localCheckpoint-pinned per (session, dir) — the
    * LM trains and scores once; [[perplexityGate]], [[pplModel]]'s
    * threshold read, and [[pretrainPipeline]] all reuse it.
    */
  private val pplGateMemo = new graft.SessionMemo[DataFrame]

  private[graft] def perplexityGateShared(t: Tables): DataFrame =
    pplGateMemo.getOrCompute(t.spark, t.dir)(computePerplexityGate(t))

  private def computePerplexityGate(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val hold = docs.where(pmod(col("doc_id"), lit(PplHoldoutMod)) === 0)
    // every count key is hashed to a 64-bit long BEFORE its shuffle —
    // the dedup-front-end convention (8-byte keys instead of word
    // strings through the df-count and score joins); a collision only
    // merges two count cells, which the 64-bit space makes negligible,
    // and the SQL oracle's string keys count identically
    val uni = hold.select(explode(col("ws")).as("w1"))
      .select(xxhash64(col("w1")).as("h1"))
      .groupBy("h1").agg(count(lit(1)).as("uc"))
    def bigrams(d: DataFrame): DataFrame = d
      .select(col("doc_id"), explode(
        when(size(col("ws")) >= 2,
          expr("transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))"))
          .otherwise(expr("array()"))).as("b"))
      .select(col("doc_id"), xxhash64(col("b.w1")).as("h1"),
        xxhash64(col("b.w1"), col("b.w2")).as("h12"))
    val bc = bigrams(hold).groupBy("h12").agg(count(lit(1)).as("bc"))
    // per-doc (h12, dc) pre-aggregation before the count joins — the
    // lmScore skew guard: join load is bounded by docs-per-bigram
    val bgc = bigrams(docs.where(pmod(col("doc_id"), lit(PplHoldoutMod)) =!= 0))
      .groupBy("doc_id", "h1", "h12").agg(count(lit(1)).as("dc"))
    val scored = bgc
      .join(bc, Seq("h12"), "left")
      .join(uni, Seq("h1"), "left")
      .groupBy("doc_id")
      .agg(sum(col("dc")).as("n_bigrams"),
        sum(expr("dc * coalesce((bc * 1000000L) div uc, 0L)")).as("fam_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("fam_sum div n_bigrams").cast("long").as("ppl_score"))
    val hist = scored.groupBy("ppl_score").agg(count(lit(1)).as("c"))
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy("ppl_score")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val thr = hist
      .withColumn("cum", sum(col("c")).over(wc))
      .crossJoin(broadcast(hist.agg(sum(col("c")).as("n"))))
      .where(col("cum") <= expr(s"(n * $PplGatePct) div 100"))
      .agg(coalesce(max(col("ppl_score")), lit(-1L)).as("thr"))
    scored.crossJoin(broadcast(thr))
      .withColumn("keep", col("ppl_score") > col("thr"))
      .select("doc_id", "n_bigrams", "ppl_score", "keep")
      .localCheckpoint(true)
  }

  /** The shared perplexity-gate CTE chain ending in `pplg(doc_id,
    * n_bigrams, ppl_score, keep)` — used by [[perplexityGateSql]] and
    * the pretrain composition. CTE names are ppl-prefixed to compose
    * without collisions.
    */
  private[graft] lazy val perplexityGateCtes: String =
    s"""ppld AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |pplbg AS (
       | SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
       | FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM ppld)),
       |ppluc AS (
       | SELECT w1, COUNT(*) AS uc
       | FROM (SELECT unnest(ws) AS w1 FROM ppld WHERE doc_id % $PplHoldoutMod = 0)
       | GROUP BY w1),
       |pplbc AS (
       | SELECT w1, w2, COUNT(*) AS bc FROM pplbg
       | WHERE doc_id % $PplHoldoutMod = 0 GROUP BY w1, w2),
       |ppls AS (
       | SELECT g.doc_id, COUNT(*) AS n_bigrams,
       |  CAST(SUM(COALESCE((c.bc * 1000000) // u.uc, 0)) // COUNT(*) AS BIGINT) AS ppl_score
       | FROM pplbg g
       | LEFT JOIN pplbc c USING (w1, w2)
       | LEFT JOIN ppluc u USING (w1)
       | WHERE g.doc_id % $PplHoldoutMod <> 0
       | GROUP BY g.doc_id),
       |pplh AS (
       | SELECT ppl_score, COUNT(*) AS c FROM ppls GROUP BY ppl_score),
       |pplt AS (
       | SELECT COALESCE(MAX(ppl_score), -1) AS thr FROM (
       |  SELECT ppl_score,
       |   SUM(c) OVER (ORDER BY ppl_score
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |   (SELECT SUM(c) FROM pplh) AS n
       |  FROM pplh)
       | WHERE cum <= (n * $PplGatePct) // 100),
       |pplg AS (
       | SELECT s.doc_id, s.n_bigrams, s.ppl_score, s.ppl_score > t.thr AS keep
       | FROM ppls s CROSS JOIN pplt t)""".stripMargin

  val perplexityGateSql: String =
    s"""WITH $perplexityGateCtes
       |SELECT doc_id, n_bigrams, ppl_score, keep
       |FROM pplg ORDER BY doc_id""".stripMargin

  /** Per-benchmark contamination report — the REVERSE direction of
    * [[decontaminate]]: for each held-out benchmark document, how many
    * training documents share a word-5-gram with it and how many of its
    * grams leak. This is the eval-integrity view ("which benchmark items
    * are compromised, and how badly") that decides whether an eval split
    * stays usable; decontaminate answers the training-side question.
    * Same hashed-gram broadcast equi-join shape — linear in total grams.
    */
  def contaminationReport(t: Tables): DataFrame = {
    val g = t.documents
      .select(col("doc_id"),
        explode(array_distinct(WordNGrams(col("text"), ContamN))).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("h"))
    val bench = g.where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("bench_id"), col("h"))
    bench
      .join(g.where(pmod(col("doc_id"), lit(97)) =!= 0)
        .select(col("doc_id").as("train_id"), col("h")), Seq("h"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("train_id")).as("n_contaminating_docs"),
        countDistinct(col("h")).as("n_leaked_grams"))
      .orderBy("bench_id")
  }

  val contaminationReportSql: String =
    s"""WITH g AS (
       | SELECT doc_id, ${grams5Sql("text")} AS grams FROM documents),
       |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
       |b AS (SELECT doc_id AS bench_id, gram FROM e WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id AS train_id, gram FROM e WHERE doc_id % 97 <> 0)
       |SELECT bench_id,
       | CAST(COUNT(DISTINCT train_id) AS BIGINT) AS n_contaminating_docs,
       | CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_leaked_grams
       |FROM b JOIN tr USING (gram)
       |GROUP BY bench_id
       |ORDER BY bench_id""".stripMargin

  /** The RAG-ingest pipeline in one auditable relation — the retrieval
    * sibling of [[pretrainPipeline]]: domain gate ([[domainFilter]]'s
    * blocklist + per-domain cap) ∧ near-dup keep-best
    * ([[Dedup.keepBest]]) select the corpus, survivors chunk through
    * the overlap chunker ([[TextAnalysis3.chunkOverlapDocs]] — 40-token
    * windows, stride 30, full provenance), and every chunk ships with
    * its md5 content fingerprint (the chunk-store dedup/id key). One
    * row per surviving chunk; each stage is the already-green operator
    * run unchanged — the COMPOSITION is what's verified, oracle
    * composing the same CTE chains.
    */
  def ragPipeline(t: Tables): DataFrame = {
    val dom = domainFilterShared(t)
      .select(col("doc_id"), col("keep").as("keep_domain"))
    val kb = Dedup.keepBestShared(t)
      .select(col("doc_id"), col("keep_best").as("keep_dedup"))
    val kept = t.documents.select(col("doc_id"), col("text"))
      .join(dom, Seq("doc_id"))
      .join(kb, Seq("doc_id"))
      .where(col("keep_domain") && col("keep_dedup"))
      .select("doc_id", "text")
    TextAnalysis3.chunkOverlapDocs(kept)
      .withColumn("chunk_md5", md5(col("chunk_text")))
      .select("doc_id", "chunk_idx", "start_tok", "end_tok", "n_tokens",
        "chunk_md5")
      .orderBy("doc_id", "chunk_idx")
  }

  val ragPipelineSql: String =
    s"""${graft.operators.Dedup.clustersCte},
       |kb AS (
       | SELECT l3.id AS doc_id,
       |  ${graft.operators.Dedup.keepBestRankSql} AS keep_dedup
       | FROM l3 JOIN documents d ON l3.id = d.doc_id),
       |$domainFilterCtes,
       |kept AS (
       | SELECT d.doc_id, d.text
       | FROM documents d
       | JOIN dom ON dom.doc_id = d.doc_id
       | JOIN kb ON kb.doc_id = d.doc_id
       | WHERE dom.keep AND kb.keep_dedup),
       |kd AS (
       | SELECT doc_id, string_split(text, ' ') AS ws FROM kept
       | WHERE len(string_split(text, ' ')) >= 1),
       |st AS (
       | SELECT doc_id, ws,
       |  unnest(list_filter(range(0, greatest(len(ws), 1), 30),
       |                     s -> s = 0 OR s < len(ws))) AS start_tok,
       |  generate_subscripts(list_filter(range(0, greatest(len(ws), 1), 30),
       |                     s -> s = 0 OR s < len(ws)), 1) - 1 AS chunk_idx
       | FROM kd)
       |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       | CAST(start_tok AS INT) AS start_tok,
       | CAST(least(start_tok + 40, len(ws)) AS INT) AS end_tok,
       | CAST(least(start_tok + 40, len(ws)) - start_tok AS INT) AS n_tokens,
       | md5(array_to_string(list_slice(ws, start_tok + 1, start_tok + 40), ' '))
       |   AS chunk_md5
       |FROM st
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Tiered dedup funnel — the per-document verdict sheet of the THREE
    * dedup families run as one pipeline, answering the operational
    * question "which tier kills this doc": exact (lowest id per
    * byte-identical content hash wins), near-dup
    * ([[Dedup.keepBestShared]] — the Jaccard-cluster best
    * representative, the shared memoized stage frame), and semantic
    * ([[Similarity.semDedup]] — SemDeDup cell-blocked cosine, lowest id
    * wins). A doc ships iff all three keep it; each tier's verdict is a
    * column so the funnel's per-stage yield is auditable (the
    * [[curateCorpus]] convention applied to dedup). The tiers
    * deliberately overlap (an exact dup is also a near-dup): the report
    * shows WHICH tier is doing the work at each severity, which is what
    * decides a production cascade's thresholds.
    *
    * Plan: one window over the content hash, two joins against
    * already-memoized/green stage outputs. The embeddings table is
    * id-aligned with documents (vec_id = doc_id).
    */
  def dedupPipeline(t: Tables): DataFrame = {
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
    val ex = t.documents.select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        (col("doc_id") === min(col("doc_id")).over(wExact)).as("keep_exact"))
    val kb = Dedup.keepBestShared(t)
      .select(col("doc_id"), col("keep_best").as("keep_neardup"))
    val sem = Similarity.semDedup(t)
      .select(col("vec_id").as("doc_id"), col("keep").as("keep_semantic"))
    ex.join(kb, Seq("doc_id"))
      .join(sem, Seq("doc_id"))
      .withColumn("kept",
        col("keep_exact") && col("keep_neardup") && col("keep_semantic"))
      .orderBy("doc_id")
  }

  /** Oracle: the exact-hash window, the cluster chain's keep-best rank,
    * and the sd-prefixed SemDeDup chain composed in one WITH.
    */
  val dedupPipelineSql: String =
    s"""${graft.operators.Dedup.clustersCte},
       |kb AS (
       | SELECT l3.id AS doc_id,
       |  ${graft.operators.Dedup.keepBestRankSql} AS keep_neardup
       | FROM l3 JOIN documents d ON l3.id = d.doc_id),
       |ex0 AS (
       | SELECT doc_id,
       |  doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_exact
       | FROM documents),
       |${graft.operators.Similarity.semDedupKeepCtes("sd")}
       |SELECT ex0.doc_id, ex0.keep_exact, kb.keep_neardup,
       | sdkeep.keep AS keep_semantic,
       | ex0.keep_exact AND kb.keep_neardup AND sdkeep.keep AS kept
       |FROM ex0
       |JOIN kb USING (doc_id)
       |JOIN sdkeep ON sdkeep.vec_id = ex0.doc_id
       |ORDER BY ex0.doc_id""".stripMargin
}
