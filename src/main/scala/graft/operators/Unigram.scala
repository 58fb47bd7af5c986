package graft.operators

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer TRAINING — the SentencePiece-family sibling of
  * [[Tokenizer]]'s BPE trainer: instead of learning merges bottom-up,
  * a SUBSTRING candidate vocabulary is seeded from the corpus and
  * refined by hard-EM rounds (Viterbi segmentation under the current
  * piece probabilities → piece re-counts → rank pruning), keeping the
  * single characters so every word stays segmentable.
  *
  * Scale shape (the [[Tokenizer]] convention): the ONLY corpus-sized
  * pass is the word-frequency aggregation; candidate seeding and both
  * EM rounds run on the aggregated VOCABULARY. The E-step is ROW-LOCAL —
  * each word Viterbi-segments inside one narrow projection via a
  * higher-order-function DP fold (no shuffle, no per-position join);
  * the M-step is one small piece-count shuffle; the model between
  * rounds is bounded driver state (≤ [[SeedSize]] + 26 pieces, the
  * k-means-centroid convention).
  *
  * Portability: piece probabilities are Laplace-smoothed rationals
  * evaluated as one double division, and Viterbi compares double
  * PRODUCTS accumulated left-to-right along each path — both engines
  * execute the identical IEEE op sequence, so no `ln` (libm ulp
  * divergence) ever enters. Ties (equal products via different splits)
  * resolve to the smallest start position — the spec pins an exact
  * tie on a constructed corpus. Words longer than [[MaxWordLen]]
  * chars are excluded from training (the rare tail; SentencePiece
  * caps candidate/word lengths the same way).
  */
object Unigram {

  private[graft] val MaxWordLen  = 16
  private[graft] val MaxPieceLen = 6
  private[graft] val SeedSize    = 200
  private[graft] val KeepSize    = 150
  private[graft] val Rounds      = 2

  /** The seed-vocabulary CTE chain (word table → substring candidates →
    * top-[[SeedSize]]-plus-singles model `m1`) shared by the unigram and
    * WordPiece oracles — both tokenizers seed from the identical
    * candidate vocabulary.
    */
  private[operators] val seedCtesSql: String = {
    val P = MaxPieceLen - 1
    s"""wf AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents)
       |  WHERE len(w) <= $MaxWordLen GROUP BY w),
       |g1 AS (SELECT w, freq, unnest(range(1, len(w) + 1)) AS s FROM wf),
       |g2 AS MATERIALIZED (
       |  SELECT w, freq, s, unnest(range(s, least(s + $P, len(w)) + 1)) AS e FROM g1),
       |cand AS MATERIALIZED (
       |  SELECT substr(w, s, e - s + 1) AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM g2 GROUP BY 1),
       |m1 AS MATERIALIZED (
       |  SELECT piece, cnt FROM
       |    (SELECT piece, cnt FROM cand ORDER BY cnt DESC, piece LIMIT $SeedSize)
       |  UNION
       |  SELECT piece, cnt FROM cand WHERE len(piece) = 1)""".stripMargin
  }

  /** Aggregated training words: lowercase [a-z]+ runs ≤ [[MaxWordLen]]
    * chars, with corpus frequency — the one corpus-sized pass.
    */
  private[operators] def words(t: Tables): DataFrame =
    t.documents
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .where(length(col("w")) <= MaxWordLen)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Candidate substring counts over the vocabulary: every occurrence
    * of every substring up to [[MaxPieceLen]] chars, weighted by word
    * frequency.
    */
  private[operators] def seedCounts(wf: DataFrame): DataFrame =
    wf.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  s -> transform(sequence(s, least(s + ${MaxPieceLen - 1}, length(w))),
           |    e -> substring(w, s, e - s + 1))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))

  /** Laplace-smoothed piece probability — THE portable recipe: one
    * double division of exact integers, identical in any engine.
    */
  private def laplace(cnt: Long, total: Long, v: Int): Double =
    (cnt + 1).toDouble / (total + v).toDouble

  /** Viterbi E-step piece counts: each word segments row-locally under
    * the model's probabilities (a DP fold over positions carrying
    * (product, path) per position), then the winning paths' pieces
    * aggregate with word frequency. `model` is (piece, count).
    */
  private def eStepCounts(wf: DataFrame, model: Seq[(String, Long)]): DataFrame = {
    val v = model.size
    val total = model.map(_._2).sum
    val pmap = typedLit(model.map { case (pc, c) => pc -> laplace(c, total, v) }.toMap)
    val L = length(col("w"))
    // matches: (s, e, piece, p) for every model piece occurring in the
    // word, in (s asc, e asc) order — the order the DP's first-wins tie
    // rule is defined over
    val matches = filter(
      flatten(transform(sequence(lit(1), L), s =>
        transform(sequence(s, least(s + lit(MaxPieceLen - 1), L)), e =>
          struct(s.as("s"), e.as("e"),
            col("w").substr(s, e - s + 1).as("pc"),
            element_at(pmap, col("w").substr(s, e - s + 1)).as("p"))))),
      m => m.getField("p").isNotNull)
    // dp[k] (1-based element k) = best (sc, path) reaching position k−1;
    // step i recomputes slot i+1 from the matches ending at i, keeping
    // the FIRST strict maximum in match order (= smallest start on ties)
    val emptyPath = array().cast("array<string>")
    val init = transform(sequence(lit(0), L), j =>
      struct(when(j === 0, lit(1.0)).otherwise(lit(null).cast("double")).as("sc"),
        emptyPath.as("path")))
    val dp = aggregate(sequence(lit(1), L), init, (acc, i) =>
      transform(sequence(lit(0), L), j =>
        when(j =!= i, element_at(acc, j + 1)).otherwise(
          aggregate(
            filter(col("mt"), m => m.getField("e") === i &&
              element_at(acc, m.getField("s")).getField("sc").isNotNull),
            struct(lit(null).cast("double").as("sc"), emptyPath.as("path")),
            (b, m) => {
              val prev = element_at(acc, m.getField("s"))
              val cand = prev.getField("sc") * m.getField("p")
              when(b.getField("sc").isNull || cand > b.getField("sc"),
                struct(cand.as("sc"),
                  concat(prev.getField("path"), array(m.getField("pc"))).as("path")))
                .otherwise(b)
            }))))
    wf.withColumn("mt", matches)
      .withColumn("path", element_at(dp, L + 1).getField("path"))
      .select(col("freq"), explode(col("path")).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
  }

  /** Prune: rank the model's pieces by their E-step re-counts (absent →
    * 0), keep the top [[KeepSize]] plus every single character.
    * Returns (piece, newCount) in rank order.
    */
  private def prune(model: Seq[(String, Long)], counts: Map[String, Long]): Seq[(String, Long)] =
    model.map { case (pc, _) => (pc, counts.getOrElse(pc, 0L)) }
      .sortBy { case (pc, c) => (-c, pc) }
      .zipWithIndex
      .collect { case ((pc, c), i) if i < KeepSize || pc.length == 1 => (pc, c) }

  /** The trained vocabulary: (rank, piece, cnt, p) after [[Rounds]]
    * EM/prune rounds — rank and probability recomputed over the final
    * kept set.
    */
  def unigramTrain(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val wf = words(t).coalesce(8).cache()
    // seed model: top-SeedSize candidates by (count, piece) plus all
    // single characters — two bounded driver collects (model state)
    val sc = seedCounts(wf)
    val top = sc.orderBy(col("cnt").desc, col("piece")).limit(SeedSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val singles = sc.where(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var model: Seq[(String, Long)] =
      (top ++ singles.filterNot(s => top.exists(_._1 == s._1)))
        .sortBy { case (pc, c) => (-c, pc) }
    for (_ <- 1 to Rounds) {
      val counts = eStepCounts(wf, model).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      model = prune(model, counts)
    }
    wf.unpersist(false)
    val v = model.size
    val total = model.map(_._2).sum
    model.sortBy { case (pc, c) => (-c, pc) }.zipWithIndex
      .map { case ((pc, c), i) =>
        ((i + 1).toLong, pc, c, laplace(c, total, v)) }
      .toDF("rank", "piece", "cnt", "p")
      .orderBy("rank")
  }

  /** Oracle: the full replay — seed counts, top+singles model, and per
    * round the Laplace probabilities, the match relation, a
    * [[MaxWordLen]]-step unrolled DP chain (state rows (w, pos, sc,
    * path), winner per position by (sc DESC, s ASC) — the operator's
    * first-strict-max rule), the segmented piece re-counts, and the
    * rank prune. All MATERIALIZED (every state feeds the next).
    */
  val unigramTrainSql: String = {
    // one DP round: matches mt$r from model prob CTE p$r, chain
    // st${r}_0..st${r}_MaxWordLen, segmentation seg$r, re-counts mc$r
    def round(r: Int, modelCte: String): String = {
      val chain = (1 to MaxWordLen).map { i =>
        s"""st${r}_$i AS MATERIALIZED (
           |  SELECT * FROM st${r}_${i - 1}
           |  UNION ALL
           |  SELECT w, freq, $i AS pos, sc, path FROM (
           |    SELECT mt.w, prev.freq, prev.sc * mt.p AS sc,
           |           list_append(prev.path, mt.pc) AS path,
           |           row_number() OVER (PARTITION BY mt.w
           |             ORDER BY prev.sc * mt.p DESC, mt.s ASC) AS rn
           |    FROM mt$r mt JOIN st${r}_${i - 1} prev
           |      ON prev.w = mt.w AND prev.pos = mt.s - 1
           |    WHERE mt.e = $i)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""p$r AS MATERIALIZED (
         |  SELECT piece, CAST(cnt + 1 AS DOUBLE) /
         |    CAST((SELECT SUM(cnt) FROM $modelCte) + (SELECT COUNT(*) FROM $modelCte) AS DOUBLE) AS p
         |  FROM $modelCte),
         |mt$r AS MATERIALIZED (
         |  SELECT g2.w, g2.freq, s, e, substr(g2.w, s, e - s + 1) AS pc, p$r.p
         |  FROM g2 JOIN p$r ON p$r.piece = substr(g2.w, s, e - s + 1)),
         |st${r}_0 AS (
         |  SELECT w, freq, 0 AS pos, CAST(1.0 AS DOUBLE) AS sc,
         |         []::VARCHAR[] AS path FROM wf),
         |$chain,
         |seg$r AS MATERIALIZED (
         |  SELECT w, freq, path FROM st${r}_$MaxWordLen WHERE pos = len(w)),
         |mc$r AS MATERIALIZED (
         |  SELECT pc AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(path) AS pc FROM seg$r) GROUP BY pc)""".stripMargin
    }
    def pruneCte(r: Int, modelCte: String): String =
      s"""r$r AS MATERIALIZED (
         |  SELECT m.piece, COALESCE(mc.cnt, 0) AS cnt,
         |         row_number() OVER (ORDER BY COALESCE(mc.cnt, 0) DESC, m.piece) AS rk
         |  FROM $modelCte m LEFT JOIN mc$r mc ON mc.piece = m.piece),
         |m${r + 1} AS MATERIALIZED (
         |  SELECT piece, cnt FROM r$r WHERE rk <= $KeepSize OR len(piece) = 1)""".stripMargin
    s"""WITH $seedCtesSql,
       |${round(1, "m1")},
       |${pruneCte(1, "m1")},
       |${round(2, "m2")},
       |${pruneCte(2, "m2")}
       |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) AS rank,
       |       piece, cnt,
       |       CAST(cnt + 1 AS DOUBLE) /
       |         CAST((SELECT SUM(cnt) FROM m3) + (SELECT COUNT(*) FROM m3) AS DOUBLE) AS p
       |FROM m3
       |ORDER BY rank""".stripMargin
  }
}
