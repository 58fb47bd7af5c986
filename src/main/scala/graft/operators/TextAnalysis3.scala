package graft.operators

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus statistics beyond per-document scoring: collocation mining
  * (and siblings that need corpus-level co-occurrence marginals).
  */
object TextAnalysis3 {

  /** Minimum adjacent-pair count for a collocation candidate. */
  private[graft] val MinPair = 5
  /** PPM scale for the integer association score. */
  private[graft] val PmiScale = 1000000.0
  private val TopK = 50

  /** Collocation mining: the top-[[TopK]] adjacent word pairs by
    * observed-over-expected association — the PMI-family statistic
    * ("new york"-style multiword detection) that seeds tokenizer vocabs
    * and phrase-aware dedup. Score = n_pair·N_bigrams/(n_w1·n_w2)
    * in parts-per-million: PMI without the final `ln`, which is
    * rank-equivalent (ln is monotone) and keeps the score engine-exact
    * — no libm ulp divergence. The two floors are evaluated as the
    * identical left-associated IEEE double sequence in both engines
    * (double, not int64: the n_pair·Scale·N product overflows int64 at
    * ~10^13 bigram corpora).
    *
    * Scale shape: bigrams expand IN-ROW (zip_with over the token array,
    * no self-join), one hash aggregation keyed on the pair, min-count
    * pruned BEFORE the marginal attach; unigram marginals are a
    * VOCABULARY-sized aggregate, so they attach through plain equi-joins
    * — AQE broadcasts them when the measured size is small and shuffles
    * when a corpus proves otherwise (a forced hint would override the
    * size check and OOM on web-scale vocabularies). The final global
    * sort is a TakeOrdered top-[[TopK]], never a full sort.
    */
  def collocations(t: Tables): DataFrame = {
    val tk = t.documents.select(split(col("text"), " ").as("tk"))
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val tot = tk.agg(
      sum(greatest(size(col("tk")) - 1, lit(0))).cast("long").as("n_big"))
    val bi = tk.select(explode(expr(
        """zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
          |  (x, y) -> named_struct('w1', x, 'w2', y))""".stripMargin)).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= MinPair)
    // unigram marginals are vocabulary-sized (grow with the corpus) —
    // plain equi-joins, no broadcast hint: AQE broadcasts them when the
    // runtime size is actually small, and shuffles when it isn't. Only
    // the 1-row total keeps a hint.
    bi
      .join(uni.select(col("w").as("w1"), col("cnt").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cnt").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        floor(floor(col("n_pair").cast("double") * lit(PmiScale) /
            col("n_w1").cast("double")) *
          col("n_big").cast("double") / col("n_w2").cast("double"))
          .cast("long").as("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("w1"), col("w2"))
      .limit(TopK)
  }

  val collocationsSql: String =
    s"""WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents),
       |uni AS (
       | SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
       | FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w),
       |tot AS (
       | SELECT CAST(SUM(GREATEST(len(tk) - 1, 0)) AS BIGINT) AS n_big FROM tk),
       |bg AS (
       | SELECT unnest(list_transform(range(1, len(tk)),
       |   i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS bg
       | FROM tk),
       |bi AS (
       | SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS n_pair
       | FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= $MinPair)
       |SELECT bi.w1, bi.w2, bi.n_pair, u1.cnt AS n_w1, u2.cnt AS n_w2,
       | CAST(FLOOR(FLOOR(CAST(bi.n_pair AS DOUBLE) * $PmiScale
       |     / CAST(u1.cnt AS DOUBLE))
       |   * CAST(tot.n_big AS DOUBLE) / CAST(u2.cnt AS DOUBLE)) AS BIGINT)
       |  AS pmi_ppm
       |FROM bi
       |JOIN uni u1 ON u1.w = bi.w1
       |JOIN uni u2 ON u2.w = bi.w2
       |CROSS JOIN tot
       |ORDER BY pmi_ppm DESC, w1, w2
       |LIMIT $TopK""".stripMargin

  /** WordPiece-style tokenization of the corpus — the THIRD tokenizer
    * family next to [[Tokenizer]] (BPE) and [[Unigram]] (unigram-LM):
    * greedy longest-match-first segmentation (MaxMatch, WordPiece's
    * inference rule) against a vocabulary seeded EXACTLY like the
    * unigram trainer's (top-[[Unigram.SeedSize]] substring candidates
    * by weighted count plus all single characters, so segmentation
    * never fails on [a-z]+ words).
    *
    * Scale shape (the [[Tokenizer]] convention): the corpus-sized
    * passes are the word-frequency aggregation and the final per-doc
    * count join; segmentation itself runs ONCE PER DISTINCT WORD on
    * the vocabulary table as a row-local HOF fold (each step consumes
    * the longest vocab piece matching at the cursor — ≤
    * [[Unigram.MaxWordLen]] iterations, no shuffle, no per-position
    * join), with the ≤226-piece vocab inlined as one array literal
    * (bounded driver model state). Every comparison is exact string
    * equality — no floats anywhere — so the oracle replays the greedy
    * walk as suffix-eating CTE steps and matches bit-for-bit.
    */
  def wordpiece(t: Tables): DataFrame =
    wordpieceShared(t).orderBy("doc_id")

  /** Session-shared WordPiece token-count frame (doc_id, n_words,
    * n_wp_tokens), localCheckpoint-pinned per (session, dir) — the
    * tokenizer trains and applies once; the `text_wordpiece` query and
    * [[Curation.pretrainPipeline]] both reuse it (the
    * [[graft.SessionMemo]] convention).
    */
  private val wordpieceMemo = new graft.SessionMemo[DataFrame]

  private[graft] def wordpieceShared(t: Tables): DataFrame =
    wordpieceMemo.getOrCompute(t.spark, t.dir)(computeWordpiece(t))

  private def computeWordpiece(t: Tables): DataFrame = {
    val wf = Unigram.words(t).coalesce(8).cache()
    val sc0 = Unigram.seedCounts(wf)
    val top = sc0.orderBy(col("cnt").desc, col("piece")).limit(Unigram.SeedSize)
      .collect().map(_.getString(0))
    val singles = sc0.where(length(col("piece")) === 1)
      .collect().map(_.getString(0))
    val vocab = (top ++ singles).distinct
    // pieces are [a-z]+ so literal embedding is safe (the Tokenizer
    // convention); referenced once via a column so the array literal
    // doesn't replicate into every CASE branch
    val vlit = vocab.map(p => s"'$p'").mkString("array(", ", ", ")")
    val matchCase = (Unigram.MaxPieceLen to 2 by -1).map(l =>
      s"WHEN array_contains(vv, substr(w, acc.pos, $l)) THEN $l")
      .mkString(" ")
    val seg = wf
      .withColumn("vv", expr(vlit))
      .withColumn("cnt", expr(
        s"""aggregate(
           |  sequence(1, length(w)),
           |  named_struct('pos', 1, 'cnt', CAST(0 AS BIGINT)),
           |  (acc, i) -> IF(acc.pos > length(w), acc,
           |    named_struct(
           |      'pos', acc.pos + CASE $matchCase ELSE 1 END,
           |      'cnt', acc.cnt + CAST(1 AS BIGINT))),
           |  acc -> acc.cnt)""".stripMargin))
      .select(col("w"), col("cnt"))
    val out = t.documents
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .where(length(col("word")) <= Unigram.MaxWordLen)
      // NO broadcast hint: the segmented relation is the full distinct-
      // word table (corpus-dependent, ~1e8 at web scale) — AQE
      // broadcasts when it measures small, shuffles on the word key
      // otherwise; either way the join is word-keyed, never quadratic
      .join(seg.select(col("w").as("word"), col("cnt")), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("cnt")).as("n_wp_tokens"))
      .localCheckpoint(true)
    wf.unpersist(false)
    out
  }

  /** The full WordPiece CTE chain (shared seed vocab → greedy steps →
    * per-doc counts), ending in `wtok(doc_id, n_words, n_wp_tokens)` —
    * shared by [[wordpieceSql]] and [[Curation.pretrainPipelineSql]].
    */
  private[operators] def wordpieceCtesSql: String = {
    val cases = (Unigram.MaxPieceLen to 2 by -1).map(l =>
      s"WHEN substr(rem, 1, $l) IN (SELECT piece FROM m1) THEN $l")
      .mkString(" ")
    val steps = (1 to Unigram.MaxWordLen).map { i =>
      s"""s$i AS MATERIALIZED (
         | SELECT w, substr(rem, 1 + l) AS rem,
         |  cnt + CASE WHEN l > 0 THEN 1 ELSE 0 END AS cnt
         | FROM (
         |  SELECT w, rem, cnt,
         |   CASE WHEN rem = '' THEN 0 $cases ELSE 1 END AS l
         |  FROM s${i - 1}))""".stripMargin
    }.mkString(",\n")
    s"""${Unigram.seedCtesSql},
       |s0 AS (SELECT w, w AS rem, CAST(0 AS BIGINT) AS cnt FROM wf),
       |$steps,
       |dw AS (
       | SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       | FROM documents),
       |wtok AS (
       | SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(s.cnt) AS BIGINT) AS n_wp_tokens
       | FROM dw JOIN s${Unigram.MaxWordLen} s ON s.w = dw.word
       | WHERE len(dw.word) <= ${Unigram.MaxWordLen}
       | GROUP BY doc_id)""".stripMargin
  }

  /** Oracle: the shared seed CTEs build the identical vocabulary, then
    * [[Unigram.MaxWordLen]] suffix-eating steps replay the greedy walk
    * (same fixed-length CASE, so end-of-word prefix collapses behave
    * identically), re-joined to the corpus words per document.
    */
  val wordpieceSql: String =
    s"""WITH $wordpieceCtesSql
       |SELECT doc_id, n_words, n_wp_tokens
       |FROM wtok
       |ORDER BY doc_id""".stripMargin

  /** Likelihood-weight scale for the classifier (ppm). */
  private val NbScale = 1000000L

  /** Train-and-apply bag-of-words source classifier — the quality-
    * classifier pattern of LLM data curation (fastText-style: score
    * docs by how much their vocabulary looks like each source), with
    * the corpus as its own training set and a confusion-matrix report.
    * Per-class token likelihoods are Laplace-smoothed scaled integers
    *   w(t,s) = (c(t,s)+1)·10⁶ div (tot(s)+V)
    * (the [[Unigram]] smoothing in exact integer form — no `ln`, so no
    * libm divergence: linear-space likelihood weights are summed
    * tf-weighted per document and the argmax is taken with a
    * deterministic (score desc, class-id asc) tie-break).
    *
    * Scale shape: one corpus pass for (token, source) counts, one for
    * per-doc tf; the model is ONE ROW PER TOKEN — a class→weight map of
    * the classes that actually saw the token (≤ #classes entries), so
    * the corpus join attaches a bounded map instead of fanning every
    * (doc, token) row out ×#classes (the r14 gate measured that
    * fan-out at 7.8×/22.6 s on gen-sf1; the map design shuffles the
    * (doc, token) row count unchanged). Per-class smoothing defaults
    * `(0+1)·scale div (tot(s)+V)` come from driver-collected totals —
    * bounded model state, #classes longs + one vocab count, the
    * k-means-centroid convention. Scores are #classes map-side-combined
    * long sums per doc (classes = the source dim, bounded); the argmax
    * is an in-row fold with the (score desc, sid asc) tie-break, and
    * the confusion matrix is a #classes² output. No pair space:
    * 100 TB-safe.
    */
  def nbClassify(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
    // ONE token explode: the per-doc tf frame is pinned and the
    // token x class counts DERIVE from it (sum of tf) - re-exploding
    // the corpus for the counts pass measured ~35% of the operator's
    // gen-sf1 wall time
    val tf = docs.groupBy(col("doc_id"), col("source"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val counts = tf.groupBy(col("token"), col("source").as("c_source"))
      .agg(sum(col("tf")).as("c"))
      .localCheckpoint(true) // feeds tots/vocab collects AND the token map
    // bounded model state on the driver: per-class token totals
    // (#classes rows — the source dim) and the vocabulary size scalar;
    // deterministic class ids are lexicographic rank, as before
    val tots: Map[String, Long] = counts.groupBy("c_source")
      .agg(sum(col("c")).as("tot")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocabV: Long = counts.select("token").distinct().count()
    val classList = tots.keys.toSeq.sorted // sid = index + 1
    // per-token model row: map of the classes that saw the token
    val grid = counts
      .select(col("token"), col("c_source"), col("c"))
      .groupBy("token")
      .agg(map_from_entries(collect_list(struct(col("c_source"), col("c"))))
        .as("cm"))
    // absent (token, class) cells fall back to the class's literal
    // Laplace default — same integer arithmetic as the oracle's grid
    val perClassScore = classList.map { s =>
      val denom = tots(s) + vocabV
      val esc = s.replace("\\", "\\\\").replace("'", "\\'")
      // try_element_at: explicit null-on-missing-key semantics (plain
      // element_at raises MAP_KEY_DOES_NOT_EXIST under strict-ANSI
      // variants, which would break the Laplace coalesce fallback)
      sum(col("tf") * coalesce(
        expr(s"(try_element_at(cm, '$esc') + 1L) * ${NbScale}L div ${denom}L"),
        lit(NbScale / denom)))
    }
    val scoreCols = classList.indices.map(i => perClassScore(i).as(s"_s$i"))
    val scored = tf.join(grid, Seq("token"))
      .groupBy(col("doc_id"), col("source"))
      .agg(scoreCols.head, scoreCols.tail: _*)
    // in-row argmax with the (score desc, sid asc) tie-break
    val argmax = array_max(array(classList.indices.map(i =>
      struct(col(s"_s$i").as("score"), lit(-(i + 1)).as("nsid"))): _*))
    val predictedName = element_at(
      array(classList.map(lit): _*), -col("m.nsid"))
    scored
      .withColumn("m", argmax)
      .select(col("source"), predictedName.as("predicted"))
      .groupBy(col("source"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "predicted")
  }

  val nbClassifySql: String =
    s"""WITH toks AS (
       | SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
       | FROM documents),
       |tk AS (SELECT * FROM toks WHERE length(token) > 0),
       |classes AS (
       | SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) AS INT) AS sid
       | FROM (SELECT DISTINCT source FROM documents)),
       |counts AS (
       | SELECT token, source AS c_source, CAST(COUNT(*) AS BIGINT) AS c
       | FROM tk GROUP BY 1, 2),
       |tots AS (
       | SELECT c_source, CAST(SUM(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
       |vocab AS (SELECT DISTINCT token FROM counts),
       |vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
       |grid AS (
       | SELECT vocab.token, cl.source AS c_source, cl.sid,
       |  ((COALESCE(c.c, 0) + 1) * $NbScale) // (t.tot + vn.v) AS w
       | FROM vocab
       | CROSS JOIN classes cl
       | LEFT JOIN counts c ON c.token = vocab.token AND c.c_source = cl.source
       | JOIN tots t ON t.c_source = cl.source
       | CROSS JOIN vn),
       |tf AS (
       | SELECT doc_id, source, token, CAST(COUNT(*) AS BIGINT) AS tf
       | FROM tk GROUP BY 1, 2, 3),
       |scored AS (
       | SELECT tf.doc_id, tf.source, g.c_source, g.sid,
       |  CAST(SUM(tf.tf * g.w) AS BIGINT) AS score
       | FROM tf JOIN grid g ON g.token = tf.token
       | GROUP BY 1, 2, 3, 4),
       |pred AS (
       | SELECT doc_id, source, c_source AS predicted,
       |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, sid) AS rk
       | FROM scored)
       |SELECT source, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM pred WHERE rk = 1
       |GROUP BY 1, 2
       |ORDER BY source, predicted""".stripMargin

  private val ChunkWindow = 40
  private val ChunkStride = 30

  /** Sliding-window chunker with overlap — the RAG-ingest twin of
    * text_pack_sequences: fixed [[ChunkWindow]]-token windows at
    * [[ChunkStride]] (< window, so consecutive chunks share
    * window − stride tokens of context), each chunk carrying full
    * provenance (doc_id, chunk_idx, token start/end, text). Every doc
    * emits a chunk at token 0; strides continue while tokens remain
    * beyond the previous window, so the tail chunk may be short but no
    * token is dropped and no empty chunk is emitted. A doc shorter than
    * one window yields exactly one chunk.
    *
    * Spark shape: ROW-LOCAL explode — `sequence` over start offsets +
    * `slice` per chunk, no shuffle at any scale; the only exchange is
    * the presentation sort. At 100 TB this is a pure map stage that
    * chains into whatever writes the chunk store.
    */
  def chunkOverlap(t: Tables): DataFrame = chunkOverlapDocs(t.documents)

  /** The chunker over any (doc_id, text) frame — shared by the
    * standalone query and [[Curation.ragPipeline]]'s post-gate stage.
    */
  private[operators] def chunkOverlapDocs(docs: DataFrame): DataFrame = {
    val n = size(col("ws"))
    // starts: 0, stride, 2·stride … while start < n_tokens (start = 0
    // always emits, covering the empty-text case via the ws >= 1 guard)
    val starts = expr(
      s"filter(sequence(0, greatest(size(ws) - 1, 0), $ChunkStride), s -> s = 0 OR s < size(ws))")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(n >= 1)
      .select(col("doc_id"), col("ws"), posexplode(starts).as(Seq("chunk_idx", "start_tok")))
      .select(
        col("doc_id"), col("chunk_idx"), col("start_tok"),
        least(col("start_tok") + ChunkWindow, size(col("ws"))).as("end_tok"),
        concat_ws(" ", slice(col("ws"), col("start_tok") + 1, lit(ChunkWindow))).as("chunk_text"))
      .withColumn("n_tokens", col("end_tok") - col("start_tok"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Oracle: the same start-offset generation + list_slice in DuckDB
    * (range is exclusive at the top, so the `s = 0 OR s < len` filter
    * matches Spark's inclusive-sequence + filter form). */
  val chunkOverlapSql: String =
    s"""WITH d AS (
       | SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       | WHERE len(string_split(text, ' ')) >= 1),
       |st AS (
       | SELECT doc_id, ws,
       |  unnest(list_filter(range(0, greatest(len(ws), 1), $ChunkStride),
       |                     s -> s = 0 OR s < len(ws))) AS start_tok,
       |  generate_subscripts(list_filter(range(0, greatest(len(ws), 1), $ChunkStride),
       |                     s -> s = 0 OR s < len(ws)), 1) - 1 AS chunk_idx
       | FROM d)
       |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       | CAST(start_tok AS INT) AS start_tok,
       | CAST(least(start_tok + $ChunkWindow, len(ws)) AS INT) AS end_tok,
       | array_to_string(list_slice(ws, start_tok + 1, start_tok + $ChunkWindow), ' ') AS chunk_text,
       | CAST(least(start_tok + $ChunkWindow, len(ws)) - start_tok AS INT) AS n_tokens
       |FROM st
       |ORDER BY doc_id, chunk_idx""".stripMargin

  private val ShapePrefix = 12

  /** Template/boilerplate SHAPE detection — the structure-not-content
    * dedup signal: each document's first [[ShapePrefix]] words reduce to
    * a word-length bucket string (s ≤ 3 chars, m ≤ 6, l beyond), and
    * shapes shared by ≥ 2 documents are reported with their member
    * count and an exemplar. Catches machine-generated/templated pages
    * whose TOKENS differ but whose layout repeats — invisible to
    * content n-gram dedup until the near-dup threshold, cheap here:
    * one row-local projection + one aggregation, linear at any scale.
    */
  def templateShape(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        concat_ws("", expr(
          s"""transform(slice(split(text, ' '), 1, $ShapePrefix),
             |  w -> CASE WHEN length(w) <= 3 THEN 's'
             |            WHEN length(w) <= 6 THEN 'm'
             |            ELSE 'l' END)""".stripMargin)).as("shape"))
      .groupBy("shape")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("exemplar_doc"))
      .where(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("shape"))

  val templateShapeSql: String =
    s"""WITH f AS (
       | SELECT doc_id,
       |  array_to_string(list_transform(string_split(text, ' ')[1:$ShapePrefix],
       |    w -> CASE WHEN len(w) <= 3 THEN 's'
       |              WHEN len(w) <= 6 THEN 'm' ELSE 'l' END), '') AS shape
       | FROM documents)
       |SELECT shape, CAST(COUNT(*) AS BIGINT) AS n_docs,
       | CAST(MIN(doc_id) AS BIGINT) AS exemplar_doc
       |FROM f GROUP BY shape
       |HAVING COUNT(*) >= 2
       |ORDER BY n_docs DESC, shape""".stripMargin

  /** Flesch-style readability scoring in exact integer MILLI-points —
    * the classic words-per-sentence × syllables-per-word readability
    * screen, run as a corpus-curation gate (very-hard prose and
    * run-on-sentence boilerplate both flag). Counts are engine-portable
    * regex-match counts (the [[TextAnalysis.bpeTokens]] convention):
    * sentences are `[.!?]+` runs (clamped ≥ 1 for fragments), syllables
    * are the standard `[aeiouy]+` vowel-group proxy. The score
    * `206835 − (1015·W) div S − (84600·Syl) div W` stays in pure long
    * arithmetic — truncating integral division on all-positive terms,
    * identical in both engines — so an inherently heuristic formula
    * still gets a hash-exact oracle. Row-local projection: no shuffle
    * but the presentation sort.
    */
  def readability(t: Tables): DataFrame = {
    val words = size(split(col("text"), " ")).cast("long")
    val sents = greatest(lit(1L),
      size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"))
    val sylls = size(expr("regexp_extract_all(text, '[aeiouy]+', 0)"))
      .cast("long")
    t.documents.select(
        col("doc_id"),
        words.as("n_words"),
        sents.as("n_sentences"),
        sylls.as("n_syllables"))
      .withColumn("flesch_milli",
        expr("206835L - (1015L * n_words) div n_sentences" +
          " - (84600L * n_syllables) div n_words"))
      .withColumn("band",
        when(col("flesch_milli") >= 90000L, "very_easy")
          .when(col("flesch_milli") >= 70000L, "easy")
          .when(col("flesch_milli") >= 50000L, "medium")
          .when(col("flesch_milli") >= 30000L, "hard")
          .otherwise("very_hard"))
      .orderBy("doc_id")
  }

  val readabilitySql: String =
    """WITH c AS (
      | SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  GREATEST(CAST(1 AS BIGINT),
      |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
      |    AS n_sentences,
      |  CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
      |    AS n_syllables
      | FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      | 206835 - (1015 * n_words) // n_sentences
      |   - (84600 * n_syllables) // n_words AS flesch_milli,
      | CASE WHEN 206835 - (1015 * n_words) // n_sentences
      |            - (84600 * n_syllables) // n_words >= 90000 THEN 'very_easy'
      |      WHEN 206835 - (1015 * n_words) // n_sentences
      |            - (84600 * n_syllables) // n_words >= 70000 THEN 'easy'
      |      WHEN 206835 - (1015 * n_words) // n_sentences
      |            - (84600 * n_syllables) // n_words >= 50000 THEN 'medium'
      |      WHEN 206835 - (1015 * n_words) // n_sentences
      |            - (84600 * n_syllables) // n_words >= 30000 THEN 'hard'
      |      ELSE 'very_hard' END AS band
      |FROM c ORDER BY doc_id""".stripMargin

  // OCR-artifact thresholds — single source of truth for the Scala
  // projection and the SQL twin. frac_single tuned so the flag splits
  // this corpus (p75 ≈ 0.047); the other two catch only genuinely
  // damaged text (zero on clean input, spec plants offenders).
  private val OcrMaxSingleFrac = 0.05
  private val OcrMaxConsRunFrac = 0.1
  private val OcrMaxNonAlphaFrac = 0.05

  /** OCR/scan-damage artifact gate — the digitized-corpus quality
    * filter every public pretrain recipe applies before OCR-heavy
    * sources (fragmented words, merge junk, and stray symbols are the
    * three canonical OCR failure modes): per doc, the share of
    * single-character tokens ("t h e" fragmentation), the share of
    * tokens containing a ≥4-consonant run ("tlhe"/"rnrn" merge
    * artifacts — English phonotactics makes real runs that long rare),
    * and the share of characters outside [a-z ] (speckle symbols).
    * A fixed-op-order artifact score (0.5·single + 0.3·consrun +
    * 0.2·nonalpha — identical left-associated IEEE sequence in both
    * engines) plus a keep decision with per-signal thresholds. Pure
    * row-local projection — one scan at 100 TB.
    */
  def ocrArtifacts(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("frac_single",
        size(expr("filter(w, x -> length(x) = 1)")).cast("double") /
          col("n_tokens"))
      .withColumn("frac_consrun",
        size(expr("filter(w, x -> x rlike '[bcdfghjklmnpqrstvwxz]{4}')"))
          .cast("double") / col("n_tokens"))
      .withColumn("frac_nonalpha",
        when(length(col("text")) === 0, lit(0.0)).otherwise(
          (length(col("text")) -
            length(regexp_replace(col("text"), "[^a-z ]", ""))).cast("double") /
            length(col("text"))))
      .withColumn("artifact_score",
        col("frac_single") * 0.5 + col("frac_consrun") * 0.3 +
          col("frac_nonalpha") * 0.2)
      .withColumn("keep",
        col("frac_single") <= OcrMaxSingleFrac &&
          col("frac_consrun") <= OcrMaxConsRunFrac &&
          col("frac_nonalpha") <= OcrMaxNonAlphaFrac)
      .select("doc_id", "n_tokens", "frac_single", "frac_consrun",
        "frac_nonalpha", "artifact_score", "keep")
      .orderBy("doc_id")

  val ocrArtifactsSql: String =
    s"""WITH c AS (
       | SELECT doc_id, text, string_split(text, ' ') AS w,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       | FROM documents),
       |m AS (
       | SELECT doc_id, n_tokens,
       |  CAST(len(list_filter(w, x -> len(x) = 1)) AS DOUBLE) / n_tokens
       |    AS frac_single,
       |  CAST(len(list_filter(w,
       |    x -> regexp_matches(x, '[bcdfghjklmnpqrstvwxz]{4}'))) AS DOUBLE)
       |    / n_tokens AS frac_consrun,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE
       |    CAST(len(text) - len(regexp_replace(text, '[^a-z ]', '', 'g'))
       |      AS DOUBLE) / len(text) END AS frac_nonalpha
       | FROM c)
       |SELECT doc_id, n_tokens, frac_single, frac_consrun, frac_nonalpha,
       | frac_single * 0.5 + frac_consrun * 0.3 + frac_nonalpha * 0.2
       |   AS artifact_score,
       | frac_single <= $OcrMaxSingleFrac AND
       |   frac_consrun <= $OcrMaxConsRunFrac AND
       |   frac_nonalpha <= $OcrMaxNonAlphaFrac AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  /** Token counts per (`source`, `token`) as `c_st`, with the source
    * total `t_s`, the corpus-wide token total `c_t` and the corpus total
    * `t` attached: the input of [[klSourceDrift]] and
    * [[jsSourceDivergence]]. The source totals (source-dim) and the one
    * corpus row are bounded, so they broadcast. The token totals are
    * VOCABULARY-sized and grow with the corpus (Heaps' law: 10⁸–10⁹
    * types on web-scale text), so they take a plain equi-join: AQE still
    * broadcasts them when a corpus is actually small, without a hint
    * overriding the size check into an OOM.
    */
  private def sourceTokenCounts(t: Tables): DataFrame = {
    val toks = t.documents
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
    val st = toks.groupBy("source", "token").agg(count(lit(1)).as("c_st"))
      .localCheckpoint(true)
    val srcTot = st.groupBy("source").agg(sum(col("c_st")).as("t_s"))
    val tokTot = st.groupBy("token").agg(sum(col("c_st")).as("c_t"))
    val tot = st.agg(sum(col("c_st")).as("t"))
    st
      .join(broadcast(srcTot), Seq("source"))
      .join(tokTot, Seq("token"))
      .crossJoin(broadcast(tot))
  }

  /** Per-source unigram KL divergence from the corpus distribution —
    * KL(p_src ‖ p_corpus) = Σ_t (c_st/T_s)·ln(c_st·T / (T_s·C_t)),
    * the "which ingestion source drifted off the corpus language" score
    * a mixture curator watches (a source whose token distribution
    * diverges is re-weighted or quarantined before it skews training).
    * The heavy pass is one token explode; everything after runs on
    * (source × vocab)-bounded count frames. Every count is an exact
    * long; each KL term is a fixed double formula of four longs
    * (identical in both engines), and the term sum rides a scale-30
    * decimal with the portable 12-decimal final rounding.
    */
  def klSourceDrift(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    sourceTokenCounts(t)
      .withColumn("term",
        (col("c_st").cast("double") / col("t_s").cast("double")) *
          log((col("c_st").cast("double") * col("t").cast("double")) /
            (col("t_s").cast("double") * col("c_t").cast("double"))))
      .groupBy("source")
      .agg(
        first(col("t_s")).as("n_tokens"),
        countDistinct(col("token")).as("n_types"),
        sum(col("term").cast(DecimalType(38, 30))).cast("double")
          .cast(DecimalType(24, 12)).cast("double").as("kl_nats"))
      .orderBy("source")
  }

  /** Smallest checkpoint the [[heapsCurve]] ladder keeps (besides the
    * full corpus itself) — below this a vocabulary count is noise.
    */
  private val HeapsMinCheckpoint = 25L

  /** Heaps'-law geometric checkpoint ladder, DERIVED FROM THE CORPUS
    * SIZE: distinct values of ⌈n/2ʲ⌉ down to [[HeapsMinCheckpoint]],
    * topped by the corpus itself (j = 0) — so the top rung always sits
    * at n and the curve measures the WHOLE corpus at any scale (a fixed
    * ladder saturates at its largest constant and stops being a
    * saturation diagnostic once the corpus outgrows it — the r13
    * constant-vs-corpus-derived bug class). Division of a ≤2⁵³ integer
    * by a power of two is exact in doubles, so the oracle replays the
    * identical arithmetic.
    */
  private[graft] def heapsLadder(n: Long): Seq[Long] =
    (0 until 40).iterator
      .map(j => math.ceil(n.toDouble / math.pow(2, j)).toLong)
      .zipWithIndex
      .collect { case (k, j) if k >= HeapsMinCheckpoint || j == 0 => k }
      .toSeq.distinct.sorted

  /** Heaps'-law vocabulary growth curve: distinct vocabulary size after
    * the first k documents (doc-id order), for the corpus-derived
    * geometric ladder [[heapsLadder]] — the "is vocabulary still growing
    * or has the crawl saturated" curve that pairs with [[goodTuring]]'s
    * spectrum view. Each token's FIRST document is one min-aggregation;
    * the curve is then a broadcast checkpoint join + count (the ladder
    * is ≤40 rows — bounded) — no prefix windows, no per-document state,
    * any corpus size. The one driver-side `count()` sizes the ladder,
    * bounded model state by construction.
    */
  def heapsCurve(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val firstSeen = t.documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token").agg(min(col("doc_id")).as("first_doc"))
    val cps = heapsLadder(t.documents.count()).toDF("k")
    firstSeen.join(broadcast(cps), col("first_doc") < col("k"))
      .groupBy("k").agg(count(lit(1)).as("v_types"))
      .orderBy("k")
  }

  val heapsCurveSql: String =
    s"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
       |cps AS (
       | SELECT DISTINCT CAST(ceil(c / pow(2, j)) AS BIGINT) AS k
       | FROM n, (SELECT unnest(range(0, 40)) AS j)
       | WHERE ceil(c / pow(2, j)) >= $HeapsMinCheckpoint OR j = 0),
       |fs AS (
       | SELECT token, MIN(doc_id) AS first_doc
       | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |       FROM documents)
       | WHERE length(token) > 0 GROUP BY 1)
       |SELECT CAST(k AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS v_types
       |FROM fs JOIN cps ON first_doc < k
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Good–Turing coverage estimate per source: from the token frequency
    * spectrum (f₁ singletons, f₂ doubletons), the unseen-probability
    * mass p₀ = f₁/N and the Chao1 richness estimate
    * V + f₁·(f₁−1)/(2·(f₂+1)) — "how much vocabulary has this source
    * NOT shown us yet", the coverage question a crawl scheduler asks
    * before spending more budget on a domain. Two bounded aggregations
    * after the one token explode: (source, token) counts, then the
    * spectrum per source. All counts exact longs; the two estimates are
    * fixed double formulas of those longs.
    */
  def goodTuring(t: Tables): DataFrame = {
    val st = t.documents
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    st.groupBy("source")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("v_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .withColumn("p_unseen",
        col("f1").cast("double") / col("n_tokens").cast("double"))
      .withColumn("chao1",
        col("v_types").cast("double") +
          (col("f1") * (col("f1") - 1)).cast("double") /
            (lit(2.0) * (col("f2") + lit(1)).cast("double")))
      .orderBy("source")
  }

  val goodTuringSql: String =
    """WITH st AS (
      | SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      | FROM (SELECT source, unnest(string_split(text, ' ')) AS token
      |       FROM documents)
      | WHERE length(token) > 0 GROUP BY 1, 2),
      |g AS (
      | SELECT source,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS v_types,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      | FROM st GROUP BY 1)
      |SELECT source, n_tokens, v_types, f1, f2,
      | CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS p_unseen,
      | CAST(v_types AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE)
      |   / (2.0 * CAST(f2 + 1 AS DOUBLE)) AS chao1
      |FROM g ORDER BY source""".stripMargin

  val klSourceDriftSql: String =
    """WITH toks AS (
      | SELECT source, unnest(string_split(text, ' ')) AS token
      | FROM documents),
      |st AS (
      | SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_st
      | FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
      |src_tot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s
      |            FROM st GROUP BY 1),
      |tok_tot AS (SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t
      |            FROM st GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c_st) AS BIGINT) AS t FROM st),
      |terms AS (
      | SELECT st.source, st.token, st.c_st, t_s, c_t, t,
      |  (CAST(c_st AS DOUBLE) / CAST(t_s AS DOUBLE)) *
      |    ln((CAST(c_st AS DOUBLE) * CAST(t AS DOUBLE)) /
      |       (CAST(t_s AS DOUBLE) * CAST(c_t AS DOUBLE))) AS term
      | FROM st JOIN src_tot USING (source) JOIN tok_tot USING (token)
      | CROSS JOIN tot)
      |SELECT source,
      | CAST(MIN(t_s) AS BIGINT) AS n_tokens,
      | CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types,
      | CAST(CAST(CAST(SUM(CAST(term AS DECIMAL(38,30))) AS DOUBLE)
      |   AS DECIMAL(24,12)) AS DOUBLE) AS kl_nats
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  /** Top TF-IDF terms per ingestion source: tf(source, token) weighted
    * by the smoothed inverse source frequency ln((S+1)/(df+1)) and cut
    * to the top [[TfidfTopK]] per source — "what is each source
    * actually about", the routing/tagging signal a mixture curator
    * reads next to [[klSourceDrift]]'s divergence score. Two
    * vocabulary-sized aggregations and one plain equi-join (NO
    * broadcast hint — the vocabulary grows with the corpus, the r14
    * convention), then a per-source top-k window (partitioned — never
    * global). Scores are doubles off exact integer counts with the
    * portable 12-decimal rounding; ties break on the token text.
    */
  def tfidfTopTerms(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tf = t.documents
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("source", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nSrc = tf.agg(countDistinct(col("source")).as("s"))
    val scored = tf
      .join(df, Seq("token"))
      .crossJoin(broadcast(nSrc))
      .withColumn("tfidf",
        (col("tf").cast("double") *
          log((col("s").cast("double") + 1.0) / (col("df").cast("double") + 1.0)))
          .cast(DecimalType(24, 12)).cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= TfidfTopK)
      .select(col("source"), col("rk").cast("long").as("rk"), col("token"),
        col("tf"), col("df"), col("tfidf"))
      .orderBy("source", "rk")
  }

  private val TfidfTopK = 5

  val tfidfTopTermsSql: String =
    s"""WITH toks AS (
       | SELECT source, unnest(string_split(text, ' ')) AS token
       | FROM documents),
       |tf AS (
       | SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
       | FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
       |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |ns AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS s FROM tf),
       |scored AS (
       | SELECT source, token, tf, df,
       |  CAST(CAST(CAST(tf AS DOUBLE) *
       |    ln((CAST(s AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
       |    AS DECIMAL(24,12)) AS DOUBLE) AS tfidf
       | FROM tf JOIN df USING (token) CROSS JOIN ns),
       |ranked AS (
       | SELECT source, token, tf, df, tfidf,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY tfidf DESC, token) AS BIGINT) AS rk
       | FROM scored)
       |SELECT source, rk, token, tf, df, tfidf
       |FROM ranked WHERE rk <= $TfidfTopK
       |ORDER BY source, rk""".stripMargin

  /** ln 2 as the shared literal both engines splice verbatim. */
  private val Ln2 = 0.6931471805599453

  /** Per-source Jensen–Shannon divergence from the corpus unigram
    * distribution — [[klSourceDrift]]'s SYMMETRIC, always-finite
    * sibling (KL blows up when a source misses corpus tokens weighted
    * heavily; JSD is bounded by ln 2, so sources are comparable on one
    * scale). The closed form needs NO source x vocabulary grid: with
    * p = source distribution, q = corpus, m = (p+q)/2, tokens ABSENT
    * from the source contribute exactly q·ln 2, so
    * JSD = ½Σ_present p·ln(2p/(p+q)) + ½[Σ_present q·ln(2q/(p+q)) +
    * ln2·(1 − Q_present)], and Q_present's numerator is an exact
    * integer sum of corpus counts over the source's own tokens. The
    * vocabulary-sized marginal attaches by a PLAIN equi-join (r14
    * convention: no broadcast hint on Heaps-law frames); both
    * corpus-sized term sums ride scale-30 decimals with one final
    * 12-dec rounding.
    */
  def jsSourceDivergence(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val px = col("c_st").cast("double") / col("t_s").cast("double")
    val qx = col("c_t").cast("double") / col("t").cast("double")
    sourceTokenCounts(t)
      .withColumn("term_p", px * log(lit(2.0) * px / (px + qx)))
      .withColumn("term_q", qx * log(lit(2.0) * qx / (px + qx)))
      .groupBy("source")
      .agg(
        first(col("t_s")).as("n_tokens"),
        first(col("t")).as("t"),
        countDistinct(col("token")).as("n_types"),
        sum(col("c_t").cast(graft.functions.Exact.d38)).as("c_pres"),
        sum(col("term_p").cast(DecimalType(38, 30))).cast("double").as("sum_p"),
        sum(col("term_q").cast(DecimalType(38, 30))).cast("double").as("sum_q"))
      .select(col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_types"),
        (lit(0.5) * col("sum_p") + lit(0.5) * (col("sum_q") +
          lit(Ln2) * (lit(1.0) -
            graft.functions.Exact.decToDouble(col("c_pres")) /
              col("t").cast("double"))))
          .cast(DecimalType(24, 12)).cast("double").as("jsd_nats"))
      .withColumn("jsd_norm", (col("jsd_nats") / lit(Ln2))
        .cast(DecimalType(24, 12)).cast("double"))
      .orderBy("source")
  }

  val jsSourceDivergenceSql: String = {
    val cPresD = graft.functions.Exact.decToDoubleSql("c_pres")
    s"""WITH toks AS (
       | SELECT source, unnest(string_split(text, ' ')) AS token
       | FROM documents),
       |st AS (
       | SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_st
       | FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
       |src_tot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s
       |            FROM st GROUP BY 1),
       |tok_tot AS (SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t
       |            FROM st GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c_st) AS BIGINT) AS t FROM st),
       |terms AS (
       | SELECT st.source, st.token, t_s, c_t, t,
       |  (CAST(c_st AS DOUBLE) / CAST(t_s AS DOUBLE)) *
       |   ln(2.0 * (CAST(c_st AS DOUBLE) / CAST(t_s AS DOUBLE)) /
       |      ((CAST(c_st AS DOUBLE) / CAST(t_s AS DOUBLE)) +
       |       (CAST(c_t AS DOUBLE) / CAST(t AS DOUBLE)))) AS term_p,
       |  (CAST(c_t AS DOUBLE) / CAST(t AS DOUBLE)) *
       |   ln(2.0 * (CAST(c_t AS DOUBLE) / CAST(t AS DOUBLE)) /
       |      ((CAST(c_st AS DOUBLE) / CAST(t_s AS DOUBLE)) +
       |       (CAST(c_t AS DOUBLE) / CAST(t AS DOUBLE)))) AS term_q
       | FROM st JOIN src_tot USING (source) JOIN tok_tot USING (token)
       | CROSS JOIN tot),
       |agg AS (
       | SELECT source, CAST(MIN(t_s) AS BIGINT) AS n_tokens,
       |  CAST(MIN(t) AS BIGINT) AS t,
       |  CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types,
       |  CAST(SUM(c_t) AS HUGEINT) AS c_pres,
       |  CAST(SUM(CAST(term_p AS DECIMAL(38,30))) AS DOUBLE) AS sum_p,
       |  CAST(SUM(CAST(term_q AS DECIMAL(38,30))) AS DOUBLE) AS sum_q
       | FROM terms GROUP BY 1),
       |out AS (
       | SELECT source, n_tokens, n_types,
       |  CAST(CAST(0.5 * sum_p + 0.5 * (sum_q +
       |    $Ln2 * (1.0 - $cPresD / CAST(t AS DOUBLE)))
       |    AS DECIMAL(24,12)) AS DOUBLE) AS jsd_nats
       | FROM agg)
       |SELECT source, n_tokens, n_types, jsd_nats,
       | CAST(CAST(jsd_nats / $Ln2 AS DECIMAL(24,12)) AS DOUBLE) AS jsd_norm
       |FROM out ORDER BY source""".stripMargin
  }
}
