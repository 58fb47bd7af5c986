package graft

/** Registry of the session-memoized trained artifacts ([[SessionMemo]]
  * convention: deterministic training runs once per (session, dir) and
  * every family member reuses the model).
  *
  * Bench forces each entry BEFORE the measured query loop and times it
  * as a `_training:<name>` pseudo-row in BENCH_DETAIL — so per-operator
  * numbers are MARGINAL cost, stable under query-key insertions, instead
  * of charging a family's whole training to whichever member happens to
  * run first in name order (r14 attribution: pipeline_pretrain +5.2 s,
  * graph_personal_pagerank +2.3 s — pure first-toucher shifts).
  *
  * Each forcer calls the owner's shared accessor, whose body eagerly
  * pins (localCheckpoint / collected model state), so forcing ==
  * training. `TrainingSpec` fails, naming the query, when a registered
  * query computes a `SessionMemo` cell after these builders ran.
  */
object Training {

  val builders: Seq[(String, Tables => Unit)] = Seq(
    "basket_pairs" -> (t => { operators.Relational7.baskets(t); () }),
    "bpe_merges" -> (t => operators.Tokenizer.warmMerges(t)),
    "dedup_keep_best" -> (t => { operators.Dedup.keepBestShared(t); () }),
    "domain_filter" -> (t => { operators.Curation.domainFilterShared(t); () }),
    "graph_edges" -> (t => operators.Graph.warmEdges(t)),
    "graph_lpa" -> (t => { operators.Graph.lpaShared(t); () }),
    "graph_seed_bfs" -> (t => operators.Graph.warmSeedDistances(t)),
    "kmeans_cells" -> (t => operators.Similarity.warmKmeans(t)),
    "perplexity_gate" -> (t => { operators.Curation.perplexityGateShared(t); () }),
    "pq_codebook" -> (t => operators.Embeddings.warmPq(t)),
    "wordpiece_vocab" -> (t => { operators.TextAnalysis3.wordpieceShared(t); () }))
}
