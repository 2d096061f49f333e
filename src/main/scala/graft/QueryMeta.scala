package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry metadata (r10 verdict optional ask #7), kept DERIVED or
  * SPEC-CHECKED rather than hand-kept so it cannot drift:
  *
  *  - [[family]] comes from which Oracle* module registered the query
  *    (plus the log-pipeline names in [[SparkEntry]]), not from a
  *    parallel hand-maintained table.
  *  - [[BenchStages]] is the ONE definition of the bench's `_stage_*`
  *    rows and the StageCache keys each build populates; QueryMetaSpec
  *    empirically re-derives "which stages does the registry actually
  *    consume" by constructing every query against a cold cache and
  *    asserts the two sets match in both directions — the "any new
  *    cached stage must get a `_stage_*` bench row" honesty rule as a
  *    failing test instead of a convention.
  */
object QueryMeta {

  /** query name → family, for bench grouping / docs tooling. */
  lazy val family: Map[String, String] = {
    val ext = ExtQueries.families.flatMap { case (fam, qs, _) =>
      qs.keysIterator.map(_ -> fam)
    }.toMap
    val logs = (SparkEntry.queries.keySet -- ext.keySet).iterator
      .map(_ -> "logs").toMap
    ext ++ logs
  }
}

/** The bench's one-time materialized-stage rows: name → builder, plus
  * the StageCache keys each build populates. [[Bench]] times these rows
  * explicitly in full-suite runs (the min-of-retries policy would
  * otherwise silently erase one-time build costs); QueryMetaSpec holds
  * them bijective with the stages the registry consumes.
  */
object BenchStages {

  /** Ordered: the composed stages (IVF-PQ, PQ re-rank) come after the
    * trainings they ride, so each row measures only its own increment.
    */
  val rows: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "_stage_simhash_pairs" ->
      ((s, d) => graft.engine.ext.Dedup.simhashPairs(s, d)),
    "_stage_simhash_clusters" ->
      ((s, d) => graft.engine.ext.Dedup.simhashClusters(s, d)),
    "_stage_ngram_pairs_t0" ->
      ((s, d) => graft.engine.ext.Dedup.ngramPairsT0(s, d)),
    "_stage_minhash_pairs" ->
      ((s, d) => graft.engine.ext.Dedup.minhashPairs(s, d)),
    "_stage_spans" ->
      ((s, d) => graft.engine.ext.Dedup.spansT(s, d)),
    "_stage_bruteforce_topk" ->
      ((s, d) => graft.engine.ext.Similarity.bruteForceTopK(s, d)),
    "_stage_ivf_assigned" ->
      ((s, d) => graft.engine.ext.Similarity.ivfAssigned(s, d)),
    "_stage_kmeans" ->
      ((s, d) => graft.engine.ext.Similarity.kmeansCells(s, d)),
    "_stage_pq" ->
      ((s, d) => graft.engine.ext.Similarity.pqCodes(s, d)),
    "_stage_srp_topk" ->
      ((s, d) => graft.engine.ext.Similarity.srpTopK(s, d)),
    "_stage_ivfpq_topk" ->
      ((s, d) => graft.engine.ext.Similarity.ivfPqTopK(s, d)),
    "_stage_pq_rerank_topk" ->
      ((s, d) => graft.engine.ext.Similarity.pqRerankTopK(s, d)),
    "_stage_exact_audit" ->
      ((s, d) => graft.engine.ext.Sessionize.exactAudit(s, d)),
    "_stage_quality" ->
      ((s, d) => graft.engine.ext.Corpus.qualitySignals(s, d)),
    "_stage_doc_tf" ->
      ((s, d) => graft.engine.ext.TextAnalysis.docTermTf(s, d)),
    "_stage_chunk_tf" ->
      ((s, d) => graft.engine.ext.TextAnalysis.chunkTfT(s, d)),
    "_stage_mysql_parsed" ->
      ((s, d) => SparkEntry.mysqlParsedStage(s, d)),
    "_stage_mongo_scan" ->
      ((s, d) => SparkEntry.mongoScanStage(s, d)))

  /** bench row → the StageCache keys its build populates (two-key rows
    * are the atomic two-key trainings: assignment + centroids/codebook).
    */
  val cacheKeys: Map[String, Set[String]] = Map(
    "_stage_simhash_pairs" -> Set("dedup.simhash_pairs"),
    "_stage_simhash_clusters" -> Set("dedup.simhash_clusters"),
    "_stage_ngram_pairs_t0" -> Set("dedup.ngram_pairs_t0"),
    "_stage_minhash_pairs" -> Set("dedup.minhash_pairs"),
    "_stage_spans" -> Set("dedup.spans"),
    "_stage_bruteforce_topk" -> Set("ann.bruteforce_topk"),
    "_stage_ivf_assigned" -> Set("ann.ivf_assigned"),
    "_stage_kmeans" -> Set("ann.kmeans_assigned", "ann.kmeans_centroids"),
    "_stage_pq" -> Set("ann.pq_assigned", "ann.pq_codebook"),
    "_stage_srp_topk" -> Set("ann.srp_topk"),
    "_stage_ivfpq_topk" -> Set("ann.ivfpq_topk"),
    "_stage_pq_rerank_topk" -> Set("ann.pq_rerank_topk"),
    "_stage_exact_audit" -> Set("events.exact_audit"),
    "_stage_quality" -> Set("corpus.quality"),
    "_stage_doc_tf" -> Set("text.doc_tf"),
    "_stage_chunk_tf" -> Set("text.chunk_tf"),
    "_stage_mysql_parsed" -> Set("logs.mysql_parsed"),
    "_stage_mongo_scan" -> Set("logs.mongo_scan"))

  /** bench row → the earlier rows whose pins its cold build also makes.
    * A subset bench that names such a row without them builds them
    * untimed first, so the row still times only its own increment. */
  val rides: Map[String, Seq[String]] = Map(
    "_stage_simhash_clusters" -> Seq("_stage_simhash_pairs"),
    "_stage_ivfpq_topk" -> Seq("_stage_kmeans", "_stage_pq"),
    "_stage_pq_rerank_topk" -> Seq("_stage_pq")).withDefaultValue(Nil)
}
