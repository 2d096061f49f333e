package graft.engine.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over the
  * `documents` table: exact, n-gram Jaccard, SimHash and MinHash+LSH.
  *
  * Every near-dup variant is bucket-join shaped — candidates are generated
  * by joining on a deterministic blocking key (shared shingle, SimHash
  * band, MinHash band), never by an all-pairs cross join. That is THE
  * design constraint at 100 TB: cost is O(Σ bucket²) with bounded buckets
  * (frequency caps below), not O(N²).
  *
  * All similarity scores are exact integer arithmetic (parts-per-million,
  * BIGINT division; hashes from md5 hex) so outputs are bit-reproducible
  * across engines, partition counts and cluster layouts.
  */
object Dedup {

  // ------------------------------------------------------------ shingling

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Distinct word n-gram shingles from a MATERIALIZED token-array column;
    * empty when the doc has < n tokens (guarded — Spark's sequence() would
    * otherwise run DESCENDING for start > stop and produce phantom negative
    * indices).
    *
    * `toks` must be a projected column (not the `tokens(text)` expression
    * inline): higher-order functions are interpreted, so an inline
    * tokenization would be RE-EVALUATED by every `element_at` lambda call —
    * O(tokens²) regex splits per document, measured 15× slower at sf0.1.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Distinct (doc_id, shingle) rows, linear in tokens.
    *
    * Deliberately explodes shingle POSITIONS and builds each shingle from
    * the materialized token array on the other side of the Generate, rather
    * than `explode(shinglesFromTokens(...))`: InferFiltersFromGenerate
    * copies a Generate's child expression into a pushed-down
    * `size(child) > 0` filter, and an inlined whole-shingling expression
    * there costs two extra full evaluations per row (measured 15× at
    * sf0.1). A Generate boundary is something Catalyst never inlines
    * across, so this shape is robust to optimizer changes.
    */
  def shingleRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ",
          (0 until n).map(j => element_at(col("toks"), col("i") + j + 1)): _*)
          .as("shingle"))
      .distinct()

  /** 60-bit hash of a string via md5 (15 hex chars → BIGINT) — chosen over
    * xxhash64 because every engine has md5, making results portable, and
    * 60 bits keeps the value positive in signed 64-bit space.
    *
    * r15: computed by the native [[graft.engine.expr.NativeFunctions
    * .md5PrefixRun]] kernel — the VALUE is unchanged (oracles still
    * replay `('0x' || substring(md5(s), 1, 15))::BIGINT`), but the
    * hex-string + substring + conv allocation chain is gone; the churn
    * it generated, not the md5 arithmetic, dominated the shingle
    * candidate builds at sf10 (74.5 → ~31 s cold, measured).
    */
  def md5Hash60(c: Column): Column =
    graft.engine.expr.NativeFunctions.md5PrefixLong(c, 15)

  /** 48-bit md5 hash — used where the value is multiplied by small
    * constants (MinHash permutations): 48 bits × the largest multiplier
    * stays far below 2^63, so the arithmetic is overflow-free and
    * identical in any engine's checked BIGINT math (Spark silently wraps
    * on overflow; other engines raise — staying under the limit keeps
    * results portable). Same native md5-prefix expression as
    * [[md5Hash60]], same values as the conv chain it replaced.
    */
  def md5Hash48(c: Column): Column =
    graft.engine.expr.NativeFunctions.md5PrefixLong(c, 12)

  /** The standard `documents` table: (doc_id, text, ...). All operators
    * below are DataFrame-first — any (doc_id: Long, text: String) input
    * works; the (spark, dir) overloads read this testdata table.
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  // ------------------------------------------------------------ exact

  /** Exact dedup by content hash: one row per distinct text with the
    * canonical (minimum) doc_id and the duplicate count. The standard
    * sha2/groupBy shape — one shuffle on the hash, partial agg map-side.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_doc_id"))

  def exact(spark: SparkSession, dir: String): DataFrame =
    exact(documents(spark, dir))

  /** Bag-of-words dedup: documents with identical sorted distinct token
    * sets collapse together even when word order differs.
    */
  def bagOfWords(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(array_join(array_sort(array_distinct(tokens(col("text")))), " "))
        .as("bow_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_doc_id"))

  def bagOfWords(spark: SparkSession, dir: String): DataFrame =
    bagOfWords(documents(spark, dir))

  /** Incremental (CDC-style) dedup: classify each NEW-batch document
    * against an existing corpus snapshot without rehashing the corpus into
    * the batch — the shape a continuously-ingesting 100 TB pipeline runs
    * every increment. Statuses: `dup_of_corpus` (hash already in the
    * snapshot), `dup_in_batch` (first seen earlier in this batch),
    * `new`. `canonical_doc_id` is the id a downstream exact-dedup pass
    * would keep.
    *
    * One shuffle join batch⋈corpus on the content hash (corpus side is
    * pre-aggregated to one row per hash, so the join never fans out) plus
    * one hash-partitioned window inside the batch. The corpus/batch split
    * here is the deterministic `doc_id % 10` fixture convention; a real
    * deployment passes its snapshot table.
    */
  def incremental(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val hashed = (d: DataFrame) =>
      d.select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
    val corpusHashes = hashed(corpus)
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("corpus_canonical"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash"))
    hashed(batch)
      .withColumn("batch_min", min(col("doc_id")).over(w))
      .join(corpusHashes, Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"),
        when(col("corpus_canonical").isNotNull, "dup_of_corpus")
          .when(col("batch_min") < col("doc_id"), "dup_in_batch")
          .otherwise("new").as("status"),
        coalesce(col("corpus_canonical"), col("batch_min"))
          .as("canonical_doc_id"))
  }

  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    incremental(docs.filter(col("doc_id") % 10 < 8),
      docs.filter(col("doc_id") % 10 >= 8))
  }

  // ------------------------------------------------------------ n-gram Jaccard

  /** Near-dup pairs by exact n-gram Jaccard with shared-shingle blocking.
    *
    * (doc, shingle-HASH) is exploded once; candidate pairs are docs
    * sharing at least one shingle whose document frequency is ≤ dfCap
    * (high-frequency shingles generate quadratic bucket blowup and carry
    * no signal — [[ScaleKnobs.shingleDfCap]] is the derived default, the
    * oracle replays the same rule and the same hash). Exact Jaccard is
    * then computed from the shared-count and per-doc distinct shingle
    * counts; no second pass over the corpus.
    *
    * The blocking key is [[md5Hash60]] of the shingle, projected BEFORE
    * the first exchange (r15): every aggregation then hashes/compares
    * one primitive LONG instead of a 15-30-byte (salted: longer) string
    * — the distinct and bucket exchanges carry 16-byte rows, and the
    * aggregates stay in fast primitive-key codegen. Hash collisions
    * merge buckets for BOTH engines identically (the oracle hashes the
    * same way), so results stay value-exact by construction, not by
    * improbability.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String, n: Int,
                        dfCap: Int, minJaccardPpm: Long): DataFrame =
    ngramJaccardPairs(documents(spark, dir), n, dfCap, minJaccardPpm)

  /** Default-parameter registry form: filters the session-materialized
    * threshold-0 pair table ([[ngramPairsT0]]) to the default cutoff —
    * identical rows to `ngramJaccardPairs(docs)` (the threshold is the
    * pipeline's last predicate), built once per (session, dir) and
    * shared with [[thresholdHist]].
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramPairsT0(spark, dir)
      .filter(col("jaccard_ppm") >= 100000L)
      .select(col("doc_a"), col("doc_b"), col("shared_rare"),
        col("jaccard_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The blocked shingle-Jaccard pair pipeline with NO threshold (n=3,
    * dfCap derived — [[ScaleKnobs.shingleDfCap]]), materialized per
    * session — the shared base of [[ngramJaccardPairs]],
    * [[thresholdHist]] and [[minhashRecall]]'s truth side. UNSORTED
    * (r15): every consumer re-sorts or aggregates, so the stage itself
    * skips the full range-partition sort of the pair output the old
    * form paid at build time.
    */
  def ngramPairsT0(spark: SparkSession, dir: String): DataFrame =
    graft.engine.StageCache.materialized(spark, dir, "dedup.ngram_pairs_t0") {
      val nd = ScaleKnobs.documentCount(spark, dir)
      val cap = ScaleKnobs.shingleDfCap(nd)
      // The shingle-df census rides the build as observe() metrics
      // (r15 verdict ask #6): the bucket table this build aggregates is
      // exactly the (sh_h → df) table [[shingleAudit]] needs, so the
      // census costs one accumulator pass over rows the stage already
      // materializes instead of a second full explode+distinct scan of
      // the corpus (11 s at sf10 for a 1-row diagnostic). The
      // Observation is stashed per (session, dir); the audit harvests
      // it after ensuring the stage is built.
      val obs = org.apache.spark.sql.Observation()
      shingleCensus.put(censusKey(spark, dir), (obs, cap.toLong))
      sharedRareJaccard(shingleSets(documents(spark, dir), 3),
        cap, 0L, census = Some((obs, cap.toLong)))
    }

  /** (session identity, canonical dir) → the T0 build's census
    * Observation + the cap it was computed under. Entries are replaced
    * on every rebuild (StageCache.clear forces the next [[ngramPairsT0]]
    * call through the build thunk, which re-puts), so a stashed census
    * is always the one belonging to the live materialization.
    */
  private val shingleCensus =
    new java.util.concurrent.ConcurrentHashMap[
      String, (org.apache.spark.sql.Observation, Long)]()

  private def censusKey(spark: SparkSession, dir: String): String =
    s"${System.identityHashCode(spark)}|" +
      java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
                        dfCap: Int = 100, minJaccardPpm: Long = 100000L): DataFrame =
    sharedRareJaccard(shingleSets(docs, n), dfCap, minJaccardPpm)
      .select(col("doc_a"), col("doc_b"), col("shared_rare"),
        col("jaccard_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[ngramJaccardPairs]] over a pre-built (doc_id, shingle) table — lets
    * callers that need several shingle consumers (e.g. [[minhashRecall]])
    * materialize the explode once. Hashes the strings it is given and
    * rebuilds per-doc distinct hash SETS behind one map-side-combined
    * exchange (collect_set dedups in the partial aggregate), so the
    * result is identical to the from-docs form.
    */
  def ngramJaccardPairsFromShingles(sh: DataFrame, dfCap: Int,
                                    minJaccardPpm: Long): DataFrame =
    sharedRareJaccard(
      sh.select(col("doc_id"), md5Hash60(col("shingle")).as("sh_h"))
        .groupBy(col("doc_id")).agg(collect_set(col("sh_h")).as("shs")),
      dfCap, minJaccardPpm)
      .select(col("doc_a"), col("doc_b"), col("shared_rare"),
        col("jaccard_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** RAW (doc_id, 60-bit shingle hash) rows — [[shingleRows]] with the
    * string dropped at the explode, NOT per-doc distinct: for consumers
    * whose grain is coarser than the document ([[sourceOverlap]]'s
    * source-grain distinct subsumes the per-doc dedup, so paying it at
    * the scan would be wasted work there). Pair-candidate consumers use
    * [[shingleSets]] instead. The explode output is two longs per row.
    */
  private[ext] def shingleHashRows(docs: DataFrame, n: Int): DataFrame = {
    // ONE fused scan (r16): the native shingle_hashes kernel tokenizes,
    // windows and digests in place — the legacy form materialized the
    // token ARRAY per doc, then per position paid n element_at lambdas
    // + a concat_ws allocation + an md5 over the rebuilt string.
    // Value-identical by construction (same lower(), same ASCII-\s
    // tokens, same ' '-joined bytes into the same md5 prefix —
    // ShingleKernelSpec pins kernel vs legacy chain on adversarial
    // fixtures); docs with < n tokens yield an empty array, so the
    // explode drops them exactly like the legacy size() filter.
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"),
        graft.engine.expr.NativeFunctions
          .shingleHashes(col("text"), n, 15).as("shs"))
      .select(col("doc_id"), explode(col("shs")).as("sh_h"))
  }

  /** Per-document DISTINCT shingle-hash sets, deduped AT THE SCAN by the
    * native shingle_hash_set kernel (r16): a global
    * `distinct (doc_id, sh_h)` partitions by doc_id anyway, so in-doc
    * dedup yields the identical row set with ZERO exchanges — the
    * separate distinct shuffle the r15 pipeline paid is gone, and the
    * per-doc set size rides the array (`size(shs)` = the n_sh the old
    * shape recomputed with a groupBy + two joins). Measured on this
    * corpus the raw explode was already 99.9% distinct, so the
    * distinct's celebrated map-side combine was shipping nothing.
    */
  private[ext] def shingleSets(docs: DataFrame, n: Int): DataFrame = {
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"),
      graft.engine.expr.NativeFunctions
        .shingleHashSet(col("text"), n, 15).as("shs"))
      .filter(size(col("shs")) >= 1)
  }

  /** Bits of the packed doc key ([[sharedRareJaccard]]) reserved for the
    * per-doc distinct-shingle count: doc_id rides the high 42 bits,
    * n_sh the low 21. Bounds are enforced per DOCUMENT row (one branch
    * per doc, [[packDocKey]]), not assumed: a corpus with doc_id ≥ 2^42
    * (4.4e12 documents) or a single document with ≥ 2^21 (2.1M) distinct
    * shingles — a ~10 MB text — fails loudly with the offending values
    * rather than silently corrupting pair identities.
    */
  private val SizeBits = 21
  private val MaxNsh = (1L << SizeBits) - 1
  private val MaxDocId = (1L << (63 - SizeBits)) - 1

  private def packDocKey(docId: Column, nSh: Column): Column =
    when(docId.between(0L, MaxDocId) && nSh.between(1L, MaxNsh),
      shiftleft(docId, SizeBits) + nSh)
      .otherwise(raise_error(concat(
        lit("packed doc key out of range (need 0 <= doc_id < 2^42, "),
        lit("1 <= n_sh < 2^21): doc_id="), docId.cast("string"),
        lit(" n_sh="), nSh.cast("string"))))

  /** (doc_id, token position) packed into one long — [[packDocKey]]'s
    * layout with the low [[SizeBits]] bits holding a 0-based POSITION
    * (p = 0 is legal, unlike the ≥ 1 size field). Sorting packed values
    * sorts (doc_id, p) lexicographically — what [[spansOf]]'s occurrence
    * lists need — while the bucket exchange ships one long instead of a
    * two-field struct and the bucket arrays stay primitive.
    */
  private def packDocPos(docId: Column, p: Column): Column =
    when(docId.between(0L, MaxDocId) && p.between(0L, MaxNsh),
      shiftleft(docId, SizeBits) + p)
      .otherwise(raise_error(concat(
        lit("packed doc position out of range (need 0 <= doc_id < 2^42, "),
        lit("0 <= p < 2^21): doc_id="), docId.cast("string"),
        lit(" p="), p.cast("string"))))

  /** The shared-rare core over per-doc distinct (doc_id, shs) SETS:
    * df-capped shingle buckets → [[BucketPairs]] expansion → shared
    * counts → Jaccard vs per-doc sizes. UNSORTED — callers order.
    *
    * TWO exchanges total (r16; the r15 shape had five): the per-doc
    * size is PACKED into the low [[SizeBits]] bits of the doc key
    * ([[packDocKey]]) before the bucket exchange, so (a) the sizes
    * table, its exchange and the two pair-table re-shuffling joins that
    * attached n_a/n_b at the end all disappear — n_a/n_b are bit-field
    * reads on the aggregated pair row; (b) the bucket rows stay two
    * longs (the count hides in bits the doc_id wasn't using), so the
    * big exchange ships the same bytes as before; (c) grouping by the
    * packed key is grouping by doc (n_sh is a function of doc_id), and
    * array_sort orders packed keys exactly as doc_ids (high bits).
    */
  private def sharedRareJaccard(sets: DataFrame, dfCap: Int,
                                minJaccardPpm: Long,
                                census: Option[(org.apache.spark.sql.Observation, Long)] = None): DataFrame = {
    val packed = sets.select(
      packDocKey(col("doc_id"), size(col("shs")).cast("long")).as("pid"),
      explode(col("shs")).as("sh_h"))
    val buckets = BucketPairs.buckets(packed, Seq("sh_h"), col("pid"))
    // Census observe point: one row per DISTINCT shingle with df =
    // size(ms), seen before the df cap (DedupSpec pins that). Integer-
    // exact aggregates only, so the harvested census is bit-identical to
    // the standalone [[shingleAudit]] pipeline and the DuckDB oracle
    // replay.
    val observed = census match {
      case Some((obs, cap)) =>
        val docFreq = size(col("ms"))
        buckets.observe(obs,
          count(lit(1)).as("n_shingles"),
          (sum(when(docFreq >= 2, 1L).otherwise(0L)).as("n_buckets") +:
            max(docFreq.cast("long")).as("max_df") +:
            BucketPairs.capCensus(docFreq, cap)): _*)
      case None => buckets
    }
    val pairs = BucketPairs.pairs(observed, dfCap)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared_rare"))

    // n_a/n_b stay in the output (r15): the T0 stage row is the full
    // blocked-candidate fact table — Jaccard AND containment are just
    // formulas over (shared_rare, n_a, n_b), so dedup_containment reads
    // this stage instead of rebuilding the whole candidate pipeline
    // (its sf10 build was a second 37 s pass over the same explode).
    // They are bit-field reads of the packed keys (r16) — no joins.
    pairs
      .select(
        shiftrightunsigned(col("a"), SizeBits).as("doc_a"),
        shiftrightunsigned(col("b"), SizeBits).as("doc_b"),
        col("shared_rare"),
        col("a").bitwiseAND(lit(MaxNsh)).as("n_a"),
        col("b").bitwiseAND(lit(MaxNsh)).as("n_b"))
      .withColumn("jaccard_ppm",
        (col("shared_rare") * lit(1000000L)
          / (col("n_a") + col("n_b") - col("shared_rare"))).cast("long"))
      .filter(col("jaccard_ppm") >= minJaccardPpm)
  }

  /** THRESHOLD-SENSITIVITY histogram for near-dup dedup: the blocked
    * candidate pairs (threshold 0, same df-capped blocking) bucketed by
    * Jaccard decile. Reading this table is how a curator picks the
    * dedup threshold — a cliff between buckets means a robust cutoff, a
    * flat tail means the threshold is arbitrary and containment/SimHash
    * evidence should decide instead. Costs one run of the pair pipeline
    * (identical shape to [[ngramJaccardPairs]], no threshold filter)
    * plus a census-sized rollup.
    */
  def thresholdHist(spark: SparkSession, dir: String): DataFrame =
    thresholdHistFromPairs(ngramPairsT0(spark, dir))

  def thresholdHist(docs: DataFrame): DataFrame =
    thresholdHistFromPairs(ngramJaccardPairs(docs, 3, 100, 0L))

  def thresholdHistFromPairs(pairsT0: DataFrame): DataFrame =
    pairsT0
      .withColumn("bucket", expr("jaccard_ppm div 100000"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard_ppm")).as("min_ppm"),
        max(col("jaccard_ppm")).as("max_ppm"))
      .orderBy(col("bucket"))

  /** Winnow-fingerprint candidate CLUSTERS: documents sharing the
    * min-window-hash fingerprint ([[TextAnalysis.winnowFingerprint]]) —
    * a third dedup signal alongside shingle-Jaccard and SimHash, cheap
    * enough to run per-ingest (one projection + one groupBy on an
    * 8-byte key). Fingerprint collisions are CANDIDATES, not verdicts:
    * the cluster feeds the pairwise verifiers, which is why only the
    * multi-doc groups are emitted.
    */
  def winnowClusters(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowFingerprint(spark, dir)
      .groupBy(col("fingerprint_h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))
      .filter(col("n_docs") >= 2)
      .select(col("canonical_doc_id"), col("fingerprint_h"), col("n_docs"))
      .orderBy(col("canonical_doc_id"))

  /** Per-source duplication-rate rollup: the audit table a curation run
    * publishes after dedup — how much of each ingest source is redundant.
    *
    * Distinctness is counted over the sha2-256 content hash, not the text:
    * the count is identical (collisions are negligible by construction)
    * but the distinct-aggregation shuffle carries 32-byte hashes instead
    * of document bodies — the difference between shuffling 100 TB and
    * shuffling ~tens of GB. Two-phase distinct aggregate, one shuffle.
    */
  def dupStats(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), sha2(col("text"), 256).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dup_rows"),
        ((col("n_docs") - col("n_distinct")) * lit(1000000L) / col("n_docs"))
          .cast("long").as("dup_ppm"))
      .orderBy(col("source"))

  def dupStats(spark: SparkSession, dir: String): DataFrame =
    dupStats(documents(spark, dir))

  /** Partial-duplicate pairs by n-gram CONTAINMENT: shared / min(|A|,|B|).
    *
    * Jaccard misses asymmetric duplication — a paragraph quoted inside a
    * 10× longer page scores |A∩B|/|A∪B| ≈ 0.1 but containment ≈ 1.0. This
    * is the score LLM-corpus pipelines use to catch quotation/boilerplate
    * inclusion. Same single-shuffle blocking shape as
    * [[ngramJaccardPairs]]: shared-shingle buckets (df-capped), local pair
    * expansion, then two broadcast-size joins against per-doc shingle
    * counts — never an all-pairs join.
    */
  /** Registry form rides the threshold-0 stage (r15): the T0 fact table
    * already carries (shared_rare, n_a, n_b) under the identical
    * blocking (same derived cap, same hash), so containment is one
    * formula + threshold over the materialization — dedup_ngram_pairs
    * and dedup_containment now share ONE candidate build (the second
    * full pipeline was 37 s at sf10). The T0 threshold is 0, so no
    * containment-qualifying pair is lost: containment ≥ 0.4 implies
    * jaccard > 0.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    ngramPairsT0(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("shared_rare"),
        col("n_a"), col("n_b"),
        (col("shared_rare") * lit(1000000L) / least(col("n_a"), col("n_b")))
          .cast("long").as("containment_ppm"))
      .filter(col("containment_ppm") >= 400000L)
      .orderBy(col("doc_a"), col("doc_b"))

  def containmentPairs(docs: DataFrame, n: Int = 3,
                       dfCap: Int = 100, minContainPpm: Long = 400000L): DataFrame =
    // same packed-key blocking and [[BucketPairs]] expansion as
    // [[sharedRareJaccard]] (threshold 0 — containment > 0 implies
    // jaccard > 0, so no qualifying pair is lost); only the score
    // (shared / min size) differs
    sharedRareJaccard(shingleSets(docs, n), dfCap, 0L)
      .select(col("doc_a"), col("doc_b"), col("shared_rare"),
        col("n_a"), col("n_b"),
        (col("shared_rare") * lit(1000000L) / least(col("n_a"), col("n_b")))
          .cast("long").as("containment_ppm"))
      .filter(col("containment_ppm") >= minContainPpm)
      .orderBy(col("doc_a"), col("doc_b"))

  // ------------------------------------------------------- shared spans

  /** Exact shared-span detection ("substring dedup", the technique of
    * Lee et al. 2022, Deduplicating Training Data Makes Language Models
    * Better — re-expressed as dataflow instead of a suffix array):
    * positional n-token shingles are matched across documents, and a
    * run of consecutive matches along one (doc_a, doc_b, diagonal) is a
    * shared token span. Emits every MAXIMAL span of at least
    * `minSpanTokens` tokens with both start positions — the span-level
    * provenance that whole-document near-dup (Jaccard / SimHash /
    * MinHash over shingle SETS) cannot see: a 100-token quote inside two
    * otherwise-unrelated documents scores near zero Jaccard but is
    * exactly one long diagonal run here.
    *
    * Scale shape: positional shingling is linear in tokens behind the
    * same Generate boundary as [[shingleRows]]; candidate generation is
    * the df-capped fingerprint bucket join (occurrence lists are capped
    * at `dfCap`, so boilerplate phrases never go quadratic — a run
    * passing through a capped shingle splits into sub-runs, which only
    * under-reports boilerplate spans); run detection is gaps-and-islands:
    * ONE exchange on (doc_a, doc_b, diag) that the island row_number and
    * the span aggregation share (the groupBy key is a superset of the
    * window partition key, so Catalyst reuses the partitioning).
    */
  def substringSpans(spark: SparkSession, dir: String): DataFrame =
    spansT(spark, dir)
      .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))

  def substringSpans(docs: DataFrame, n: Int = 3, dfCap: Int = 100,
                     minSpanTokens: Int = 10): DataFrame =
    spansOf(docs, n, dfCap, minSpanTokens)
      .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))

  /** Default-parameter span table, materialized once per (session, dir)
    * — three consumers (the span listing, the coverage audit, the
    * removal pass) ride one build ([[graft.engine.StageCache]]).
    */
  def spansT(spark: SparkSession, dir: String): DataFrame =
    graft.engine.StageCache.materialized(spark, dir, "dedup.spans") {
      spansOf(documents(spark, dir), 3,
        ScaleKnobs.shingleDfCap(ScaleKnobs.documentCount(spark, dir)), 10)
    }

  /** [[substringSpans]] without the presentation sort — the shared plan
    * [[spanCoverage]] builds on. */
  private def spansOf(docs: DataFrame, n: Int, dfCap: Int,
                      minSpanTokens: Int): DataFrame = {
    // positional shingle fingerprints: (doc_id, p, md5(shingle at p)) —
    // NOT distinct: every occurrence keeps its position. fp is the
    // 60-bit md5 prefix; since r16 the whole (tokenize, window, digest)
    // scan is the fused shingle_hashes kernel — posexplode supplies the
    // SAME 0-based position the explode(sequence(...)) form produced,
    // and a < n-token doc's empty array drops it exactly like the old
    // size() filter. The oracle replays the same prefix value.
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    val sh = docs.select(col("doc_id"),
        posexplode(graft.engine.expr.NativeFunctions
          .shingleHashes(col("text"), n, 15)).as(Seq("p", "fp")))

    // df-capped occurrence buckets → cross-document occurrence pairs
    // ([[BucketPairs]]). The occurrence (doc_id, p) rides ONE packed
    // long ([[packDocPos]]): the fp exchange ships two longs instead of
    // a struct row, the bucket arrays stay primitive (sorting packed
    // longs IS the (doc_id, p) sort — doc_id holds the high bits), and
    // the cross-document filter/unpack are shifts on the pair row.
    val occ = sh.select(
      packDocPos(col("doc_id"), col("p").cast("long")).as("dp"), col("fp"))
    val pairs = BucketPairs.pairs(
        BucketPairs.buckets(occ, Seq("fp"), col("dp")), dfCap)
      .filter(shiftrightunsigned(col("a"), SizeBits) <
        shiftrightunsigned(col("b"), SizeBits))
      .select(shiftrightunsigned(col("a"), SizeBits).as("doc_a"),
        col("a").bitwiseAND(lit(MaxNsh)).cast("int").as("pa"),
        shiftrightunsigned(col("b"), SizeBits).as("doc_b"),
        col("b").bitwiseAND(lit(MaxNsh)).cast("int").as("pb"))

    // gaps-and-islands on the match diagonal: consecutive pa values on
    // one (doc_a, doc_b, pa-pb) diagonal share (pa - row_number)
    val wi = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pa"))
    pairs
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(wi))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("cnt"), min(col("pa")).as("a_start"))
      .filter(col("cnt") + lit(n - 1) >= minSpanTokens)
      .select(col("doc_a"), col("doc_b"),
        col("a_start").cast("long").as("a_start"),
        (col("a_start") - col("diag")).cast("long").as("b_start"),
        (col("cnt") + lit(n - 1)).cast("long").as("span_tokens"))
  }

  /** Per-document duplicated-token mass: the union of this document's
    * shared spans (from [[substringSpans]], both sides), merged by an
    * interval sweep, as covered tokens and exact ppm of the document —
    * the decision input for substring-removal ("drop documents that are
    * mostly boilerplate", "cut the duplicated spans out of the rest").
    *
    * The sweep is one window pass per document: running max of interval
    * ends splits chain-overlapping intervals into islands (an island's
    * union is contiguous, so its coverage is max(end) − min(start));
    * both windows and both aggregations share the doc_id exchange.
    */
  def spanCoverage(spark: SparkSession, dir: String): DataFrame =
    spanCoverageFromSpans(documents(spark, dir), spansT(spark, dir))

  def spanCoverage(docs: DataFrame, n: Int = 3, dfCap: Int = 100,
                   minSpanTokens: Int = 10): DataFrame =
    spanCoverageFromSpans(docs, spansOf(docs, n, dfCap, minSpanTokens))

  def spanCoverageFromSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val iv = spans.select(col("doc_a").as("doc_id"), col("a_start").as("s"),
        (col("a_start") + col("span_tokens")).as("e"))
      .union(spans.select(col("doc_b").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("span_tokens")).as("e")))
      .distinct()
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val wPrev = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wCum = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val perDoc = iv
      .withColumn("pmax", max(col("e")).over(wPrev))
      .withColumn("flag",
        when(col("pmax").isNull || col("s") >= col("pmax"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("flag")).over(wCum))
      .groupBy(col("doc_id"), col("isl"))
      .agg((max(col("e")) - min(col("s"))).as("covered"))
      .groupBy(col("doc_id"))
      .agg(sum(col("covered")).as("covered_tokens"),
        count(lit(1)).as("n_spans"))
    val ntok = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    perDoc.join(ntok, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("covered_tokens"),
        col("n_spans"),
        expr("covered_tokens * 1000000 div n_tokens").as("dup_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Exact 13-gram contamination firewall (the GPT-3 appendix-C rule as
    * dataflow, complementing [[corpus_contamination]]'s rare-shingle
    * heuristic): a held-out document is contaminated if ANY of its
    * 13-grams appears anywhere in the training split. Per bench doc:
    * 13-gram count, hit count, hit ppm, verdict. Only bench docs long
    * enough to have a 13-gram appear (shorter docs can't trip this rule
    * by definition).
    *
    * Scale shape: the training side collapses to a DISTINCT shingle SET
    * before the join (set membership, not postings — a boilerplate
    * 13-gram in a million training docs is still ONE row), the join key
    * is the fixed-width md5 of the shingle (32-byte shuffle keys, never
    * the strings), and the probe is a left-semi join — no fan-out at
    * any corpus size.
    */
  def firewall13(spark: SparkSession, dir: String): DataFrame =
    firewall13(documents(spark, dir))

  def firewall13(docs: DataFrame, n: Int = 13): DataFrame = {
    // r16: the fused shingle kernel + the family's 60-bit md5-prefix
    // identity (was md5 of the rebuilt shingle STRING as a 32-char hex
    // key — the same allocation chain and string-keyed exchange the T0
    // stage retired in r15). Distinctness is per-hash on BOTH sides of
    // the oracle gate, so results stay value-exact by construction;
    // the set-membership join now carries 8-byte keys.
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    val hs = docs.select(col("doc_id"),
      explode(array_distinct(graft.engine.expr.NativeFunctions
        .shingleHashes(col("text"), n, 15))).as("h"))
    val bench = hs.filter(col("doc_id") % 17 === 0)
    val trainSet = hs.filter(col("doc_id") % 17 =!= 0)
      .select(col("h")).distinct()
    val totals = bench.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_13grams"))
    val hits = bench.join(trainSet, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_13grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("hit_ppm", expr("n_hits * 1000000 div n_13grams"))
      .withColumn("contaminated", col("n_hits") > 0L)
      .orderBy(col("doc_id"))
  }

  /** Substring REMOVAL (the cleaning step downstream of
    * [[substringSpans]], Lee et al. 2022 §4 as dataflow): cut every
    * merged shared-span interval out of every document and emit the
    * surviving token stream's census — kept/removed counts plus an md5
    * fingerprint of the cleaned text, so the oracle checks the actual
    * reconstruction, not just the arithmetic. Documents with no shared
    * spans pass through whole (left join, null interval set).
    *
    * Scale shape: rides the df-capped span build and [[spanCoverage]]'s
    * per-doc interval merge; the cut itself is a per-row higher-order
    * filter over (token, position) — a codegen-free but
    * constant-per-token projection, no shuffle beyond the span build's.
    */
  def spanRemoval(spark: SparkSession, dir: String): DataFrame =
    spanRemovalFromSpans(documents(spark, dir), spansT(spark, dir))

  def spanRemoval(docs: DataFrame, n: Int = 3, dfCap: Int = 100,
                  minSpanTokens: Int = 10): DataFrame =
    spanRemovalFromSpans(docs, spansOf(docs, n, dfCap, minSpanTokens))

  def spanRemovalFromSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val iv = spans.select(col("doc_a").as("doc_id"), col("a_start").as("s"),
        (col("a_start") + col("span_tokens")).as("e"))
      .union(spans.select(col("doc_b").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("span_tokens")).as("e")))
      .distinct()
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val wPrev = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wCum = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val merged = iv
      .withColumn("pmax", max(col("e")).over(wPrev))
      .withColumn("flag",
        when(col("pmax").isNull || col("s") >= col("pmax"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("flag")).over(wCum))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(merged, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("ivs").isNull, col("toks"))
          .otherwise(filter(col("toks"), (_, i) =>
            !exists(col("ivs"), v =>
              i >= v.getField("s") && i < v.getField("e")))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("removed_tokens"),
        md5(concat_ws(" ", col("kept"))).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ SimHash

  /** 60-bit SimHash per document from the token multiset: each token
    * votes ±1 on each bit of its md5-derived hash; bit b of the signature
    * is 1 when the vote sum is positive. Linear in tokens × 60, fully
    * integer — the standard near-dup fingerprint at crawl scale.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhash(documents(spark, dir))

  /** The historical 60-bit single-BIGINT signature — the default 4 × 15
    * layout of [[simhashSig]] recombined (bit b of the long = bit
    * b mod 15 of band b div 15 — bit-identical to the pre-r12 layout;
    * the oracle gate proves it every round). For the > 60-bit regime use
    * [[simhashSig]] directly — a wider signature cannot fit one signed
    * long, which is exactly why the width was baked in before r12.
    */
  def simhash(docs: DataFrame): DataFrame =
    simhashSig(docs, 4, 15) // the 60-bit EXPORT FORMAT is pinned, not derived
      .select(col("doc_id"),
        (0 until 4).map(b =>
          shiftleft(element_at(col("sig"), b + 1), b * 15)).reduce(_ + _)
          .as("simhash"))
      .orderBy(col("doc_id"))

  /** Validate a (bands, bitsPerBand) signature geometry — the r11 verdict
    * ask #3: the split is a BUILD-TIME parameter with explicit bounds,
    * not a baked-in constant.
    * Each band must fit a signed long; two md5 halves supply up to 120
    * hash bits per token, which covers the ~4M-doc occupancy boundary the
    * knob audit names (n/2^bits ≤ 128 holds to n = 2^37 at 4 × 30).
    */
  private def validateSigGeometry(bands: Int, bitsPerBand: Int): Unit =
    require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 60 &&
      bands * bitsPerBand <= 120,
      s"signature geometry must satisfy 1 <= bitsPerBand <= 60 and " +
        s"bands * bitsPerBand <= 120 (two md5 halves); got $bands x $bitsPerBand")

  /** Width-parameterized SimHash: per-band signature ARRAY (element b =
    * that band's `bitsPerBand` vote bits), so the total width is no
    * longer capped by one signed long. Each token votes ±1 on every bit
    * of its md5-derived hash (two 60-bit md5 halves supply up to 120
    * bits); bit j of band b is 1 when the vote sum of global bit
    * b·bitsPerBand + j is positive. Linear in tokens × width, fully
    * integer.
    *
    * THE WIDTH IS SIZED WITH THE CORPUS BY DEFAULT (r13): `bitsPerBand
    * = 0` (the default) derives [[ScaleKnobs.sigBitsPerBand]] from the
    * document count — band occupancy stays ≤ 2 instead of the pinned
    * 15-bit band going n²/2¹⁵ past ~32k docs (the r12 sf10 study
    * measured the sibling pHash default at 15.1×/decade). Pass
    * bitsPerBand > 0 to pin a geometry; signatures at different
    * geometries are incomparable, so a width change is an index
    * REBUILD. NOTE: on this DataFrame overload the sentinel runs one
    * `docs.count()` action AT PLAN-CONSTRUCTION TIME to derive (the
    * `(spark, dir)` wrappers use the memoized
    * [[ScaleKnobs.documentCount]] instead — same rule, no extra job).
    * Callers composing lazy pipelines over expensive inputs should pass
    * `nDocs` (a corpus count they already hold) — plan construction is
    * then action-free and the derivation rule is applied to the given
    * count (r13 ADVICE: a repeated-count hot path is otherwise one full
    * upstream scan per call).
    */
  def simhashSig(docs: DataFrame, bands: Int = 4,
                 bitsPerBand: Int = 0, nDocs: Long = -1L): DataFrame = {
    val bpb =
      if (bitsPerBand != 0) bitsPerBand
      else ScaleKnobs.sigBitsPerBand(if (nDocs >= 0L) nDocs else docs.count())
    validateSigGeometry(bands, bpb)
    simhashSigAt(docs, bands, bpb)
  }

  private def simhashSigAt(docs: DataFrame, bands: Int,
                           bitsPerBand: Int): DataFrame = {
    // The WHOLE signature in one fused scan, NO shuffle (r16): the
    // native simhash_sig kernel tokenizes, digests each token ONCE
    // (both 60-bit halves read from one digest — the r15 column form
    // ran the md5 twice per token), accumulates the ±1 votes locally
    // and band-packs — the signature build stops being a corpus-wide
    // token explode + a 1+total-column aggregate exchange and becomes a
    // doc-grain projection. Value-identical by construction (same
    // tokens, same md5 slices, same 2·ones > n vote and 1L<<j packing —
    // ShingleKernelSpec pins kernel vs the legacy aggregate); the
    // isNotNull filter reproduces the legacy explode's behavior of
    // emitting NO row for zero-token docs.
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"),
        graft.engine.expr.NativeFunctions
          .simhashSig(col("text"), bands, bitsPerBand).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** Band-blocked Hamming pair generation over a per-band signature
    * array (doc_id, sig): bucket on each band's exact value, generate
    * pairs locally per bucket, keep pairs within `maxHamming` total
    * bits. Shared by text SimHash and media pHash at ANY geometry.
    *
    * ONE chunk-packed shape at every geometry (r13): consecutive bands
    * pack into ⌈bands / ⌊60/bits⌋⌉ signed-long CHUNKS (one chunk = the
    * historical single-BIGINT layout for any total ≤ 60 bits, so the
    * committed 4 × 15 artifacts replay bit-for-bit), banding reads a
    * CASE-selected shift+mask of its chunk, and the pair distance is
    * Σ per-chunk bit_count(xor) — plain codegen'd expressions on every
    * candidate pair. The former > 60-bit path carried the raw ARRAY
    * into the buckets and computed the distance with
    * `aggregate(zip_with(...))` — higher-order functions are
    * CodegenFallback, so every candidate pair paid an INTERPRETED
    * lambda eval (the corpus_clean lesson at pair scale: the r13 sf10
    * corpus holds ~140M family-driven candidates at the derived 4 × 18,
    * each a fallback eval). Chunks also shuffle smaller than arrays
    * (no per-element headers).
    */
  private[graft] def bandedHammingPairs(sig: DataFrame, bands: Int,
                                        bitsPerBand: Int,
                                        maxHamming: Int,
                                        bucketCap: Long = Long.MaxValue): DataFrame = {
    val perChunk = math.max(1, 60 / bitsPerBand)
    val nChunks = (bands + perChunk - 1) / perChunk
    val mask = (1L << bitsPerBand) - 1
    val chunkNames = (0 until nChunks).map(c => s"s$c")
    def chunk(c: Int): Column =
      (c * perChunk until math.min(bands, (c + 1) * perChunk))
        .map(b => shiftleft(element_at(col("sig"), b + 1),
          (b - c * perChunk) * bitsPerBand))
        .reduce(_ + _)
    val packed = sig.select(col("doc_id") +:
      (0 until nChunks).map(c => chunk(c).as(s"s$c")): _*)
    // band b lives in chunk b / perChunk at offset (b % perChunk)·bits;
    // the chunk index is data-dependent (band comes from the explode),
    // so a CASE over the ≤ ⌈120/60⌉ = 2 chunks selects it — constant
    // code size, stays in whole-stage codegen.
    val bandVal = expr(
      s"CASE cast(band div $perChunk as int) " +
        (0 until nChunks).map(c =>
          s"WHEN $c THEN shiftright(s$c, " +
            s"cast(band % $perChunk as int) * $bitsPerBand)").mkString(" ") +
        " END").bitwiseAND(lit(mask))
    val bandRows = packed
      .select((col("doc_id") +: chunkNames.map(col)) :+
        explode(sequence(lit(0), lit(bands - 1))).as("band"): _*)
      .withColumn("band_val", bandVal)
    // bucketCap (r14, [[ScaleKnobs.hammingBucketCap]]): a bucket past
    // the cap is a real duplicate family; [[bucketAudit]] is the census
    // that reports them. The cap clears every measured bucket at ≤ sf1,
    // so committed artifacts replay unchanged; the DuckDB oracles replay
    // the same rule.
    val buckets = BucketPairs.buckets(bandRows, Seq("band", "band_val"),
      struct(col("doc_id") +: chunkNames.map(col): _*))
    def hamming(a: String, b: String): Column =
      chunkNames.map(n =>
        bit_count(col(s"$a$n").bitwiseXOR(col(s"$b$n"))))
        .reduce(_ + _).as("hamming")
    val pairs = BucketPairs.pairs(buckets, bucketCap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming("a.", "b."))
    // threshold BEFORE the distinct: the dedup shuffle then carries only
    // matching pairs (small), not every candidate (~140M family-driven
    // rows at sf10) — Catalyst can push a grouping-column predicate
    // below an Aggregate, but stating the intended order costs nothing
    // and never depends on a rule firing
    pairs
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-dup pairs: band-blocked (4 bands at the corpus-derived
    * band width — [[ScaleKnobs.sigBitsPerBand]], 15 bits through 65k
    * docs, +1 bit per corpus doubling after), then exact Hamming
    * distance via bit_count(xor). Deriving the geometry at build time
    * (r13) is what keeps candidate work linear: a pinned 15-bit band
    * holds n/2¹⁵ random collisions per bucket, measured 15.1×/decade on
    * the sibling pHash family at sf10. The match threshold derives with
    * the width ([[ScaleKnobs.sigMaxHamming]] — the historical 8-of-60
    * differing-bit FRACTION, so a wider rebuild grades the same
    * similarity, exactly 8 at the default geometry). Pass explicit
    * values to pin either knob; signatures at different geometries are
    * incomparable, so a width change is an index REBUILD, exactly like
    * retraining IVF cells.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.engine.StageCache.materialized(spark, dir, "dedup.simhash_pairs") {
      val n = ScaleKnobs.documentCount(spark, dir)
      simhashPairs(documents(spark, dir),
        bitsPerBand = ScaleKnobs.sigBitsPerBand(n), nDocs = n,
        bucketCap = ScaleKnobs.hammingBucketCap(n))
    }

  /** `maxHamming = -1` (default) = derive the fraction-preserving
    * threshold from the geometry in effect; `bitsPerBand = 0` (default)
    * = derive the band width from the corpus count (costs one
    * `docs.count()` plan-construction action unless `nDocs` is passed —
    * see [[simhashSig]]). `bucketCap` defaults to UNCAPPED on this
    * DataFrame overload — the [[ScaleKnobs.hammingBucketCap]] family cap
    * is derived only in the (spark, dir) registry wrapper, matching the
    * [[minhashPairs]] convention, so fixture specs exercise the full
    * build and pinned-geometry plan construction stays action-free
    * (r14 ADVICE: the derived-cap default here forced a count() even
    * when every other knob was pinned).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = -1, bands: Int = 4,
                   bitsPerBand: Int = 0, nDocs: Long = -1L,
                   bucketCap: Long = Long.MaxValue): DataFrame = {
    lazy val n = if (nDocs >= 0L) nDocs else docs.count()
    val bpb =
      if (bitsPerBand != 0) bitsPerBand
      else ScaleKnobs.sigBitsPerBand(n)
    val maxH =
      if (maxHamming < 0) ScaleKnobs.sigMaxHamming(bands, bpb)
      else maxHamming
    bandedHammingPairs(simhashSig(docs, bands, bpb), bands, bpb, maxH,
      bucketCap)
  }

  /** Band-bucket occupancy census at the derived SimHash geometry — the
    * [[srpOccupancy]] analog for the Hamming LSH index, and the audit
    * row for [[ScaleKnobs.hammingBucketCap]]: per band, how many
    * buckets exist, how many hold candidates (≥ 2 members), the largest
    * bucket, and how many buckets the family cap excludes from pair
    * generation ([[bandedHammingPairs]]). `n_over_cap > 0` is the
    * signal that a duplicate family outgrew the near-dup pair path and
    * its mass is being routed to exact fingerprint dedup — the operator
    * an engineer runs when pair counts look lower than expected at a
    * new scale.
    *
    * Scale shape: one projection (the band rows) into a two-level
    * partial-agg rollup — (band, value) grain then band grain; output
    * is `bands` rows regardless of corpus size.
    */
  def bucketAudit(spark: SparkSession, dir: String): DataFrame = {
    val n = ScaleKnobs.documentCount(spark, dir)
    bucketAudit(documents(spark, dir), nDocs = n)
  }

  def bucketAudit(docs: DataFrame, bands: Int = 4,
                  nDocs: Long = -1L): DataFrame = {
    val n = if (nDocs >= 0L) nDocs else docs.count()
    val bpb = ScaleKnobs.sigBitsPerBand(n)
    val cap = ScaleKnobs.hammingBucketCap(n)
    simhashSig(docs, bands, bpb)
      .select(posexplode(col("sig")).as(Seq("band", "bv")))
      .groupBy(col("band"), col("bv")).agg(count(lit(1)).as("s"))
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("s") >= 2, 1L).otherwise(0L)).as("n_multi"),
        max(col("s")).as("max_bucket"),
        sum(when(col("s") > cap, 1L).otherwise(0L)).as("n_over_cap"))
      .select(col("band"), col("n_buckets"), col("n_multi"),
        col("max_bucket"), col("n_over_cap"), lit(cap).as("bucket_cap"))
      .orderBy(col("band"))
  }

  /** Shingle document-frequency census — the audit row for
    * [[ScaleKnobs.shingleDfCap]], mirroring [[bucketAudit]] for the
    * Hamming band caps: how many distinct shingles exist, how many are
    * candidate buckets (df ≥ 2), the largest df, the derived cap, and
    * what the cap excludes — both as buckets and as C(df, 2) pair mass
    * (the quadratic work a capped bucket would have cost). `n_over_cap
    * > 0` says boilerplate phrases outgrew the near-dup pair path at
    * this corpus size; their mass belongs to [[exact]] /
    * [[substringSpans]]-style handling, not to pair expansion. One
    * projection + two-level rollup; one output row.
    */
  /** Registry form harvests the census the [[ngramPairsT0]] build
    * already observed (r15 verdict ask #6) instead of re-running the
    * explode+distinct+rollup over the whole corpus: ensure the stage is
    * materialized (a no-op when warm), then turn the Observation's
    * completed metrics into the audit's 1-row table — row cost is the
    * stage lookup, not a second corpus scan. Falls back to the
    * standalone pipeline when no in-session census exists (durable
    * stage cache short-circuiting the build across JVMs) or when it does
    * not arrive within [[ObservationWait]]. Values are
    * bit-identical on both paths — same distinct (doc_id, sh_h) grain,
    * same derived cap, integer aggregates only — which the oracle's
    * from-scratch DuckDB replay verifies every round.
    */
  def shingleAudit(spark: SparkSession, dir: String): DataFrame = {
    ngramPairsT0(spark, dir)
    def standalone: DataFrame = shingleAudit(documents(spark, dir),
      nDocs = ScaleKnobs.documentCount(spark, dir))
    Option(shingleCensus.get(censusKey(spark, dir))) match {
      case Some((obs, cap)) =>
        awaitObserved(obs) { m =>
          auditRow(spark.createDataFrame(java.util.List.of(m), m.schema), cap)
        }(standalone)
      case None => standalone
    }
  }

  def shingleAudit(docs: DataFrame, n: Int = 3, nDocs: Long = -1L): DataFrame = {
    val nd = if (nDocs >= 0L) nDocs else docs.count()
    val cap = ScaleKnobs.shingleDfCap(nd).toLong
    auditRow(shingleSets(docs, n).select(explode(col("shs")).as("sh_h"))
      .groupBy(col("sh_h")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_shingles"),
        (sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_buckets") +:
          max(col("df")).as("max_df") +:
          BucketPairs.capCensus(col("df"), cap)): _*), cap)
  }

  /** The audit's column order, with the cap the census was taken under. */
  private def auditRow(census: DataFrame, cap: Long): DataFrame =
    census.select(col("n_shingles"), col("n_buckets"), col("max_df"),
      lit(cap).as("df_cap"), col("n_over_cap"),
      col("excluded_pair_mass"), col("kept_pair_mass"))

  /** Integer-exact PageRank over the SimHash near-dup graph: rank
    * documents by centrality in the similarity graph — the principled way
    * to pick a cluster's canonical representative (the most-connected
    * member), upgrading [[connectedComponents]]' min-id convention.
    *
    * All arithmetic is BIGINT: ranks start at 1e6, each neighbor
    * contributes `rank div degree`, and the damped update is
    * `150000 + (85 · Σ contrib) div 100` — floor-exact in every engine,
    * so a fixed iteration count replays bit-for-bit in an oracle.
    * Scale shape per iteration: one join of the edge list against the
    * rank table (both hash-partitioned on the same key) + one map-side
    * combined sum — the standard distributed-PR dataflow; isolated nodes
    * keep the damping floor and never enter the joins.
    */
  def pagerank(spark: SparkSession, dir: String, iters: Int = 2): DataFrame =
    // rides the session-materialized pair list ([[graft.engine.StageCache]])
    // instead of re-running the SimHash pipeline for its edge set
    pagerankFromPairs(
      documents(spark, dir).select(col("doc_id")),
      simhashPairs(spark, dir), iters)

  def pagerank(docs: DataFrame, iters: Int): DataFrame = {
    // DataFrame form passes the derived family cap explicitly (r15
    // ADVICE): simhashPairs' DataFrame overload defaults to UNCAPPED so
    // pinned-geometry fixture paths stay action-free, but this wrapper
    // derives its geometry from docs.count() anyway — handing that same
    // n to the cap keeps a non-registry caller's banded pair expansion
    // bounded at scale without a second action.
    val n = docs.count()
    pagerankFromPairs(docs.select(col("doc_id")),
      simhashPairs(docs, nDocs = n,
        bucketCap = ScaleKnobs.hammingBucketCap(n)), iters)
  }

  def pagerankFromPairs(vertices: DataFrame, pairs: DataFrame,
                        iters: Int): DataFrame = {
    // Materialize the loop invariants ONCE (see connectedComponents for the
    // localCheckpoint rationale and README "Checkpointed iteration" for the
    // cluster deployment note): edges comes out of the full SimHash-pair
    // pipeline (shingle explode → 60-bit vote → band buckets), and without
    // truncation every iteration's join — and the final orderBy action —
    // re-executes that whole pipeline. Checkpointing ranks per iteration
    // keeps the lineage linear: measured at sf0.1, iterations now cost
    // ~0.25 s each on a ~3.6 s fixed pair-generation base (was: the whole
    // pipeline × iters).
    val ids = checkpointEager(vertices)
    val edges = checkpointEager(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val deg = checkpointEager(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    var ranks = ids.withColumn("pr_rank", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .join(deg, "src")
        .select(col("dst"), expr("pr_rank div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = checkpointEager(ids
        .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(150000L) + expr("(85 * coalesce(s, 0L)) div 100"))
            .as("pr_rank")))
    }
    ranks.orderBy(col("doc_id"))
  }

  /** TRIANGLE census over the SimHash near-dup graph — the cluster-
    * cohesion diagnostic connected components can't give: a component is
    * one template family whether it's a clique (every member pairwise
    * near-dup — safe to collapse to one canonical) or a chain (A≈B≈C
    * with A̸≈C — transitive merge risks gluing distinct documents).
    * Per participating document: degree, triangle count, and local
    * closure in exact ppm (triangles · 1e6 / C(degree, 2)); high degree
    * with low closure marks the risky hub docs.
    *
    * Scale shape: the standard distributed triangle count — one self-
    * join of the (a<b)-oriented edge list on the shared vertex (wedge
    * build), one closing-edge semi-check, then doc-grain rollups. Edge
    * lists here are near-dup pairs (sparse, band-blocked), so wedge
    * counts are Σ deg² over a sparse graph, not corpus-quadratic; the
    * edge list itself is the session-materialized stage.
    */
  /** The registered census is SCALE-BOUNDED by default (r13): the hub
    * cap derives from the corpus count ([[ScaleKnobs.triangleDegreeCap]]
    * — 32·⌈log2 n⌉, clearing every measured max degree through sf1 so
    * the ≤ sf1 artifacts replay bit-for-bit, first binding at sf10
    * where the exact census was measured 35×/decade on its own 1.07B-
    * triangle output). Call [[trianglesFromPairs]] with `maxDegree = 0`
    * for the exact census, or a pinned cap.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesFromPairs(simhashPairs(spark, dir),
      ScaleKnobs.triangleDegreeCap(ScaleKnobs.documentCount(spark, dir)))

  /** `maxDegree`: the hub cap — the standard dense-graph mitigation.
    * 0 (default) = exact census over every vertex, which costs the
    * OUTPUT's size: the near-dup graph is clique-shaped, so the triangle
    * total is Σ_cluster C(s, 3) — cubic in cluster size, and measured
    * growing 78×/decade on this corpus family (0.46M triangles at sf0.1
    * → 13.7M at sf1 → 1.07B at sf10) because duplicate families DENSIFY
    * with crawl size (max degree 238 → 469 → 1518). No enumeration
    * algorithm beats an output-bound cost (a degree-ordered "forward"
    * A/B measured SLOWER here — cliques have equal degrees, so the
    * ordering degenerates to id order and just pays two extra joins).
    * A positive cap excludes vertices with degree > maxDegree from
    * wedge formation — their closure is definitionally ~1 (they sit in
    * a near-clique) and a production census caps them instead of
    * enumerating C(1500, 3) wedges per mega-hub; capped vertices still
    * report their degree with n_triangles counted among SURVIVING
    * wedges only.
    */
  def trianglesFromPairs(pairs: DataFrame, maxDegree: Long = 0L): DataFrame = {
    val e0 = pairs.select(col("doc_a"), col("doc_b")) // oriented: a < b
    val degree = e0.select(col("doc_a").as("doc_id"))
      .unionAll(e0.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val e =
      if (maxDegree <= 0L) e0
      else {
        val keep = degree.filter(col("degree") <= maxDegree)
          .select(col("doc_id"))
        e0.join(keep.withColumnRenamed("doc_id", "doc_a"), "doc_a")
          .join(keep.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      }
    val wedges = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .join(e.select(col("doc_a").as("b"), col("doc_b").as("c")), "b")
    val tri = wedges.join(
      e.select(col("doc_a").as("a"), col("doc_b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val perDocTri = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
    degree.join(perDocTri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("closure_ppm",
        when(col("degree") >= 2,
          expr("n_triangles * 2000000 div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ clustering

  /** Set to a durable directory (HDFS/object-store path) to switch the
    * iterative operators' per-round checkpoints from `localCheckpoint`
    * (executor blocks — fast, but losing ANY executor mid-loop
    * invalidates them) to RELIABLE `checkpoint()` files under that
    * directory — the cluster-durable mode (r11 verdict ask #5). Applies
    * to [[connectedComponents]] and [[pagerankFromPairs]] round state
    * and loop invariants; unset (the default) keeps localCheckpoint,
    * which is exactly right for `local[n]` and for clusters where a
    * lost-executor recomputation is tolerable.
    *
    * NOTE the SparkContext checkpoint dir is STICKY: it is initialized
    * from this conf on first reliable-mode use and a later change to
    * the conf's PATH is ignored for the life of the SparkContext (only
    * the local/reliable mode switch is re-read per call) — Spark has
    * one context-wide checkpoint dir, so repoint it via
    * `sparkContext.setCheckpointDir` directly if it must move mid-app.
    */
  val CheckpointDirConf = "spark.graft.checkpointDir"

  /** Eager checkpoint in the configured mode: reliable files when
    * [[CheckpointDirConf]] is set (the SparkContext checkpoint dir is
    * initialized from the conf on first use and left alone if the
    * caller already set one), executor-local blocks otherwise.
    *
    * Cleanup (r12 ADVICE): Spark never deletes reliable checkpoint
    * files by default, so every pagerank/CC round leaves an rdd-* dir
    * under the checkpoint dir for the life of the app AND after it
    * exits. The reclaim switch —
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, which
    * makes the ContextCleaner delete a round's files once its RDD is
    * garbage-collected — lives in the CORE SparkConf (read per
    * checkpoint by ReliableRDDCheckpointData.doCheckpoint, but only
    * settable at submit/context-build time; Spark exposes no live
    * mutator). Reliable deployments should pass it with the checkpoint
    * dir; entering reliable mode without it WARNS once per context
    * that the caller owns cleanup of the directory. Files from rounds
    * still referenced at app death remain on disk either way — final-
    * exit cleanup is the caller's, which is also what makes
    * crash-recovery inspection possible.
    */
  private def checkpointEager(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(CheckpointDirConf) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getConf.getBoolean(
            "spark.cleaner.referenceTracking.cleanCheckpoints", false) &&
          warnedNoCheckpointCleanup.add(sc.applicationId))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"$CheckpointDirConf is set but spark.cleaner." +
              "referenceTracking.cleanCheckpoints is false: reliable " +
              "checkpoint files accumulate under the directory until " +
              "YOU delete them (Spark never does by default). Pass " +
              "spark.cleaner.referenceTracking.cleanCheckpoints=true at " +
              "context build to reclaim per-round files automatically.")
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(true)
      case None => df.localCheckpoint(true)
    }

  /** app ids already warned about missing checkpoint cleanup (once per
    * context, not once per round).
    */
  private val warnedNoCheckpointCleanup =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Truncate lineage AND logical-plan statistics between loop rounds.
    *
    * `localCheckpoint` alone is not enough for an iterative dataflow:
    * Spark's checkpoint PRESERVES the optimized plan's statistics on the
    * resulting leaf, and every round's self-join multiplies the two
    * sides' `sizeInBytes` estimates — so the estimate SQUARES each
    * round, its bit-length doubles, and around round ~25 Catalyst dies
    * with `ArithmeticException: BigInteger would overflow supported
    * range` while planning (measured on the sf1 SRP pair graph; the
    * 64-bit seed doubles to the 2^31-bit BigInteger ceiling in 25
    * rounds). Rewrapping the checkpointed RDD as a fresh DataFrame
    * resets the leaf to default stats: estimates stay bounded and AQE
    * still plans each round's joins from RUNTIME sizes. The Row
    * round-trip is one narrow map over already-checkpointed blocks —
    * no shuffle, no extra action.
    */
  private def checkpointFresh(df: DataFrame): DataFrame = {
    val ck = checkpointEager(df)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Upper bound on waiting for an [[org.apache.spark.sql.Observation]]'s
    * metrics after the action that carries them has run. Spark reports
    * them as the action completes, so the wait normally returns at
    * once; the bound only keeps a lost report from hanging the caller.
    */
  private[graft] val ObservationWait: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(10, java.util.concurrent.TimeUnit.SECONDS)

  /** `read` of the observed metrics row, or `fallback` — a computation of
    * the same values without the observation — when the row has not
    * arrived within [[ObservationWait]].
    */
  private[graft] def awaitObserved[T](obs: org.apache.spark.sql.Observation)(
      read: org.apache.spark.sql.Row => T)(fallback: => T): T =
    try read(scala.concurrent.Await.result(obs.future, ObservationWait))
    catch { case _: java.util.concurrent.TimeoutException => fallback }

  /** Connected components over near-dup pair edges: every document gets a
    * cluster_id = the minimum doc_id reachable through pairs (singletons
    * keep their own id) — the step that turns pair lists into an actual
    * dedup decision (keep cluster_id, drop the rest).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", 2014 — the
    * MapReduce-native CC with provable O(log² n) round convergence,
    * single-digit rounds in practice). Each phase is one groupBy(min) +
    * one join over the current edge set; at the fixpoint the edge set
    * is a star forest (member → component-min root) and labels read off
    * directly. This replaces min-label propagation with pointer jumping,
    * whose convergence is graph-diameter-shaped on chain-like components:
    * the sf1 SRP cosine graph (20k vertices / 10.6k edges, quantized
    * embeddings forming long grid chains) was still merging ~1 cluster
    * per round past round 25 — and `maxIter = 16` then SILENTLY returned
    * under-merged labels (cluster 2: 505 rows vs the true 3672).
    *
    * Honesty at the cap: a non-converged loop now THROWS instead of
    * returning wrong clusters. Exact, deterministic, no driver-side data;
    * per-round state is checkpointed with stats reset ([[checkpointFresh]]).
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 16): DataFrame = {
    // Set fingerprint (count, Σ xxhash64(u,v) mod p) riding the round's
    // OWN checkpoint job as observe() metrics (r17 — guide §1.2: the CC
    // loop on a contracted graph is per-round-overhead-bound, and the
    // separate fp action was one of three jobs per round; now the round
    // runs ONE job). The hash is reduced mod a ~2^20 prime so the ANSI
    // sum can't overflow below ~10^12 edges; a fingerprint match still
    // triggers ONE exact set-equality check (equal counts + empty
    // except), so a modular collision can never end the loop early. If
    // the metrics do not arrive within [[ObservationWait]], the same
    // fingerprint is aggregated over the checkpointed round instead.
    def checkpointWithFp(d: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val fp = Seq(count(lit(1)).as("n"),
        sum(pmod(xxhash64(col("u"), col("v")), lit(1048573L))).as("h"))
      val ck = checkpointFresh(d.observe(obs, fp.head, fp.tail: _*))
      def read(m: org.apache.spark.sql.Row): (Long, Long) =
        (m.getAs[Long]("n"), Option(m.getAs[Any]("h")).fold(0L)(_.asInstanceOf[Long]))
      (ck, awaitObserved(obs)(read)(read(ck.agg(fp.head, fp.tail: _*).first())))
    }

    // Canonical orientation (big, small): every emitted pair keeps it, so
    // only the initial edge list pays the greatest/least normalization.
    var (e, prev) = checkpointWithFp(edges
      .filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct())

    var converged = prev._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: center u over its FULL neighborhood Γ(u); attach every
      // strictly-larger neighbor to m = min(Γ(u) ∪ {u}). Emitted (v, m)
      // has v > u ≥ m, so orientation is preserved and self-loops are
      // impossible by construction.
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val lMins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // NOT checkpointed (r17): the large-star output feeds two
      // consumers inside ONE small-star plan, where exchange reuse
      // dedupes the identical subtree — the per-round eager-checkpoint
      // job it used to pay was pure overhead at contracted-graph sizes,
      // and lineage depth stays bounded because afterSmall checkpoints
      // every round.
      val afterLarge =
        sym.join(lMins, "u").where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .distinct()

      // small-star: center u over its SMALLER neighborhood only; attach u
      // and every smaller neighbor to m = min of that neighborhood.
      val sMins = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val (afterSmall, cur) = checkpointWithFp(
        afterLarge.join(sMins, "u")
          .where(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(sMins.select(col("u"), col("m").as("v")))
          .distinct())

      converged = cur == prev && afterSmall.except(e).isEmpty
      e = afterSmall
      prev = cur
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter " +
      "large/small-star rounds — raise maxIter; refusing to return " +
      "under-merged clusters")

    // Fixpoint edge set is a star forest: every non-root member carries
    // exactly (member, root). groupBy(min) tolerates the final round's
    // residual duplicates; roots and singletons label themselves.
    val stars = e.groupBy(col("u")).agg(min(col("v")).as("root"))
    vertices.select(col("doc_id"))
      .join(stars.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** Cluster assignment for every document using SimHash near-dup pairs as
    * the edge set (deterministic band-blocked candidates, Hamming <= 8).
    */
  def simhashClusters(spark: SparkSession, dir: String): DataFrame =
    // the seven-consumer cluster table: materialized once per
    // (session, dir) — see [[graft.engine.StageCache]]. The stored value
    // is the unordered label table; each consumer applies its own sort.
    graft.engine.StageCache.materialized(spark, dir, "dedup.simhash_clusters") {
      connectedComponents(
        documents(spark, dir).select(col("doc_id")),
        simhashPairs(spark, dir))
    }.orderBy(col("doc_id"))

  /** Near-dup cluster-SIZE histogram — the one-look dedup diagnostic:
    * how many clusters have k members, and how much of the corpus they
    * carry. Size-1 rows are the untouched majority; a fat tail means a
    * boilerplate template is eating the corpus and the dedup threshold
    * (or the down-weighting policy, [[graft.engine.ext.Corpus.dedupWeights]])
    * needs attention.
    *
    * Scale shape: rides the checkpointed [[simhashClusters]] build;
    * two further map-side-combined aggregations collapse doc grain →
    * cluster grain → |distinct sizes| rows. No joins, no windows.
    */
  def clusterSizeHist(spark: SparkSession, dir: String): DataFrame = {
    simhashClusters(spark, dir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))
  }

  /** Quality-aware canonical selection: for every multi-member SimHash
    * near-dup cluster, the document that SURVIVES dedup is the one the
    * quality gate keeps, longest first (doc_id ascending breaks exact
    * ties) — what production pipelines actually do, vs. the min-id
    * convention of [[exact]] and the centrality ranking of [[pagerank]].
    * One row per cluster with the survivor and the kept/total census.
    *
    * Scale shape: clusters come from the checkpointed star-contraction
    * loop ([[connectedComponents]]); quality is a per-document
    * projection; the canonical pick is a single min_by aggregate over
    * (cluster_id) — no window, one exchange past the cluster build.
    */
  def canonicalByQuality(spark: SparkSession, dir: String): DataFrame =
    // rides TWO materialized stages (cluster table + quality signals,
    // StageCache) — the joins and the min_by pick are the only
    // per-query work
    canonicalCore(documents(spark, dir), simhashClusters(spark, dir),
      Corpus.qualitySignals(spark, dir).select(col("doc_id"), col("keep")))

  def canonicalByQuality(docs: DataFrame): DataFrame = {
    // derived family cap passed explicitly — same rationale as the
    // [[pagerank]] DataFrame form (r15 ADVICE): this wrapper already
    // derives geometry from a count, so the cap costs no extra action
    val n = docs.count()
    canonicalFromClusters(docs,
      connectedComponents(docs.select(col("doc_id")),
        simhashPairs(docs, nDocs = n,
          bucketCap = ScaleKnobs.hammingBucketCap(n))))
  }

  def canonicalFromClusters(docs: DataFrame, clusters: DataFrame): DataFrame =
    canonicalCore(docs, clusters,
      Corpus.qualityClean(docs).select(col("doc_id"), col("keep")))

  private def canonicalCore(docs: DataFrame, clusters: DataFrame,
                            quality: DataFrame): DataFrame = {
    clusters
      .join(quality, "doc_id")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        min_by(struct(col("doc_id"), col("n_chars"), col("keep")),
          struct(when(col("keep"), 0L).otherwise(1L),
            -col("n_chars"), col("doc_id"))).as("canon"))
      .filter(col("n_members") >= 2)
      .select(col("cluster_id"), col("n_members"), col("n_kept"),
        col("canon.doc_id").as("canonical_doc_id"),
        col("canon.n_chars").as("canonical_chars"),
        col("canon.keep").as("canonical_kept"))
      .orderBy(col("cluster_id"))
  }

  // ------------------------------------------------------- embedding cosine

  /** ±1 sign-random-projection hyperplane coefficients, derived from md5 so
    * any engine reproduces them: c(p,i) = +1 iff the first hex digit of
    * md5("p_i") is odd (i is 1-based to match SQL array indexing).
    */
  def srpCoefficient(p: Int, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 1) 1L else -1L
  }

  /** Embedding-cosine near-dup pairs over the `embeddings` table:
    * sign-random-projection LSH (nPlanes ±1 hyperplanes → bit signature →
    * banded buckets) generates candidates; survivors satisfy
    * cos(a,b) >= thrNum/thrDen checked in exact integer arithmetic
    * (thrDen² · dot² >= thrNum² · |a|²·|b|² with dot > 0) over quantized
    * vectors — no float comparisons, so the boundary is bit-stable.
    *
    * Candidate expansion is a (band, bucket) EQUI-JOIN, not a per-bucket
    * collect_list + local array expansion: SRP buckets — unlike the
    * df-capped shingle blocks and the similarity-gated SimHash/MinHash
    * band keys everywhere else in this file — collide vectors at RANDOM
    * (a bitsPerBand-bit key partitions the whole corpus into 2^bits
    * cells), so bucket size grows linearly with the corpus and a
    * materialized per-bucket pair ARRAY is Θ(bucket²) heap in one value
    * (measured: the array form OOM'd a 32 GB driver at 20k vectors; the
    * join form streams the same pair set through sort-merge/AQE-skew
    * machinery in constant memory). Cost is still Σ bucket² WORK — that's
    * the LSH contract — but never Σ bucket² MEMORY.
    *
    * THE BITS ARE SIZED WITH THE CORPUS BY DEFAULT: with nPlanes fixed,
    * per-bucket occupancy grows ~n/2^bitsPerBand and pair work ~n²/2^bits
    * — quadratic at fixed parameters (the r10 sf1 study measured exactly
    * that: 21× on 10× vectors). `nPlanes = 0` (the default) derives the
    * band width from the corpus count via
    * [[ScaleKnobs.srpBitsPerBand]] — max(4, ⌈log2 n⌉ − 7), i.e. +1
    * plane per band per corpus doubling past 2^11, which holds occupancy
    * (and cost per vector) ≤ 128 (measured at sf1: the derived 32 planes
    * drop the full pair build 29.2 s → 4.5 s, back to ~linear vs
    * sf0.1's 1.2 s; at n ≤ 2,000 the derivation reproduces the
    * historical 16-plane config bit-for-bit). The derivation is
    * integer-exact, so the DuckDB oracle replays it from its own
    * count(*); pass nPlanes > 0 to pin a width (e.g. to hold a recall
    * target — wider bands trade candidate recall for cost).
    */
  def embedCosinePairs(spark: SparkSession, dir: String): DataFrame =
    embedCosinePairs(spark,
      spark.read.parquet(s"$dir/embeddings.parquet"),
      nPlanes = ScaleKnobs.srpPlanes(ScaleKnobs.embeddingCount(spark, dir)))

  /** NOTE: with the `nPlanes = 0` derive-default, THIS overload runs one
    * un-memoized `embeddings.count()` Spark action per call (only the
    * dir-based wrapper routes through [[ScaleKnobs]]' memo — an arbitrary
    * DataFrame has no stable cache key). Callers invoking it in a loop
    * should pass a pinned `nPlanes` (or pre-derive one via
    * [[ScaleKnobs.srpPlanes]]) to pay the count once.
    */
  def embedCosinePairs(spark: SparkSession, embeddings: DataFrame,
                       nPlanes: Int = 0,
                       bands: Int = 4, thrNum: Long = 2L, thrDen: Long = 5L,
                       dims: Int = 64): DataFrame = {
    val planes =
      if (nPlanes == 0) ScaleKnobs.srpPlanes(embeddings.count(), bands)
      else nPlanes
    val banded = srpBandRows(spark, embeddings, planes, bands, dims)
    val left = banded.select(col("band"), col("bv"),
      col("vec_id").as("vec_a"), col("q").as("qa"), col("n2").as("na"))
    val right = banded.select(col("band"), col("bv"),
      col("vec_id").as("vec_b"), col("q").as("qb"), col("n2").as("nb"))
    left.join(right, Seq("band", "bv"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Similarity.qdot(col("qa"), col("qb")).as("dot"),
        col("na"), col("nb"))
      .distinct()
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(thrDen * thrDen) >=
          col("na") * col("nb") * lit(thrNum * thrNum))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The full md5-derived coefficient matrix for `planes` hyperplanes —
    * one Seq per plane, consumed by the native signature expression.
    */
  private[ext] def srpCoefMatrix(planes: Int, dims: Int): Seq[Seq[Long]] =
    (0 until planes).map(p => (1 to dims).map(i => srpCoefficient(p, i)))

  /** The SRP signature → (vec_id, q, n2, band, bv) band rows the pair
    * join and the occupancy census share: quantize, project onto the
    * `planes` md5-derived hyperplanes, pack the sign bits, split into
    * `bands` bucket keys. Pure projection — no shuffle until a consumer
    * groups or joins on (band, bv). The signature is ONE native
    * kernel ([[graft.engine.expr.NativeFunctions.srpRun]]):
    * the per-plane CASE-chain form generated code linear in the plane
    * count and fell out of codegen entirely at the sf10-derived 44
    * planes (whole stage interpreted — measured 43× on the occupancy
    * census at 10× data).
    */
  private[ext] def srpBandRows(spark: SparkSession, embeddings: DataFrame,
                               planes: Int, bands: Int,
                               dims: Int): DataFrame = {
    require(planes % bands == 0)
    graft.engine.expr.NativeFunctions.ensureRegistered(spark)
    val bitsPerBand = planes / bands
    val q = Similarity.quantize(col("embedding"))
    val sigCol = graft.engine.expr.NativeFunctions
      .srpSignature(col("q"), srpCoefMatrix(planes, dims))
    embeddings
      .select(col("vec_id"), q.as("q"))
      .select(col("vec_id"), col("q"),
        Similarity.qdot(col("q"), col("q")).as("n2"))
      .withColumn("sig", sigCol)
      .select(col("vec_id"), col("q"), col("n2"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("vec_id"), col("q"), col("n2"), col("band"),
        expr(s"shiftright(sig, cast(band as int) * $bitsPerBand)")
          .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("bv"))
  }

  /** SRP index-health census — the audit that PROVES the derived band
    * width keeps bucket occupancy bounded (the [[ScaleKnobs]] contract:
    * max occupancy ≲ 128 at any corpus size): per band, the number of
    * occupied buckets, the vector count, the largest bucket and the
    * integer-milli mean. The ANN-side twin of [[Similarity.cellBalance]]
    * for the hash-bucket index family — a fat max_bucket is exactly the
    * pair-explosion risk the derived width exists to prevent, and this
    * is the query an operator runs to SEE it at their scale.
    *
    * Scale shape: one projection (the band rows) into a two-level
    * partial-agg rollup — (band, bv) grain then band grain; output is
    * `bands` rows regardless of corpus size.
    */
  def srpOccupancy(spark: SparkSession, dir: String): DataFrame =
    srpOccupancy(spark, spark.read.parquet(s"$dir/embeddings.parquet"),
      nPlanes = ScaleKnobs.srpPlanes(ScaleKnobs.embeddingCount(spark, dir)))

  /** NOTE: same as [[embedCosinePairs]] — `nPlanes = 0` on this DataFrame
    * overload costs one un-memoized `count()` action per call; loopers
    * should pass a pinned or pre-derived width.
    */
  def srpOccupancy(spark: SparkSession, embeddings: DataFrame,
                   nPlanes: Int = 0, bands: Int = 4,
                   dims: Int = 64): DataFrame = {
    val planes =
      if (nPlanes == 0) ScaleKnobs.srpPlanes(embeddings.count(), bands)
      else nPlanes
    srpBandRows(spark, embeddings, planes, bands, dims)
      .groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("occ")).as("n_vectors"),
        max(col("occ")).as("max_bucket"))
      .select(col("band"), col("n_buckets"), col("n_vectors"),
        col("max_bucket"),
        expr("n_vectors * 1000 div n_buckets").as("mean_bucket_milli"))
      .orderBy(col("band"))
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023, arXiv:2303.09540,
    * as dataflow): connected components over the EMBEDDING-cosine
    * near-dup graph ([[embedCosinePairs]] — SRP-bucketed, exact integer
    * threshold), rather than the lexical SimHash graph of
    * [[simhashClusters]]. Paraphrases and translations land in the same
    * semantic cluster even when they share no n-grams, which is exactly
    * what lexical dedup misses. Disposition per vector: its cluster, the
    * cluster size, and `keep` — the canonical member is the one whose id
    * EQUALS the cluster label (components labels every cluster with its
    * minimum member id, so no second pass computes the survivor).
    *
    * Scale shape: pair generation is the bucket-join (never vec × vec),
    * the component loop localCheckpoints every round
    * ([[connectedComponents]]), and the size/keep annotation is one
    * window over cluster-sized data.
    */
  def semanticClusters(spark: SparkSession, dir: String): DataFrame =
    semanticClusters(spark, spark.read.parquet(s"$dir/embeddings.parquet"),
      nPlanes = ScaleKnobs.srpPlanes(ScaleKnobs.embeddingCount(spark, dir)))

  def semanticClusters(spark: SparkSession, embeddings: DataFrame,
                       nPlanes: Int = 0): DataFrame = {
    val edges = embedCosinePairs(spark, embeddings, nPlanes = nPlanes)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    connectedComponents(embeddings.select(col("vec_id").as("doc_id")), edges)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------------------ MinHash + LSH

  /** MinHash signatures (numHashes permutations approximated by seeded
    * re-hashes of each shingle's base hash) + banded LSH candidate pairs
    * with the estimated Jaccard (fraction of agreeing components, exact
    * integer ppm). The signature pass is one explode + one groupBy; the
    * LSH join is bucket-shaped like every other near-dup here.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    // two consumers (the pair query, the recall QA's LSH side) — one
    // session-materialized build; the dir wrapper derives the family
    // bucket cap ([[ScaleKnobs.hammingBucketCap]]) from the memoized
    // corpus count, exactly like the Hamming chains
    graft.engine.StageCache.materialized(spark, dir, "dedup.minhash_pairs") {
      minhashPairs(documents(spark, dir),
        bucketCap =
          ScaleKnobs.hammingBucketCap(ScaleKnobs.documentCount(spark, dir)))
    }

  /** `bucketCap = Long.MaxValue` (default) leaves this DataFrame overload
    * uncapped — fixture specs exercise the full build; the `(spark, dir)`
    * wrapper derives the cap from the corpus count.
    */
  def minhashPairs(docs: DataFrame, n: Int = 3,
                   numHashes: Int = 16, bands: Int = 4,
                   minEstPpm: Long = 250000L,
                   bucketCap: Long = Long.MaxValue): DataFrame = {
    // fused shingle scan (r16): the 48-bit base hashes come straight
    // from the shingle_hashes kernel — no token array, no shingle
    // string, no per-position md5-of-rebuilt-string. Duplicate
    // positions hash equal, and min() over the same multiset is the
    // same minimum, so signatures are value-identical to the
    // string-shingle route (ShingleKernelSpec pins the 12-hex slice).
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    minhashFromBaseHashes(
      docs.select(col("doc_id"),
        explode(graft.engine.expr.NativeFunctions
          .shingleHashes(col("text"), n, 12)).as("h")),
      numHashes, bands, minEstPpm, bucketCap)
  }

  /** [[minhashPairs]] over a pre-built (doc_id, shingle) table — see
    * [[ngramJaccardPairsFromShingles]].
    *
    * Candidates come from [[BucketPairs]], like the Hamming path. MinHash
    * band buckets are NOT df-capped by nature (a real dup family agrees
    * on every band signature), so the streamed expansion and the family
    * cap are what bound a 100k-member crawl family.
    *
    * The signature agreement count is a FIXED-WIDTH codegen'd sum of
    * `numHashes` element equality checks (numHashes is a build
    * constant), not `aggregate(zip_with(...))`: higher-order functions
    * are CodegenFallback, so every candidate pair paid an INTERPRETED
    * two-lambda eval — the corpus_clean lesson at pair scale, and
    * exactly what r13 measured on the Hamming path (the chunk-packed
    * codegen distance was worth ~2× at sf10 on top of the derived
    * geometry).
    *
    * The MinHash values are 61-bit (mod 2^61−1), so unlike the ≤ 30-bit
    * Hamming bands they cannot chunk-pack several-per-long; the struct
    * carries the signature as `numHashes` scalar LONG columns instead of
    * one ARRAY — same bytes, no per-element array headers in the
    * exchange, and the equality sum reads plain struct fields.
    */
  def minhashPairsFromShingles(sh: DataFrame, numHashes: Int, bands: Int,
                               minEstPpm: Long,
                               bucketCap: Long = Long.MaxValue): DataFrame =
    minhashFromBaseHashes(
      sh.select(col("doc_id"), md5Hash48(col("shingle")).as("h")),
      numHashes, bands, minEstPpm, bucketCap)

  /** The post-hash MinHash core over raw (doc_id, 48-bit base hash)
    * rows — [[minhashPairs]] feeds it from the fused kernel,
    * [[minhashPairsFromShingles]] from a materialized string-shingle
    * table; both hash routes produce the same values by construction.
    */
  private def minhashFromBaseHashes(exploded: DataFrame, numHashes: Int,
                                    bands: Int, minEstPpm: Long,
                                    bucketCap: Long): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val perBand = numHashes / bands

    // h_i(x) = (a_i * h + b_i) mod p — universal-hash family on the 60-bit
    // base hash; p = 2^61-1 (Mersenne), a_i/b_i fixed odd constants.
    val p = 2305843009213693951L // 2^61 - 1
    val sigCols = (0 until numHashes).map { i =>
      val a = 2L * i + 3L
      val b = 7919L * (i + 1)
      min(pmod(col("h") * a + b, lit(p))).as(s"mh_$i")
    }
    val sig = exploded.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)

    // band b's bucket key = md5 of its perBand components, comma-joined —
    // byte-identical to the historical slice-of-array form, so the
    // candidate set (and every committed artifact) replays exactly. The
    // band index is data-dependent (it comes from the explode), so a
    // CASE over the `bands` alternatives selects the concat — constant
    // code size, stays in whole-stage codegen.
    val bucketByBand = (0 until bands).map { b =>
      val s = concat_ws(",",
        (b * perBand until (b + 1) * perBand).map(i => col(s"mh_$i")): _*)
      (b, md5(s))
    }.foldRight(lit(null).cast("string")) { case ((b, m), e) =>
      when(col("band") === b, m).otherwise(e)
    }
    val member = struct(col("doc_id") +:
      (0 until numHashes).map(i => col(s"mh_$i")): _*)
    val agree = (0 until numHashes).map(i =>
      when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1L).otherwise(0L))
      .reduce(_ + _)

    val bandRows = sig.select(sig.columns.map(col) :+
        explode(sequence(lit(0), lit(bands - 1))).as("band"): _*)
      .select(col("band"), bucketByBand.as("bucket"), member.as("m"))
    // family cap (r14, [[ScaleKnobs.hammingBucketCap]] via the callers):
    // a MinHash band bucket past the cap is an exact-duplicate family
    // (all `perBand` permutation minima agree) — its pair mass belongs
    // to [[exact]], like the Hamming chains. Measured max bucket 23 at
    // sf10: crawl-scale insurance.
    BucketPairs.pairs(
        BucketPairs.buckets(bandRows, Seq("band", "bucket"), col("m")),
        bucketCap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (agree * lit(1000000L) / numHashes)
          .cast("long").as("est_jaccard_ppm"))
      // threshold BEFORE the distinct: the dedup shuffle then carries
      // only matching pairs, not every band-collision candidate
      .filter(col("est_jaccard_ppm") >= minEstPpm)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** In-engine QA of the MinHash-LSH index, the dedup analog of
    * [[Similarity]]'s `ann_*_recall` probes: of the strong near-dup pairs
    * (exact blocked n-gram Jaccard ≥ `truthPpm`), what fraction does the
    * banded LSH surface — and what fraction of LSH candidates are strong
    * pairs. One diagnostic row (n_truth, n_lsh, n_hit, recall_ppm,
    * precision_ppm), integer-exact.
    *
    * Scale shape: both sides are the existing bucket-blocked operators
    * (never an all-pairs join); the intersection is a semi join on the
    * pair key, and the three counts come from ONE aggregation over a
    * tagged union — no scalar cross joins, so the plan-shape sweep's
    * no-cartesian invariant holds even here.
    */
  def minhashRecall(spark: SparkSession, dir: String,
                    truthPpm: Long = 500000L): DataFrame =
    // Both sides are filtered views of session-materialized stages: the
    // truth side is the threshold-0 n-gram pair table at the truth
    // cutoff (the threshold is the pipeline's last predicate, so the
    // filter is row-identical to a direct build), the LSH side is the
    // cached MinHash pair list the pair query serves.
    minhashRecallFromPairs(
      ngramPairsT0(spark, dir).filter(col("jaccard_ppm") >= truthPpm)
        .select(col("doc_a"), col("doc_b")),
      minhashPairs(spark, dir).select(col("doc_a"), col("doc_b")))

  def minhashRecall(docs: DataFrame, truthPpm: Long): DataFrame = {
    // Shared shingle PLAN, deliberately NOT checkpointed: A/B at sf0.1
    // measured min 2.99 s recomputing the codegen'd explode per side vs
    // 3.68 s materializing the ~1M-row shingle table first — unlike the
    // iterative loops, a straight-line Generate is cheaper to replay
    // than to store. (shingleRows is itself the Generate-barrier form,
    // so there's no HOF re-evaluation risk here.)
    val sh = shingleRows(docs, 3)
    minhashRecallFromPairs(
      ngramJaccardPairsFromShingles(sh, dfCap = 100,
        minJaccardPpm = truthPpm).select(col("doc_a"), col("doc_b")),
      minhashPairsFromShingles(sh, numHashes = 16, bands = 4,
        minEstPpm = 250000L).select(col("doc_a"), col("doc_b")))
  }

  def minhashRecallFromPairs(truth: DataFrame, lsh: DataFrame): DataFrame = {
    val hits = truth.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
    def tagged(df: DataFrame, tag: String) = df.select(lit(tag).as("src"))
    tagged(truth, "truth")
      .unionByName(tagged(lsh, "lsh"))
      .unionByName(tagged(hits, "hit"))
      .agg(
        coalesce(sum(when(col("src") === "truth", 1L).otherwise(0L)), lit(0L))
          .as("n_truth"),
        coalesce(sum(when(col("src") === "lsh", 1L).otherwise(0L)), lit(0L))
          .as("n_lsh"),
        coalesce(sum(when(col("src") === "hit", 1L).otherwise(0L)), lit(0L))
          .as("n_hit"))
      .select(col("n_truth"), col("n_lsh"), col("n_hit"),
        expr("(n_hit * 1000000) div greatest(n_truth, 1)").as("recall_ppm"),
        expr("(n_hit * 1000000) div greatest(n_lsh, 1)").as("precision_ppm"))
  }

  /** Cross-SOURCE overlap matrix — the between-datasets contamination
    * audit ([[ngramJaccardPairs]] finds near-dup DOC pairs; this finds
    * which DATASETS share content before they're mixed): for every
    * source pair, the number of shared distinct 3-gram shingles and the
    * exact shingle-set Jaccard in ppm. Pairs sharing nothing are absent.
    *
    * Scale shape: one shuffle of distinct (source, shingle) rows, then
    * a per-shingle BITMASK rollup (bit_or of 1<<source_index) and a
    * mask-census aggregation — the pair expansion runs over the census
    * (≤ 2^|sources| rows, in practice a handful), never over shingles,
    * so 100× more data grows only the two shingle-grain aggregations.
    * The bitmask bounds |sources| at 63 — a DATASET census (one row per
    * corpus/crawl being mixed), not per-domain provenance.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(documents(spark, dir))

  def sourceOverlap(docs: DataFrame): DataFrame = {
    // dense source index, alphabetical — tiny dimension, broadcast back
    val si = docs.select(col("source")).distinct()
      .withColumn("idx",
        row_number().over(Window.orderBy(col("source"))).cast("long") - 1)
    // distinct (idx, shingle-HASH): source grain, not doc grain. r15:
    // the raw hashed explode replaces shingleRows — the string never
    // reaches an exchange (the r14 verdict's slowest-sf0.1-row note:
    // this distinct shuffle dominated the query), the per-doc distinct
    // pass drops entirely (the source-grain distinct subsumes it), and
    // the oracle replays the same 60-bit prefix identity.
    val ss = shingleHashRows(docs.select(col("doc_id"), col("text")), 3)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .join(broadcast(si), "source")
      .select(col("idx"), col("sh_h")).distinct()
    val perSource = ss.groupBy(col("idx")).agg(count(lit(1)).as("n_sh"))
    // per-shingle source bitmask, then the tiny mask census
    val census = ss
      .groupBy(col("sh_h"))
      .agg(expr("bit_or(shiftleft(1L, cast(idx AS int)))").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
    // each mask row is a bucket whose members are its set bits, ascending
    val masks = census.select(col("cnt"),
      expr("filter(sequence(0L, 62L), i -> (shiftright(mask, cast(i AS int)) % 2) = 1)")
        .as("ms"))
    val pairs = BucketPairs.pairs(masks, 63L, "cnt")
      .groupBy(col("a").as("idx_a"), col("b").as("idx_b"))
      .agg(sum(col("cnt")).as("shared_shingles"))
    pairs
      .join(broadcast(perSource.select(col("idx").as("idx_a"),
        col("n_sh").as("n_a"))), "idx_a")
      .join(broadcast(perSource.select(col("idx").as("idx_b"),
        col("n_sh").as("n_b"))), "idx_b")
      .join(broadcast(si.select(col("idx").as("idx_a"),
        col("source").as("src_a"))), "idx_a")
      .join(broadcast(si.select(col("idx").as("idx_b"),
        col("source").as("src_b"))), "idx_b")
      .select(col("src_a"), col("src_b"), col("shared_shingles"),
        col("n_a"), col("n_b"),
        expr("shared_shingles * 1000000 div (n_a + n_b - shared_shingles)")
          .as("jaccard_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }
}
