package graft.engine.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for a training-data pipeline: deterministic
  * train/val/test splitting, sequence packing, stratified sampling and
  * weighted source interleaving over the `documents` table.
  *
  * Everything is content-deterministic (sha2 of the text, never a RNG) so
  * assignments are reproducible across runs, engines and partitionings —
  * the property a 100 TB corpus build actually needs: re-running the
  * pipeline after adding one shard must not reshuffle the split of every
  * existing document. All ratios/positions are exact integer arithmetic.
  */
object Corpus {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** First 8 hex digits of sha2-256 as a uniform BIGINT in [0, 2^32). */
  private def hashBucket(text: Column): Column =
    conv(substring(sha2(text, 256), 1, 8), 16, 10).cast("long")

  /** Deterministic 80/10/10 train/val/test assignment by content hash.
    *
    * Hash-based (not modulo-doc_id) so the split is stable under re-ingest,
    * re-partitioning and id reassignment; near-duplicate texts still hash
    * apart, so pair leakage across splits is handled upstream by the dedup
    * stage ([[Dedup]]), which is the correct order of operations.
    * Pure per-row projection: no shuffle, scales linearly.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        (hashBucket(col("text")) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))

  /** Token budget per packed training sequence. */
  val PackBudget = 2048L

  /** Contiguous sequence packing: within each source (the shard axis),
    * documents in doc_id order fill fixed 2048-token context windows;
    * a document belongs to the pack its first token lands in.
    *
    * One shuffle (partition by source) + one sequential window pass per
    * source. At 100 TB the source axis is the parallelism knob — packing
    * is order-defined WITHIN a shard, so shard granularity bounds the
    * longest sequential scan exactly as it does in a real tokenizer run.
    * `pack_offset` < budget always (the pre-doc fill of the open pack).
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(TextAnalysis.wsTokens(col("text"))).cast("long")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"), toks.as("n_tokens"))
      .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("start") / PackBudget).cast("long").as("pack_id"),
        (col("start") % PackBudget).as("pack_offset"))
      .orderBy(col("doc_id"))
  }

  /** PACKING-EFFICIENCY audit over [[packSequences]]'s stream-packing
    * model: per source, how many documents straddle a pack boundary
    * (the cross-document-attention / truncation concern when packs feed
    * a trainer) and how full the tail pack is. Same single per-source
    * window pass as the packer, folded straight into a |sources|-row
    * rollup — the audit costs no more than the packing itself.
    */
  def packStats(spark: SparkSession, dir: String): DataFrame =
    packStats(docs(spark, dir), PackBudget)

  def packStats(documents: DataFrame, b: Long): DataFrame = {
    val toks = size(TextAnalysis.wsTokens(col("text"))).cast("long")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    documents
      .select(col("doc_id"), col("source"), toks.as("n_tokens"))
      .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("n_tokens") > 0L &&
            expr(s"start div $b") =!= expr(s"(start + n_tokens - 1) div $b"),
          1L).otherwise(0L)).as("n_split_docs"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        expr(s"(total_tokens + $b - 1) div $b").as("n_packs"),
        col("n_split_docs"),
        expr("n_split_docs * 1000000 div n_docs").as("split_ppm"),
        when(expr(s"total_tokens % $b") === 0L, 1000000L)
          .otherwise(expr(s"(total_tokens % $b) * 1000000 div $b"))
          .as("tail_fill_ppm"))
      .orderBy(col("source"))
  }

  /** SHARD-BALANCE audit for content-hash sharding: assign every doc to
    * `hash(text) mod nShards` — the stable-under-reingest layout a
    * training run writes — and report each shard's doc/token/char mass
    * with exact ppm share. Hash sharding is only as good as its balance;
    * this is the table that proves it (or catches a pathological
    * corpus). One map-side-combined shuffle to nShards rows; the share
    * window runs over those nShards rows only.
    */
  def shardBalance(spark: SparkSession, dir: String,
                   nShards: Int = 32): DataFrame =
    shardBalance(docs(spark, dir), nShards)

  def shardBalance(documents: DataFrame, nShards: Int): DataFrame = {
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    documents
      .select((hashBucket(col("text")) % nShards).as("shard"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"),
        col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("total_docs", sum(col("n_docs")).over(all))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("n_docs * 1000000 div total_docs").as("share_ppm"))
      .orderBy(col("shard"))
  }

  /** Rows kept per language class. */
  val StratifiedK = 20

  /** Class-balanced sample: exactly K documents per language, chosen by
    * content-hash order (deterministic, unbiased in hash space).
    *
    * Plans as row_number + rank filter, which Spark rewrites to
    * WindowGroupLimit: every map task keeps only its local top-K per
    * language BEFORE the shuffle, so the exchange carries
    * O(K · partitions), not the corpus — the reason this beats
    * a naive per-class sort at scale (asserted in CorpusSpec).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("lang"))
      .orderBy(sha2(col("text"), 256), col("doc_id"))
    docs(spark, dir)
      .withColumn("rk", row_number().over(order).cast("long"))
      .filter(col("rk") <= StratifiedK)
      .select(col("doc_id"), col("lang"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** C4-style quality gate with per-document diagnostics: every document
    * gets a keep/drop verdict plus the FIRST failing rule (priority order),
    * the shape a corpus-cleaning pass needs for audit sampling. Rules:
    * ≥5 whitespace tokens, punctuation ≤30% of characters (ppm), and
    * text ends in terminal punctuation. Pure per-row projection —
    * no shuffle, one codegen span.
    */
  def qualityClean(spark: SparkSession, dir: String): DataFrame =
    qualitySignals(spark, dir).orderBy(col("doc_id"))

  /** The doc-grain quality-signal table (qualityClean's sort-free
    * output), materialized once per (session, corpus): FIVE dir-form
    * consumers re-derived the same per-document tokenize + regex +
    * verdict — corpus_clean, the dup×quality census, quality-aware
    * canonical pick, per-IVF-cell quality, batch drift — at sf10 that
    * was 100.5 + 35.2 + 34.3 s of overlapping signal recompute on the
    * three largest alone (r13 verdict ask #4; the ext_sketches lesson:
    * build once, price the build as an explicit `_stage_quality` bench
    * row, let every policy consume steady-state). Rows are doc-grain
    * and narrow (id, lang, source, two longs, bool, short string), so
    * the materialization is small relative to the text it distills.
    */
  def qualitySignals(spark: SparkSession, dir: String): DataFrame =
    graft.engine.StageCache.materialized(spark, dir, "corpus.quality") {
      qualityClean(docs(spark, dir))
    }

  /** Sort-free core: a pure stateless projection, so the same gate runs
    * unchanged under Structured Streaming (see StreamingSpec).
    *
    * One FUSED scan for the two count signals (r16; this stage was the
    * #2 absolute sf10 row at 51.2 s): `text_stat_counts` — the compiled
    * one-pass kernel `text_analyze` already rides — yields the ws-token
    * count (counts[0]: maximal non-`\s` runs, bit-identical to
    * `size(filter(split(text, "\\s+"), _ != ""))` whose higher-order
    * filter is an interpreted CodegenFallback) and the punctuation count
    * (counts[2]: `[^A-Za-z0-9\s]` code points, bit-identical to
    * `size(regexp_extract_all(...))` minus its per-match string
    * allocations). The stopword set is empty — that lane costs nothing.
    * The terminal-punctuation rlike keeps its Java-regex form: `$`'s
    * end-or-before-final-line-terminator semantics are NOT a cheap
    * last-char test, and the anchored scan is not a measured hot spot.
    * The ppm arithmetic repeats the original long-multiply /
    * double-divide / cast-long exactly (the punct count enters the
    * numerator as the same numeric value, so the double quotient — and
    * every downstream hash — is unchanged). History: r13 split the
    * signals into a sub-projection (25.3 → 10.7 s sf1); this removes
    * the remaining two per-row array materializations.
    */
  def qualityClean(in: DataFrame): DataFrame = {
    graft.engine.expr.NativeFunctions.ensureRegistered(in.sparkSession)
    val ts = graft.engine.expr.NativeFunctions.textStatCounts(
      col("text"), Seq.empty)
    val punctPpm = (col("tsc").getItem(2) * lit(1000000L)
      / greatest(length(col("text")), lit(1))).cast("long")
    val terminal = rtrim(col("text")).rlike("[.!?。！？]$")
    val reason = when(col("n_tokens") < 5, "too_short")
      .when(col("punct_ppm") > 300000L, "too_much_punct")
      .when(!col("terminal"), "no_terminal_punct")
    in.select(col("doc_id"), col("lang"), col("source"), col("text"),
        ts.as("tsc"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("tsc").getItem(0).as("n_tokens"), punctPpm.as("punct_ppm"),
        terminal.as("terminal"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("punct_ppm"),
        reason.isNull.as("keep"), coalesce(reason, lit("")).as("reason"))
  }

  /** Benchmark-contamination scan: for every benchmark document (the
    * deterministic holdout doc_id % benchMod == 0 stands in for an eval
    * set), find training documents sharing ≥ minShared distinct word
    * n-gram shingles, with the overlap as ppm of the benchmark doc's
    * shingles — the decontamination pass an eval-honest training corpus
    * runs before every release.
    *
    * Scale shape: the shingle join is df-capped exactly like
    * [[Dedup.ngramJaccardPairs]] (shingles in > maxDf docs are dropped
    * from the JOIN — ubiquitous n-grams carry no contamination signal),
    * so per-shingle join fan-out is ≤ cap² and the whole scan is
    * Σ bucket², never |bench| × |train|. The ppm denominator uses the
    * UNCAPPED shingle count, so scores stay comparable as the cap moves.
    */
  /** Registry form rides the threshold-0 n-gram pair stage (r16 — the
    * r15 `dedup_containment` move applied to the contamination family):
    * [[Dedup.ngramPairsT0]] is the full blocked shared-shingle fact
    * table — (doc_a, doc_b, shared_rare, n_a, n_b) under the SAME
    * 60-bit md5 blocking key and the SAME derived df cap
    * ([[ScaleKnobs.shingleDfCap]], which replaces this family's pinned
    * `maxDf = 100`; both caps clear every measured testdata df, so
    * committed artifacts replay bit-for-bit) — so a contamination pair
    * is just a T0 pair with exactly one benchmark-side endpoint:
    * n_shared ≡ shared_rare, and the UNCAPPED per-doc distinct-shingle
    * counts the ppm denominator needs are the n_a/n_b the stage already
    * carries. Before r16 this query re-ran the whole shingle explode +
    * a string-keyed bucket shuffle per execution (19.3 s at sf10, plus
    * the same again inside corpus_pipeline and corpus_decontaminated);
    * now all three read one materialization.
    */
  def contamination(spark: SparkSession, dir: String, benchMod: Int = 17,
                    minShared: Long = 2L): DataFrame = {
    // ONE pass over the pin (r16 session 3): a qualifying pair has
    // EXACTLY one benchmark-side endpoint, so a conditional endpoint
    // flip emits the same rows the old two-filtered-scans union did —
    // and the union's second full read of the multi-GB T0
    // materialization (the family's biggest disk-read row under
    // DISK_ONLY pins) disappears.
    val aIsBench = col("doc_a") % benchMod === 0
    val bIsBench = col("doc_b") % benchMod === 0
    Dedup.ngramPairsT0(spark, dir)
      .filter(aIsBench =!= bIsBench)
      .select(
        when(aIsBench, col("doc_a")).otherwise(col("doc_b")).as("bench_doc"),
        when(aIsBench, col("doc_b")).otherwise(col("doc_a")).as("train_doc"),
        col("shared_rare").as("n_shared"),
        when(aIsBench, col("n_a")).otherwise(col("n_b")).as("bench_n"))
      .filter(col("n_shared") >= minShared)
      .select(col("bench_doc"), col("train_doc"), col("n_shared"),
        (col("n_shared") * lit(1000000L) / col("bench_n"))
          .cast("long").as("contam_ppm"))
      .orderBy(col("bench_doc"), col("train_doc"))
  }

  /** Close the contamination loop: the train-side documents that survive
    * decontamination — everything [[contamination]] flags is removed via a
    * LEFT ANTI join (the id set is aggregated first, so the anti join
    * probes one row per contaminated doc, not one per contaminated
    * pair). `kept` rows carry lang/source so the post-filter mixture is
    * auditable against the pre-filter one.
    */
  def decontaminated(spark: SparkSession, dir: String, benchMod: Int = 17,
                     minShared: Long = 2L): DataFrame = {
    val flagged = contamination(spark, dir, benchMod, minShared)
      .select(col("train_doc").as("doc_id")).distinct()
    docs(spark, dir)
      .filter(col("doc_id") % benchMod =!= 0) // the train side only
      .join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Weighted interleave of language sub-corpora (en×4, zh×1, rest ×2):
    * the classic "upsample high-resource, downsample low-resource" mixing
    * schedule, expressed as a deterministic integer sort key.
    *
    * The r-th document of a weight-w class gets key (2r−1)·(4/w): reading
    * in key order yields the target mixing ratio in every prefix of the
    * corpus (what curriculum schedules require), with ties broken by
    * (lang, doc_id). Deliberately a sort KEY, not a global row_number —
    * a total ordinal would funnel every row through one window task,
    * while orderBy is a range-partitioned sort that scales.
    */
  def weightedInterleave(spark: SparkSession, dir: String): DataFrame = {
    val weight = when(col("lang") === "en", 4L)
      .when(col("lang") === "zh", 1L).otherwise(2L)
    val r = row_number()
      .over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))).cast("long")
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), weight.as("w"), r.as("r"))
      .select(col("doc_id"), col("lang"),
        ((col("r") * 2 - 1) * (lit(4L) / col("w")).cast("long"))
          .as("interleave_key"))
      .orderBy(col("interleave_key"), col("lang"), col("doc_id"))
  }

  /** Epoch/upsampling PLAN for a token budget — the mixing-schedule
    * arithmetic a curation run publishes before training: given a total
    * token budget (default 1M per sf0.01-scale corpus unit; a parameter,
    * linear in nothing) and the fixed per-lang mix weights of
    * [[weightedInterleave]], each language's requested token mass is
    * budget·w/Σw; the plan reports available tokens, requested tokens,
    * the number of FULL passes over the language (epochs, integer), the
    * leftover partial-pass tokens, and the effective upsampling factor
    * in exact milli. Epochs > 1 is the "seen more than once" signal
    * Muennighoff et al. 2023 budget around.
    *
    * Scale shape: one map-side-combined rollup to |langs| rows; all plan
    * arithmetic happens on that census.
    */
  def epochsPlan(spark: SparkSession, dir: String,
                 budgetTokens: Long = 1000000L): DataFrame = {
    val weight = when(col("lang") === "en", 4L)
      .when(col("lang") === "zh", 1L).otherwise(2L)
    val perLang = docs(spark, dir)
      .select(col("lang"), weight.as("w"),
        size(graft.engine.ext.Dedup.tokens(col("text"))).cast("long")
          .as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("avail"),
        min(col("w")).as("w"))
    val totalW = perLang.agg(sum(col("w")).as("tw"))
    perLang.crossJoin(broadcast(totalW))
      .select(col("lang"), col("n_docs"), col("avail"),
        expr(s"$budgetTokens * w div tw").as("requested"))
      .withColumn("epochs", expr("requested div greatest(avail, 1)"))
      .withColumn("partial_tokens", expr("requested % greatest(avail, 1)"))
      .withColumn("upsample_milli",
        expr("requested * 1000 div greatest(avail, 1)"))
      .orderBy(col("lang"))
  }

  /** Temperature-based multilingual sampling weights (the mBERT/XLM-R
    * schedule): a language with token share p gets sampling share
    * p^alpha / Σ p^alpha, here with alpha = 1/2 — upsampling low-resource
    * languages without flattening the distribution entirely.
    *
    * Unlike [[weightedInterleave]]'s fixed weights, these are DERIVED from
    * the corpus: one tiny aggregation (|languages| rows) computes raw token
    * shares, the temperature re-weighting is driver-free arithmetic over
    * that aggregate. Shares are reported in ppm (rounded doubles, 6 dp)
    * plus the upsample ratio actually applied per language. At 100 TB the
    * per-language rollup is one map-side-combined shuffle of O(|langs|)
    * rows; everything after is constant-size.
    */
  /** Cluster-size-aware dedup weighting — the production alternative to
    * dropping duplicates: every SimHash near-dup cluster contributes
    * ONE document's worth of sampling mass, split evenly across its
    * members (weight = 1e6 // cluster_size ppm), so repeated content is
    * down-weighted in the mix instead of discarded (what large-corpus
    * training recipes do when near-dups still carry unique spans).
    * Emits the per-language raw vs. effective token mass and the
    * effective-fraction ppm — the inputs a mixing step ([[mix]] /
    * [[temperatureWeights]]) would consume.
    *
    * Scale shape: the cluster build is [[graft.engine.ext.Dedup
    * .simhashClusters]] (bucketed pairs + checkpointed star contraction);
    * the size annotation is one window over cluster-grain rows; the
    * token counts ride the document scan; the rollup is |languages|
    * rows.
    */
  /** Per-source dataset manifest — the data-versioning record a 100 TB
    * pipeline publishes per shard/source: document and token counts,
    * character mass, the doc-id span, and an ORDER-INSENSITIVE content
    * signature (XOR of each document's 60-bit sha256 prefix) that two
    * independent runs can compare without agreeing on row order or
    * partitioning. Any single changed/added/dropped document flips the
    * signature; XOR makes it associative-commutative, so it reduces
    * map-side under any partitioning, like every sum here.
    *
    * Scale shape: one scan, one |sources|-row shuffle; the signature
    * shuffles 8 bytes per source, never content.
    */
  def manifest(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"),
        conv(substring(sha2(col("text"), 256), 1, 15), 16, 10)
          .cast("long").as("h60"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("bit_xor(h60)").as("content_sig"))
      .orderBy(col("source"))

  def dedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val cl = graft.engine.ext.Dedup.simhashClusters(spark, dir)
      .withColumn("cluster_size", count(lit(1)).over(
        Window.partitionBy(col("cluster_id"))))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"))
      .join(cl, "doc_id")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(col("n_tokens") * expr("1000000 div cluster_size"))
          .as("eff_tokens_micro"))
      .select(col("lang"), col("n_docs"), col("n_dup_docs"),
        col("raw_tokens"), col("eff_tokens_micro"),
        expr("eff_tokens_micro div raw_tokens").as("eff_ppm"))
      .orderBy(col("lang"))
  }

  /** Duplication × quality audit — the cross-signal census a cleaning
    * pipeline runs before choosing gate order: per (language,
    * duplicated?) cell, how many documents pass the quality gate
    * ([[qualityClean]]) and their mean length. If duplicated content
    * fails quality at a much higher rate, dedup-first saves the quality
    * pass's work (and vice versa); the keep-rate ppm is the evidence.
    *
    * Scale shape: the cluster build is the checkpointed SimHash CC
    * pipeline; quality rides the materialized [[qualitySignals]] stage;
    * the join is doc-grain on doc_id; the rollup is ≤ 2·|languages|
    * rows, map-side combined.
    */
  def dupQuality(spark: SparkSession, dir: String): DataFrame = {
    val cl = graft.engine.ext.Dedup.simhashClusters(spark, dir)
      .withColumn("cluster_size", count(lit(1)).over(
        Window.partitionBy(col("cluster_id"))))
      .select(col("doc_id"), (col("cluster_size") > 1).as("is_dup"))
    qualitySignals(spark, dir)
      .join(cl, "doc_id")
      .groupBy(col("lang"), col("is_dup"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(col("lang"), col("is_dup"), col("n_docs"), col("n_keep"),
        expr("n_keep * 1000000 div n_docs").as("keep_ppm"),
        expr("sum_tokens div n_docs").as("mean_tokens"))
      .orderBy(col("lang"), col("is_dup"))
  }

  /** Per-source document-length profile with EXACT rank-based
    * percentiles (the ceil(p·n) discrete convention of
    * [[graft.engine.ext.Sessionize.exactPercentiles]]): min / median /
    * p90 / max characters per source — the profiling pass that catches
    * a truncated crawl (max collapses) or a boilerplate flood (median
    * detaches from p90) before the source enters a mix.
    *
    * Scale shape: one rank window per source (per-source cardinality,
    * never global); min and max ride the SAME window as rank 1 and
    * rank n, so the whole profile is a single exchange + a
    * |sources|-row aggregate.
    */
  def lengthStats(spark: SparkSession, dir: String): DataFrame =
    lengthStats(docs(spark, dir))

  def lengthStats(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    documents.select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("rn") === 1L || col("rn") === col("n") ||
        col("rn") === expr("(n + 1) div 2") ||
        col("rn") === expr("(n * 9 + 9) div 10"))
      .groupBy(col("source"), col("n"))
      .agg(
        min(when(col("rn") === 1L, col("n_chars"))).as("min_chars"),
        min(when(col("rn") === expr("(n + 1) div 2"), col("n_chars")))
          .as("median_chars"),
        min(when(col("rn") === expr("(n * 9 + 9) div 10"), col("n_chars")))
          .as("p90_chars"),
        min(when(col("rn") === col("n"), col("n_chars"))).as("max_chars"))
      .select(col("source"), col("n").as("n_docs"), col("min_chars"),
        col("median_chars"), col("p90_chars"), col("max_chars"))
      .orderBy(col("source"))
  }

  /** Per-source length DECILE census — the full distribution
    * [[lengthStats]] only spot-checks: each source's documents cut into
    * exact NTILE(10) deciles of n_chars, with per-decile doc count,
    * char-length range, and total char mass. This is the
    * sequence-packing / curriculum input ("which decile of web carries
    * the token mass?"), and the decile cut is
    * [[ScaleRank.withGroupNtile]] — sources are the canonical
    * few-fat-groups case, so a partitionBy window would cap parallelism
    * at |sources| and hand the web crawl to one task; the grouped range
    * rank splits every source across partitions instead. Deterministic
    * (ORDER BY n_chars, doc_id), so DuckDB's ntile is the oracle
    * verbatim.
    */
  def lengthDeciles(spark: SparkSession, dir: String): DataFrame =
    lengthDeciles(docs(spark, dir))

  def lengthDeciles(documents: DataFrame): DataFrame =
    ScaleRank.withGroupNtile(
        documents.select(col("source"), col("doc_id"), col("n_chars")),
        "decile", 10, "source", col("n_chars"), col("doc_id"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"), col("decile"))

  /** Ingestion-order DRIFT census — quality over time within each
    * source: documents are batched in arrival order (doc_id rank
    * within source, `batch` docs per bucket) and each (source, batch)
    * cell reports its quality-gate keep rate and mean length. A
    * crawl that degrades mid-stream (encoding breaks, a template
    * change floods boilerplate) shows as a keep_ppm cliff long before
    * the aggregate per-source numbers move.
    *
    * Scale shape: [[qualityClean]] is a pure projection; the rank
    * window is per-source (bounded cardinality per partition); the
    * rollup is (|sources|·|batches|) rows, map-side combined.
    */
  def batchDrift(spark: SparkSession, dir: String, batch: Int = 25): DataFrame =
    batchDriftFromQuality(qualitySignals(spark, dir), batch)

  def batchDrift(documents: DataFrame, batch: Int): DataFrame =
    batchDriftFromQuality(qualityClean(documents), batch)

  private def batchDriftFromQuality(quality: DataFrame, batch: Int): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    quality
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("batch_no", expr(s"(rn - 1) div $batch"))
      .groupBy(col("source"), col("batch_no"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(col("source"), col("batch_no"), col("n_docs"), col("n_keep"),
        expr("n_keep * 1000000 div n_docs").as("keep_ppm"),
        expr("sum_tokens div n_docs").as("mean_tokens"))
      .orderBy(col("source"), col("batch_no"))
  }

  def temperatureWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(TextAnalysis.wsTokens(col("text"))).cast("long")
    val perLang = docs(spark, dir)
      .select(col("lang"), toks.as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    // Window over |languages| rows (single digits): the unpartitioned
    // totals are constant-size, not a corpus funnel. p^(1/2) is taken as
    // floor(sqrt(n_tokens)) — an exact integer in every engine (IEEE sqrt
    // is correctly rounded), so the normalizing sums are integer-exact and
    // immune to float-summation-order drift.
    val all = Window.partitionBy()
    perLang
      .withColumn("tot", sum(col("n_tokens")).over(all))
      .withColumn("sq", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      .withColumn("sqtot", sum(col("sq")).over(all))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") * lit(1000000.0) / col("tot"), 2)
          .as("raw_ppm"),
        round(col("sq") * lit(1000000.0) / col("sqtot"), 2)
          .as("temp_ppm"),
        round((col("sq").cast("double") / col("sqtot"))
          / (col("n_tokens").cast("double") / col("tot")), 4)
          .as("upsample"))
      .orderBy(col("lang"))
  }

  /** The whole corpus build as ONE composed query: every document gets a
    * final disposition — `holdout` (benchmark side), `dropped` with the
    * first failing stage as its reason (`too_short`/`too_much_punct`/
    * `no_terminal_punct` → `duplicate` → `contaminated`), or `kept` with
    * its train/val/test split. The audit table a data-governance review
    * asks for: one row per document, one verdict, one reason.
    *
    * Stage semantics: exact-dedup canonicals are chosen among
    * quality-kept train documents (later stages never resurrect a doc an
    * earlier stage dropped); the contamination flag is the same set
    * [[decontaminated]] removes. Catalyst sees the whole thing as one
    * plan — the scan is shared, the quality gate is a projection, dedup
    * is one window, contamination is the bucket-join — so composing
    * stages adds no extra passes over the corpus.
    */
  def pipeline(spark: SparkSession, dir: String, benchMod: Int = 17,
               minShared: Long = 2L): DataFrame = {
    val d = docs(spark, dir)
    // Both expensive inputs are materialized stages (r16): the
    // contamination flags ride the T0 pair table (see [[contamination]])
    // and the quality verdicts ride `corpus.quality` — the pipeline's
    // own work is the text window (exact-dup canonicals), the split
    // bucketing, and three joins.
    val flagged = contamination(spark, dir, benchMod, minShared)
      .select(col("train_doc").as("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val stage = qualitySignals(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        col("keep"), col("reason"))
      .join(d.select(col("doc_id"), col("text")), "doc_id")
      .withColumn("is_bench", col("doc_id") % benchMod === 0)
      .withColumn("bucket", hashBucket(col("text")) % 100)
    val w = Window.partitionBy(col("text"))
    stage
      .withColumn("canonical",
        min(when(col("keep") && !col("is_bench"), col("doc_id"))).over(w))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("is_bench"), "holdout")
          .when(!col("keep"), "dropped")
          .when(col("doc_id") =!= col("canonical"), "dropped")
          .when(col("contaminated").isNotNull, "dropped")
          .otherwise("kept").as("status"),
        when(col("is_bench"), "")
          .when(!col("keep"), col("reason"))
          .when(col("doc_id") =!= col("canonical"), lit("duplicate"))
          .when(col("contaminated").isNotNull, lit("contaminated"))
          .otherwise(lit("")).as("reason"),
        when(col("is_bench") || !col("keep")
            || col("doc_id") =!= col("canonical")
            || col("contaminated").isNotNull, "")
          .when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Token budget the quota sampler fills (total across languages). */
  val QuotaBudget = 20000L

  /** Budget-quota sampling: fill a fixed total token budget with documents,
    * allocating each language a quota proportional to its token share and
    * filling each quota greedily in content-hash order — "give me a 10 B
    * token mix with today's language proportions" as one deterministic
    * query. Only documents that fit their cell's remaining quota entirely
    * are kept (no partial documents).
    *
    * Scale shape: the per-language totals are one map-side-combined
    * aggregation (|langs| rows, broadcast back); selection is one window
    * cumsum per language — the same per-cell sequential scan as
    * [[packSequences]], with the cell axis as the parallelism knob. Hash
    * order makes the fill unbiased and stable under re-partitioning.
    */
  def quotaSample(spark: SparkSession, dir: String,
                  budget: Long = QuotaBudget): DataFrame = {
    val toks = size(TextAnalysis.wsTokens(col("text"))).cast("long")
    val d = docs(spark, dir)
      .select(col("doc_id"), col("lang"), toks.as("n_tokens"),
        sha2(col("text"), 256).as("h"))
    val cells = d.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("cell_tokens"))
      .withColumn("total", sum(col("cell_tokens")).over(Window.partitionBy()))
      // exact integer floor division (`div`), not double-divide-then-cast:
      // at large token counts a quotient within half an ULP of an integer
      // would round UP through the double and flip a boundary document's
      // kept/dropped decision vs the oracle's `//`.
      .select(col("lang"),
        expr(s"($budget * cell_tokens) div total").as("quota"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    d.join(broadcast(cells), "lang")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("cum_tokens"), col("quota"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic per-epoch training order: epoch e reads the corpus in
    * the order of md5(e:doc_id) — a different, reproducible permutation
    * every epoch with no RNG state to checkpoint. Each epoch's ordering
    * is a range-partitioned sort on the hash key (scales like any sort);
    * the explode is epochs× row growth, which a real run wouldn't
    * materialize — it reads one epoch's ordering at a time.
    */
  def epochOrder(spark: SparkSession, dir: String, epochs: Int = 3): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .select(col("doc_id"), col("epoch"),
        Dedup.md5Hash60(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))).as("order_key"))
      .orderBy(col("epoch"), col("order_key"), col("doc_id"))

  /** RAG/context-window chunking: split each document into overlapping
    * fixed-size token windows (window `w` tokens, stride `s`) with full
    * provenance — (doc_id, chunk_no, start_token, n_chunk_tokens, text).
    * The last window is allowed to be short; every document yields at
    * least one chunk so provenance joins never drop rows.
    *
    * Pure per-row generate (explode of an integer sequence + array
    * slices): no shuffle, no state, linear in corpus size — chunking
    * 100 TB is exactly as parallel as reading it. Token re-join uses a
    * single space, which is lossless for whitespace-tokenized text.
    */
  def chunks(spark: SparkSession, dir: String, w: Int = 32, s: Int = 24): DataFrame =
    chunks(docs(spark, dir), w, s)

  def chunks(d: DataFrame, w: Int, s: Int): DataFrame = {
    val words = TextAnalysis.wsTokens(col("text"))
    val n = size(words).cast("long")
    // ceil((n-w)/s)+1 in integer math, floored at 1 chunk. Spark's integer
    // `/` truncates toward zero and DuckDB's `//` floors — they disagree
    // on negative operands (n < w-s+1), so the greatest(1, ·) clamp is
    // load-bearing for oracle parity, not just for empty docs.
    val nChunks = greatest(lit(1L),
      ((n - w + (s - 1)) / s).cast("long") + 1L)
    d.select(col("doc_id"), words.as("words"), n.as("n"), nChunks.as("nc"))
      .select(col("doc_id"), col("words"), col("n"),
        explode(sequence(lit(0L), col("nc") - 1L)).as("chunk_no"))
      .select(
        col("doc_id"), col("chunk_no"),
        (col("chunk_no") * s + 1L).as("start_token"),
        least(lit(w.toLong), col("n") - col("chunk_no") * s)
          .as("n_chunk_tokens"),
        array_join(slice(col("words"), (col("chunk_no") * s + 1L).cast("int"),
          lit(w)), " ").as("chunk_text"))
  }

  /** DSIR-shaped data selection score (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much its hashed-unigram profile looks like the
    * TARGET distribution (here: the corpus_clean keep set — the same
    * ≥5-token / ≤30%-punct / terminal-punctuation gate, so the score
    * needs no external target corpus) versus the RAW distribution (all
    * documents). DSIR proper resamples with weight exp(Σ log p_t/p_r);
    * this emits the deterministic integer analog — the token-frequency-
    * weighted MEAN of per-bucket probability ratios in ppm (arithmetic
    * mean of ratios instead of the geometric mean the log-sum implies),
    * with add-1 smoothing so empty buckets stay finite. Ranking by it
    * selects the same "looks like the target" tail; every division is a
    * documented floor, so the score replays bit-exactly cross-engine.
    *
    * Buckets are `md5(token) mod nBuckets` — the hashed feature trick
    * from the paper (vocabulary-independent, fixed table size).
    * Two-stage floor: per-bucket shares in ppm first (≤ 1e6 regardless
    * of corpus size), then the share ratio in ppm — so no product ever
    * exceeds 1e12 even at 100 TB (exact cross-multiplication would
    * square corpus-sized token totals).
    *
    * Scale shape: one token-bucket census collapses the corpus to
    * nBuckets rows (map-side partials), the 1-row totals aggregate
    * broadcasts into it, the resulting ≤nBuckets weight table broadcasts
    * back onto the token stream, and ONE doc_id-keyed exchange makes the
    * per-doc sums. Docs with zero tokens have no profile and no row
    * (matching the oracle).
    */
  def dsirScore(spark: SparkSession, dir: String,
                nBuckets: Int = 256): DataFrame = {
    val toksCol = TextAnalysis.wsTokens(col("text"))
    val punctPpm = (size(regexp_extract_all(col("text"),
      lit("[^A-Za-z0-9\\s]"), lit(0))) * lit(1000000L)
      / greatest(length(col("text")), lit(1))).cast("long")
    val keep = size(toksCol).cast("long") >= 5L && punctPpm <= 300000L &&
      rtrim(col("text")).rlike("[.!?。！？]$")
    // The keep gate (three full-text regexes) MUST evaluate per DOCUMENT.
    // A single select(…keep…, explode(…)) is split by ExtractGenerator
    // into Generate + a Project ABOVE it, which re-runs the regexes once
    // per TOKEN (~50× the work — measured 33 s instead of ~1 s at sf0.1).
    // Materializing keep in its own projection puts it below the Generate
    // boundary, where it is computed once per doc and carried through.
    val tok = docs(spark, dir)
      .select(col("doc_id"), keep.as("keep"),
        TextAnalysis.wsTokens(lower(col("text"))).as("t"))
      .select(col("doc_id"), col("keep"), explode(col("t")).as("tok"))
      .select(col("doc_id"), col("keep"),
        // native md5-prefix (r15): same value as the conv chain, no
        // per-token hex-string/conv allocations on this corpus-wide scan
        (graft.engine.expr.NativeFunctions.md5PrefixLong(col("tok"), 8)
          % nBuckets).as("bucket"))
    // Doc-grain bucket census, computed ONCE and checkpointed: both the
    // global weight table and the per-doc scores are diamonds over this
    // subtree, and without the checkpoint each would re-run the whole
    // tokenize + hash pass. ≤ nBuckets rows per doc. A checkpoint, not a
    // persist: it leaves no session cache entry for a later call to match.
    val docBucket = graft.engine.StageCache.checkpointed(tok
      .groupBy(col("doc_id"), col("keep"), col("bucket"))
      .agg(count(lit(1)).as("n")))
    val census = docBucket.groupBy(col("bucket"))
      .agg(sum(col("n")).as("c_raw"),
        sum(when(col("keep"), col("n")).otherwise(0L)).as("c_tgt"))
    val tot = census.agg(sum(col("c_raw")).as("t_raw"),
      sum(col("c_tgt")).as("t_tgt"))
    val weights = census.crossJoin(broadcast(tot))
      .select(col("bucket"),
        expr(s"(c_tgt + 1) * 1000000 div (t_tgt + $nBuckets)").as("p_tgt_ppm"),
        expr(s"(c_raw + 1) * 1000000 div (t_raw + $nBuckets)").as("p_raw_ppm"))
      .select(col("bucket"),
        expr("p_tgt_ppm * 1000000 div greatest(p_raw_ppm, 1)").as("r_ppm"))
    docBucket.join(broadcast(weights), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("r_ppm")).as("sum_r"))
      .select(col("doc_id"), col("n_tokens"),
        expr("sum_r div n_tokens").as("dsir_ppm"),
        (expr("sum_r div n_tokens") > 1000000L).as("upweight"))
      .orderBy(col("doc_id"))
  }

  /** Per-source distribution drift: exact total-variation distance
    * between each source's unigram distribution and the whole corpus —
    * the one-number answer to "which ingest source no longer looks like
    * the mix we trained the tokenizer / chose the weights on". TV is
    * preferred here over KL/χ² because it is a RATIONAL functional of
    * the counts (KL needs logs, χ² squares corpus-sized integers), so
    * the ppm result is integer-exact cross-engine at any scale.
    *
    *   TV(s) = ½ Σ_w |p_s(w) − p(w)|
    *         = [Σ_{w∈s} |c_sw·N − c_w·N_s| + (N − cov_s)·N_s] / (2·N_s·N)
    *
    * where cov_s = Σ_{w∈s} c_w folds the whole absent-word tail into one
    * closed-form term (a word the source never uses contributes its full
    * corpus mass) — the sum runs only over (source, word) pairs that
    * EXIST, never over the vocabulary × sources cross product. Products
    * are summed as DECIMAL(38,0)/HUGEINT (c_sw·N reaches 1e26 at 100 TB),
    * floored back to a BIGINT ppm at the end.
    *
    * Scale shape: one (source, word) census exchange, one word-keyed
    * join to the corpus word counts, a broadcast of the per-source
    * totals (|sources| rows) and the 1-row corpus total, then a
    * |sources|-row aggregate. Nothing is ever vocabulary × sources.
    */
  def tvDrift(spark: SparkSession, dir: String): DataFrame = {
    val sw = docs(spark, dir)
      .select(col("source"),
        explode(TextAnalysis.wsTokens(lower(col("text")))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("c_sw"))
    val wc = sw.groupBy(col("word")).agg(sum(col("c_sw")).as("c_w"))
    val st = sw.groupBy(col("source"))
      .agg(sum(col("c_sw")).as("n_s"), count(lit(1)).as("n_w"))
    val nTot = sw.agg(sum(col("c_sw")).as("n"))
    sw.join(wc, "word")
      .join(broadcast(st), "source")
      .crossJoin(broadcast(nTot))
      .groupBy(col("source"))
      .agg(
        sum(abs(col("c_sw").cast("decimal(38,0)") * col("n")
          - col("c_w").cast("decimal(38,0)") * col("n_s"))).as("sum_d"),
        // decimal: Σ c_w per source is vocab·N-bounded, past BIGINT at 100 TB
        sum(col("c_w").cast("decimal(38,0)")).as("cov"),
        // constant within each source group — min is the deterministic pick
        min(col("n_s")).as("n_tokens"),
        min(col("n_w")).as("n_distinct_words"),
        min(col("n")).as("n"))
      .select(col("source"), col("n_tokens"), col("n_distinct_words"),
        expr("""cast((sum_d + (cast(n as decimal(38,0)) - cov) * n_tokens)
                 * 1000000 div (2 * cast(n_tokens as decimal(38,0)) * n)
                as bigint)""").as("tv_ppm"))
      .orderBy(col("source"))
  }

  /** HASH-BERNOULLI downsampling to a per-source cap — the sort-free,
    * shuffle-free way to rebalance an over-represented crawl at 100 TB.
    *
    * Policy: every source is capped at its equal share of the corpus
    * (`target = ceil(total / n_sources)`), so sources above the cap get
    * `rate_ppm = target·1e6 / n_s` and the rest keep everything. The keep
    * decision is `md5(source:doc_id) mod 1e6 < rate_ppm` — a pure per-row
    * predicate: no sort, no window, no per-stratum state, and the SAME
    * documents survive on any partitioning, any engine, any re-run
    * (contrast [[stratifiedSample]], whose exact-k guarantee costs a
    * per-stratum sort — the right tool when k must be exact; this is the
    * right tool when a ppm-accurate rate is enough and the corpus is
    * huge).
    *
    * Emits the per-source audit (corpus size, applied rate, survivors):
    * the rate table is a broadcast-size dimension (one row per source).
    */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    hashSample(docs(spark, dir))

  /** SNAPSHOT DIFF — the data-versioning primitive ([[manifest]] tells
    * two runs their shards differ; this says exactly HOW): full-outer
    * join of two corpus versions on doc_id comparing content hashes,
    * rolled up per (source, status) with the id span of each change
    * class. Status ∈ added / removed / changed / unchanged.
    *
    * The "previous" snapshot is derived deterministically so the oracle
    * replays it: docs with doc_id % 11 == 3 didn't exist yet (→ added),
    * docs with doc_id % 13 == 0 carried an older text revision
    * (upper-cased here — any content change reads the same through the
    * hash), and every surviving doc_id % 17 == 5 was since deleted
    * (→ removed).
    *
    * Scale shape: two content-hash projections + ONE doc_id-keyed
    * full-outer join + a census rollup. At 100 TB both sides prune to
    * (doc_id, hash) before the join — never the text — and the rollup
    * is |sources|·4 rows.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame =
    snapshotDiff(docs(spark, dir))

  def snapshotDiff(current: DataFrame): DataFrame = {
    def hashed(df: DataFrame, tag: String) = df.select(
      col("doc_id"), col("source"),
      sha2(col("text"), 256).as(s"${tag}_hash"))
    val prev = hashed(
      current.filter(pmod(col("doc_id"), lit(11L)) =!= 3L)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(13L)) === 0L, upper(col("text")))
            .otherwise(col("text")))
        .unionByName(
          // rows deleted from the current snapshot but present before:
          // reconstructed deterministically from the current corpus shape
          current.filter(pmod(col("doc_id"), lit(17L)) === 5L)
            .withColumn("doc_id", -col("doc_id"))), "old")
    val cur = hashed(current, "new")
    val joined = prev.withColumnRenamed("source", "old_source")
      .join(cur, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("source"), col("old_source")).as("source"),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") =!= col("new_hash"), "changed")
          .otherwise("unchanged").as("status"),
        col("doc_id"))
    joined.groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("source"), col("status"))
  }

  def hashSample(in: DataFrame): DataFrame = {
    val counts = in.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("total"),
      count(lit(1)).as("n_sources"))
    val rates = counts.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"),
        least(lit(1000000L),
          expr("((total + n_sources - 1) div n_sources) * 1000000 div n_docs"))
          .as("rate_ppm"))
    in.select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .filter(
        pmod(graft.engine.ext.Dedup.md5Hash60(
          concat(col("source"), lit(":"), col("doc_id").cast("string"))),
          lit(1000000L)) < col("rate_ppm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("rate_ppm")).as("rate_ppm"),
        min(col("n_docs")).as("n_docs"))
      .select(col("source"), col("n_docs"), col("rate_ppm"), col("n_kept"))
      .orderBy(col("source"))
  }
}
