package graft.engine.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, language-ID, quality scoring and
  * document fingerprinting.
  *
  * Everything is built-in Catalyst expressions (regexp_*, md5, integer
  * arithmetic) — one WholeStageCodegen span per document, no UDFs, no
  * shuffle except where an aggregate is requested. Ratios are reported as
  * exact integer parts-per-million (`x_ppm = cnt * 1_000_000 / total`,
  * BIGINT division) instead of rounded doubles so results are
  * bit-reproducible across engines and partitionings.
  */
object TextAnalysis {

  /** Whitespace tokens (reference point: split on runs of whitespace). */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** BPE-ish subword segments: letter runs, digit runs, or single
    * non-alnum marks — the classic pre-tokenizer regex shape.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Tiny per-language stopword inventories for the n-gram/stopword
    * language-ID heuristic (the word LISTS are the source of truth; the
    * equivalent word-boundary case-insensitive regexes below derive from
    * them, so the regex and fused-scan forms cannot drift apart).
    */
  val EnStopWords = Seq("the", "and", "of", "to", "in", "is", "a", "for", "with", "on")
  val EsStopWords = Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "para")
  val FrStopWords = Seq("le", "la", "de", "et", "un", "pour", "que", "dans", "sur", "avec")
  val EnStop = s"(?i)\\b(${EnStopWords.mkString("|")})\\b"
  val EsStop = s"(?i)\\b(${EsStopWords.mkString("|")})\\b"
  val FrStop = s"(?i)\\b(${FrStopWords.mkString("|")})\\b"
  /** CJK presence: any Han character is a strong zh signal. */
  val HanChar = "\\p{IsHan}"

  /** Per-document analysis row: token counts, ppm ratios, fingerprint. */
  def analyze(spark: SparkSession, dir: String): DataFrame =
    analyze(spark.read.parquet(s"$dir/documents.parquet"))

  def analyze(docs: DataFrame): DataFrame = {
    // ONE fused text scan for the five count signals (r14): the regex
    // battery ran 5 passes + 5 materialized match arrays per row and was
    // the #2 absolute sf10 row (101.5 s). text_stat_counts is
    // semantically bit-identical by construction (see its scaladoc);
    // the normalize-fingerprint keeps its own two passes (regexp_replace
    // rewrites, it doesn't count). The counts stay INT in the output
    // schema, as size() produced; the ppm ratios repeat the original
    // long-multiply / double-divide / cast-long arithmetic exactly.
    val len = length(col("text"))
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val ts = graft.engine.expr.NativeFunctions.textStatCounts(
      col("text"), EnStopWords)
    docs.select(col("doc_id"), col("lang"), col("source"),
        len.as("n_chars_m"), md5(norm).as("fingerprint"), ts.as("tsc"))
      .select(
        col("doc_id"), col("lang"), col("source"),
        col("n_chars_m"),
        col("tsc").getItem(0).cast("int").as("n_tokens_ws"),
        col("tsc").getItem(1).cast("int").as("n_tokens_bpe"),
        col("tsc").getItem(2).cast("int").as("n_punct"),
        col("tsc").getItem(3).cast("int").as("n_upper"),
        (col("tsc").getItem(2) * lit(1000000L)
          / greatest(col("n_chars_m"), lit(1))) // empty doc -> 0, not NULL
          .cast("long").as("punct_ppm"),
        (col("tsc").getItem(4) * lit(1000000L)
          / greatest(col("tsc").getItem(0), lit(1)))
          .cast("long").as("stopword_ppm"),
        col("fingerprint"))
  }

  /** Language-ID heuristic: stopword-hit counts per language plus a CJK
    * check; predicted language = argmax with a fixed priority order on
    * ties (zh > en > es > fr > unknown) so the answer is deterministic.
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langId(spark.read.parquet(s"$dir/documents.parquet"))

  def langId(docs: DataFrame): DataFrame = {
    // ONE fused text scan for all four signals (r14): the four
    // independent size(regexp_extract_all(...)) passes each re-scanned
    // the document AND materialized its match array — 4 regex executions
    // + 4 allocations per row on the suite's biggest absolute query.
    // lang_signal_counts is semantically bit-identical (ASCII-\b word
    // sets + \p{IsHan} char count — see NativeFunctions.langSignalRun), so
    // every committed artifact replays. Counts stay INT in the output
    // schema, as size() produced.
    val sig = graft.engine.expr.NativeFunctions.langSignalCounts(
      col("text"), Seq(EnStopWords, EsStopWords, FrStopWords))
    val en = col("lsc").getItem(0).cast("int")
    val es = col("lsc").getItem(1).cast("int")
    val fr = col("lsc").getItem(2).cast("int")
    val han = col("lsc").getItem(3).cast("int")
    docs.select(col("doc_id"), col("lang"), sig.as("lsc"))
      .select(
        col("doc_id"), col("lang").as("lang_true"),
        en.as("en_hits"), es.as("es_hits"), fr.as("fr_hits"), han.as("han_hits"),
        when(han > 0, "zh")
          .when(en >= es && en >= fr && en > 0, "en")
          .when(es >= fr && es > 0, "es")
          .when(fr > 0, "fr")
          .otherwise("unknown").as("lang_pred"))
  }

  /** Language-ID CONFUSION matrix — [[langId]]'s predictions against the
    * declared label, with per-true-language share in exact ppm: the
    * quality scorecard of the classifier itself (which cells leak, which
    * languages fall to `unknown`). The share window partitions by
    * lang_true over the |langs|·|preds| census — constant-size.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langConfusion(spark.read.parquet(s"$dir/documents.parquet"))

  def langConfusion(docs: DataFrame): DataFrame = {
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang_true"))
    langId(docs)
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("true_total", sum(col("n_docs")).over(wt))
      .select(col("lang_true"), col("lang_pred"), col("n_docs"),
        expr("n_docs * 1000000 div true_total").as("share_ppm"))
      .orderBy(col("lang_true"), col("lang_pred"))
  }

  /** READABILITY census per source: corpus-level words-per-sentence and
    * chars-per-word in exact milli units — the two cheapest readability
    * inputs (Flesch-style formulas are affine in exactly these ratios).
    * Components sum per source first (one map-side-combined shuffle),
    * the ratios divide once at the end — integer-exact, and the ratio
    * of sums is the corpus-level estimator (robust to doc-length mix,
    * unlike a mean of per-doc ratios).
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readability(spark.read.parquet(s"$dir/documents.parquet"))

  def readability(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(wsTokens(col("text"))).cast("long").as("n_words"),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long").as("n_sentences"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long")
          .as("n_word_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_sentences")).as("n_sentences"),
        sum(col("n_word_chars")).as("n_word_chars"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"),
        expr("n_words * 1000 div greatest(n_sentences, 1)").as("wps_milli"),
        expr("n_word_chars * 1000 div greatest(n_words, 1)").as("cpw_milli"))
      .orderBy(col("source"))

  /** Rolling-window document fingerprint (winnowing-style): Karp-Rabin
    * hash every 16-code-point window of the text, then keep the MINIMUM
    * window hash as the doc fingerprint plus the distinct window count.
    * Near-identical docs share the min-hash window with high probability
    * — the winnowing selection rule, one projection per doc.
    *
    * r15 REBUILD: the window hash is the native rolling Karp-Rabin
    * kernel ([[graft.engine.expr.NativeFunctions.winnowRun]] —
    * one multiply-add per code point) instead of one md5 per window
    * position (one md5 per CHARACTER — ~100× the per-byte cost of any
    * other scan and the suite's worst decade ratio at sf10). Fingerprint
    * values are incomparable with the md5 build (an index REBUILD);
    * the DuckDB oracle replays the identical 61-bit polynomial in
    * HUGEINT arithmetic, so the gate stays value-exact.
    */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprint(cpuBoundDocs(spark, dir))

  /** The documents scan, re-balanced for a CPU-BOUND per-row consumer.
    *
    * Spark sizes file splits by BYTES (maxPartitionBytes), which is right
    * for I/O-bound scans but starves compute-bound ones: a compact
    * parquet (5.7 MB at sf1 = ONE split) would otherwise run the whole
    * per-window scan on a single core. When the scan yields fewer splits
    * than cores, redistribute rows round-robin first — the shuffle moves
    * only the raw text (bytes ≪ the hash work downstream); when the
    * input is big enough to split naturally (the 100 TB case), this is a
    * no-op and no shuffle happens. (Worth less since the Karp-Rabin
    * rebuild cut per-byte cost ~100×, but a fixture-scale parquet still
    * under-splits 32 cores.)
    */
  private[ext] def cpuBoundDocs(spark: SparkSession, dir: String): DataFrame =
    graft.engine.ingest.Sources.rebalanceSmall(spark,
      spark.read.parquet(s"$dir/documents.parquet"))

  def winnowFingerprint(docs: DataFrame, w: Int = 16): DataFrame = {
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"),
        graft.engine.expr.NativeFunctions
          .winnowKarpRabin(col("text"), w).as("kr"))
      .select(col("doc_id"),
        col("kr.fingerprint_h").as("fingerprint_h"),
        col("kr.n_distinct_windows").as("n_distinct_windows"))
  }

  /** Tokenizer fertility census per (lang, source): BPE-ish subtokens
    * per whitespace word (`fertility_milli`, ratio-of-sums so long docs
    * weigh in proportion) and characters per subtoken. Fertility is THE
    * tokenizer-fit diagnostic when pricing a vocab against a corpus mix —
    * a language segmenting at 2× the subtokens/word of English pays 2×
    * the sequence length for the same content. Integer-exact milli
    * ratios; one partial-aggregated shuffle on the (lang, source) key.
    */
  def fertility(spark: SparkSession, dir: String): DataFrame =
    fertility(spark.read.parquet(s"$dir/documents.parquet"))

  def fertility(docs: DataFrame): DataFrame =
    analyze(docs)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens_ws")).as("sum_words"),
        sum(col("n_tokens_bpe")).as("sum_subtokens"),
        sum(col("n_chars_m")).as("sum_chars"))
      .select(col("lang"), col("source"), col("n_docs"), col("sum_words"),
        col("sum_subtokens"),
        expr("sum_subtokens * 1000 div greatest(sum_words, 1)")
          .as("fertility_milli"),
        expr("sum_chars * 1000 div greatest(sum_subtokens, 1)")
          .as("chars_per_subtoken_milli"))
      .orderBy(col("lang"), col("source"))

  /** Corpus-level quality rollup per (lang, source): the aggregation a
    * filter stage would gate on. Integer-exact everywhere.
    */
  def qualityRollup(spark: SparkSession, dir: String): DataFrame =
    qualityRollup(spark.read.parquet(s"$dir/documents.parquet"))

  def qualityRollup(docs: DataFrame): DataFrame =
    analyze(docs)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars_m")).as("sum_chars"),
        sum(col("n_tokens_ws")).as("sum_tokens"),
        min(col("punct_ppm")).as("min_punct_ppm"),
        max(col("punct_ppm")).as("max_punct_ppm"),
        (sum(col("n_punct")) * lit(1000000L)
          / greatest(sum(col("n_chars_m")), lit(1)))
          .cast("long").as("corpus_punct_ppm"))
      .orderBy(col("lang"), col("source"))

  /** Keyword extraction: top-3 terms per document by a rarity-weighted
    * integer score `tf · 1e6 / df` (tf-idf with the log dropped so the
    * score stays exact BIGINT — same ranking direction, cross-engine
    * reproducible). Ties break by term.
    *
    * Scale shape: token explode → (doc, term) tf aggregate → term-df
    * aggregate → shuffle join on term (vocab is co-partitioned, never
    * collected) → per-doc rank filter, which Spark plans as
    * WindowGroupLimit (partial top-K before the exchange).
    */
  def keywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    keywords(spark.read.parquet(s"$dir/documents.parquet"), k)

  /** BPE merge selection (the counting core of tokenizer training): build
    * the word vocabulary with corpus frequencies, expand each word into its
    * adjacent character pairs, and rank pairs by corpus-weighted count —
    * the top entry is the merge a BPE trainer would apply first; the
    * top-k table is the first merge candidates.
    *
    * Scale shape: one token explode + word-vocab aggregate (the shuffle
    * key space is the vocabulary, not the corpus), a per-word bigram
    * expansion, and a bigram aggregate whose key space is bounded by
    * charset² — the final ranking window runs over that tiny table, so
    * the single-partition window is constant-size at any corpus scale.
    */
  def bpeMerges(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    bpeMerges(spark.read.parquet(s"$dir/documents.parquet"), k)

  def bpeMerges(docs: DataFrame, k: Int): DataFrame = {
    val vocab = docs
      .select(explode(wsTokens(lower(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_w"))
    val pairs = vocab
      // guard: Spark sequence(1, 0) would generate DESCENDING [1, 0]
      .filter(length(col("word")) >= 2)
      .select(col("n_w"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n_w")).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cnt"), col("pair"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("pair"), col("cnt"))
      .orderBy(col("rank"))
  }

  /** Gopher-style repetition signals per document: duplicate-word,
    * top-word and duplicate-n-gram fractions (the published quality
    * filters drop docs whose top word or duplicate 2-grams exceed a
    * fraction of the text — all reported here as exact integer ppm, with
    * a `repetitive` verdict at the classic ~20 % thresholds).
    *
    * Scale shape: the word-mode stat (count of the most frequent word)
    * aggregates via explode → (doc, word) → doc, both with map-side
    * combine; the n-gram distinct counts are per-doc array projections
    * (no shuffle). One co-partitioned join on doc_id stitches them.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetition(spark.read.parquet(s"$dir/documents.parquet"))

  def repetition(docs: DataFrame): DataFrame = {
    // ONE compiled pass per document (r16): every counter here is
    // per-doc local, so the old shape's two shuffles (explode →
    // (doc, word) agg → doc agg) and two interpreted gram-building
    // transforms + array_distinct were pure overhead —
    // [[graft.engine.expr.NativeFunctions.wordRepRun]] computes all
    // seven counters in a single scan of the raw split output (it skips
    // empties itself, so the interpreted wsTokens filter() HOF drops out
    // too), with distinct counts over DENSE WORD IDS — exact, never a
    // lossy hash, bit-identical to the oracle's distinct-gram-string
    // counts. Measured 23.2 → 7.6 s at sf10 (r16 artifact of record;
    // BenchOne median 9.3), 7.2 → 3.3 s sf1.
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    // string-input mode: the kernel lowercases + splits itself (same
    // UTF8String.toLowerCase, same Java-regex-\s byte set), skipping the
    // regex engine and the per-doc token-array materialization entirely
    val c = graft.engine.expr.NativeFunctions.wordRepCounts(col("text"))
    def ppm(num: Column, den: Column): Column =
      (num * lit(1000000L) / greatest(den, lit(1L))).cast("long")
    val topPpm = ppm(col("top_word_cnt"), col("n_words"))
    val dup2Ppm = ppm(col("n2") - col("d2"), col("n2"))
    docs
      .select(col("doc_id"), c.as("c"))
      .select(col("doc_id"),
        col("c").getItem(0).as("n_words"),
        col("c").getItem(1).as("n_distinct_words"),
        col("c").getItem(2).as("top_word_cnt"),
        col("c").getItem(3).as("n2"), col("c").getItem(4).as("d2"),
        col("c").getItem(5).as("n3"), col("c").getItem(6).as("d3"))
      // a zero-word doc has no meaningful repetition stats — it belongs
      // to the length filter, not this one (the old inner join's edge)
      .filter(col("n_words") >= 1L)
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        col("top_word_cnt"),
        ppm(col("n_words") - col("n_distinct_words"), col("n_words"))
          .as("dup_word_ppm"),
        topPpm.as("top_word_ppm"),
        dup2Ppm.as("dup_2gram_ppm"),
        ppm(col("n3") - col("d3"), col("n3")).as("dup_3gram_ppm"),
        (topPpm > 200000L || dup2Ppm > 200000L).as("repetitive"))
  }

  /** Unigram surprisal proxy (a perplexity stand-in cheap enough to run
    * as a corpus filter): every word occurrence scores
    * `floor(1e6 · N / cnt(word))` — rare words score high — and a
    * document's score is the sum, normalized per word. Integer-exact, so
    * cross-engine reproducible (a float log would hash-diverge).
    *
    * Scale shape: one vocab aggregate (key space = vocabulary), one
    * co-partitioned join occurrences⋈vocab on word (stop-word keys are
    * hot — AQE skew-join splits them; the salted two-phase variant in
    * [[Sessionize.saltedTypeRollup]] is the manual fallback), one doc
    * aggregate. The corpus total joins in as a broadcast scalar. BIGINT
    * holds to ~10^12-word corpora (1e6·N < 2^63); past that, move the
    * weight to decimal(38,0) — noted rather than paid here.
    */
  def surprisal(spark: SparkSession, dir: String): DataFrame =
    surprisal(spark.read.parquet(s"$dir/documents.parquet"))

  def surprisal(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"),
      explode(wsTokens(lower(col("text")))).as("word"))
    val vocab = ws.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // corpus total from the doc-grain scan (one agg, no token explode) —
    // joins in as a 1-row broadcast, the canonical scalar-subquery plan
    val total = docs.agg(
      sum(size(wsTokens(lower(col("text")))).cast("long")).as("n_total"))
    ws.join(vocab, "word")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (lit(1000000L) * col("n_total") / col("cnt")).cast("long").as("wgt"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_words"),
        sum(col("wgt")).as("surprisal"))
      .select(col("doc_id"), col("n_words"), col("surprisal"),
        (col("surprisal") / col("n_words")).cast("long")
          .as("surprisal_per_word"))
  }

  /** Surprisal × source MIX matrix — the perplexity-binned mixing
    * diagnostic: per (source, log2 bucket of per-word surprisal), doc
    * and token mass. This is the table a data-mixing run reads to see
    * which sources contribute the low-surprisal (boilerplate-like) vs
    * high-surprisal (rare-vocabulary) mass before weighting them.
    * Rides the [[surprisal]] pipeline unchanged plus one broadcast-able
    * doc→source join and a census-sized rollup.
    */
  def surprisalMix(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    surprisal(d)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("bucket",
        length(bin(col("surprisal_per_word"))).cast("long"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"))
      .orderBy(col("source"), col("bucket"))
  }

  /** Conditional bigram surprisal — the 2-gram upgrade of [[surprisal]]
    * and the closest integer-exact stand-in for LM perplexity scoring
    * without a model: each bigram occurrence contributes the inverse
    * CONDITIONAL probability mass floor(1e6 · cnt(w1·) / cnt(w1 w2)),
    * where cnt(w1·) counts every bigram starting with w1. A document of
    * common words in unusual ORDER scores high here but unremarkable on
    * unigram surprisal — that ordering signal is what the 1-gram proxy
    * cannot see (and what quality filters use it for).
    *
    * Scale shape: bigram instances explode behind a Generate boundary
    * (the [[graft.engine.ext.Dedup.shingleRows]] lesson); the counts
    * live on the bigram VOCAB (one shuffle), the prefix totals are a
    * window over that vocab keyed by w1 (vocab-sized, not corpus-sized),
    * and instances join the finished vocab by bigram — never a
    * corpus-grain window. All arithmetic is integer `div` for DuckDB
    * `//` parity.
    */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisal(spark.read.parquet(s"$dir/documents.parquet"))

  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), wsTokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 2)).as("i"))
      .select(col("doc_id"),
        element_at(col("toks"), col("i") + 1).as("w1"),
        concat_ws(" ", element_at(col("toks"), col("i") + 1),
          element_at(col("toks"), col("i") + 2)).as("bg"))
    // w1 is functionally dependent on bg — carried in the group key
    // (the no-first() convention), so the prefix window needs no re-parse
    val vocab = bg.groupBy(col("bg"), col("w1"))
      .agg(count(lit(1)).as("c2"))
      .withColumn("c1", sum(col("c2")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
    bg.select(col("doc_id"), col("bg"))
      .join(vocab.select(col("bg"), col("c1"), col("c2")), "bg")
      .select(col("doc_id"), expr("(1000000 * c1) div c2").as("wgt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("wgt")).as("surprisal"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal"),
        expr("surprisal div n_bigrams").as("surprisal_per_bigram"))
      .orderBy(col("doc_id"))
  }

  /** Email pattern for [[piiRedact]] (RE2-safe: same matches in Spark's
    * Java regex and DuckDB's RE2, which the oracle requires).
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** TPC-H-shaped phone numbers: `NN-NNN-NNN-NNNN`. */
  val PhonePattern = "\\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** PII redaction over synthesized support-ticket text (customer name +
    * constructed email + deterministic TPC-H-shaped phone from the
    * `customer` table — the fixture guarantees every row really
    * exercises both patterns). Pure per-row projection: regexp codegen,
    * no shuffle, linear at any scale; counts are reported so a
    * compliance audit can reconcile redactions against expectations.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedact(spark.read.parquet(s"$dir/customer.parquet"))

  def piiRedact(customers: DataFrame): DataFrame = {
    // every component lands in-range for its field width (10-34, 100-999,
    // 1000-9999), so plain casts render the exact digit count
    val phone = concat_ws("-",
      (col("c_nationkey").cast("long") + 10).cast("string"),
      (col("c_custkey") * 7 % 900 + 100).cast("string"),
      (col("c_custkey") * 13 % 900 + 100).cast("string"),
      (col("c_custkey") * 31 % 9000 + 1000).cast("string"))
    val ticket = concat(
      lit("Customer "), col("c_name"),
      lit(" <"), lower(regexp_replace(col("c_name"), "#", ".")),
      lit("@example.com> phone "), phone,
      lit(" segment "), col("c_mktsegment"))
    customers.select(
      col("c_custkey"),
      size(regexp_extract_all(ticket, lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(ticket, lit(PhonePattern), lit(0)))
        .cast("long").as("n_phones"),
      regexp_replace(regexp_replace(ticket, EmailPattern, "[EMAIL]"),
        PhonePattern, "[PHONE]").as("redacted"))
  }

  /** Corpus-level vocabulary: the top-k terms by total occurrence count,
    * with document frequency and a dense 1-based rank. The first artifact
    * any tokenizer-training or stopword-inference pass needs.
    *
    * Two-phase shape: explode → hash-aggregate (partial map-side combine,
    * one shuffle on term) → `orderBy.limit(k)`, which Spark plans as
    * TakeOrderedAndProject — every task keeps a local k-heap and the
    * driver merges V·k rows, never the vocabulary. The rank window runs
    * AFTER the limit, over k rows, so the unpartitioned window is a
    * constant-size driver-side step, not a corpus funnel.
    */
  def vocab(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    vocab(spark.read.parquet(s"$dir/documents.parquet"), k)

  def vocab(docs: DataFrame, k: Int): DataFrame = {
    val terms = docs.select(col("doc_id"),
      explode(wsTokens(lower(col("text")))).as("term"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("tf"), col("term"))
    terms.groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(desc("tf"), col("term"))
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("term"), col("tf"), col("df"))
      .orderBy(col("rank"))
  }

  /** Inter-document originality: the fraction of a document's distinct
    * word bigrams that appear in NO other document. The cross-corpus
    * complement of [[repetition]] (which is intra-document) — low novelty
    * means the document is assembled from phrases the corpus already has,
    * the signal used to down-weight template/boilerplate-heavy text.
    *
    * Reuses the dedup shingle machinery (distinct 2-grams per doc,
    * Generate-guarded explode): document frequency comes from one window
    * over the shingle partition, then one groupBy back to docs — two
    * shuffles total, both on hash keys, linear in corpus bigram volume.
    * Documents with < 2 tokens have no bigrams and no row.
    */
  /** The retrieval family's SHARED inverted-index base: doc-grain
    * hash-keyed bigram term frequencies over ALL documents —
    * (doc_id, term, tf) with term = the family 60-bit md5 prefix of the
    * lowercased bigram and tf capped at 16 (the sublinear-tf analog
    * every consumer uses). Materialized once per (session, dir) and
    * priced by the `_stage_doc_tf` bench row (r17 — the r16 "shared
    * postings stage" not-yet): tfidf, BM25/RAG query panels, novelty
    * and the hybrid lexical leg each rebuilt this same explode +
    * groupBy from the raw text per query.
    */
  def docTermTf(spark: SparkSession, dir: String): DataFrame =
    graft.engine.StageCache.materialized(spark, dir, "text.doc_tf") {
      docTermTf(spark.read.parquet(s"$dir/documents.parquet"), 16)
    }

  /** Pure form of [[docTermTf]] — fixture specs exercise the build. */
  def docTermTf(docs: DataFrame, tfCap: Int): DataFrame = {
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"),
        explode(graft.engine.expr.NativeFunctions
          .shingleHashes(col("text"), 2, 15)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(least(count(lit(1)), lit(tfCap.toLong)).as("tf"))
  }

  def novelty(spark: SparkSession, dir: String): DataFrame =
    // r17: rides the shared [[docTermTf]] stage — the (doc_id, term)
    // key set of the capped-tf table IS the distinct (doc, bigram-hash)
    // pair set this query used to rebuild (array_distinct + explode of
    // the same kernel stream), so values are identical by construction
    // and the scan + explode happen once per session, not per query.
    noveltyFromTf(docTermTf(spark, dir))

  def novelty(docs: DataFrame): DataFrame =
    noveltyFromTf(docTermTf(docs, 16))

  private def noveltyFromTf(tf: DataFrame): DataFrame = {
    // hash-keyed (r16): the df window's corpus-wide exchange carries the
    // 60-bit md5 prefix instead of distinct bigram STRINGS (the shingle
    // text reaches no output); the oracle distincts/windows on the same
    // hash, so values are exact by construction.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    tf.select(col("doc_id"), col("term"))
      .withColumn("df", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
        (col("n_novel") * lit(1000000L) / col("n_bigrams")).cast("long")
          .as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Sparse lexical retrieval over an inverted index — the BM25-family
    * complement to the dense-embedding `ann_*` path (production search
    * is the hybrid of the two): rank, for each query document, the
    * documents sharing its rare terms by an idf²-weighted term-match
    * score. The lexical unit is the word `n`-gram (default bigram — a
    * phrase-postings index): single words carry little discrimination
    * in a small vocabulary, phrases carry a lot.
    *
    * Scoring is deliberately integer-exact for cross-engine replay, so
    * the classic log-idf and sqrt-cosine are replaced by their rational
    * analogs: term weight w = 1e6 div df (linear inverse document
    * frequency), per-doc term weight wt = min(tf, tfCap)·w (the cap is
    * the sublinear-tf analog), score(q, n) = Σ_t wt_q(t)·wt_n(t).
    * Bounds: wt ≤ tfCap·1e6, so a pair's per-term product is ≤ 2.6e14
    * and sums stay far inside BIGINT.
    *
    * Scale shape: the postings list (term → capped-df docs) is the
    * inverted index — ONE term-keyed exchange builds it; the
    * query-side postings subset joins it term-sharded (never doc ×
    * doc), the pair score partial-aggregates map-side, and the top-k
    * is a WindowGroupLimit rank filter. `dfCap` bounds every posting
    * bucket (a term seen in >dfCap docs carries no discrimination and
    * would go quadratic), so cost is O(Σ df²) with df ≤ dfCap. The
    * n-gram build explodes positions behind a Generate boundary (the
    * [[graft.engine.ext.Dedup.shingleRows]] lesson: an inlined
    * higher-order shingling expression is re-evaluated per consumer).
    */
  def tfidfTopK(spark: SparkSession, dir: String): DataFrame =
    // r17: rides the shared [[docTermTf]] stage (`_stage_doc_tf`)
    tfidfFromTf(docTermTf(spark, dir),
      queryMod = ScaleKnobs.panelMod(ScaleKnobs.documentCount(spark, dir)))

  def tfidfTopK(docs: DataFrame, k: Int = 10, queryMod: Int = 50,
                n: Int = 2, dfCap: Int = 100, tfCap: Int = 16): DataFrame = {
    // r16: terms never reach the output (they are join/grouping keys
    // only), so the postings key is the dedup family's 60-bit md5
    // prefix, produced by the fused shingle_hashes kernel — the bigram
    // build stops materializing a token array + a concat'd string per
    // position, and every postings exchange/aggregate carries an 8-byte
    // key instead of a ~15-30-byte term. Hash collisions merge terms
    // for BOTH engines identically (the oracle hashes the same way), so
    // results stay value-exact by construction — the ngramJaccardPairs
    // precedent (r15) applied to the retrieval family.
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    val tf = docs.select(col("doc_id"),
        explode(graft.engine.expr.NativeFunctions
          .shingleHashes(col("text"), n, 15)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(least(count(lit(1)), lit(tfCap.toLong)).as("tf"))
    tfidfFromTf(tf, k, queryMod, dfCap)
  }

  /** [[tfidfTopK]] downstream of the (doc_id, term, tf) base — shared by
    * the dir wrapper (stage-backed) and [[Similarity.hybridRrf]]'s
    * lexical leg (which derives its panel from the embedding count).
    */
  def tfidfFromTf(tf: DataFrame, k: Int = 10, queryMod: Int = 50,
                  dfCap: Int = 100): DataFrame = {
    val rare = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select(col("term"), expr("1000000 div df").as("w"))
    val post = tf.join(rare, "term")
      .select(col("term"), col("doc_id"), (col("tf") * col("w")).as("wt"))
    val qpost = post.filter(col("doc_id") % queryMod === 0)
      .select(col("term"), col("doc_id").as("query_id"),
        col("wt").as("qwt"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("score"), col("neighbor_id"))
    post.join(qpost, Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(sum(col("qwt") * col("wt")).as("score"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** RAG retrieval end-to-end: rank CHUNKS ([[Corpus.chunks]] — the
    * 32/24 sliding windows a vector store would ingest) against
    * whole-document queries with the [[tfidfTopK]] scorer, returning
    * chunk-grain provenance (doc, chunk_no, start_token) — what a
    * retrieval-augmented pipeline actually needs back, not just a
    * document id. Query docs (id % queryMod = 0) are held OUT of the
    * index; document frequency, and hence every idf weight, is
    * chunk-grain (a term filling one long doc no longer looks rare).
    *
    * Scale shape: identical to [[tfidfTopK]] — the chunk postings list
    * is the inverted index (term-keyed exchange, df ≤ dfCap caps every
    * bucket), queries join it term-sharded, scores partial-aggregate
    * map-side, and the per-query top-k is a WindowGroupLimit rank
    * filter. start_token is recomputed from chunk_no (deterministic),
    * not joined back.
    */
  /** The chunk-grain inverted-index base SHARED by [[ragChunkTopK]] and
    * [[bm25ChunkTopK]] — [[chunkTermTf]] over the held-in train split at
    * the family geometry (32/24 windows, tfCap 16), materialized once
    * per (session, dir) and priced by the `_stage_chunk_tf` bench row
    * (r17). Both rankers rebuilt the identical kernel-scan + slice +
    * groupBy per query.
    */
  def chunkTfT(spark: SparkSession, dir: String): DataFrame =
    graft.engine.StageCache.materialized(spark, dir, "text.chunk_tf") {
      val qm = ScaleKnobs.panelMod(ScaleKnobs.documentCount(spark, dir))
      graft.engine.expr.NativeFunctions.ensureRegistered(spark)
      chunkTermTf(spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % qm =!= 0), 32, 24, 16)
    }

  /** Query-panel term tf off the shared [[docTermTf]] stage: the panel
    * rows are exactly the stage rows with doc_id ≡ 0 (mod queryMod) —
    * same kernel, same cap, one scan per session instead of one per
    * ranker. */
  private def queryTfFromStage(spark: SparkSession, dir: String,
                               queryMod: Int): DataFrame =
    docTermTf(spark, dir)
      .filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("query_id"), col("term"), col("tf"))

  def ragChunkTopK(spark: SparkSession, dir: String): DataFrame = {
    // r17: rides `_stage_chunk_tf` (postings side) + `_stage_doc_tf`
    // (query panel side); values identical — the stage is the same
    // chunkTermTf call the inline form made.
    val qm = ScaleKnobs.panelMod(ScaleKnobs.documentCount(spark, dir))
    ragFromChunkTf(chunkTfT(spark, dir), queryTfFromStage(spark, dir, qm))
  }

  def ragChunkTopK(docs: DataFrame, k: Int = 3, queryMod: Int = 50,
                   win: Int = 32, stride: Int = 24,
                   dfCap: Int = 100, tfCap: Int = 16): DataFrame = {
    // r16: hash-keyed postings off ONE fused kernel scan. A chunk's
    // bigram multiset is a positional SLICE of the document's bigram
    // stream (lower() commutes with the ' '-join and tokenization, so
    // tokens-of-lower(chunk_text) ≡ slice of tokens-of-lower(text)) —
    // the chunk TEXT is never materialized, the per-chunk re-tokenize /
    // re-concat / per-term string of the old form is gone, and every
    // postings key is the family 60-bit md5 prefix (see [[tfidfTopK]];
    // the oracle hashes the same way, so values are exact by
    // construction). [[chunkTermTf]] is shared with [[bm25ChunkTopK]].
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    ragFromChunkTf(
      chunkTermTf(docs.filter(col("doc_id") % queryMod =!= 0),
        win, stride, tfCap),
      queryTermTf(docs.filter(col("doc_id") % queryMod === 0), tfCap),
      k, stride, dfCap)
  }

  /** [[ragChunkTopK]] downstream of the chunk-tf base and the query
    * panel tf — shared by the stage-backed dir wrapper and the pure
    * DataFrame form. */
  private def ragFromChunkTf(cTf: DataFrame, qTf: DataFrame, k: Int = 3,
                             stride: Int = 24, dfCap: Int = 100): DataFrame = {
    val rare = cTf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select(col("term"), expr("1000000 div df").as("w"))
    val post = cTf.join(rare, "term")
      .select(col("term"), col("doc_id"), col("chunk_no"),
        (col("tf") * col("w")).as("wt"))
    val qpost = qTf
      .join(rare, "term")
      .select(col("term"), col("query_id"), (col("tf") * col("w")).as("qwt"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("score"), col("doc_id"), col("chunk_no"))
    post.join(qpost, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"), col("chunk_no"))
      .agg(sum(col("qwt") * col("wt")).as("score"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_no"),
        (col("chunk_no") * stride + 1L).as("start_token"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Okapi BM25 retrieval over the SAME 32/24 chunk index as
    * [[ragChunkTopK]] — the production lexical ranker (Robertson et al.,
    * TREC-3) with its two knobs the plain tf-idf scorer lacks: tf
    * SATURATION (k1 = 1.2 — the 20th occurrence of a term adds almost
    * nothing) and LENGTH normalization (b = 0.75 — a term match in a
    * short chunk outranks the same match diluted in a long one).
    *
    * Integer-exact rational analogs for cross-engine replay:
    *   - idf: the Robertson–Spärck-Jones odds in milli,
    *     `least((2(N−df)+1)·1000 div (2df+1), 1e6)` — the exact rational
    *     inside the classic `log((N−df+0.5)/(df+0.5))`, log dropped, capped
    *     so one vanishing term can't dominate unboundedly.
    *   - tf·length norm: with k1 = 6/5 and b = 3/4, the BM25 fraction
    *     `tf(k1+1)/(tf + k1(1−b+b·dl/avgdl))` cross-multiplies to
    *     `22·tf·A / (10·tf·A + 3·A + 9·dl)` where `A = ΣDL div N` is the
    *     FLOOR of the average chunk length — a documented, deterministic
    *     coarsening that keeps every product in the low millions at any
    *     corpus size (using exact ΣDL/N instead would square corpus-sized
    *     integers). Emitted in milli: `tfnorm ≤ 2200`.
    *   - score(q, chunk) = Σ_t min(qtf, tfCap) · idf_milli · tfnorm_milli —
    *     per-term ≤ 16·1e6·2200 ≈ 3.5e10, sums far inside BIGINT.
    *
    * Scale shape: identical to [[ragChunkTopK]] — ONE term-keyed exchange
    * builds the df-capped postings, (N, ΣDL) is a 1-row aggregate
    * broadcast into the tiny df table, queries join term-sharded, scores
    * partial-aggregate map-side, top-k is a WindowGroupLimit rank filter.
    */
  def bm25ChunkTopK(spark: SparkSession, dir: String): DataFrame = {
    // r17: rides `_stage_chunk_tf` (postings side) + `_stage_doc_tf`
    // (query panel side); the (N, ΣDL) stats branch keeps its own cheap
    // fused-count scan of the raw train split (one aggregate, no
    // explode). Values identical — the stage is the same chunkTermTf
    // call the inline form made.
    val qm = ScaleKnobs.panelMod(ScaleKnobs.documentCount(spark, dir))
    val train = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % qm =!= 0)
    graft.engine.expr.NativeFunctions.ensureRegistered(spark)
    bm25FromChunkTf(chunkTfT(spark, dir),
      queryTfFromStage(spark, dir, qm).withColumnRenamed("tf", "qtf"),
      bm25Stats(train, 32, 24))
  }

  def bm25ChunkTopK(docs: DataFrame, k: Int = 3, queryMod: Int = 50,
                    win: Int = 32, stride: Int = 24,
                    dfCap: Int = 100, tfCap: Int = 16): DataFrame = {
    // r16: same hash-keyed slice-of-kernel chunk postings as
    // [[ragChunkTopK]] (shared [[chunkTermTf]]).
    graft.engine.expr.NativeFunctions.ensureRegistered(docs.sparkSession)
    val train = docs.filter(col("doc_id") % queryMod =!= 0)
    bm25FromChunkTf(chunkTermTf(train, win, stride, tfCap),
      queryTermTf(docs.filter(col("doc_id") % queryMod === 0), tfCap)
        .withColumnRenamed("tf", "qtf"),
      bm25Stats(train, win, stride), k, stride, dfCap)
  }

  /** The (N, ΣDL) index constants from a CLOSED FORM over doc-grain
    * token counts — all chunks but a doc's last have exactly `win`
    * tokens, so Σ dl = n + (win − stride)·(nChunks − 1) per doc — which
    * makes the stats branch a cheap fused-count scan instead of a
    * second full chunk materialization.
    */
  private def bm25Stats(train: DataFrame, win: Int, stride: Int): DataFrame =
    train
      .select(graft.engine.expr.NativeFunctions
        .textStatCounts(col("text"), Seq.empty).getItem(0).as("n"))
      .select(col("n"), chunkCount(col("n"), win, stride).as("nc"))
      .agg(sum(col("nc")).as("n_chunks"),
        sum(col("n") + lit((win - stride).toLong) * (col("nc") - 1L))
          .as("sum_dl"))
      .select(col("n_chunks"), expr("sum_dl div n_chunks").as("avg_dl"))

  /** [[bm25ChunkTopK]] downstream of the chunk-tf base, query panel tf
    * (as `qtf`) and the broadcastable stats row. */
  private def bm25FromChunkTf(cTf: DataFrame, qTf: DataFrame,
                              stats: DataFrame, k: Int = 3,
                              stride: Int = 24, dfCap: Int = 100): DataFrame = {
    val rare = cTf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .crossJoin(broadcast(stats))
      .select(col("term"), col("avg_dl"),
        least(expr("(2 * (n_chunks - df) + 1) * 1000 div (2 * df + 1)"),
          lit(1000000L)).as("idf_m"))
    val post = cTf.join(rare, "term")
      .select(col("term"), col("doc_id"), col("chunk_no"),
        (col("idf_m") * expr("""22000 * tf * avg_dl div
            (10 * tf * avg_dl + 3 * avg_dl + 9 * dl)""")).as("wt"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("score"), col("doc_id"), col("chunk_no"))
    post.join(qTf, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"), col("chunk_no"))
      .agg(sum(col("qtf") * col("wt")).as("score"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_no"),
        (col("chunk_no") * stride + 1L).as("start_token"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[Corpus.chunks]]' chunk-count formula, verbatim (ceil((n−w)/s)+1
    * floored at 1; the double-divide + cast replicates Spark/DuckDB
    * truncation parity — see the comment there). Shared so the sliced
    * postings and the closed-form stats agree with the chunker exactly.
    */
  private def chunkCount(n: Column, w: Int, s: Int): Column =
    greatest(lit(1L), ((n - w + (s - 1)) / s).cast("long") + 1L)

  /** Chunk-grain hash-keyed bigram tf over the 32/24 sliding windows —
    * (doc_id, chunk_no, dl, term, tf) where `term` is the 60-bit md5
    * prefix of the lowercased bigram and `dl` the chunk's token count.
    * ONE fused kernel scan per document: the chunk's bigrams are the
    * positional slice [chunk_no·s, …+dl−2] of the doc's bigram-hash
    * array (stride s < win w means consecutive chunks OVERLAP — the
    * slice re-reads the shared positions instead of re-hashing them),
    * and a < 2-token chunk contributes an empty slice, exactly the
    * `size(t) >= 2` filter of the per-chunk tokenize it replaces.
    */
  private def chunkTermTf(train: DataFrame, w: Int, s: Int,
                          tfCap: Int): DataFrame = {
    val ts = graft.engine.expr.NativeFunctions
      .textStatCounts(col("text"), Seq.empty)
    val shs = graft.engine.expr.NativeFunctions
      .shingleHashes(col("text"), 2, 15)
    train
      .select(col("doc_id"), ts.getItem(0).as("n"), shs.as("shs"))
      .select(col("doc_id"), col("n"), col("shs"),
        explode(sequence(lit(0L), chunkCount(col("n"), w, s) - 1L))
          .as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        least(lit(w.toLong), col("n") - col("chunk_no") * s).as("dl"),
        col("shs"))
      .select(col("doc_id"), col("chunk_no"), col("dl"),
        explode(slice(col("shs"), (col("chunk_no") * s + 1L).cast("int"),
          greatest(col("dl") - 1L, lit(0L)).cast("int"))).as("term"))
      .groupBy(col("doc_id"), col("chunk_no"), col("dl"), col("term"))
      .agg(least(count(lit(1)), lit(tfCap.toLong)).as("tf"))
  }

  /** Whole-document hash-keyed bigram tf for the held-out query panel —
    * (query_id, term, tf), same kernel and 60-bit key as the chunk side.
    */
  private def queryTermTf(queries: DataFrame, tfCap: Int): DataFrame =
    queries
      .select(col("doc_id").as("query_id"),
        explode(graft.engine.expr.NativeFunctions
          .shingleHashes(col("text"), 2, 15)).as("term"))
      .groupBy(col("query_id"), col("term"))
      .agg(least(count(lit(1)), lit(tfCap.toLong)).as("tf"))

  /** Per-language n-gram frequency census — the top-k most frequent
    * word trigrams per language by OCCURRENCE count (contrast
    * [[keywords]]' per-document tf-idf): the corpus-level boilerplate
    * detector (headers, license blurbs, navigation chrome all surface
    * here) and the evidence for language-specific stop-gram lists.
    *
    * Scale shape: positional trigrams ride the same Generate-barrier
    * shape as [[Dedup.shingleRows]] (explode positions, never inline
    * HOF shingling); one shuffle to (lang, gram) counts with map-side
    * partials; the per-language top-k prunes map-side via
    * WindowGroupLimit before the final |langs|·k rows.
    */
  def ngramCensus(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    ngramCensus(spark.read.parquet(s"$dir/documents.parquet"), k)

  def ngramCensus(docs: DataFrame, k: Int): DataFrame = {
    val n = 3
    val grams = docs
      .select(col("lang"), graft.engine.ext.Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("lang"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(col("lang"),
        concat_ws(" ",
          (0 until n).map(j => element_at(col("toks"), col("i") + j + 1)): _*)
          .as("gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(desc("n"), col("gram"))
    grams.groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("gram"), col("n"))
      .orderBy(col("lang"), col("rank"))
  }

  def keywords(docs: DataFrame, k: Int): DataFrame = {
    val terms = docs.select(col("doc_id"),
      explode(wsTokens(lower(col("text")))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(desc("score"), col("term"))
    tf.join(df, "term")
      .withColumn("score", (col("tf") * lit(1000000L) / col("df")).cast("long"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Token frequency SPECTRUM (frequency-of-frequencies): per language,
    * how many distinct token types occur k times, with k folded onto a
    * log2 scale (`len(bin(k))`, same integer-exact log as
    * [[Sessionize.gapHistogram]]). This is the Heaps/Zipf diagnostic a
    * corpus curator reads before tokenizer fitting: a healthy natural
    * corpus shows a long hapax-heavy slope; machine-generated or
    * boilerplate-flooded sources bulge in the mid buckets.
    *
    * Scale shape: one shuffle to (lang, token) counts with map-side
    * partials, then a rollup to |langs|·~40 rows. The token census is
    * the only big intermediate and it never leaves the executors.
    */
  def freqSpectrum(spark: SparkSession, dir: String): DataFrame =
    freqSpectrum(spark.read.parquet(s"$dir/documents.parquet"))

  def freqSpectrum(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("k"))
      .withColumn("bucket", length(bin(col("k"))).cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("k")).as("n_tokens"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("lang"), col("bucket"))

  /** DISTINCTIVE n-grams per source — the template/boilerplate detector:
    * for each source, the top-k 3-grams by lift = share-in-source /
    * share-in-corpus (exact ppm, integer arithmetic), over grams with a
    * minimum in-source support. A crawler's cookie banner or footer
    * shows as a >100× lift long before it dominates raw counts.
    *
    * Scale shape: the gram census shuffles once to (source, gram); the
    * global gram table reuses it (one more shuffle on gram); totals are
    * a 20-row broadcast and a 1-row broadcast crossJoin (canonical
    * scalar subquery). The support filter prunes the candidate set
    * BEFORE the per-gram join, so the lift join runs over repeated
    * grams only — a tiny fraction of the census at corpus scale.
    * The `n_src * total_all * 1e6` product fits a Long here; a 100 TB
    * deployment should lift via pre-divided ppm shares instead
    * (`(n_src*1e6 div total_src) * 1e6 div (n_all*1e6 div total_all)`)
    * to stay overflow-safe — same ranking, 1-ulp different rounding.
    */
  def distinctiveNgrams(spark: SparkSession, dir: String, k: Int = 10,
      minSupport: Int = 3): DataFrame =
    distinctiveNgrams(spark.read.parquet(s"$dir/documents.parquet"), k, minSupport)

  def distinctiveNgrams(docs: DataFrame, k: Int, minSupport: Int): DataFrame = {
    val n = 3
    val grams = docs
      .select(col("source"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("source"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(col("source"),
        concat_ws(" ",
          (0 until n).map(j => element_at(col("toks"), col("i") + j + 1)): _*)
          .as("gram"))
    val perSrc = grams.groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("n_src"))
    val totSrc = perSrc.groupBy(col("source")).agg(sum("n_src").as("total_src"))
    val perAll = perSrc.groupBy(col("gram")).agg(sum("n_src").as("n_all"))
    val totAll = perSrc.agg(sum("n_src").as("total_all"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(desc("lift_ppm"), col("gram"))
    perSrc.filter(col("n_src") >= minSupport)
      .join(perAll, "gram")
      .join(broadcast(totSrc), "source")
      .crossJoin(broadcast(totAll))
      .withColumn("lift_ppm",
        expr("n_src * total_all * 1000000 div (n_all * total_src)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("gram"), col("n_src"),
        col("n_all"), col("lift_ppm"))
      .orderBy(col("source"), col("rank"))
  }

  /** Stopwords probed by the Gopher rule-set's "has common English words"
    * rule — presence counted per word (word-boundary regex), ≥2 passes.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/C4-style RULE-FILTER bits per document — the rule battery a
    * pretraining pipeline runs before any learned quality model (Gopher's
    * repetition/format rules, C4's boilerplate heuristics), one 0/1
    * column per rule plus the conjunction:
    *
    *  - `r_word_count`: 50 ≤ |tokens| ≤ 100000 (Gopher's bounds);
    *  - `r_mean_word`:  mean token length in [3, 10] characters —
    *    stated as `3·n ≤ Σlen ≤ 10·n`, integer-exact, no division;
    *  - `r_hash_ratio`: '#' symbols ≤ 10% of tokens (`10·n_hash ≤ n`);
    *  - `r_ellipsis`:   ≤30% of lines end in "..." (`10·e ≤ 3·lines`);
    *  - `r_alpha`:      ≥80% of tokens contain a letter (`5·a ≥ 4·n`);
    *  - `r_dup_lines`:  duplicate lines ≤30% of lines;
    *  - `r_stopwords`:  ≥2 distinct common English words present;
    *  - `pass`:         every rule holds.
    *
    * Distinct from the corpus quality GATE ([[Corpus.qualityClean]]'s
    * 3-predicate keep bit): this is the per-rule diagnostic surface — at
    * 100 TB you aggregate these bits per source/crawl to see WHICH rule
    * is eating a corpus before flipping the gate.
    *
    * Scale shape: one pure per-row projection (array ops + regexes inside
    * a single WholeStageCodegen span), no shuffle, no UDFs; every output
    * is integer so the row is byte-reproducible on any engine.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    // per-char regex battery is CPU-bound: spread a compact scan
    gopherRules(cpuBoundDocs(spark, dir))

  def gopherRules(docs: DataFrame): DataFrame = {
    val bit = (c: Column) => when(c, 1L).otherwise(0L)
    // distinct stopwords present, ONE regex pass (an alternation +
    // array_distinct) — identical count to 8 per-word presence scans at
    // 1/8th the per-char work
    val stopHits = size(array_distinct(regexp_extract_all(
      lower(col("text")),
      lit("\\b(" + GopherStopwords.mkString("|") + ")\\b"), lit(1))))
      .cast("long")
    docs
      .select(col("doc_id"), col("text"),
        wsTokens(col("text")).as("toks"),
        split(col("text"), "\n").as("lines"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (acc, v) => acc + v).as("tok_chars"),
        size(filter(col("toks"), t => t.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha"),
        (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
          .cast("long").as("n_hash"),
        size(col("lines")).cast("long").as("n_lines"),
        size(filter(col("lines"), l => rtrim(l).rlike("\\.\\.\\.$")))
          .cast("long").as("n_ellipsis"),
        (size(col("lines")) - size(array_distinct(col("lines"))))
          .cast("long").as("n_dup_lines"),
        stopHits.as("n_stopwords"))
      .select(col("doc_id"), col("n_tokens"), col("tok_chars"),
        col("n_alpha"), col("n_stopwords"),
        bit(col("n_tokens").between(50L, 100000L)).as("r_word_count"),
        bit(col("tok_chars") >= col("n_tokens") * 3 &&
          col("tok_chars") <= col("n_tokens") * 10).as("r_mean_word"),
        bit(col("n_hash") * 10 <= col("n_tokens")).as("r_hash_ratio"),
        bit(col("n_ellipsis") * 10 <= col("n_lines") * 3).as("r_ellipsis"),
        bit(col("n_alpha") * 5 >= col("n_tokens") * 4).as("r_alpha"),
        bit(col("n_dup_lines") * 10 <= col("n_lines") * 3).as("r_dup_lines"),
        bit(col("n_stopwords") >= 2L).as("r_stopwords"))
      .withColumn("pass",
        col("r_word_count") * col("r_mean_word") * col("r_hash_ratio") *
          col("r_ellipsis") * col("r_alpha") * col("r_dup_lines") *
          col("r_stopwords"))
      .orderBy(col("doc_id"))
  }
}
