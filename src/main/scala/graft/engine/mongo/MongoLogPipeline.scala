package graft.engine.mongo

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.StageCache
import graft.engine.expr.{NativeFunctions, Normalizers, PyParity}
import graft.engine.report.ReportSink
import graft.engine.schemas.Schemas

/** MongoDB slow-query/error log analyzer as a declarative Spark dataflow
  * (reference behavior: /root/reference/Mongo/mongo_parser.py:17-131).
  *
  * One parsed scan feeds four output branches:
  *   R1 detailed slow queries  — raw-substring "Slow query" classifier (P2)
  *   A1 query-pattern stats    — F1 fingerprint groupBy, file-order sample
  *   R2 error rollup (A2)      — independent branch: a line can be both slow
  *                               and error (mongo_parser.py:31 vs :72)
  *   R3 non-slow residual      — valid JSON, not slow, not the error branch
  * plus the E1 bad-record channel for invalid JSON.
  *
  * Design for scale: the parse is a single from_json projection (one
  * WholeStageCodegen span); [[analyze]] persists it once instead of
  * re-scanning per branch; all "first in file order" semantics go through
  * the explicit line_no (min/min_by), never first().
  *
  * JSON canonical form: the engine emits command/filter JSON as the compact
  * raw substring of the input line (get_json_object). The reference
  * re-serializes through Python json.dumps, which inserts ", "/": " spacing
  * — byte-parity comparisons must normalize whitespace (SURVEY.md §2.2 P7).
  */
object MongoLogPipeline {

  val ComplexPipelineSentinel = """{"pipeline_info":"Complex pipeline, see full command"}"""

  /** The four branches and the bad-record channel, plus the persisted
    * [[parsedScan]] they all read (one row per raw line); its holder
    * unpersists it when the report is written. */
  final case class Result(detailed: DataFrame, queryStats: DataFrame,
                          nonSlow: DataFrame, errors: DataFrame,
                          parseErrors: DataFrame, scan: DataFrame)

  /** Parse lines (line: String, line_no: Long) into the shared scan with
    * routing flags. Exposed for streaming reuse.
    *
    * Routing replicates the reference's try/except semantics exactly
    * (see [[MongoPyParity]]): json.loads raising → "Invalid JSON", a later
    * field access raising → the generic "Error parsing line: {e}" form,
    * `valid` = the slow branch may consume the row. A row that the schema
    * parse flags corrupt can still be a perfectly good non-slow or error
    * row for the reference (which never touches the offending field on
    * that path) — the salvage terms in [[nonSlow]]/[[parseErrors]] and the
    * `is_error` fallback put it back.
    */
  def parsedScan(lines: DataFrame): DataFrame = {
    NativeFunctions.ensureRegistered(lines.sparkSession)
    lines
      // The schema parse is the native single-pass mongo_line_parse,
      // observably identical to `from_json(line, Schemas.MongodLine,
      // PERMISSIVE + _corrupt)` (MongoJsonKernelSpec pins the equivalence).
      // OpaqueBarrier: the parse must evaluate ONCE per row in this
      // projection. Without it, every routing-flag filter conjunct that
      // the optimizer substitutes and pushes re-derives the parse inside
      // an interpreted Filter (measured: 11 from_json copies in one
      // pushed filter node at round 6).
      .withColumn("j", NativeFunctions.opaque(
        graft.engine.expr.MongoJson.mongoLineParse(col("line"))))
      // from_json yields a NULL struct (not a corrupt record) for empty /
      // whitespace-only / literal-null input; the reference's json.loads
      // raises on those, so they must route to the parse-error channel too.
      .withColumn("schema_ok",
        col("j").isNotNull && col(s"j.${Schemas.CorruptField}").isNull)
      .withColumn("is_slow", col("line").contains("Slow query"))
      // cheap shape-suspicion prefilter: substring tests only (see
      // MongoPyParity.suspicious) — gates the native parity check off
      // the hot path.
      .withColumn("sus", MongoPyParity.suspicious)
      // Python-parity verdict (see PyParity): NULL = no exception,
      // PyParity.InvalidJson = JSONDecodeError, else the {e} text. ONE
      // jackson parse per cold row via a single codegen'd expression —
      // the declarative variant-probe version of this check was a
      // >1000-node tree that blew up optimizer time per consuming query.
      // BARRIER: OpaqueBarrier keeps this projection opaque to
      // PushDownPredicate/CollapseProject so consumer filters stay
      // simple attribute tests and the parse runs exactly once per row.
      .withColumn("pyraw", NativeFunctions.opaque(
        when(col("schema_ok") && !col("sus"), lit(null).cast("string"))
          .otherwise(NativeFunctions.pyParityCheck(col("line")))))
      .withColumn("invalid", // coalesce: pyraw is NULL on the fast path
        coalesce(col("pyraw") === PyParity.InvalidJson.toString, lit(false)))
      .withColumn("pyerr",
        when(col("invalid"), lit(null).cast("string")).otherwise(col("pyraw")))
      .withColumn("valid", col("schema_ok") && col("pyerr").isNull)
      // R2 gate (mongo_parser.py:72): msg present, s == "E", attr.error
      // present. The reference tests KEY presence; the schema-parsed
      // struct is non-null for every object-valued error (including {}).
      // Corrupt rows re-check natively — the reference still aggregates
      // a row whose defect is outside the error fields.
      .withColumn("is_error",
        col("pyerr").isNull && !col("invalid") &&
          when(col("schema_ok"),
            col("j.msg").isNotNull && col("j.s") === "E" &&
              col("j.attr.error").isNotNull)
            .otherwise(NativeFunctions.pyErrorBranch(col("line"))))
  }

  // The four branch gates over a parsedScan, each defined once: the
  // branch filters below and the Census both read them.
  /** R1 detailed slow queries. */
  val SlowGate: Column = col("valid") && col("is_slow")
  /** R2 error rollup. */
  val ErrorGate: Column = col("is_error")
  /** R3 non-slow residual. */
  val NonSlowGate: Column = !col("invalid") && col("pyerr").isNull &&
    !col("is_slow") && !col("is_error")
  /** E1 bad-record channel. */
  val ParseErrorGate: Column = col("invalid") || col("pyerr").isNotNull ||
    (!col("schema_ok") && col("is_slow") && !col("is_error"))

  /** R1 + P3-P7: one row per slow-query line, reference's 11 columns plus
    * line_no provenance.
    */
  def detailed(scan: DataFrame): DataFrame = {
    // Parse the full line ONCE for the open-shaped command document; the
    // P6 sub-paths then parse only the (much smaller) command string —
    // 1 full-line JSON parse instead of 4. Materialized as a projection:
    // get_json_object is non-cheap, so CollapseProject won't re-inline it
    // into the consumers.
    val withCmd = scan.filter(SlowGate)
      .withColumn("cmd_raw", get_json_object(col("line"), "$.attr.command"))
    // P4 asymmetric defaults: missing ns splits to [""] → AppName "",
    // Collection "N/A" (mongo_parser.py:35-37).
    val nsParts = split(coalesce(col("j.attr.ns"), lit("")), "\\.", -1)
    // P6 conditional filter extraction (mongo_parser.py:44-53): presence of
    // "pipeline" wins over "filter"; a pipeline whose first stage has no
    // $match collapses to the sentinel. Missing command ⇒ null cmd_raw ⇒
    // null sub-paths ⇒ the {} fallback, same as pathing from the line.
    val filterCol =
      when(get_json_object(col("cmd_raw"), "$.pipeline").isNotNull,
        coalesce(get_json_object(col("cmd_raw"), "$.pipeline[0].$match"),
          lit(ComplexPipelineSentinel)))
        .when(get_json_object(col("cmd_raw"), "$.filter").isNotNull,
          get_json_object(col("cmd_raw"), "$.filter"))
        .otherwise(lit("{}"))

    withCmd.select(
      col("line_no"),
      coalesce(col("cmd_raw"), lit("{}")).as("Command"),
      when(size(nsParts) > 1, element_at(nsParts, 2)).otherwise("N/A").as("Collection"),
      element_at(nsParts, 1).as("AppName"),
      coalesce(col("j.attr.durationMillis"), lit(0L)).as("Duration(ms)"),
      coalesce(col("j.attr.keysExamined"), lit(0L)).as("KeysExamined"),
      coalesce(col("j.attr.docsExamined"), lit(0L)).as("DocsExamined"),
      coalesce(col("j.attr.numYields"), lit(0L)).as("numYields"),
      coalesce(col("j.attr.nreturned"), lit(0L)).as("nreturned"),
      filterCol.as("Filter"),
      coalesce(col("j.attr.planSummary"), lit("")).as("Plan"),
      coalesce(col("j.t.`$date`"), lit("")).as("timestamp"))
  }

  /** A1's group key: the F1-normalized command. */
  val QueryPattern: Column =
    Normalizers.normalizeMongoQuery(col("Command")).as("Query Pattern")

  /** A1's five per-pattern aggregates, the one definition batch and
    * stream share; `sampleOrder` picks the sample command (file order
    * here, event time in [[graft.engine.streaming.MongoStream]]). */
  def queryStatsAgg(patterns: RelationalGroupedDataset,
                    sampleOrder: Column): DataFrame =
    patterns.agg(
      count(lit(1)).as("Executions"),
      min(col("Duration(ms)")).as("Min Duration(ms)"),
      max(col("Duration(ms)")).as("Max Duration(ms)"),
      round(avg(col("Duration(ms)")), 2).as("Avg Duration(ms)"),
      min_by(col("Command"), sampleOrder).as("Sample Full Query"))

  /** A1 + O1: stats per F1-normalized pattern, sorted by Executions desc
    * then Avg desc (mongo_parser.py:113-129).
    */
  def queryStats(detailedDf: DataFrame): DataFrame =
    queryStatsAgg(detailedDf.groupBy(QueryPattern), col("line_no"))
      .orderBy(desc("Executions"), desc("Avg Duration(ms)"))

  /** A2's three group keys over [[ErrorGate]] rows, shared by batch and
    * stream. Corrupt-salvaged rows (is_error via the raw probe) may lack
    * parsed fields — the raw extraction fills them in. */
  val ErrorKeys: Seq[Column] = Seq(
    coalesce(col("j.msg"), get_json_object(col("line"), "$.msg")).as("msg"),
    coalesce(col("j.attr.error.codeName"),
      get_json_object(col("line"), "$.attr.error.codeName"),
      lit("N/A")).as("error"),
    coalesce(col("j.attr.error.errmsg"),
      get_json_object(col("line"), "$.attr.error.errmsg"),
      lit("N/A")).as("errmsg"))

  /** A2: error rollup grouped on (msg, codeName, errmsg) — equivalent to the
    * reference's "msg|codeName|errmsg" composite key (F4) but skew- and
    * collision-safe. First-seen line number and sample via min/min_by.
    */
  def errors(scan: DataFrame): DataFrame =
    scan.filter(ErrorGate)
      .groupBy(ErrorKeys: _*)
      .agg(
        min(col("line_no")).as("OriginalLineNumber"),
        count(lit(1)).as("totalCount"),
        min_by(Normalizers.pyStrip(col("line")), col("line_no")).as("SampleLine"))
      .select("OriginalLineNumber", "msg", "error", "errmsg", "totalCount", "SampleLine")
      .orderBy(col("OriginalLineNumber")) // == reference insertion order

  /** R3: parseable, not slow, not claimed by the error branch, and no
    * generic exception (the reference's elif at mongo_parser.py:88).
    * Includes corrupt-but-salvageable rows: the reference never touches
    * the malformed field on the non-slow path.
    */
  def nonSlow(scan: DataFrame): DataFrame =
    scan.filter(NonSlowGate)
      .select(col("line_no"), Normalizers.pyStrip(col("line")).as("LogLine"))

  /** E1: bad-record channel with the reference's two message forms
    * (mongo_parser.py:91-94): JSONDecodeError → "Invalid JSON. Skipped.",
    * any other exception → "Error parsing line: {e}. Skipped." with the
    * Python exception text reproduced by [[MongoPyParity]]. Corrupt slow
    * rows with no reproducible raise (mixed-type rows a typed engine
    * cannot emit) fall back to the first form.
    */
  def parseErrors(scan: DataFrame): DataFrame =
    scan.filter(ParseErrorGate)
      .select(col("line_no"),
        when(col("pyerr").isNotNull,
          concat(lit("Line "), col("line_no"), lit(": Error parsing line: "),
            col("pyerr"), lit(". Skipped.")))
          .otherwise(concat(lit("Line "), col("line_no"),
            lit(": Invalid JSON. Skipped.")))
          .as("message"))

  /** Name of the routing observation attached by [[observed]]. */
  val RoutingMetric = "graft_mongo_routing"

  /** The routing census over a parsed scan, defined once: raw lines and
    * the rows each branch gate routes, all Long. [[observed]] attaches it
    * to a scan's job and [[report]] aggregates it; counts, not sums, so
    * an empty scan reads 0, not NULL. */
  val Census: Seq[Column] = Seq(
    count(lit(1)).as("lines"),
    count_if(SlowGate).as("slow"),
    count_if(ErrorGate).as("errors"),
    count_if(NonSlowGate).as("non_slow"),
    count_if(ParseErrorGate).as("parse_errors"))

  /** Attach the [[Census]] to a parsed scan's job (Spark's `observe`),
    * so a run reports its routing without one extra scan per branch.
    * Read it from `qe.observedMetrics` in a QueryExecutionListener
    * (batch) or the progress events (streaming); see ObservabilitySpec.
    */
  def observed(scan: DataFrame): DataFrame =
    scan.observe(RoutingMetric, Census.head, Census.tail: _*)

  /** Full run: one persisted scan, four branches + bad-record channel.
    * The caller unpersists `Result.scan` once it has written the report.
    */
  def analyze(lines: DataFrame): Result = {
    val scan = parsedScan(lines).persist(StorageLevel.MEMORY_AND_DISK)
    val det = detailed(scan)
    Result(det, queryStats(det), nonSlow(scan), errors(scan), parseErrors(scan), scan)
  }

  /** The `cli.Main` report over raw lines: [[analyze]]'s scan, its
    * [[Census]], the bad-record channel as warnings (sorted in the one
    * task that writes them) and the four sheets. S4 reads the RAW line
    * count, blank lines included, as the reference does: an input of only
    * invalid lines does not warn. */
  def report(lines: DataFrame): ReportSink.LogReport = {
    val res = analyze(lines)
    ReportSink.LogReport(res.scan, Census,
      empty = col("lines") === 0, emptyNotice = "Warning: Input file is empty.",
      warningCount = col("parse_errors"),
      warnings = res.parseErrors.repartition(1).sortWithinPartitions("line_no"),
      warningCol = "message", sheets = ReportSink.MongoSheets.zip(Seq(
        res.detailed, res.queryStats, res.nonSlow, res.errors)))
  }

  /** Whole-report census in ONE pipeline run: one parsed scan, as in
    * [[analyze]], feeds all five branch summaries (row count + an
    * order-free checksum per branch), so producing the full report costs
    * one parse of the log — not one parse per branch, which is what
    * benching the five branch queries separately measures. The scan is checkpointed eagerly
    * ([[StageCache.checkpointed]]) so the five summary subtrees all read
    * it instead of racing to compute it. The checkpoint belongs to this
    * call's plan: no later call matches it in the session's cache, and
    * the ContextCleaner frees it with the plan.
    */
  def reportAll(lines: DataFrame): DataFrame = {
    val scan = StageCache.checkpointed(parsedScan(lines))
    val det = detailed(scan)
    def row(name: String, df: DataFrame, checksum: Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(checksum), lit(0L)).as("checksum"))
        .select(lit(name).as("branch"), col("n_rows"), col("checksum"))
    row("detailed", det, col("line_no"))
      .unionByName(row("errors", errors(scan), col("totalCount")))
      .unionByName(row("non_slow", nonSlow(scan), col("line_no")))
      .unionByName(row("parse_errors", parseErrors(scan), col("line_no")))
      .unionByName(row("query_stats", queryStats(det), col("Executions")))
      .orderBy(col("branch"))
  }
}
