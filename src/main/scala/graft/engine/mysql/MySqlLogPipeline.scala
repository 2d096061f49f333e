package graft.engine.mysql

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.ingest.Sources.EntryMarker
import graft.engine.report.ReportSink

/** MySQL/Percona slow-query-log analyzer, re-expressed as a declarative
  * Spark dataflow (reference behavior: /root/reference/MySql/mysqlLogParser.py:16-134).
  *
  * Shape: whole-log content → entry split on "# Time: " (P8) → the 7
  * field captures (P9) → completeness gate (P10/R4) → unit conversion
  * (P11) + empty-query placeholder (P12) + fingerprint (F2) → detailed
  * table + per-pattern aggregate (A3) + warnings channel (E2).
  *
  * Everything is Catalyst expressions — the
  * [[graft.engine.expr.NativeFunctions.mysqlFieldsRun]] kernel (all
  * seven captures, their pyStrip and the query fingerprint in ONE scan
  * per entry, value-identical to the seven regex patterns below),
  * try_cast, min_by — so the whole parse is one WholeStageCodegen span
  * per branch and the only shuffle is the aggregate's groupBy. Files
  * arrive as entry records ([[graft.engine.ingest.Sources.readDelimited]]),
  * the rows [[entriesFromFiles]] cuts from whole-file strings.
  *
  * A report parses once: [[report]] persists [[projectedOf]] for the
  * report's lifetime and derives all three outputs from it with
  * [[resultFromProjected]] (the registry pins the same table through
  * StageCache). [[parseEntries]] stays unpersisted, for streaming
  * callers, which cannot persist.
  */
object MySqlLogPipeline {

  /** The 7 field patterns (mysqlLogParser.py:18-27). Valid Java regex
    * verbatim; Python's re.DOTALL becomes the inline (?s) flag and \Z
    * (end-of-string) is Java's \z.
    */
  val TimeP = "# Time: (.*)"
  val UserHostP = "# User@Host: (.*?) thread_id:"
  val QueryTimeP = "# Query_time: (.*?) Lock_time:"
  val LockTimeP = "Lock_time: (.*?) Rows_sent:"
  val RowsSentP = "Rows_sent: (.*?) Rows_examined:"
  val RowsExaminedP = "Rows_examined: (.*?)\n"
  val QueryP = "(?s)SET timestamp=.*?;\n(.*?)(?=\n# Time:|\\z)"

  val EmptyQueryPlaceholder = "N/A (Query not captured)"

  final case class Result(detailed: DataFrame, aggregate: DataFrame,
                          warnings: DataFrame)

  /** P8: split whole-log content rows into entry rows.
    * Input: (file_id: Long, content: String). Output: (file_id, entry_no,
    * ord, entry) where entry_no is the 1-based entry index within the file
    * (== the reference's warning numbering, mysqlLogParser.py:52) and ord is
    * a single global file-order key for "first in file" sample selection.
    */
  def entriesFromFiles(files: DataFrame): DataFrame =
    files
      .select(col("file_id"),
        posexplode(split(col("content"), EntryMarker, -1)).as(Seq("pos", "body")))
      .filter(col("pos") > 0) // element 0 is the pre-marker preamble
      .select(
        col("file_id"),
        col("pos").cast("long").as("entry_no"),
        (col("file_id") * lit(1L << 32) + col("pos")).as("ord"),
        concat(lit(EntryMarker), col("body")).as("entry"))

  /** Entry records → detailed + aggregate + warnings.
    * Input: (file_id, entry_no, ord, entry).
    */
  def parseEntries(entries: DataFrame): Result =
    resultFromProjected(projectedOf(entries))

  /** The parse's one expensive pass — the fused field kernel + field
    * projection over every entry. A report or a registry pin
    * materializes it once and derives all three outputs from it
    * ([[resultFromProjected]]), as the reference parses once and writes
    * every sheet from memory.
    */
  def projectedOf(entries: DataFrame): DataFrame = {
    import graft.engine.expr.NativeFunctions
    NativeFunctions.ensureRegistered(entries.sparkSession)
    // ONE kernel pass per entry ([[NativeFunctions.mysqlFieldsRun]])
    // yields the seven captures with each pattern's find() semantics
    // (NULL on no-match), elements 0/1/3/4/5/6 pre-pyStripped and element
    // 7 as the normalized query (MySqlFieldsKernelSpec pins every element
    // against the regex chain it replaces).
    // The opaque barrier keeps the kernel evaluating ONCE: without it,
    // pushing the all_ok filter below this projection would substitute
    // the aliases and re-run the kernel inside the filter per conjunct.
    val found = entries.select(
      col("file_id"), col("entry_no"), col("ord"), col("entry"),
      NativeFunctions.opaque(
        NativeFunctions.mysqlEntryFields(col("entry"))).as("fs"))
      .select(
        col("file_id"), col("entry_no"), col("ord"), col("entry"),
        col("fs").getItem(0).as("time_s"), col("fs").getItem(1).as("uh_s"),
        col("fs").getItem(2).as("qt_m"), col("fs").getItem(3).as("lt_s"),
        col("fs").getItem(4).as("rs_s"), col("fs").getItem(5).as("re_s"),
        col("fs").getItem(6).as("q_s"), col("fs").getItem(7).as("q_norm"))

    val allOk = col("time_s").isNotNull && col("uh_s").isNotNull &&
      col("qt_m").isNotNull && col("lt_s").isNotNull &&
      col("rs_s").isNotNull && col("re_s").isNotNull && col("q_s").isNotNull

    // P11: float(qt) * 1000 with 0.0 + warning on unparsable values.
    val qtMs = expr("try_cast(trim(coalesce(qt_m, '')) as double)") * 1.0e3

    // Only the first 200 chars of a SKIPPED entry survive the
    // projection: the single downstream consumer of entry text is the
    // skip-warning's "Content snippet" (reference parity,
    // mysqlLogParser.py:95-96), which fires only when !all_ok. Every
    // other entry carries NULL, so this table's materializations (the
    // report's persist, StageCache's per-session pin) hold no bytes
    // nothing reads.
    found.select(
      col("file_id"), col("entry_no"), col("ord"),
      when(!allOk, substring(col("entry"), 1, 200)).as("entry_snippet"),
      coalesce(col("qt_m"), lit("")).as("qt_raw"),
      allOk.as("all_ok"),
      col("time_s").isNotNull.as("t_ok"), col("uh_s").isNotNull.as("uh_ok"),
      col("qt_m").isNotNull.as("qt_ok"), col("lt_s").isNotNull.as("lt_ok"),
      col("rs_s").isNotNull.as("rs_ok"), col("re_s").isNotNull.as("re_ok"),
      col("q_s").isNotNull.as("q_ok"),
      coalesce(col("time_s"), lit("")).as("Time"),
      coalesce(col("uh_s"), lit("")).as("User@Host"),
      coalesce(qtMs, lit(0.0)).as("Query_time (ms)"),
      qtMs.isNull.as("qt_bad"),
      coalesce(col("lt_s"), lit("")).as("Lock_time"),
      coalesce(col("rs_s"), lit("")).as("Rows_sent"),
      coalesce(col("re_s"), lit("")).as("Rows_examined"),
      when(coalesce(col("q_s"), lit("")) === "", EmptyQueryPlaceholder)
        .otherwise(col("q_s")).as("Query"),
      when(coalesce(col("q_s"), lit("")) === "", EmptyQueryPlaceholder)
        .otherwise(col("q_norm")).as("Normalized_Query"))
  }

  /** A3's five per-pattern aggregates, the one definition batch and
    * stream share; `sampleOrder` picks the sample query (file order
    * here, event time in [[graft.engine.streaming.MySqlStream]]). */
  def aggregateStats(patterns: RelationalGroupedDataset,
                     sampleOrder: Column): DataFrame =
    patterns.agg(
      count(lit(1)).as("Executions"),
      min(col("Query_time (ms)")).as("Min_Query_time_ms"),
      max(col("Query_time (ms)")).as("Max_Query_time_ms"),
      round(avg(col("Query_time (ms)")), 2).as("Avg_Query_time_ms"),
      min_by(col("Query"), sampleOrder).as("Sample_Query"))

  // The three warning gates over a projectedOf table, each defined once:
  // the warnings channel and the report's Census both read them.
  /** P10/R4: an entry missing a field is skipped. */
  val SkipGate: Column = !col("all_ok")
  /** P11: a complete entry whose Query_time does not parse. */
  val BadQueryTimeGate: Column = col("all_ok") && col("qt_bad")
  /** P12: a complete entry with an empty query. */
  val EmptyQueryGate: Column = col("all_ok") && col("Query") === EmptyQueryPlaceholder

  /** The report census over a projectedOf table: complete entries and
    * the three gates' warnings, Long counts (an empty input reads 0). */
  val Census: Seq[Column] = Seq(count_if(col("all_ok")).as("valid"),
    (count_if(SkipGate) + count_if(BadQueryTimeGate) + count_if(EmptyQueryGate))
      .as("warnings"))

  /** The three reference outputs as cheap derivations of the
    * [[projectedOf]] table (filters, one aggregate, one array-explode —
    * no regex anywhere).
    */
  def resultFromProjected(projected: DataFrame): Result = {
    val detailed = projected.filter(col("all_ok")).select(
      col("file_id"), col("entry_no"), col("ord"),
      col("Time"), col("User@Host"), col("Query_time (ms)"), col("Lock_time"),
      col("Rows_sent"), col("Rows_examined"), col("Query"), col("Normalized_Query"))

    // A3 + O2: per-pattern stats, keys ascending (pandas groupby default
    // sort, verified by execution — SURVEY.md §2.4/§2.5). "First in file"
    // sample via min_by on the explicit order key, never first().
    val aggregate =
      aggregateStats(detailed.groupBy(col("Normalized_Query")), col("ord"))
        .orderBy(col("Normalized_Query"))

    val warnings = warningsOf(projected)((rows, order) => rows.orderBy(order: _*))
    Result(detailed, aggregate, warnings)
  }

  /** Warning channel over a [[projectedOf]] table, single pass: a skipped
    * entry emits the skip alone; a complete one emits 0..2 (its
    * Query_time, its empty query) — P10/R4 skip (which patterns matched,
    * Python-bool rendering, first 200 chars — mysqlLogParser.py:95-96),
    * P11 cast failure (embeds the UNstripped capture, :72-74), P12 empty
    * query (:83-87) — via a compact array-filter-explode instead of a
    * 3-leg union that would re-run the regex battery per leg. `sorted`
    * puts the rows in the given order (entry order, then gate order
    * within an entry), globally or in one task. */
  private def warningsOf(projected: DataFrame)(
      sorted: (DataFrame, Seq[Column]) => DataFrame): DataFrame = {
    def pyBool(c: Column): Column = when(c, "True").otherwise("False")
    val skipMsg = concat(
      lit("Skipped log entry "), col("entry_no"),
      lit(" due to missing fields. Details: T:"), pyBool(col("t_ok")),
      lit(", UH:"), pyBool(col("uh_ok")), lit(", QT:"), pyBool(col("qt_ok")),
      lit(", LT:"), pyBool(col("lt_ok")), lit(", RS:"), pyBool(col("rs_ok")),
      lit(", RE:"), pyBool(col("re_ok")), lit(", Q:"), pyBool(col("q_ok")),
      lit(". Content snippet: "), col("entry_snippet"), lit("..."))
    val qtMsg = concat(lit("Could not parse Query_time: '"), col("qt_raw"),
      lit("' in entry "), col("entry_no"), lit(". Skipping field."))
    val emptyMsg = concat(lit("Empty query string found in entry "), col("entry_no"),
      lit(". It might be a non-SELECT/INSERT/UPDATE/DELETE statement or a parsing issue."))
    val rows = projected
      .select(col("file_id"), col("entry_no"), col("ord"),
        explode(filter(array(
          when(SkipGate, struct(lit(0).as("warn_rank"), skipMsg.as("warning"))),
          when(BadQueryTimeGate, struct(lit(1).as("warn_rank"), qtMsg.as("warning"))),
          when(EmptyQueryGate, struct(lit(2).as("warn_rank"), emptyMsg.as("warning")))),
          w => w.isNotNull)).as("w"))
    sorted(rows, Seq(col("ord"), col("w.warn_rank")))
      .select(col("file_id"), col("entry_no"), col("w.warning").as("warning"))
  }

  /** The `cli.Main` report over entry records: [[projectedOf]] persisted
    * for the report, its [[Census]] (empty: no complete entry), the
    * warnings (sorted in the one task that writes them, as the Mongo
    * report's are: no range sort over the pinned table) and the two
    * reference sheets, Detailed in the order of `entries` (file order
    * from `Sources.readDelimited`). */
  def report(entries: DataFrame): ReportSink.LogReport = {
    val projected = projectedOf(entries).persist(StorageLevel.MEMORY_AND_DISK)
    val res = resultFromProjected(projected)
    ReportSink.LogReport(projected, Census, empty = col("valid") === 0,
      emptyNotice = "Warning: No valid log entries found in the input.",
      warningCount = col("warnings"),
      warnings = warningsOf(projected)((rows, order) =>
        rows.repartition(1).sortWithinPartitions(order: _*)),
      warningCol = "warning",
      sheets = ReportSink.MySqlSheets.zip(Seq(referenceDetailed(res.detailed), res.aggregate)))
  }

  /** Reference-equivalent entry point: whole-log content rows in,
    * (detailed, aggregate, warnings) out.
    */
  def parse(files: DataFrame): Result = parseEntries(entriesFromFiles(files))

  /** Reference output schema (the 8 columns of mysqlLogParser.py:104-113),
    * without the engine's provenance columns.
    */
  def referenceDetailed(detailed: DataFrame): DataFrame =
    detailed.select("Time", "User@Host", "Query_time (ms)", "Lock_time",
      "Rows_sent", "Rows_examined", "Query", "Normalized_Query")
}
