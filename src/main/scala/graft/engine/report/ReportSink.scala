package graft.engine.report

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.engine.StageCache
import graft.engine.plans.PlanWalk

/** Report sink (SURVEY.md §2.8 K1/K2): the reference writes one multi-sheet
  * Excel workbook (mongo_parser.py:134-143, mysqlLogParser.py:137-144); the
  * offline Spark image has no Excel connector, so the contract-native
  * equivalent is a directory of per-sheet datasets named exactly like the
  * reference's sheets, in parquet (machine) and optionally CSV (human)
  * form. Returns (ok, errorMessage) like the reference's writer.
  */
object ReportSink {

  /** Mongo sheet names, mongo_parser.py:136-141. */
  val MongoSheets = Seq("Detailed Metrics", "Query Stats", "Non-Slow Queries",
    "Error Stats")

  /** MySQL sheet names, mysqlLogParser.py:139-142. */
  val MySqlSheets = Seq("Detailed Metrics", "Aggregate Results")

  /** One log report, described once by its pipeline
    * (`MongoLogPipeline.report`, `MySqlLogPipeline.report`) and run by
    * [[write]]. Everything in it reads `pinned`, the table the pipeline
    * persisted for the report's lifetime; `empty` (the S4 rule, printing
    * `emptyNotice`) and `warningCount` read the `census` columns.
    */
  final case class LogReport(pinned: DataFrame, census: Seq[Column],
                             empty: Column, emptyNotice: String,
                             warningCount: Column, warnings: DataFrame,
                             warningCol: String,
                             sheets: Seq[(String, DataFrame)])

  /** Run a log report as the reference's CLI does (mongo_parser.py:218-222):
    * the two notices, then the warnings file, the sheets and, on request,
    * the workbook and the page; `pinned` and the sheet checkpoints are
    * released after. The notices read ONE census aggregate: the report's
    * first action, it builds `pinned` in parallel. Each sheet is computed
    * once: see [[once]].
    */
  def write(report: LogReport, outDir: String, csv: Boolean = false,
            xlsx: Boolean = false, html: Boolean = false): (Boolean, String) = {
    val held = mutable.Buffer.empty[RDD[_]]
    try {
      val census = report.pinned.agg(report.census.head, report.census.tail: _*)
        .select(report.empty, report.warningCount).head()
      if (census.getBoolean(0)) println(report.emptyNotice)
      val nWarn = census.getLong(1)
      if (nWarn > 0) println(s"Encountered $nWarn parse warning(s).")
      attempt {
        writeWarnings(outDir, report.warnings, report.warningCol)
        val sheets = report.sheets.map { case (name, df) => name -> once(df, held) }
        sheets.foreach { case (name, df) => writeSheet(outDir, name, df, csv) }
        if (xlsx) XlsxWriter.write(s"$outDir/report.xlsx", sheets)
        if (html) HtmlWriter.write(s"$outDir/report.html", "Log Report", sheets)
      }
    } finally {
      held.foreach(_.unpersist(blocking = true))
      report.pinned.unpersist(blocking = true)
    }
  }

  /** `sheet`, or an eager local checkpoint of it when its plan shuffles
    * (an aggregate, a global sort), its blocks added to `held` for the
    * caller to release. Every later read of the sheet (its parquet write,
    * the workbook and page collects) then scans the checkpoint, run once
    * with the adaptive plan's coalesced partitions, and a capped collect
    * of it is a plain limit, not a top-k whose per-task buffer is sized
    * by the cap. A row-level sheet is a projection of the pinned table
    * and stays one. Not `persist`: a cached plan keeps every shuffle
    * partition (adaptive execution does not coalesce inside it), so each
    * read of the sheet would run `spark.sql.shuffle.partitions` tasks. */
  private def once(sheet: DataFrame, held: mutable.Buffer[RDD[_]]): DataFrame =
    if (!PlanWalk.nodes(sheet.queryExecution.executedPlan)
          .exists(_.isInstanceOf[ShuffleExchangeLike])) sheet
    else {
      val cp = StageCache.checkpointed(sheet)
      if (cp ne sheet) held ++= StageCache.checkpointRdd(cp)
      cp
    }

  /** The one error convention of every artifact write. */
  private def attempt(body: => Unit): (Boolean, String) =
    try { body; (true, "") }
    catch { case e: Exception => (false, s"Error writing report: ${e.getMessage}") }

  /** Write sheets under `outDir/<sheet name>/` as parquet, plus CSV with
    * a header when `csv` is set (small reports only). Parquet goes first,
    * so it exists even if the CSV render of an exotic type fails; with
    * `csv` the sheet is persisted for both writes, so its lineage runs
    * once and both keep one part order.
    */
  def writeSheets(outDir: String, sheets: Seq[(String, DataFrame)],
                  csv: Boolean = false): (Boolean, String) =
    attempt(sheets.foreach { case (name, df) => writeSheet(outDir, name, df, csv) })

  private def writeSheet(outDir: String, name: String, df: DataFrame,
                         csv: Boolean): Unit = {
    if (csv) df.persist()
    try {
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      if (csv)
        df.write.mode("overwrite").option("header", "true")
          .csv(s"$outDir/${name}_csv")
    } finally if (csv) df.unpersist()
  }

  /** K4 warnings channel: one text line per warning row (single file —
    * warnings are a driver-facing diagnostic, not a data artifact).
    */
  def writeWarnings(outDir: String, warnings: DataFrame,
                    messageCol: String = "warning"): Unit =
    warnings.select(messageCol).coalesce(1)
      .write.mode("overwrite").text(s"$outDir/warnings")

  /** A sheet's header, its first `cap` rows on the driver, and whether
    * it had more: `cap + 1` rows are collected, so a cut needs no separate
    * count. A sheet of lines (a `line_no` column: the line reader spreads
    * them over the cores) shows its first `cap` in line order, sorted here
    * when it fits, taken by a top-k only when it is cut. The workbook and
    * the page both collect through this. */
  private[report] def collectCapped(df: DataFrame, cap: Int)
      : (Seq[String], Seq[Seq[Any]], Boolean) = {
    def take(d: DataFrame) = d.limit(cap + 1).collect().toSeq
    val some = take(df)
    val rows = if (!df.columns.contains("line_no")) some
      else if (some.length > cap) take(df.orderBy("line_no"))
      else some.sortBy(_.getAs[Long]("line_no"))
    (df.columns.toSeq, rows.take(cap).map(_.toSeq), rows.length > cap)
  }
}
