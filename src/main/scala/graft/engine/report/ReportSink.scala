package graft.engine.report

import org.apache.spark.sql.DataFrame

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

  /** Write sheets under `outDir/<sheet name>/` as parquet (+ CSV with
    * header when `csv` is set — small reports only; CSV of a 100 TB result
    * is not a thing). Parquet goes first so the machine-readable artifact
    * exists even if the CSV render of an exotic type fails. With `csv` the
    * sheet is persisted for the two writes: the CSV is the same
    * computation as the parquet, in the same part order, and the lineage
    * runs once.
    */
  def writeSheets(outDir: String, sheets: Seq[(String, DataFrame)],
                  csv: Boolean = false): (Boolean, String) =
    try {
      sheets.foreach { case (name, df) =>
        if (csv) df.persist()
        try {
          df.write.mode("overwrite").parquet(s"$outDir/$name")
          if (csv)
            df.write.mode("overwrite").option("header", "true")
              .csv(s"$outDir/${name}_csv")
        } finally if (csv) df.unpersist()
      }
      (true, "")
    } catch {
      case e: Exception => (false, s"Error writing report: ${e.getMessage}")
    }

  /** K4 warnings channel: one text line per warning row (single file —
    * warnings are a driver-facing diagnostic, not a data artifact).
    */
  def writeWarnings(outDir: String, warnings: DataFrame,
                    messageCol: String = "warning"): Unit =
    warnings.select(messageCol).coalesce(1)
      .write.mode("overwrite").text(s"$outDir/warnings")
}
