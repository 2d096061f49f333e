package graft.cli

import org.apache.spark.sql.SparkSession
import graft.engine.ingest.Sources
import graft.engine.mongo.MongoLogPipeline
import graft.engine.mysql.MySqlLogPipeline
import graft.engine.report.{HtmlWriter, ReportSink, XlsxWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** CLI entry point — the Spark-native equivalent of the reference's
  * argparse mains (mongo_parser.py:196-251, mysqlLogParser.py:199-251).
  *
  * Usage:
  *   graft.cli.Main --mode mongo|mysql --input <log path/glob>
  *                  --output <report dir> [--csv] [--scale] [--xlsx]
  *                  [--html]
  *   graft.cli.Main --mode query --query <registry name>
  *                  --input <sf table dir> --output <result dir> [--csv]
  *
  * --mode query runs ANY registered operator from [[graft.SparkEntry]]
  * (all 180+ dedup / ANN / corpus / text / event queries) against a
  * table directory and writes the result as parquet (plus CSV with
  * --csv) — the whole library as a command-line tool, not just the two
  * reference parsers. `--query list` prints the registry.
  *
  * --scale selects the 100 TB-shaped source for MySQL (record-delimited
  * parallel read) instead of the reference-parity whole-file read.
  * --xlsx additionally assembles `<output>/report.xlsx`, a real OOXML
  * workbook with the reference's sheet names (mongo_parser.py:136-141,
  * mysqlLogParser.py:139-142) — the download a reference user expects.
  * --html additionally renders `<output>/report.html`, a self-contained
  * serve-less page with the same sheets — the K3 interactive-UI analog
  * (mongo_parser.py:146-192).
  */
object Main {

  private case class Args(mode: String = "", input: String = "",
                          output: String = "", csv: Boolean = false,
                          scale: Boolean = false, xlsx: Boolean = false,
                          html: Boolean = false, query: String = "",
                          stageCacheDir: String = "")

  private def parseArgs(argv: List[String], a: Args = Args()): Args = argv match {
    case "--mode" :: v :: rest   => parseArgs(rest, a.copy(mode = v))
    case "--input" :: v :: rest  => parseArgs(rest, a.copy(input = v))
    case "--output" :: v :: rest => parseArgs(rest, a.copy(output = v))
    case "--query" :: v :: rest  => parseArgs(rest, a.copy(query = v))
    case "--csv" :: rest         => parseArgs(rest, a.copy(csv = true))
    case "--scale" :: rest       => parseArgs(rest, a.copy(scale = true))
    case "--xlsx" :: rest        => parseArgs(rest, a.copy(xlsx = true))
    case "--html" :: rest        => parseArgs(rest, a.copy(html = true))
    // durable StageCache (spark.graft.stageCache.dir): shared-stage
    // queries materialize to parquet under this dir and REUSE it across
    // runs — the cluster/cron deployment mode, where a localCheckpoint
    // would die with the session
    case "--stage-cache-dir" :: v :: rest =>
      parseArgs(rest, a.copy(stageCacheDir = v))
    case Nil                     => a
    case other :: _ => sys.error(s"Unknown argument: $other")
  }

  /** Distributed per-sheet dirs always; the workbook only on request
    * (a driver-side collect, same as the reference's pandas assembly).
    */
  private def writeReport(outDir: String, sheets: Seq[(String, DataFrame)],
                          csv: Boolean, xlsx: Boolean,
                          html: Boolean): (Boolean, String) = {
    var r = ReportSink.writeSheets(outDir, sheets, csv)
    if (r._1 && xlsx)
      r = try { XlsxWriter.write(s"$outDir/report.xlsx", sheets); r }
        catch { case e: Exception => (false, s"Error writing report: ${e.getMessage}") }
    if (r._1 && html)
      r = try { HtmlWriter.write(s"$outDir/report.html", "Log Report", sheets); r }
        catch { case e: Exception => (false, s"Error writing report: ${e.getMessage}") }
    r
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toList)
    require(Set("mongo", "mysql", "query")(args.mode),
      "--mode must be mongo, mysql or query")
    if (args.mode == "query" && args.query == "list") {
      graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    require(args.input.nonEmpty && args.output.nonEmpty,
      "--input and --output are required")

    val preexisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    // Engine profile only (graft.GraftSession): under spark-submit or an
    // embedding caller's session, cli.Main must not resize the caller's
    // shuffles or scans. Static confs (serializer, extensions) only take
    // effect when this CLI is the one creating the context. A bare
    // `java`/`sbt runMain` invocation gets local[*].
    val spark = graft.GraftSession.engine(s"graft-${args.mode}",
      if (preexisting || sys.props.contains("spark.master")) None
      else Some("local[*]"))
    spark.sparkContext.setLogLevel("WARN")
    if (args.stageCacheDir.nonEmpty)
      spark.conf.set(graft.engine.StageCache.DurableDirConf, args.stageCacheDir)

    val (ok, err) = args.mode match {
      case "query" =>
        graft.SparkEntry.queries.get(args.query) match {
          case None =>
            (false, s"Unknown query '${args.query}' — use --query list")
          case Some(fn) =>
            try {
              // log-family queries (mysql_*, mongo_*) read generated
              // fixture files; prepare writes them exactly as Bench does
              try graft.SparkEntry.prepare(spark, args.input)
              catch { case _: Throwable => () }
              ReportSink.writeSheets(args.output,
                Seq("result" -> fn(spark, args.input)), args.csv)
            } catch {
              case e: Exception => (false, s"Query failed: ${e.getMessage}")
            }
        }
      case "mongo" =>
        val res = MongoLogPipeline.analyze(Sources.readLines(spark, args.input))
        try {
          // The first action builds the whole persisted scan in parallel;
          // the empty-input check then reads the cache, not the input.
          val nErr = res.parseErrors.count()
          // S4 empty-input guard: the reference checks the RAW line list
          // (mongo_parser.py:218-222), not the parsed outputs — an input of
          // only error lines must NOT warn. The scan keeps one row per raw
          // line, blank ones included.
          if (res.scan.isEmpty) println("Warning: Input file is empty.")
          if (nErr > 0) println(s"Encountered $nErr parse warning(s).")
          ReportSink.writeWarnings(args.output, res.parseErrors, "message")
          writeReport(args.output, ReportSink.MongoSheets.zip(Seq(
            res.detailed, res.queryStats, res.nonSlow, res.errors)),
            args.csv, args.xlsx, args.html)
        } finally res.scan.unpersist(blocking = true)
      case "mysql" =>
        val entries =
          if (args.scale) Sources.readDelimited(spark, args.input)
          else MySqlLogPipeline.entriesFromFiles(
            Sources.readWholeFile(spark, args.input))
        // One parse per report: the emptiness check, the warning count,
        // the warnings file, the sheets and the workbook all read this
        // table, which lives exactly as long as the report.
        val projected = MySqlLogPipeline.projectedOf(entries)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val res = MySqlLogPipeline.resultFromProjected(projected)
          // the count builds the whole table in parallel before the
          // emptiness check's partition-at-a-time limit reads it
          val nWarn = res.warnings.count()
          if (res.detailed.isEmpty)
            println("Warning: No valid log entries found in the input.")
          if (nWarn > 0) println(s"Encountered $nWarn parse warning(s).")
          ReportSink.writeWarnings(args.output, res.warnings)
          writeReport(args.output, ReportSink.MySqlSheets.zip(Seq(
            MySqlLogPipeline.referenceDetailed(res.detailed), res.aggregate)),
            args.csv, args.xlsx, args.html)
        } finally projected.unpersist(blocking = true)
    }
    if (ok) println(s"Report written to ${args.output}")
    else { System.err.println(err); sys.exit(1) }
    if (!preexisting) spark.stop() // embedded callers (tests) own their session
  }
}
