package graft.cli

import org.apache.spark.sql.SparkSession
import graft.engine.ingest.Sources
import graft.engine.mongo.MongoLogPipeline
import graft.engine.mysql.MySqlLogPipeline
import graft.engine.report.ReportSink

/** CLI entry point — the Spark-native equivalent of the reference's
  * argparse mains (mongo_parser.py:196-251, mysqlLogParser.py:199-251).
  *
  * Usage:
  *   graft.cli.Main --mode mongo|mysql --input <log path/glob>
  *                  --output <report dir> [--csv] [--xlsx] [--html]
  *   graft.cli.Main --mode query --query <registry name>
  *                  --input <sf table dir> --output <result dir> [--csv]
  *                  [--stage-cache-dir <dir>]
  *
  * --mode mongo|mysql runs the pipeline's one report
  * ([[graft.engine.report.ReportSink.write]]): its notices, the
  * warnings file and the per-sheet dirs; --xlsx adds
  * `<output>/report.xlsx` (the reference's workbook, mongo_parser.py:136-141)
  * and --html `<output>/report.html` (the K3 page analog,
  * mongo_parser.py:146-192). Mongo reads lines (`Sources.readLines`),
  * MySQL `# Time: ` entry records (`Sources.readDelimited`).
  * --mode query runs any registered operator from [[graft.SparkEntry]]
  * against a table dir and writes its result (`--query list` lists them).
  */
object Main {

  private case class Args(mode: String = "", input: String = "",
                          output: String = "", csv: Boolean = false,
                          xlsx: Boolean = false, html: Boolean = false,
                          query: String = "", stageCacheDir: String = "")

  private def parseArgs(argv: List[String], a: Args = Args()): Args = argv match {
    case "--mode" :: v :: rest   => parseArgs(rest, a.copy(mode = v))
    case "--input" :: v :: rest  => parseArgs(rest, a.copy(input = v))
    case "--output" :: v :: rest => parseArgs(rest, a.copy(output = v))
    case "--query" :: v :: rest  => parseArgs(rest, a.copy(query = v))
    case "--csv" :: rest         => parseArgs(rest, a.copy(csv = true))
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
            try ReportSink.writeSheets(args.output,
              Seq("result" -> fn(spark, args.input)), args.csv)
            catch {
              case e: Exception => (false, s"Query failed: ${e.getMessage}")
            }
        }
      case _ =>
        val report =
          if (args.mode == "mongo")
            MongoLogPipeline.report(Sources.readLines(spark, args.input))
          else MySqlLogPipeline.report(Sources.readDelimited(spark, args.input))
        ReportSink.write(report, args.output, args.csv, args.xlsx, args.html)
    }
    if (ok) println(s"Report written to ${args.output}")
    else { System.err.println(err); sys.exit(1) }
    if (!preexisting) spark.stop() // embedded callers (tests) own their session
  }
}
