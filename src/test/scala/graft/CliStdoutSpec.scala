package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import graft.cli.Main

/** `cli.Main`'s stdout contract for the log modes: the reference's two
  * notices — the S4 empty-input warning and the parse-warning count
  * (mongo_parser.py:218-222, mysqlLogParser.py:221-224) — then the
  * report line, and nothing else.
  */
class CliStdoutSpec extends SparkTestBase {

  /** Stdout of one report over `log`, and the report's warnings file. */
  private def run(mode: String, log: String): (Seq[String], String) = {
    spark // Main joins the shared session
    val dir = Files.createTempDirectory(s"stdout-$mode").toFile
    val in = new File(dir, "input.log")
    Files.writeString(in.toPath, log)
    val out = new File(dir, "report").getAbsolutePath
    val buf = new ByteArrayOutputStream
    Console.withOut(buf) {
      Main.main(Array("--mode", mode, "--input", in.getAbsolutePath,
        "--output", out))
    }
    val warnings = new File(out, "warnings").listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(f => Files.readString(f.toPath)).mkString
    (buf.toString("UTF-8").linesIterator.toSeq.map(_.replace(out, "<out>")), warnings)
  }

  test("an empty mongo log warns that the input is empty") {
    val (stdout, warnings) = run("mongo", "")
    assert(stdout === Seq("Warning: Input file is empty.", "Report written to <out>"))
    assert(warnings === "")
  }

  test("a mongo log of only invalid lines counts its parse warnings, no empty warning") {
    val (stdout, warnings) = run("mongo", "not json\n{\"t\":\n\n")
    assert(stdout === Seq("Encountered 3 parse warning(s).", "Report written to <out>"))
    assert(warnings.linesIterator.toSeq === Seq("Line 1: Invalid JSON. Skipped.",
      "Line 2: Invalid JSON. Skipped.", "Line 3: Invalid JSON. Skipped."))
  }

  private val incomplete =
    """# Time: 231026 10:00:01
      |# User@Host: app[app] @ h [ip] thread_id: 1
      |SET timestamp=1;
      |SELECT 1;
      |""".stripMargin

  test("a slow log with no complete entry warns that no valid entry was found") {
    val (stdout, warnings) = run("mysql", incomplete)
    assert(stdout === Seq("Warning: No valid log entries found in the input.",
      "Encountered 1 parse warning(s).", "Report written to <out>"))
    // one warning; its content snippet carries the entry's newlines
    assert(warnings.startsWith("Skipped log entry 1 due to missing fields. " +
      "Details: T:True, UH:True, QT:False") &&
      "Skipped log entry".r.findAllIn(warnings).size == 1)
  }

  test("one slow-log entry with a bad Query_time and an empty query warns twice") {
    val log =
      """# Time: 231026 10:00:01
        |# User@Host: app[app] @ h [ip] thread_id: 1
        |# Query_time: fast Lock_time: 0.001 Rows_sent: 1 Rows_examined: 2
        |SET timestamp=1;
        |""".stripMargin
    val (stdout, warnings) = run("mysql", log)
    assert(stdout === Seq("Encountered 2 parse warning(s).", "Report written to <out>"))
    assert(warnings ===
      "Could not parse Query_time: 'fast' in entry 1. Skipping field.\n" +
      "Empty query string found in entry 1. It might be a non-SELECT/INSERT/" +
        "UPDATE/DELETE statement or a parsing issue.\n")
  }
}
