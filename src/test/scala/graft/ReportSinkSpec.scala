package graft

import org.apache.spark.sql.Row

import graft.cli.Main
import graft.engine.ingest.Sources
import graft.engine.mysql.MySqlLogPipeline
import graft.engine.report.ReportSink

/** Report sink (K1/K2) + CLI (K4) end-to-end: run the mysql CLI over a tiny
  * log file and check the per-sheet artifacts land with the reference's
  * sheet names.
  */
class ReportSinkSpec extends SparkTestBase {

  private val log =
    """# Time: 231026 10:00:01
      |# User@Host: app[app] @ h [ip] thread_id: 1
      |# Query_time: 1.0 Lock_time: 0.001 Rows_sent: 1 Rows_examined: 2
      |SET timestamp=1;
      |SELECT * FROM t WHERE id = 7;
      |""".stripMargin

  test("mysql CLI writes the two reference sheets + warnings dir") {
    spark // force session init so Main's getOrCreate reuses it
    val dir = java.nio.file.Files.createTempDirectory("cli").toFile
    val in = new java.io.File(dir, "slow.log")
    java.nio.file.Files.writeString(in.toPath, log)
    val out = new java.io.File(dir, "report")
    Main.main(Array("--mode", "mysql", "--input", in.getAbsolutePath,
      "--output", out.getAbsolutePath, "--csv"))
    for (sheet <- ReportSink.MySqlSheets) {
      val d = spark.read.parquet(s"${out.getAbsolutePath}/$sheet")
      assert(d.count() === 1L, sheet)
      val c = spark.read.option("header", "true")
        .csv(s"${out.getAbsolutePath}/${sheet}_csv")
      assert(c.count() === 1L, s"${sheet}_csv")
    }
    assert(spark.read.parquet(s"${out.getAbsolutePath}/Detailed Metrics")
      .columns.toSeq === Seq("Time", "User@Host", "Query_time (ms)",
        "Lock_time", "Rows_sent", "Rows_examined", "Query", "Normalized_Query"))
  }

  test("mysql CLI drops a preamble and warns as the whole-file parse does") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("cli3").toFile
    // a real slow log opens with the server's preamble; the reader drops
    // it before numbering, so the incomplete 5th entry warns as entry 5
    val preambled = new java.io.File(dir, "preambled.log")
    java.nio.file.Files.writeString(preambled.toPath,
      """/usr/sbin/mysqld, Version: 8.0.35 (MySQL Community Server - GPL). started with:
        |Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock
        |Time                 Id Command    Argument
        |""".stripMargin + log * 4 + log.replace("# Query_time", "# Qt"))
    val out = new java.io.File(dir, "report")
    Main.main(Array("--mode", "mysql", "--input", preambled.getAbsolutePath,
      "--output", out.getAbsolutePath))
    val d = spark.read.parquet(s"${out.getAbsolutePath}/Detailed Metrics")
    assert(d.count() === 4L)
    assert(d.head().getAs[String]("Normalized_Query") ===
      "SELECT * FROM T WHERE ID = ?;")
    val warnings = partFiles(out, "warnings")
      .map(f => java.nio.file.Files.readString(f.toPath)).mkString
    assert(warnings.startsWith("Skipped log entry 5 due to missing fields."), warnings)
    assert(warnings === MySqlLogPipeline.parse(Sources.readWholeFile(spark, preambled.getAbsolutePath))
      .warnings.collect().map(_.getAs[String]("warning") + "\n").mkString)
  }

  /** A report dir's part files, in name order. */
  private def partFiles(out: java.io.File, name: String): Seq[java.io.File] =
    new java.io.File(out, name).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).toSeq

  /** A sheet's rows in part-file name order (a directory read orders
    * parts by size), each part read alone. */
  private def sheetInOrder(out: java.io.File, sheet: String): Seq[Row] =
    partFiles(out, sheet).flatMap(f => spark.read.parquet(f.getAbsolutePath).collect())

  /** Column `letter` of the `n`th sheet of `out/report.xlsx`, below the
    * header, in row order. */
  private def xlsxColumn(out: java.io.File, n: Int, letter: String): Seq[String] = {
    val zf = new java.util.zip.ZipFile(new java.io.File(out, "report.xlsx"))
    val xml = try new String(zf.getInputStream(zf.getEntry(s"xl/worksheets/sheet$n.xml"))
      .readAllBytes(), "UTF-8") finally zf.close()
    s"""<c r="$letter(\\d+)"[^>]*>(?:<v>|<is><t xml:space="preserve">)([^<]*)<""".r
      .findAllMatchIn(xml).filter(_.group(1) != "1").map(_.group(2)).toSeq
  }

  test("report rows are in file order: both Detailed sheets, Non-Slow Queries, warnings") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("cliorder").toFile
    // MySQL: 40 entries rotated into four files of unequal size
    val rotated = new java.io.File(dir, "rotated")
    rotated.mkdir()
    val entries = (1 to 40).map(i => log.replace("SELECT * FROM t WHERE id = 7;", s"SELECT $i;"))
    Seq(0, 3, 15, 22, 40).sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      java.nio.file.Files.writeString(new java.io.File(rotated, s"slow-$i.log").toPath,
        entries.slice(a, b).mkString)
    }
    val mysqlOut = new java.io.File(dir, "mysql")
    Main.main(Array("--mode", "mysql", "--input", rotated.getAbsolutePath,
      "--output", mysqlOut.getAbsolutePath, "--xlsx"))
    val queries = (1 to 40).map(i => s"SELECT $i;")
    assert(sheetInOrder(mysqlOut, "Detailed Metrics").map(_.getAs[String]("Query")) === queries)
    assert(xlsxColumn(mysqlOut, 1, "G") === queries)

    // Mongo: slow, non-slow and invalid lines interleaved, spread over the
    // cores by the reader; the workbook shows them in line order
    val lines = (1 to 60).map { i =>
      val attr = s""""ns":"db.users","command":{"find":"users","filter":{"a":$i}},"durationMillis":$i"""
      i % 3 match {
        case 0 => s"""{"t":{"$$date":"2023-10-25T10:00:00.000Z"},"s":"I","c":"COMMAND","id":1,"ctx":"c","msg":"Slow query","attr":{$attr}}"""
        case 1 => s"""{"t":{"$$date":"2023-10-25T10:00:00.000Z"},"s":"I","c":"NETWORK","id":2,"ctx":"c","msg":"Connection $i","attr":{}}"""
        case _ => s"bad json line $i"
      }
    }
    val in = new java.io.File(dir, "mongod.log")
    java.nio.file.Files.writeString(in.toPath, lines.mkString("", "\n", "\n"))
    val mongoOut = new java.io.File(dir, "mongo")
    Main.main(Array("--mode", "mongo", "--input", in.getAbsolutePath,
      "--output", mongoOut.getAbsolutePath, "--xlsx"))
    val slow = (3 to 60 by 3).map(_.toString)
    val nonSlow = (1 to 60 by 3).map(_.toString)
    assert(xlsxColumn(mongoOut, 1, "A") === slow)
    assert(xlsxColumn(mongoOut, 3, "A") === nonSlow)
    // the datasets hold the same rows, written in parallel in any order
    def lineNos(sheet: String) = sheetInOrder(mongoOut, sheet).map(_.getAs[Long]("line_no").toString)
    assert(lineNos("Detailed Metrics").sortBy(_.toInt) === slow)
    assert(lineNos("Non-Slow Queries").sortBy(_.toInt) === nonSlow)
    val warnings = partFiles(mongoOut, "warnings")
      .flatMap(f => java.nio.file.Files.readString(f.toPath).linesIterator)
    assert(warnings === (2 to 60 by 3).map(i => s"Line $i: Invalid JSON. Skipped."))
  }

  test("mongo CLI writes the four reference sheets") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("cli2").toFile
    val in = new java.io.File(dir, "mongod.log")
    java.nio.file.Files.writeString(in.toPath,
      """{"t":{"$date":"2023-10-25T10:00:00.000Z"},"s":"I","c":"COMMAND","id":1,"ctx":"c","msg":"Slow query","attr":{"ns":"db.users","command":{"find":"users","filter":{"a":1}},"durationMillis":9}}
        |bad json line
        |""".stripMargin)
    val out = new java.io.File(dir, "report")
    Main.main(Array("--mode", "mongo", "--input", in.getAbsolutePath,
      "--output", out.getAbsolutePath))
    for (sheet <- ReportSink.MongoSheets)
      assert(new java.io.File(out, sheet).isDirectory, sheet)
    assert(spark.read.parquet(s"${out.getAbsolutePath}/Detailed Metrics").count() === 1L)
    assert(spark.read.text(s"${out.getAbsolutePath}/warnings").count() === 1L)
  }

  test("a failing warnings write reads as a report error and unpersists the table") {
    val dir = java.nio.file.Files.createTempDirectory("clifail").toFile
    val in = new java.io.File(dir, "slow.log")
    java.nio.file.Files.writeString(in.toPath, log)
    val blocker = new java.io.File(dir, "not-a-dir")
    java.nio.file.Files.writeString(blocker.toPath, "")
    val report = MySqlLogPipeline.report(Sources.readDelimited(spark, in.getAbsolutePath))
    val (ok, err) = Console.withOut(new java.io.ByteArrayOutputStream) {
      ReportSink.write(report, s"${blocker.getAbsolutePath}/report", xlsx = true)
    }
    assert(!ok)
    assert(err.startsWith("Error writing report: "), err)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a sheet whose collect fails reads as a report error and leaves no workbook") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("xlsxfail").toFile
    val in = new java.io.File(dir, "slow.log")
    java.nio.file.Files.writeString(in.toPath, log)
    val report = MySqlLogPipeline.report(Sources.readDelimited(spark, in.getAbsolutePath))
    // a `line_no` column is a sheet of lines, sorted on the driver as
    // Longs: a String one writes as parquet but fails the workbook collect
    val bad = Seq("b", "a").toDF("line_no")
    val out = new java.io.File(dir, "report")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (ok, err) = Console.withOut(new java.io.ByteArrayOutputStream) {
      ReportSink.write(report.copy(sheets = report.sheets :+ ("Bad" -> bad)),
        out.getAbsolutePath, xlsx = true)
    }
    assert(!ok)
    assert(err.startsWith("Error writing report: "), err)
    assert(new java.io.File(out, "Bad").isDirectory)
    assert(out.list().filter(_.contains("xlsx")).isEmpty, out.list().toSeq)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("query CLI runs a registry operator against a table dir") {
    spark // force session init so Main's getOrCreate reuses it
    val dir = java.nio.file.Files.createTempDirectory("cliq").toFile
    import spark.implicits._
    Seq((1L, "the data and that have with scale", "en", "web", 33L),
      (2L, "another doc with the and that tokens", "en", "web", 37L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = new java.io.File(dir, "res")
    Main.main(Array("--mode", "query", "--query", "text_gopher_rules",
      "--input", dir.getAbsolutePath, "--output", out.getAbsolutePath,
      "--csv"))
    val got = spark.read.parquet(s"${out.getAbsolutePath}/result")
    assert(got.count() === 2L)
    assert(got.columns.contains("pass"))
    assert(spark.read.option("header", "true")
      .csv(s"${out.getAbsolutePath}/result_csv").count() === 2L)
  }

  test("query CLI --csv keeps a multi-part sorted result in ORDER BY order") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("cliorder").toFile
    import spark.implicits._
    // the last quarter of doc ids has varied texts, so its result part is
    // the largest file — a size-ordered read-back would start there
    (1L to 20000L).map { i =>
      val text =
        if (i <= 15000L) "the and that" else Seq.fill((i % 97).toInt + 1)(s"w$i").mkString(" ")
      (i, text, "en", "web", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = new java.io.File(dir, "res")
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false") // keep the 4 sorted shuffle parts
    try Main.main(Array("--mode", "query", "--query", "text_gopher_rules",
      "--input", dir.getAbsolutePath, "--output", out.getAbsolutePath, "--csv"))
    finally spark.conf.unset(coalesce)
    assert(new java.io.File(out, "result").listFiles().count(_.getName.endsWith(".parquet")) > 1)
    val parts = new java.io.File(out, "result_csv").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val ids = parts.toSeq.flatMap { f =>
      val lines = java.nio.file.Files.readString(f.toPath).split("\n").toSeq
      val col = lines.head.split(",").indexOf("doc_id")
      lines.tail.map(_.split(",")(col).toLong)
    }
    assert(ids.size === 20000 && ids.indices.forall(i => ids(i) == i + 1L),
      s"CSV starts at doc ${ids.headOption}")
  }
}
