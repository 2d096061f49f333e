package graft

import graft.cli.Main
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

  test("mysql CLI --scale (delimited reader) produces the same sheets") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("cli3").toFile
    val in = new java.io.File(dir, "slow.log")
    java.nio.file.Files.writeString(in.toPath, log)
    val out = new java.io.File(dir, "report")
    Main.main(Array("--mode", "mysql", "--input", in.getAbsolutePath,
      "--output", out.getAbsolutePath, "--scale"))
    val d = spark.read.parquet(s"${out.getAbsolutePath}/Detailed Metrics")
    assert(d.count() === 1L)
    assert(d.head().getAs[String]("Normalized_Query") ===
      "SELECT * FROM T WHERE ID = ?;")

    // a real slow log opens with the server's preamble; both readers drop
    // it before numbering, so the incomplete 5th entry warns as entry 5
    val preambled = new java.io.File(dir, "preambled.log")
    java.nio.file.Files.writeString(preambled.toPath,
      """/usr/sbin/mysqld, Version: 8.0.35 (MySQL Community Server - GPL). started with:
        |Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock
        |Time                 Id Command    Argument
        |""".stripMargin + log * 4 + log.replace("# Query_time", "# Qt"))
    def warnings(extra: String*): String = {
      val o = new java.io.File(dir, s"report${extra.mkString}")
      Main.main(Array("--mode", "mysql", "--input", preambled.getAbsolutePath,
        "--output", o.getAbsolutePath) ++ extra)
      new java.io.File(o, "warnings").listFiles()
        .filter(_.getName.startsWith("part-"))
        .map(f => java.nio.file.Files.readString(f.toPath)).mkString
    }
    val whole = warnings()
    assert(whole.startsWith("Skipped log entry 5 due to missing fields."), whole)
    assert(warnings("--scale") === whole)
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
    val report = graft.engine.mysql.MySqlLogPipeline.report(
      graft.engine.mysql.MySqlLogPipeline.entriesFromFiles(
        graft.engine.ingest.Sources.readWholeFile(spark, in.getAbsolutePath)))
    val (ok, err) = Console.withOut(new java.io.ByteArrayOutputStream) {
      ReportSink.write(report, s"${blocker.getAbsolutePath}/report", xlsx = true)
    }
    assert(!ok)
    assert(err.startsWith("Error writing report: "), err)
    assert(spark.sharedState.cacheManager.isEmpty)
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
