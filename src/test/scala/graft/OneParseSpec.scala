package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.cli.Main
import graft.engine.ext.Corpus
import graft.engine.gen.LogGen
import graft.engine.ingest.Sources
import graft.engine.mongo.MongoLogPipeline
import graft.engine.mysql.MySqlLogPipeline

/** One parse per report: a `cli.Main --xlsx` report reads its input
  * exactly as many bytes as one forced pass of the pipeline's parse —
  * its emptiness check, warning count, warnings file, sheets and workbook
  * all read one persisted table — and leaves nothing cached behind.
  * The registry operators that reuse a subtree within one call
  * (`reportAll`, `dsirScore`) leave nothing cached behind either, so no
  * later call is served from an earlier one.
  */
class OneParseSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Bytes `body` reads from local files through Hadoop's file system:
    * the log scans, and nothing else a report does. (A task's
    * `inputMetrics.bytesRead` would not do: it also counts every read of
    * a cached block.) Actions return only once their tasks are done, so
    * the counter is complete when `body` returns. */
  private def bytesRead(body: => Unit): Long = {
    def now = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
    val before = now
    body
    now - before
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Input bytes of one `cli.Main --xlsx` report; the report must leave
    * the session's cache as empty as it found it. */
  private def report(mode: String, in: String): (Long, String) = {
    spark.catalog.clearCache()
    val out = Files.createTempDirectory(s"oneparse-$mode").toFile.getAbsolutePath
    val n = bytesRead(Main.main(Array("--mode", mode, "--input", in,
      "--output", out, "--xlsx")))
    assert(spark.sharedState.cacheManager.isEmpty, s"$mode report left a cached table")
    (n, out)
  }

  /** The report's warnings file (one part: the writer coalesces to 1). */
  private def warningsText(out: String): String =
    new File(s"$out/warnings").listFiles().filter(_.getName.startsWith("part-"))
      .map(f => Files.readString(f.toPath)).mkString

  /** The sf0.001 slow log as one file, and the same entries rotated
    * into four files. */
  private lazy val mysqlInputs: (String, String) = {
    val content = LogGen.mysqlFiles(spark, sf).orderBy(col("file_id"))
      .collect().map(_.getString(1)).mkString
    val entries = content.split("(?=# Time: )").toSeq
    val dir = Files.createTempDirectory("oneparse-mysql").toFile
    val single = new File(dir, "slow.log")
    Files.writeString(single.toPath, content)
    val rotated = new File(dir, "rotated")
    rotated.mkdir()
    entries.grouped((entries.size + 3) / 4).zipWithIndex.foreach { case (part, i) =>
      Files.writeString(new File(rotated, s"slow-$i.log").toPath, part.mkString)
    }
    assert(rotated.list().length === 4)
    (single.getAbsolutePath, rotated.getAbsolutePath)
  }

  private def mysqlReport(in: String): Unit = {
    val parsePass = bytesRead(noop(MySqlLogPipeline.projectedOf(
      Sources.readDelimited(spark, in))))
    val (reportBytes, out) = report("mysql", in)
    assert(parsePass > 0)
    assert(reportBytes === parsePass)
    // the persisted table serves the whole-file parse's warnings
    assert(warningsText(out) === MySqlLogPipeline.parse(Sources.readWholeFile(spark, in))
      .warnings.collect().map(_.getAs[String]("warning") + "\n").mkString)
  }

  test("mysql report reads a single slow log once") {
    mysqlReport(mysqlInputs._1)
  }

  test("mysql report reads a log rotated into four files once") {
    mysqlReport(mysqlInputs._2)
  }

  /** `body` with local files cut into 16 KB blocks (the uncached local
    * file system reads the block size), so the sf0.001 logs span many. */
  private def smallBlocks[T](body: => T): T =
    withHadoopConf("fs.local.block.size" -> "16384", "fs.file.impl.disable.cache" -> "true")(body)

  /** The sf0.001 mongod log as one file. */
  private lazy val mongoInput: File = {
    val lines = LogGen.mongoLines(spark, sf).orderBy(col("line_no"))
      .collect().map(_.getAs[String]("line"))
    val in = new File(Files.createTempDirectory("oneparse-mongo").toFile, "mongod.log")
    Files.writeString(in.toPath, lines.mkString("", "\n", "\n"))
    in
  }

  test("mongo report reads its log once and unpersists its scan") {
    val in = mongoInput
    val parsePass = bytesRead(noop(MongoLogPipeline.parsedScan(
      Sources.readLines(spark, in.getAbsolutePath))))
    val (reportBytes, out) = report("mongo", in.getAbsolutePath)
    assert(parsePass > 0)
    assert(reportBytes === parsePass)
    assert(warningsText(out).nonEmpty)
  }

  // A file under one block is one split: zipWithIndex runs no counting
  // pass over it, so the report reads each byte exactly once.
  test("single-split mongo report reads exactly the file's bytes") {
    val (reportBytes, _) = report("mongo", mongoInput.getAbsolutePath)
    assert(reportBytes === mongoInput.length())
  }

  test("mysql report reads exactly the file bytes: single, rotated, above one block") {
    val single = new File(mysqlInputs._1)
    val rotated = new File(mysqlInputs._2).listFiles().map(_.length()).sum
    assert(report("mysql", single.getAbsolutePath)._1 === single.length())
    assert(report("mysql", mysqlInputs._2)._1 === rotated)
    assert(single.length() > 4 * 16384)
    assert(smallBlocks(report("mysql", single.getAbsolutePath))._1 === single.length())
  }

  test("mongo reportAll reads its log on every call and leaves nothing cached") {
    val lines = LogGen.mongoLines(spark, sf)
    spark.catalog.clearCache()
    val reads = Seq.fill(2)(bytesRead(MongoLogPipeline.reportAll(lines).collect()))
    assert(reads.head > 0)
    assert(reads(1) === reads.head, "the second call was served from the first call's cache")
    assert(spark.sharedState.cacheManager.isEmpty, "reportAll left a cached table")
  }

  test("dsirScore leaves nothing cached") {
    spark.catalog.clearCache()
    assert(Corpus.dsirScore(spark, sf).collect().nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty, "dsirScore left a cached table")
  }
}
