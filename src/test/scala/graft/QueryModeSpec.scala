package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.cli.Main

/** `cli.Main --mode query`: a log query generates its own log files, and
  * a query over a table dir touches only the tables it reads.
  */
class QueryModeSpec extends SparkTestBase {

  /** Every event logged while `body` runs, at the level cli.Main sets. */
  private def logged(body: => Unit): Seq[LogEvent] = {
    val got = new ConcurrentLinkedQueue[LogEvent]()
    val appender = new AbstractAppender("query-mode-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = got.add(e.toImmutable)
    }
    appender.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(appender)
    try body
    finally { root.removeAppender(appender); appender.stop() }
    got.asScala.toSeq
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("a log query runs on an sf dir and equals the registry's result") {
    val sf = "/root/testdata/sf0.001"
    val out = new File(Files.createTempDirectory("query-log").toFile, "res")
    Main.main(Array("--mode", "query", "--query", "mongo_file_stats",
      "--input", sf, "--output", out.getAbsolutePath))
    val got = spark.read.parquet(s"${out.getAbsolutePath}/result")
    val want = SparkEntry.queries("mongo_file_stats")(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a documents-only query logs no missing-table trace") {
    val dir = Files.createTempDirectory("query-docs").toFile
    import spark.implicits._
    Seq((1L, "the data and that have with scale", "en", "web", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = new File(dir, "res")
    val events = logged(Main.main(Array("--mode", "query", "--query",
      "text_gopher_rules", "--input", dir.getAbsolutePath,
      "--output", out.getAbsolutePath)))
    spark.sparkContext.setLogLevel("ERROR")
    val missing = events.filter { e =>
      Option(e.getThrown).toSeq.flatMap(causes)
        .exists(_.isInstanceOf[java.io.FileNotFoundException]) ||
        e.getMessage.getFormattedMessage.contains("FileNotFoundException")
    }
    assert(missing.isEmpty, missing.map(_.getMessage.getFormattedMessage))
    assert(spark.read.parquet(s"${out.getAbsolutePath}/result").count() === 1L)
  }
}
