package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cli.Main

/** The Spark SQL actions of one `cli.Main --xlsx` log report. A report
  * runs one census aggregate, then writes its warnings, its sheets and
  * one workbook collect per sheet: Mongo 1 + 1 + 4 + 4 = 10 actions,
  * MySQL 1 + 1 + 2 + 2 = 6, whatever the input layout.
  */
class ReportActionsSpec extends SparkTestBase {

  private val Sentinel = "report_actions_sentinel"

  /** Function names of the actions `body` runs, in order. Listener
    * delivery is asynchronous but ordered, so a sentinel action run after
    * `body` arrives last: once it is seen, every action of `body` is. */
  private def actions(body: => Unit): Seq[String] = {
    val got = new ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new QueryExecutionListener {
      private def add(funcName: String, qe: QueryExecution): Unit =
        got.add(funcName -> qe.analyzed.output.exists(_.name == Sentinel))
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        add(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        add(funcName, qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(Sentinel).collect()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!got.asScala.exists(_._2) && System.nanoTime() < deadline) Thread.sleep(20)
      val seen = got.asScala.toSeq
      assert(seen.exists(_._2), "the sentinel action was not delivered")
      seen.takeWhile(!_._2).map(_._1)
    } finally spark.listenerManager.unregister(listener)
  }

  private def report(mode: String, in: File): Seq[String] = {
    val out = Files.createTempDirectory(s"actions-$mode").toFile.getAbsolutePath
    actions(Main.main(Array("--mode", mode, "--input", in.getAbsolutePath,
      "--output", out, "--xlsx")))
  }

  private val entry =
    """# Time: 231026 10:00:01
      |# User@Host: app[app] @ h [ip] thread_id: 1
      |# Query_time: 1.0 Lock_time: 0.001 Rows_sent: 1 Rows_examined: 2
      |SET timestamp=1;
      |SELECT * FROM t WHERE id = 7;
      |""".stripMargin

  private lazy val mysqlDir: File = {
    val dir = Files.createTempDirectory("actions-mysql").toFile
    Files.writeString(new File(dir, "slow.log").toPath, entry * 3)
    val rotated = new File(dir, "rotated")
    rotated.mkdir()
    for (i <- 0 until 3)
      Files.writeString(new File(rotated, s"slow-$i.log").toPath, entry)
    dir
  }

  test("a mongo report runs 10 actions") {
    spark
    val in = new File(Files.createTempDirectory("actions-mongo").toFile, "mongod.log")
    Files.writeString(in.toPath,
      """{"t":{"$date":"2023-10-25T10:00:00.000Z"},"s":"I","c":"COMMAND","id":1,"ctx":"c","msg":"Slow query","attr":{"ns":"db.users","command":{"find":"users","filter":{"a":1}},"durationMillis":9}}
        |bad json line
        |""".stripMargin)
    val got = report("mongo", in)
    assert(got.size === 10, got)
  }

  test("a mysql report runs 6 actions on one file and on rotated files") {
    spark
    for (in <- Seq(new File(mysqlDir, "slow.log"), new File(mysqlDir, "rotated"))) {
      val got = report("mysql", in)
      assert(got.size === 6, s"${in.getName}: $got")
    }
  }
}
