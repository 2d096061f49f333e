package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cli.Main
import graft.engine.plans.PlanWalk

/** The Spark SQL actions of one `cli.Main --xlsx` log report. A report
  * runs one census aggregate, then writes its warnings, checkpoints each
  * sheet whose plan shuffles (Mongo's Query Stats and Error Stats,
  * MySQL's Aggregate Results), then writes its sheets and one workbook
  * collect per sheet: Mongo 1 + 1 + 2 + 4 + 4 = 12 actions, MySQL
  * 1 + 1 + 1 + 2 + 2 = 7, whatever the input layout. Each aggregate
  * sheet's exchange runs in the one action that checkpoints it.
  */
class ReportActionsSpec extends SparkTestBase {

  private val Sentinel = "report_actions_sentinel"

  /** The actions `body` runs, in order, as (function name, query).
    * Listener delivery is asynchronous but ordered, so a sentinel action
    * run after `body` arrives last: once it is seen, every action of
    * `body` is. */
  private def actions(body: => Unit): Seq[(String, QueryExecution)] = {
    val got = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    def isSentinel(qe: QueryExecution) = qe.analyzed.output.exists(_.name == Sentinel)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        got.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        got.add(funcName -> qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(Sentinel).collect()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!got.asScala.exists(a => isSentinel(a._2)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val seen = got.asScala.toSeq
      assert(seen.exists(a => isSentinel(a._2)), "the sentinel action was not delivered")
      seen.takeWhile(a => !isSentinel(a._2))
    } finally spark.listenerManager.unregister(listener)
  }

  private def report(mode: String, in: File): Seq[(String, QueryExecution)] = {
    val out = Files.createTempDirectory(s"actions-$mode").toFile.getAbsolutePath
    actions(Main.main(Array("--mode", mode, "--input", in.getAbsolutePath,
      "--output", out, "--xlsx")))
  }

  /** How many of `queries` run each keyed exchange (an aggregate's hash
    * exchange, a global sort's range exchange), by its canonical plan. */
  private def keyedExchangeRuns(queries: Seq[(String, QueryExecution)]): Map[Any, Int] =
    queries.flatMap { case (_, qe) =>
      PlanWalk.nodes(qe.executedPlan).collect {
        case e: ShuffleExchangeLike if (e.outputPartitioning match {
          case _: HashPartitioning | _: RangePartitioning => true
          case _ => false
        }) => e.canonicalized
      }.distinct
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** `got` holds `n` actions and runs each of at least `sheets` keyed
    * exchanges in exactly one of them. */
  private def assertOnePass(got: Seq[(String, QueryExecution)], n: Int, sheets: Int,
                            what: String): Unit = {
    assert(got.size === n, s"$what: ${got.map(_._1)}")
    val runs = keyedExchangeRuns(got)
    assert(runs.size >= sheets, s"$what: $runs")
    assert(runs.values.forall(_ == 1), s"$what: an exchange ran in more than one query: $runs")
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

  test("a mongo report runs 12 actions, each exchange once") {
    spark
    val in = new File(Files.createTempDirectory("actions-mongo").toFile, "mongod.log")
    Files.writeString(in.toPath,
      """{"t":{"$date":"2023-10-25T10:00:00.000Z"},"s":"I","c":"COMMAND","id":1,"ctx":"c","msg":"Slow query","attr":{"ns":"db.users","command":{"find":"users","filter":{"a":1}},"durationMillis":9}}
        |bad json line
        |""".stripMargin)
    assertOnePass(report("mongo", in), 12, 2, "mongo")
  }

  test("a mysql report runs 7 actions, each exchange once") {
    spark
    for (in <- Seq(new File(mysqlDir, "slow.log"), new File(mysqlDir, "rotated")))
      assertOnePass(report("mysql", in), 7, 1, in.getName)
  }
}
