package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.gen.LogGen
import graft.engine.mongo.MongoLogPipeline

/** Single-pass routing metrics: the observed census must equal the
  * branch counts WITHOUT extra jobs — at 100 TB, re-counting five
  * branches is five more full scans.
  */
class ObservabilitySpec extends SparkTestBase {

  test("observe() reports the routing census in the same job") {
    val got = new ConcurrentLinkedQueue[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.get(MongoLogPipeline.RoutingMetric)
          .foreach(got.add)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val lines = LogGen.mongoLines(spark, "/root/testdata/sf0.001")
      val scan = MongoLogPipeline.observed(MongoLogPipeline.parsedScan(lines))
      val total = scan.count()
      // listener delivery is async — poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (got.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!got.isEmpty, "no observed metrics delivered")
      val m = got.poll()
      assert(m.getAs[Long]("lines") === total)
      // census equals the real branch counts (extra actions only HERE,
      // to check the claim)
      assert(m.getAs[Long]("slow") === MongoLogPipeline.detailed(scan).count())
      // errors() is the grouped rollup — the census counts routed ROWS
      assert(m.getAs[Long]("errors") ===
        scan.filter(org.apache.spark.sql.functions.col("is_error")).count())
      assert(m.getAs[Long]("non_slow") === MongoLogPipeline.nonSlow(scan).count())
      assert(m.getAs[Long]("parse_errors") ===
        MongoLogPipeline.parseErrors(scan).count())
      // routing is exhaustive: every line lands somewhere (slow/error
      // overlap means the sum can exceed lines, never undershoot)
      assert(m.getAs[Long]("slow") + m.getAs[Long]("errors") +
        m.getAs[Long]("non_slow") + m.getAs[Long]("parse_errors") >= total)
    } finally spark.listenerManager.unregister(listener)
  }

  test("observe() reports a census of zeros on an empty log") {
    val got = new ConcurrentLinkedQueue[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.get(MongoLogPipeline.RoutingMetric)
          .foreach(got.add)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val in = java.nio.file.Files.createTempFile("empty-mongod", ".log")
      val lines = graft.engine.ingest.Sources.readLines(spark, in.toString)
      assert(MongoLogPipeline.observed(MongoLogPipeline.parsedScan(lines)).count() === 0L)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (got.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!got.isEmpty, "no observed metrics delivered")
      // zeros, not NULLs: a sum over no rows is NULL, a count is 0
      assert(got.poll().toSeq === Seq.fill(5)(0L))
    } finally spark.listenerManager.unregister(listener)
  }

  test("reportAll census agrees with the observe() routing metrics") {
    // two independent implementations of the same census — the oracle-
    // checked report query and the in-job observed metrics — must agree.
    val got = new ConcurrentLinkedQueue[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.get(MongoLogPipeline.RoutingMetric)
          .foreach(got.add)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val lines = LogGen.mongoLines(spark, "/root/testdata/sf0.001")
      val census = MongoLogPipeline.reportAll(lines).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      MongoLogPipeline.observed(MongoLogPipeline.parsedScan(lines)).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (got.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!got.isEmpty, "no observed metrics delivered")
      val m = got.poll()
      assert(census("detailed") === m.getAs[Long]("slow"))
      assert(census("non_slow") === m.getAs[Long]("non_slow"))
      assert(census("parse_errors") === m.getAs[Long]("parse_errors"))
      // errors census counts the GROUPED rollup rows; observed counts
      // routed rows — compare via the rollup's totalCount sum instead,
      // which reportAll exposes as the errors checksum.
      val checksum = MongoLogPipeline.reportAll(lines).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(checksum("errors") === m.getAs[Long]("errors"))
    } finally spark.listenerManager.unregister(listener)
  }
}
