package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, as the spans need it. */
final case class TaskSample(runMs: Long, cpuNs: Long, gcMs: Long,
                            shuffleBytes: Long, spillBytes: Long)

/** Collects task metrics and observed-metric rows from the listener bus.
  * A span remembers how many tasks had ended when it started; the tasks
  * after that mark, once the bus is drained, are the span's own.
  */
final class TaskTrace extends SparkListener {
  private val tasks = mutable.ArrayBuffer.empty[TaskSample]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskSample(m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def mark: Int = synchronized(tasks.size)
  def since(from: Int): Seq[TaskSample] = synchronized(tasks.slice(from, tasks.size).toSeq)
}

/** Keeps the latest row of each named `observe()` metric. */
final class ObservedRows extends QueryExecutionListener {
  private val rows = mutable.Map.empty[String, Row]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(rows ++= qe.observedMetrics)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def get(name: String): Option[Row] = synchronized(rows.get(name))
}

/** Per-layer spans around the public calls of one operation.
  *
  * `span` times a block and attributes the tasks it ran. Its self seconds
  * go into `metrics` as `<name>_s` (`ingest.s` for the ingest span), its
  * listener figures under the span name: tasks, cpu_s, gc_s, shuffle_mb,
  * spill_mb, skew (max over median task run time) and core_util (task run
  * time / (self wall x cores)).
  */
final class Spans(spark: SparkSession, trace: TaskTrace) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val cores = spark.sparkContext.defaultParallelism

  private def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  private val walls = mutable.Map.empty[String, Double]
  private val totals = mutable.Map.empty[String, Seq[Double]]

  /** tasks, cpu_s, gc_s, shuffle_mb, spill_mb, busy_s of some tasks */
  private def figures(ts: Seq[TaskSample]): Seq[Double] = Seq(
    ts.size.toDouble, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
    ts.map(_.shuffleBytes).sum / 1048576.0, ts.map(_.spillBytes).sum / 1048576.0,
    ts.map(_.runMs).sum / 1e3)

  /** Times `body` and records its self seconds and task figures. A span
    * whose body recomputes the layers below it (a prefix of the pipeline)
    * names the span of the previous prefix: its self time and additive
    * figures are the difference from that prefix, clamped at zero.
    * Figures of a span name used more than once add up.
    */
  def span(name: String, prefix: String = "")(body: => Unit): Unit = {
    drain()
    val from = trace.mark
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    drain()
    val ts = trace.since(from)
    walls(name) = wall
    totals(name) = figures(ts)
    // a difference of two noisy measurements can come out below zero
    val (self, fig) =
      if (prefix.isEmpty) (wall, totals(name))
      else (math.max(0.0, wall - walls(prefix)),
        totals(name).zip(totals(prefix)).map { case (a, b) => math.max(0.0, a - b) })
    def acc(k: String, v: Double): Double = {
      val sum = metrics.getOrElse(s"$name.$k", 0.0) + v
      metrics(s"$name.$k") = sum
      sum
    }
    Seq("tasks", "cpu_s", "gc_s", "shuffle_mb", "spill_mb").zip(fig).foreach((acc _).tupled)
    val busy = acc("busy_s", fig(5))
    val selfKey = if (name == "ingest") "ingest.s" else s"${name}_s"
    val selfWall = metrics.getOrElse(selfKey, 0.0) + self
    metrics(selfKey) = selfWall
    metrics(s"$name.core_util") = if (selfWall > 0) busy / (selfWall * cores) else 0.0
    val runs = ts.map(_.runMs).sorted
    val median = if (runs.isEmpty) 0L else runs(runs.size / 2)
    metrics(s"$name.skew") = math.max(metrics.getOrElse(s"$name.skew", 0.0),
      if (median > 0) runs.last.toDouble / median else if (runs.nonEmpty) 1.0 else 0.0)
  }
}
