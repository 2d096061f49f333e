package graft

import org.apache.spark.sql.execution.window.WindowExec

import graft.engine.plans.PlanWalk

/** Registry-wide UNPARTITIONED-WINDOW audit: executes every query and
  * measures — from the executed plan's own SQL metrics — how many rows
  * actually flowed through each `Window.orderBy`-without-`partitionBy`
  * operator. An unpartitioned window funnels its whole input through ONE
  * task, so the measured row count is exactly the work a single executor
  * core would own at scale; the engine's contract is that every such
  * window is CENSUS-sized (partition counts, decile rollups, block
  * high-water marks, source bitmasks — bounded by structure, not by data
  * volume). The static plan sweep (PlanSpec) can't prove sizes; this
  * audit measures them.
  *
  * `runMain graft.WindowAudit [sfDir] [limit]` prints one JSON line per
  * query that contains at least one unpartitioned window (max rows
  * through any such window + per-window detail), then a summary line
  * with the registry-wide maximum. Exit code 1 if any window exceeds
  * `limit` rows (default 4096 — an order of magnitude above every
  * legitimate census at sf0.01, an order below the smallest data-grain
  * table). The per-round artifact is committed as `WINDOW_AUDIT_r{N}
  * .json`; at sf0.01 the user grain is ~6k rows, so a data-sized window
  * (the shape round 9 flagged in ext_rfm) FAILS this gate — it cannot
  * hide behind a small test corpus.
  */
object WindowAudit {

  /** Execute ONE query and measure every unpartitioned window's input
    * rows from the executed plan's own SQL metrics. Returns one
    * (orderBy columns, measured rows) per global window — empty when the
    * plan has none. Shared by the CLI main and the failing spec gate
    * (WindowAuditGateSpec), so the gate measures exactly what the
    * committed per-round artifact measures.
    */
  def auditQuery(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] = {
    // execute df's OWN queryExecution: a noop-sink write (or count)
    // would plan a NEW execution and leave this plan's metrics at 0
    df.queryExecution.toRdd.foreach(_ => ())
    val windows = PlanWalk.nodes(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    windows.map { w =>
      // the window's input size: Window/Sort/WSCG track no row
      // counts, so walk DOWN the operator chain to the first node
      // that does — normally the single-partition exchange feeding
      // the window, whose shuffle record count IS the rows one
      // task owns (else the aggregate below it, same number).
      val rowKeys = Seq("shuffleRecordsWritten", "recordsRead",
        "numOutputRows")
      val rows = PlanWalk.nodes(w).drop(1).iterator
        .flatMap(n => rowKeys.flatMap(n.metrics.get).headOption)
        .map(_.value).find(_ >= 0L).getOrElse(-1L)
      val order = w.orderSpec.flatMap(_.references.map(_.name)).distinct
        .mkString(",")
      (order, rows)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val limit = if (args.length > 1) args(1).toLong else 4096L
    val spark = GraftSession.local("graft-window-audit")
    BenchRun.prepare(spark, sfDir)

    var worstQuery = ""
    var worstRows = 0L
    var failures = 0
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Long)]]
    for ((name, fn) <- BenchRun.registry) {
      try {
        val detail = auditQuery(fn(spark, sfDir))
        if (detail.nonEmpty) {
          results(name) = detail
          val mx = detail.map(_._2).max
          if (mx > worstRows) { worstRows = mx; worstQuery = name }
          if (mx > limit) failures += 1
        }
      } catch {
        case e: Throwable =>
          results(name) = Seq((s"ERROR:${e.getClass.getSimpleName}", -1L))
          failures += 1
      }
    }
    results.foreach { case (name, detail) =>
      val ds = detail.map { case (o, r) => s"""{"orderBy":"$o","rows":$r}""" }
        .mkString("[", ",", "]")
      println(s"""{"query":"$name","windows":$ds,"max":${detail.map(_._2).max}}""")
    }
    println(s"""{"summary":true,"sf":"$sfDir","limit":$limit,""" +
      s""""queries_with_global_windows":${results.size},""" +
      s""""worst_query":"$worstQuery","worst_rows":$worstRows,""" +
      s""""failures":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
