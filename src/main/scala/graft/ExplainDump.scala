package graft

/** Measurement aid: dump `.explain("formatted")` for a list of registry
  * queries (or `_stage_*` rows) to files, one JVM for the whole batch.
  *
  *   runMain graft.ExplainDump <sfDir> <outDir> <suffix> <name> [name...]
  *
  * writes `<outDir>/<name>_<suffix>.txt` for each name. The session is
  * Bench's ([[GraftSession]] local profile), so the dumped plan is the
  * plan the bench runs
  * (AQE initial plan — `isFinalPlan=false` — as `explain` shows before
  * execution). Used to produce the committed `plans/r16` before/after
  * artifacts; not part of the library surface.
  */
object ExplainDump {
  /** Control characters other than tab and newline (a plan prints string
    * literals verbatim, e.g. `PyParity.InvalidJson`'s leading NUL) as
    * `\uXXXX`, so every dumped plan is plain text. */
  def plainText(plan: String): String =
    plan.map(c =>
      if (c < ' ' && c != '\n' && c != '\t') f"\\u${c.toInt}%04x" else c.toString)
      .mkString

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ExplainDump <sfDir> <outDir> <suffix> <name> [name...]")
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    val suffix = args(2)
    val names = args.drop(3).toSeq
    outDir.mkdirs()
    val spark = GraftSession.local("graft-explain")
    BenchRun.prepare(spark, sfDir)
    names.foreach { name =>
      BenchRun.lookup(name) match {
        case None =>
          // tolerated, not fatal: the same name list is replayed against
          // older shas where a row may not exist yet (its "before" is the
          // consumer queries' plans)
          println(s"[explain] SKIP $name (not in this sha's registry)")
        case Some(f0) =>
          // `_stage_*` rows: show the BUILD plan, not a scan of the pin
          // the cache would otherwise eagerly materialize
          spark.conf.set(graft.engine.StageCache.PassthroughConf,
            BenchRun.isStage(name).toString)
          val plan = plainText(f0(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          val f = new java.io.File(outDir, s"${name}_$suffix.txt")
          val w = new java.io.PrintWriter(f, "UTF-8")
          try w.print(plan) finally w.close()
          println(s"[explain] wrote ${f.getPath} (${plan.length} chars)")
      }
    }
    spark.stop()
  }
}
