package graft

/** Profiling aid: time ONE named query repeatedly under the exact Bench
  * session config. `runMain graft.BenchOne <name> [reps] [sfDir]` prints a
  * JSON line with every sample so stalls and steady-state are visible
  * separately (Bench reports min-of-two; this shows the distribution).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: BenchOne <query> [reps] [sfDir]"))
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = GraftSession.cpus
    val spark = GraftSession.local("graft-bench-one")
    // `_stage_*` names resolve from BenchStages and measure the COLD
    // build (cache cleared before every sample) — the one timing Bench's
    // subset mode structurally cannot produce (subset runs prewarm
    // stages untimed by protocol). Registry names keep the historical
    // behavior: steady-state consumption, warm cache across reps.
    val isStage = name.startsWith("_stage_")
    val fn =
      if (isStage)
        BenchStages.rows.collectFirst { case (`name`, f) => f }
          .getOrElse(sys.error(s"unknown stage: $name"))
      else SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
      try SparkEntry.prepare(spark, sfDir) catch { case _: Throwable => () }
      println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      spark.stop(); return
    }
    // same warmup Bench does (codegen/JIT), on the smallest SF
    val warmDir = "/root/testdata/sf0.001"
    // Full-evaluation consumer (same as Bench): noop v2 sink, not count(),
    // so projection-only plans aren't pruned to a metadata row count.
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      try SparkEntry.prepare(spark, warmDir) catch { case _: Throwable => () }
      try consume(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    try SparkEntry.prepare(spark, sfDir) catch { case _: Throwable => () }
    // Host canary pre/post (same fixed workload as Bench) + run identity
    // on the output line (r15 verdict ask #1a): a BenchOne line is a
    // COMMITTABLE artifact — sha, heap, host state, every sample, and
    // the median attached — so a steady-state claim cites the line, not
    // prose. Median, not min, is the headline: the sf10 48g stage
    // builds are bimodal (observed 4× min..max spread on identical
    // code), and a min over a bimodal distribution reports the lucky
    // mode, not steady state.
    // canary plan warmed twice (same as Bench) so both samples measure
    // execution, not codegen/JIT
    if (BenchHost.canaryAvailable)
      try { consume(BenchHost.canaryDf(spark)); consume(BenchHost.canaryDf(spark)) }
      catch { case _: Throwable => () }
    val canaryPre = BenchHost.canarySample(spark, consume)
    val samples = (1 to reps).map { _ =>
      if (isStage) graft.engine.StageCache.clear(spark)
      val t0 = System.nanoTime()
      if (isStage) {
        fn(spark, sfDir).queryExecution.toRdd.count()
        // TIMED sync, same protocol as Bench's stage rows: the sample
        // includes the writeback of its own pin, so sample N+1 doesn't
        // inherit sample N's flush (BenchHost.syncDisks)
        BenchHost.syncDisks()
      }
      else consume(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    val canaryPost = BenchHost.canarySample(spark, consume)
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val sorted = samples.sorted
    val median =
      if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    val canaries = (canaryPre, canaryPost) match {
      case (Some(pre), Some(post)) =>
        s""","canary_pre":${ms(pre)},"canary_post":${ms(post)}"""
      case _ => ""
    }
    val stageLevel = spark.conf
      .getOption(graft.engine.StageCache.StorageLevelConf)
      .getOrElse(graft.engine.StageCache.autoModeDesc(spark))
    println(s"""{"metric":"bench_one","query":${BenchHost.jsonString(name)},"sf":"$sfDir",""" +
      s""""git_sha":"${BenchHost.gitSha}","heap":"${BenchHost.heapDesc}",""" +
      s""""stage_level":"$stageLevel",""" +
      s""""canary_proto":${BenchHost.CanaryProto},""" +
      s""""rdd_compress":"${spark.conf.get("spark.rdd.compress", "false")}",""" +
      s""""cpus":$cpus,"mode":"${if (isStage) "cold_stage" else "steady"}",""" +
      s""""samples":[${samples.map(ms).mkString(",")}],""" +
      s""""min":${ms(sorted.head)},"median":${ms(median)},""" +
      s""""max":${ms(sorted.last)},""" +
      s""""mean":${ms(samples.sum / samples.size)}$canaries}""")
    spark.stop()
  }
}
