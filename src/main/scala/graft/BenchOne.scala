package graft

/** Profiling aid: time ONE named row repeatedly under the exact Bench
  * session and protocol ([[BenchRun]]). `runMain graft.BenchOne <name>
  * [reps] [sfDir]` prints one committable JSON line — run stamp, host
  * canary, every sample and the median — so stalls and steady state are
  * visible separately (Bench reports min-of-retries; this shows the
  * distribution). `_stage_*` names measure the COLD build (cache cleared
  * before every sample, so a composed stage includes the trainings it
  * rides), the one timing Bench's subset prewarm cannot produce;
  * registry names measure steady-state consumption. Median, not min,
  * is the headline: the sf10 stage builds are bimodal (4× min..max on
  * identical code) and a min reports the lucky mode.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: BenchOne <query> [reps] [sfDir]"))
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val fn = BenchRun.resolve(Seq(name)).head._2
    val isStage = BenchRun.isStage(name)
    val spark = GraftSession.local("graft-bench-one")
    val (samples, canaries) = BenchRun.bracket(spark, sfDir, Seq(fn)) {
      (1 to reps).map { _ =>
        if (isStage) graft.engine.StageCache.clear(spark)
        val (t, err) = BenchRun.time(spark, sfDir, name, fn)
        err.foreach(e => sys.error(s"$name failed: $e"))
        t
      }
    }
    import BenchRun.ms
    val sorted = samples.sorted
    val median =
      if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    val canaryFields = (canaries.pre, canaries.post) match {
      case (Some(pre), Some(post)) =>
        s""","canary_pre":${ms(pre)},"canary_post":${ms(post)}"""
      case _ => ""
    }
    val st = BenchRun.stamp(spark)
    println(s"""{"metric":"bench_one","query":${BenchHost.jsonString(name)},"sf":"$sfDir",""" +
      s""""git_sha":"${st.gitSha}","heap":"${st.heap}",""" +
      s""""stage_level":"${st.stageLevel}",""" +
      s""""canary_proto":${st.canaryProto},""" +
      s""""rdd_compress":"${st.rddCompress}",""" +
      s""""cpus":${st.cpus},"mode":"${if (isStage) "cold_stage" else "steady"}",""" +
      s""""samples":[${samples.map(ms).mkString(",")}],""" +
      s""""min":${ms(sorted.head)},"median":${ms(median)},""" +
      s""""max":${ms(sorted.last)},""" +
      s""""mean":${ms(samples.sum / samples.size)}$canaryFields}""")
    spark.stop()
  }
}
