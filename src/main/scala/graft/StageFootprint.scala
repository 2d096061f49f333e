package graft

/** Diagnostic: build every [[BenchStages]] row at one SF and report what
  * the pinned materializations actually WEIGH in the block manager —
  * per-stage build seconds plus cumulative memory/disk bytes — and how
  * the host canary degrades as the heap fills. This is the measurement
  * behind the StageCache storage-level decision (see BASELINE.md §"Stage
  * pin storage"): a full-suite run ends with all 16 stages pinned, and
  * the r16 sf1 runs showed the post-canary elevated ~2× over pre on
  * IDENTICAL canary code — the question is whether the deserialized
  * default (row objects in old-gen) or a serialized/disk pin is the
  * right production shape.
  *
  * `runMain graft.StageFootprint [sfDir]` — runs the [[GraftSession]]
  * local profile like Bench (SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM via
  * build.sbt); A/B the StageCache pin level with
  * `SPARK_GRAFT_JVM_OPTS=-Dspark.graft.stageCache.storageLevel=PARQUET`.
  * Prints one JSON line per stage and a trailing summary line.
  */
object StageFootprint {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local("graft-stage-footprint")
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    try SparkEntry.prepare(spark, sfDir) catch { case _: Throwable => () }
    if (BenchHost.canaryAvailable)
      try { consume(BenchHost.canaryDf(spark)); consume(BenchHost.canaryDf(spark)) }
      catch { case _: Throwable => () }
    val canaryPre = BenchHost.canarySample(spark, consume)
    graft.engine.StageCache.clear(spark)
    def pinned(): (Long, Long) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
    }
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    var prevMem = 0L; var prevDisk = 0L
    val rows = BenchStages.rows.map { case (name, fn) =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val (m, d) = pinned()
      val (dm, dd) = (m - prevMem, d - prevDisk)
      prevMem = m; prevDisk = d
      println(s"""{"stage":"$name","sec":${fmt(sec)},"mem_mb":${dm / 1048576},"disk_mb":${dd / 1048576},"cum_mem_mb":${m / 1048576},"cum_disk_mb":${d / 1048576}}""")
      (name, sec, dm, dd)
    }
    val canaryPost = BenchHost.canarySample(spark, consume)
    val (mem, disk) = pinned()
    val level = spark.conf.getOption(graft.engine.StageCache.StorageLevelConf)
      .getOrElse("default")
    println(s"""{"metric":"stage_footprint","sf":"$sfDir","git_sha":"${BenchHost.gitSha}","heap":"${BenchHost.heapDesc}","cpus":$cpus,"level":"$level","total_build_sec":${fmt(rows.map(_._2).sum)},"pinned_mem_mb":${mem / 1048576},"pinned_disk_mb":${disk / 1048576}${canaryPre.map(v => s""","canary_pre":${fmt(v)}""").getOrElse("")}${canaryPost.map(v => s""","canary_post":${fmt(v)}""").getOrElse("")}}""")
    spark.stop()
  }
}
