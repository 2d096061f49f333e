package graft

/** The full-suite benchmark: `runMain graft.Bench [name...]` at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). No names times every
  * [[BenchStages]] row cold, then every registry query; names time only
  * that subset — `_stage_*` names cold before the subset prewarm,
  * registry names at steady state. The protocol is [[BenchRun]]'s.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val subset = BenchRun.resolve(args.toSeq).map(_._1).toSet
    val stages = BenchStages.rows.filter(r => subset.isEmpty || subset(r._1))
    val queries = BenchRun.registry.filter(r => subset.isEmpty || subset(r._1))
    val mode =
      if (subset.isEmpty) "full" else if (stages.nonEmpty) "subset+stages" else "subset"
    val timed = stages.map(_._1)
    val spark = GraftSession.local("graft-bench")
    println(runMeta(sfDir, mode, queries.map(_._1), BenchRun.stamp(spark),
      if (mode == "subset+stages") Some(timed) else None))
    // A named stage that rides trainings not named itself: those are
    // built untimed first, so its row times only its own increment, as
    // in a full run.
    val ridden = BenchStages.rows.filter { case (n, _) =>
      !timed.contains(n) && timed.exists(BenchStages.rides(_).contains(n))
    }
    var errors = List.empty[(String, String)]
    val (rows, canaries) = BenchRun.bracket(spark, sfDir, (stages ++ queries).map(_._2)) {
      // Shared materialized stages (StageCache) are timed as explicit
      // "_stage_*" rows, once, in BenchStages order (a composed stage
      // rides the trainings before it). Without them the min-of-retries
      // policy below would erase the one-time build cost: the
      // build-bearing query's retry hits the warm cache and the min wins.
      ridden.foreach { case (n, f) => BenchRun.time(spark, sfDir, n, f) } // untimed
      val stageRows = stages.map { case (name, fn) =>
        val (t, e) = BenchRun.time(spark, sfDir, name, fn)
        e.foreach(m => errors ::= name -> m)
        name -> t
      }
      // Subset runs report STEADY-STATE consumer cost: prewarm the subset
      // untimed at the measured SF so cache-backed stages build here, not
      // in a first sample the retry-min would then silently discard.
      if (subset.nonEmpty) BenchRun.warm(spark, sfDir, queries.map(_._2))
      stageRows ++ queries.map { case (name, fn) =>
        val (t1, e1) = BenchRun.time(spark, sfDir, name, fn)
        e1.foreach(m => errors ::= name -> m)
        // This host shows intermittent multi-second stalls (r5: one stall
        // window hit BOTH samples of a 2.7 s plan, 19.9 s). A sample over
        // 2 s re-measures — up to two retries, reporting the min. A retry
        // that FAILS after a clean first run is discarded.
        var best = t1
        var tries = 1
        while (e1.isEmpty && best > 2.0 && tries < 3) {
          BenchRun.time(spark, sfDir, name, fn) match {
            case (t2, None) => best = math.min(best, t2)
            case _ => ()
          }
          tries += 1
        }
        name -> best
      }
    }
    report(sfDir, rows, errors, canaries).foreach(println)
    spark.stop()
  }

  /** Run identity, printed FIRST (r12 verdict ask #6): sf, git commit and
    * the registry names in scope, so a committed jsonl is self-describing
    * and a later subset re-run mechanically supersedes its rows. */
  def runMeta(sfDir: String, mode: String, scope: Seq[String],
              stamp: BenchRun.Stamp, stages: Option[Seq[String]] = None): String = {
    def names(ns: Seq[String]) = ns.map(BenchHost.jsonString).mkString("[", ",", "]")
    // a subset run lists the stage rows it timed; a full run times them all
    val stagesJson = stages.fold("")(ns => s""","stages":${names(ns)}""")
    s"""{"metric":"run_meta","sf":"$sfDir","git_sha":"${stamp.gitSha}","mode":"$mode","stage_level":"${stamp.stageLevel}","rdd_compress":"${stamp.rddCompress}","canary_proto":${stamp.canaryProto},"n_queries":${scope.size},"queries":${names(scope)}$stagesJson}"""
  }

  /** The result lines, after run_meta: `rows` are every timed row,
    * `errors` (already sanitized) name the rows that failed. */
  def report(sfDir: String, rows: Seq[(String, Double)],
             errors: Seq[(String, String)], canaries: BenchRun.Canaries): Seq[String] = {
    import BenchRun.ms
    // A failed row must not masquerade as a timing: it is reported in
    // "errors" and left out of the map and the total.
    val failed = errors.map(_._1).toSet
    val ok = rows.filterNot { case (n, _) => failed(n) }
    // Canary rows ride the map (prefixed, like _stage_) so every jsonl
    // self-documents its host state — but NEVER the total, which must
    // stay comparable to pre-canary rounds.
    val withCanary = ok ++
      canaries.pre.map("_canary_pre" -> _).toSeq ++
      canaries.post.map("_canary_post" -> _).toSeq
    def obj(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => BenchHost.jsonString(k) + ":" + ms(v) }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => BenchHost.jsonString(k) + ":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val totalSec = ok.map(_._2).sum
    val total = ms(totalSec)
    // canary_mean / total_canary_norm (r12 verdict ask #7): the run's
    // total over its mean canary, for cross-run comparison.
    val canaryFields = (canaries.pre, canaries.post) match {
      case (Some(pre), Some(post)) =>
        val mean = (pre + post) / 2.0
        s""""canary_pre":${ms(pre)},"canary_post":${ms(post)},""" +
          s""""canary_mean":${ms(mean)},""" +
          s""""total_canary_norm":${ms(totalSec / mean)},"""
      case _ => "" // no canary fixture on this machine (guarded skip)
    }
    // Compact headline FIRST and LAST: the full map line has outrun
    // capture windows in both directions (r6 lost its tail total; r11's
    // artifact truncated the map head-side).
    val headline = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},"n_errors":${errors.size},${canaryFields}"sf":"$sfDir"}"""
    // The same map again in sorted ≤20-row chunks (~700 B a line), so a
    // bounded stdout tail (~2.6 KB kept by the bench runner's caller)
    // still holds complete, parseable lines instead of half of one ~7 KB
    // line (r16 verdict #2).
    val chunks = withCanary.sortBy(_._1).grouped(20).toSeq
    val chunkLines = chunks.zipWithIndex.map { case (chunk, i) =>
      s"""{"metric":"queries_chunk","i":$i,"n_chunks":${chunks.size},"rows":${obj(chunk)}}"""
    }
    // Last before the closing headline, so the tail holds it: the 25
    // slowest rows plus every stage row not among them.
    val slowest = ok.sortBy(-_._2).take(25)
    val slowNames = slowest.map(_._1).toSet
    val keep = slowest ++ ok.filter(r => BenchRun.isStage(r._1) && !slowNames(r._1))
    Seq(headline,
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(withCanary)},"errors":$es,"sf":"$sfDir"}""") ++
      chunkLines ++
      Seq(s"""{"metric":"queries_slowest","n":${keep.size},"rows":${obj(keep)}}""", headline)
  }
}
