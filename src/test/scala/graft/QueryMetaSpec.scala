package graft

import graft.engine.StageCache

/** Registry metadata stays derived/spec-checked (r10 verdict optional
  * ask #7): families cover the registry exactly, and the bench's
  * `_stage_*` rows are BIJECTIVE with the StageCache stages the
  * registered queries actually consume — re-derived empirically here by
  * constructing every query against a cold cache, so adding a new
  * cached stage without a bench row (which would hide its one-time
  * build cost behind the min-of-retries policy) fails the build, as
  * does a dead `_stage_*` row timing a stage nothing consumes.
  */
class QueryMetaSpec extends SparkTestBase {

  test("every registered query has a module-derived family") {
    val fams = QueryMeta.family
    assert(fams.keySet === SparkEntry.queries.keySet)
    val expected = Set("relational", "events", "dedup", "ann", "text",
      "corpus", "multimodal", "logs")
    assert(fams.values.toSet.subsetOf(expected), fams.values.toSet.toString)
    // spot-pin the convention the docs tables group by
    assert(fams("dedup_exact") === "dedup")
    assert(fams("ann_bruteforce") === "ann")
    assert(fams("mysql_detailed") === "logs")
  }

  test("bench _stage_ rows are bijective with the stages the registry consumes") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.prepare(spark, dir)
    // cold cache: construct every registered query's default path (the
    // (spark, dir) wrappers materialize their stages at construction)
    StageCache.clear(spark)
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1))
      try fn(spark, dir)
      catch { case e: Throwable => fail(s"$name failed to construct: $e") }
    val consumed = StageCache.stageNames(spark)
    val benched = BenchStages.cacheKeys.values.flatten.toSet
    assert(consumed.diff(benched).isEmpty,
      "cached stages with NO _stage_ bench row (their build cost would " +
        s"hide behind min-of-retries): ${consumed.diff(benched).toSeq.sorted}")
    assert(benched.diff(consumed).isEmpty,
      "dead _stage_ bench rows timing stages no registered query " +
        s"consumes: ${benched.diff(consumed).toSeq.sorted}")
    // and every bench row's builder is itself cache-backed (building it
    // twice must not rebuild)
    assert(BenchStages.rows.map(_._1).toSet === BenchStages.cacheKeys.keySet)
    StageCache.clear(spark)
  }

  test("a _stage_ row's cold build makes its own pins and those of the rows it rides") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.prepare(spark, dir)
    val names = BenchStages.rows.map(_._1)
    val built = BenchStages.rows.map { case (name, fn) =>
      StageCache.clear(spark)
      fn(spark, dir)
      name -> StageCache.stageNames(spark)
    }
    val declared = names.map(n => n ->
      (BenchStages.rides(n) :+ n).flatMap(BenchStages.cacheKeys).toSet)
    assert(built.filterNot(declared.contains) === Nil)
    for (n <- names; r <- BenchStages.rides(n))
      assert(names.indexOf(r) < names.indexOf(n), s"$n rides the later row $r")
    StageCache.clear(spark)
  }
}
