package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The bench runner: name resolution, Bench's stdout contract, and the
  * guard that the measurement protocol and the env knobs live in one
  * place each. No Spark session: rendering is a pure function and the
  * resolver only looks rows up.
  */
class BenchRunSpec extends SparkTestBase {

  test("resolver: stage names, registry names, unknown names") {
    for ((n, f) <- BenchStages.rows) assert(BenchRun.lookup(n).exists(_ eq f), n)
    assert(SparkEntry.queries.keys.forall(n => !BenchRun.isStage(n)))
    assert(SparkEntry.queries.keys.forall(n => BenchRun.lookup(n).isDefined))
    assert(BenchRun.resolve(Seq("mysql_agg", "_stage_spans", "dedup_span_coverage"))
      .map(_._1) === Seq("mysql_agg", "_stage_spans", "dedup_span_coverage"))
    assert(BenchRun.registry.map(_._1) === SparkEntry.queries.keys.toSeq.sorted)
    assert(BenchRun.lookup("_stage_nope").isEmpty && BenchRun.lookup("nope").isEmpty)
    val e = intercept[IllegalArgumentException](
      BenchRun.resolve(Seq("mysql_agg", "no_such_query", "_stage_nope")))
    assert(e.getMessage.endsWith("unknown queries: no_such_query, _stage_nope"))
  }

  test("Verify fails fast on an unknown name, before any session") {
    val out = java.nio.file.Files.createTempDirectory("verify").toString
    val e = intercept[IllegalArgumentException](
      Verify.main(Array("/nonexistent", out, "mysql_agg", "mysql_aggg")))
    assert(e.getMessage.endsWith("unknown queries: mysql_aggg"))
  }

  // The fixture the golden file was rendered from with the previous
  // inline Bench code: 18 stage rows, 199 queries and one failed query.
  private val stageNames = (0 until 18).map(i => f"_stage_s$i%02d")
  private val queryNames = (0 until 199).map(i => f"q$i%03d") :+ "q_fail"
  private val rows = (stageNames ++ queryNames).zipWithIndex
    .map { case (n, i) => n -> ((i * 7919L) % 10007L) / 1000.0 }
  private val errors = List("q_fail" -> "java.lang.IllegalStateException: boom at 3")
  private val stamp = BenchRun.Stamp("0123456789abcdef0123456789abcdef01234567",
    "4096m", 4, 2, "true", "AUTO(parquet>=64MB, else Disk Serialized 1x Replicated)")
  private val meta = Bench.runMeta("/data/sf0.1", "full", queryNames.sorted, stamp)
  private val lines = Bench.report("/data/sf0.1", rows, errors,
    BenchRun.Canaries(Some(0.731), Some(0.912)))
  private val json = new ObjectMapper()
  private def metric(l: String) = json.readTree(l).get("metric").asText
  private def rowsOf(l: String): Map[String, Double] =
    json.readTree(l).get("rows").fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap

  test("Bench stdout: run_meta, total and chunk lines equal the golden render") {
    val golden = scala.io.Source.fromResource("bench_stdout_golden.jsonl", getClass.getClassLoader)
      .getLines().toList
    assert((meta +: lines).filterNot(metric(_) == "queries_slowest") === golden)
  }

  test("Bench stdout: a subset+stages run_meta lists the stage rows it timed") {
    val m = Bench.runMeta("/data/sf0.1", "subset+stages", Seq("ann_ivfpq"), stamp,
      Some(Seq("_stage_ivfpq_topk")))
    assert(m.endsWith(""""queries":["ann_ivfpq"],"stages":["_stage_ivfpq_topk"]}"""))
    assert(json.readTree(m).get("stages").get(0).asText === "_stage_ivfpq_topk")
  }

  test("Bench stdout: JSON lines, chunks cover the map, headline first and last") {
    assert((meta +: lines).forall(l => json.readTree(l).isObject))
    val full = json.readTree(lines(1)).get("queries").fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    assert(full.size === 219) // 217 timed rows + 2 canaries
    val chunks = lines.filter(metric(_) == "queries_chunk").map(rowsOf)
    assert(chunks.forall(_.size <= 20))
    assert(chunks.map(_.size).sum === full.size && chunks.reduce(_ ++ _) === full)
    assert(lines.head === lines.last && lines.head.contains("\"n_queries\":217"))
  }

  test("Bench stdout: a 2,600-byte tail holds the headline and every stage row") {
    val tail = (meta +: lines).mkString("", "\n", "\n").takeRight(2600)
    val complete = tail.drop(tail.indexOf('\n') + 1).split("\n").toSeq
    assert(complete.last === lines.last)
    val kept = complete.filter(l => Set("queries_chunk", "queries_slowest")(metric(l)))
      .map(rowsOf).reduce(_ ++ _)
    val stages = rows.filter(r => BenchRun.isStage(r._1)).toMap
    assert(stages.size === 18 && stages.forall { case (n, v) => kept.get(n).contains(v) })
    val slowest = rowsOf(lines(lines.size - 2))
    assert(rows.sortBy(-_._2).take(25).forall(r => slowest.contains(r._1)))
  }

  private def sources: Seq[(String, String)] = {
    val files = scalaSources(new java.io.File("src/main"))
    assert(files.nonEmpty, "no sources found — wrong working directory?")
    files.map(f => f.getName ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("src/main reads two env knobs and keeps the bench protocol in BenchRun") {
    val knob = "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r
    val reads = sources.flatMap { case (n, t) => knob.findAllMatchIn(t).map(n -> _.group(1)) }
    assert(reads.toSet === Set("GraftSession.scala" -> "SPARK_GRAFT_CPUS",
      "Bench.scala" -> "SPARK_GRAFT_SF_DIR"))
    val steps = Seq("""format\("noop"\)""", """canaryDf\(""", """(?<!def )syncDisks\(\)""")
    for (step <- steps) {
      val at = sources.collect { case (n, t) if step.r.findFirstIn(t).nonEmpty => n }
      assert(at === Seq("BenchRun.scala"), step)
    }
  }
}
