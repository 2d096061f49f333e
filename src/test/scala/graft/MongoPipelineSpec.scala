package graft

import graft.engine.ingest.Sources
import graft.engine.mongo.MongoLogPipeline

/** End-to-end goldens for the Mongo pipeline over the six FIXTURES.md §1 line
  * classes plus the documented edge cases (both-slow-and-error, missing ns,
  * pipeline without $match).
  */
class MongoPipelineSpec extends SparkTestBase {

  private val lines = Seq(
    // 1: slow find with filter
    """{"t":{"$date":"2023-10-25T10:00:00.000Z"},"s":"I","c":"COMMAND","id":51803,"ctx":"conn1","msg":"Slow query","attr":{"type":"command","ns":"shop.users","command":{"find":"users","filter":{"age":30},"limit":5},"planSummary":"COLLSCAN","keysExamined":0,"docsExamined":1000,"numYields":8,"nreturned":5,"durationMillis":150}}""",
    // 2: slow aggregate with pipeline + $match
    """{"t":{"$date":"2023-10-25T10:00:01.000Z"},"s":"I","c":"COMMAND","id":51803,"ctx":"conn2","msg":"Slow query","attr":{"type":"command","ns":"shop.orders","command":{"aggregate":"orders","pipeline":[{"$match":{"status":"A"}},{"$group":{"_id":"$k"}}],"cursor":{}},"durationMillis":200}}""",
    // 3: error line
    """{"t":{"$date":"2023-10-25T10:00:02.000Z"},"s":"E","c":"STORAGE","id":22435,"ctx":"conn3","msg":"Index build failed","attr":{"error":{"code":276,"codeName":"IndexBuildAborted","errmsg":"aborted"}}}""",
    // 4: benign info line → non-slow
    """{"t":{"$date":"2023-10-25T10:00:03.000Z"},"s":"I","c":"NETWORK","id":22943,"ctx":"listener","msg":"Connection accepted","attr":{"remote":"10.0.0.9:50000"}}""",
    // 5: invalid JSON
    """this is not json""",
    // 6: whitespace-only (also invalid)
    """   """,
    // 7: BOTH slow and error (raw substring + s:E + attr.error) → both tables
    """{"t":{"$date":"2023-10-25T10:00:05.000Z"},"s":"E","c":"COMMAND","id":1,"ctx":"conn4","msg":"Slow query","attr":{"ns":"shop.carts","command":{"find":"carts","filter":{"u":1}},"durationMillis":99,"error":{"code":1,"codeName":"X","errmsg":"boom"}}}""",
    // 8: slow with missing ns → AppName "", Collection "N/A"
    """{"t":{"$date":"2023-10-25T10:00:06.000Z"},"s":"I","c":"COMMAND","id":2,"ctx":"conn5","msg":"Slow query","attr":{"command":{"find":"x","filter":{"a":2}},"durationMillis":10}}""",
    // 9: slow with pipeline whose first stage has no $match → sentinel
    """{"t":{"$date":"2023-10-25T10:00:07.000Z"},"s":"I","c":"COMMAND","id":3,"ctx":"conn6","msg":"Slow query","attr":{"ns":"shop.logs","command":{"aggregate":"logs","pipeline":[{"$sort":{"ts":-1}},{"$limit":5}],"cursor":{}},"durationMillis":20}}""",
    // 10: duplicate of line 1 modulo values → same pattern, Executions 2
    """{"t":{"$date":"2023-10-25T10:00:08.000Z"},"s":"I","c":"COMMAND","id":51803,"ctx":"conn7","msg":"Slow query","attr":{"type":"command","ns":"shop.users","command":{"find":"users","filter":{"age":55},"limit":9},"planSummary":"IXSCAN","keysExamined":3,"docsExamined":3,"numYields":0,"nreturned":9,"durationMillis":50}}""",
  )

  private lazy val res = MongoLogPipeline.analyze(Sources.fromLines(spark, lines))
  private lazy val det = res.detailed.orderBy("line_no").collect()

  test("readLines: multi-file dir numbers lines globally in FILE-NAME " +
    "order, not Spark's size-descending split order") {
    val dir = java.nio.file.Files.createTempDirectory("mongo-multi").toFile
    // file a: 2 short lines; file b: 3 long lines (size-descending scan
    // order would visit b first); file c: 1 line
    java.nio.file.Files.writeString(new java.io.File(dir, "a.log").toPath,
      "l1\nl2\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "b.log").toPath,
      s"l3${"x" * 5000}\nl4\nl5\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "c.log").toPath,
      "l6\n")
    try {
      val got = Sources.readLines(spark, dir.getAbsolutePath)
        .orderBy("line_no").collect()
        .map(r => (r.getAs[Long]("line_no"), r.getAs[String]("line").take(2)))
      assert(got.toSeq ===
        (1L to 6L).map(i => i -> s"l$i"))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("readLines: file names with commas or glob characters are read as " +
    "themselves; an empty directory reads as no lines") {
    val dir = java.nio.file.Files.createTempDirectory("mongo-names").toFile
    // as globs, "a,b[1].log" would match only "a,b1.log" and "b{c}.log"
    // only "bc.log"; joined with commas, the first would split in two
    java.nio.file.Files.writeString(new java.io.File(dir, "a,b[1].log").toPath,
      "l1\nl2\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "b{c}.log").toPath,
      "l3\n")
    val empty = java.nio.file.Files.createTempDirectory("mongo-empty").toFile
    try {
      val got = Sources.readLines(spark, dir.getAbsolutePath)
        .orderBy("line_no").collect()
        .map(r => (r.getAs[Long]("line_no"), r.getAs[String]("line")))
      assert(got.toSeq === Seq(1L -> "l1", 2L -> "l2", 3L -> "l3"))
      assert(Sources.readLines(spark, empty.getAbsolutePath).count() === 0L)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete(); empty.delete()
    }
  }

  test("R1: slow rows = lines containing 'Slow query' that parse as JSON") {
    assert(det.map(_.getAs[Long]("line_no")).toSeq === Seq(1L, 2L, 7L, 8L, 9L, 10L))
  }

  test("P3-P5: metric projection with defaults on the find line") {
    val r = det(0)
    assert(r.getAs[String]("Collection") === "users")
    assert(r.getAs[String]("AppName") === "shop")
    assert(r.getAs[Long]("Duration(ms)") === 150L)
    assert(r.getAs[Long]("KeysExamined") === 0L)
    assert(r.getAs[Long]("DocsExamined") === 1000L)
    assert(r.getAs[Long]("numYields") === 8L)
    assert(r.getAs[Long]("nreturned") === 5L)
    assert(r.getAs[String]("Plan") === "COLLSCAN")
    assert(r.getAs[String]("timestamp") === "2023-10-25T10:00:00.000Z")
    assert(r.getAs[String]("Filter") === """{"age":30}""")
  }

  test("P5 defaults: absent metrics coalesce to 0, absent plan to ''") {
    val r = det(1) // aggregate line has no keysExamined etc.
    assert(r.getAs[Long]("KeysExamined") === 0L)
    assert(r.getAs[String]("Plan") === "")
  }

  test("P6: pipeline[0].$match wins; pipeline without $match → sentinel; filter fallback") {
    assert(det(1).getAs[String]("Filter") === """{"status":"A"}""")
    assert(det(4).getAs[String]("Filter") === MongoLogPipeline.ComplexPipelineSentinel)
    assert(det(2).getAs[String]("Filter") === """{"u":1}""")
  }

  test("P4 asymmetric defaults: missing ns → AppName '', Collection 'N/A'") {
    val r = det(3)
    assert(r.getAs[String]("AppName") === "")
    assert(r.getAs[String]("Collection") === "N/A")
  }

  test("R2 independent of R1: line 7 lands in BOTH detailed and errors") {
    val errLines = res.errors.collect().map(_.getAs[Long]("OriginalLineNumber"))
    assert(errLines.toSet === Set(3L, 7L))
    assert(det.exists(_.getAs[Long]("line_no") == 7L))
  }

  test("A2: error rollup fields and first-seen sample") {
    val e = res.errors.orderBy("OriginalLineNumber").collect()(0)
    assert(e.getAs[String]("msg") === "Index build failed")
    assert(e.getAs[String]("error") === "IndexBuildAborted")
    assert(e.getAs[String]("errmsg") === "aborted")
    assert(e.getAs[Long]("totalCount") === 1L)
    assert(e.getAs[String]("SampleLine") === lines(2))
  }

  test("R3: non-slow = valid JSON, not slow, not error") {
    val ns = res.nonSlow.collect()
    assert(ns.map(_.getAs[Long]("line_no")).toSeq === Seq(4L))
    assert(ns(0).getAs[String]("LogLine") === lines(3))
  }

  test("E1: invalid JSON lines produce the reference's message format") {
    val msgs = res.parseErrors.orderBy("line_no").collect()
      .map(_.getAs[String]("message"))
    assert(msgs.toSeq === Seq(
      "Line 5: Invalid JSON. Skipped.",
      "Line 6: Invalid JSON. Skipped."))
  }

  test("A1/O1: pattern stats aggregate twins, sort desc, first-in-file sample") {
    val stats = res.queryStats.collect()
    val find = stats.find(_.getAs[Long]("Executions") == 2L).get
    assert(find.getAs[String]("Query Pattern") ===
      """{"find":<value>,"filter":{"age":<value>},"limit":<value>}""")
    assert(find.getAs[Long]("Min Duration(ms)") === 50L)
    assert(find.getAs[Long]("Max Duration(ms)") === 150L)
    assert(find.getAs[Double]("Avg Duration(ms)") === 100.0)
    // first in file order (line 1), not the later twin
    assert(find.getAs[String]("Sample Full Query").contains("\"age\":30"))
    // O1: executions desc first
    val execs = stats.map(_.getAs[Long]("Executions"))
    assert(execs.sameElements(execs.sortBy(-_)))
  }

  // ---- E1 generic-exception parity (mongo_parser.py:93-94): shape-bad
  // lines raise non-JSONDecodeError exceptions in the reference; the
  // message embeds the exact Python exception text.
  private val shapeLines = Seq(
    """{"t":5,"s":"I","msg":"Slow query","attr":{"ns":"a.b"}}""", // 1: t int
    """{"t":{"$date":"x"},"msg":"Slow query","attr":"oops"}""", // 2: attr str
    """{"t":{"$date":"x"},"msg":"Slow query","attr":{"ns":7}}""", // 3: ns int
    """{"t":{"$date":"x"},"msg":"Slow query","attr":{"ns":"a.b","command":9}}""", // 4: cmd int
    """{"t":null,"msg":"Slow query","attr":{"ns":"a.b"}}""", // 5: t null
    """{"t":7,"s":"I","msg":"Connection accepted","attr":{"r":1}}""", // 6: t int, NON-slow → salvaged
    """{"t":{"$date":"x"},"s":"E","msg":"m","attr":5}""", // 7: E line, attr int
    """{"t":{"$date":"x"},"s":"E","msg":"m","attr":{"error":null}}""", // 8: E line, error null
    """{"t":9,"s":"E","msg":"m","attr":{"error":{"codeName":"X","errmsg":"y"}}}""", // 9: t int on E line → error salvage
    """5""", // 10: int root, non-slow → 'msg' in 5 raises
    """[1,2]""", // 11: list root, non-slow → membership ok → non-slow
    """null""" // 12: json.loads ok (None), 'msg' in None raises
  )
  private lazy val shapeRes =
    MongoLogPipeline.analyze(Sources.fromLines(spark, shapeLines))

  test("E1 parity: generic exceptions reproduce the Python message text") {
    val msgs = shapeRes.parseErrors.orderBy("line_no").collect()
      .map(r => r.getAs[Long]("line_no") -> r.getAs[String]("message")).toMap
    assert(msgs(1L) === "Line 1: Error parsing line: 'int' object has no attribute 'get'. Skipped.")
    assert(msgs(2L) === "Line 2: Error parsing line: 'str' object has no attribute 'get'. Skipped.")
    assert(msgs(3L) === "Line 3: Error parsing line: 'int' object has no attribute 'split'. Skipped.")
    assert(msgs(4L) === "Line 4: Error parsing line: argument of type 'int' is not iterable. Skipped.")
    assert(msgs(5L) === "Line 5: Error parsing line: 'NoneType' object has no attribute 'get'. Skipped.")
    assert(msgs(7L) === "Line 7: Error parsing line: argument of type 'int' is not iterable. Skipped.")
    assert(msgs(8L) === "Line 8: Error parsing line: 'NoneType' object has no attribute 'get'. Skipped.")
    assert(msgs(10L) === "Line 10: Error parsing line: argument of type 'int' is not iterable. Skipped.")
    assert(msgs(12L) === "Line 12: Error parsing line: argument of type 'NoneType' is not iterable. Skipped.")
    assert(msgs.keySet === Set(1L, 2L, 3L, 4L, 5L, 7L, 8L, 10L, 12L))
  }

  test("E1 parity: non-raising shapes salvage to their reference routes") {
    // line 6: scalar t but non-slow — reference never touches t there
    val ns = shapeRes.nonSlow.orderBy("line_no").collect()
    assert(ns.map(_.getAs[Long]("line_no")).toSeq === Seq(6L, 11L))
    assert(ns(0).getAs[String]("LogLine") === shapeLines(5))
    // line 9: scalar t on an E line — the error branch still aggregates it
    val errs = shapeRes.errors.collect()
    assert(errs.length === 1)
    assert(errs(0).getAs[Long]("OriginalLineNumber") === 9L)
    assert(errs(0).getAs[String]("msg") === "m")
    assert(errs(0).getAs[String]("error") === "X")
    assert(errs(0).getAs[String]("errmsg") === "y")
    // none of the shape-bad lines leak into detailed
    assert(shapeRes.detailed.count() === 0L)
  }

  test("routing is a partition of valid lines plus the slow/error overlap") {
    val n = lines.length
    val slow = det.length
    val nonSlow = res.nonSlow.count()
    val bad = res.parseErrors.count()
    val errRows = res.errors.collect().map(_.getAs[Long]("totalCount")).sum
    // every line is valid-or-bad; valid = slow ∪ nonSlow ∪ error-only, with
    // line 7 counted twice (slow AND error) — subtract the overlap once
    assert(bad === 2L)
    assert(slow + nonSlow + bad + errRows - 1 === n)
  }
}
