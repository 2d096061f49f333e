package graft

import org.apache.spark.sql.Row
import graft.engine.ingest.Sources
import graft.engine.mysql.MySqlLogPipeline

/** End-to-end goldens for the MySQL slow-log pipeline over the FIXTURES.md §2
  * entry classes. Expectations follow the EXECUTED reference semantics
  * (SURVEY.md §5.2) — e.g. the COMMIT entry IS parsed, 19.99 → ?.?.
  */
class MySqlPipelineSpec extends SparkTestBase {

  // Fixture mirrors /root/reference/MySql/test_mysql_parser.py:49-86's shape:
  // preamble, single-line SELECT with literals, its literal-twin, a COMMIT
  // entry, a multi-line SELECT, an incomplete entry (no Query_time header),
  // and a decimal-literal entry.
  private val log =
    """/usr/sbin/mysqld, Version: 8.0.30 started with:
      |Tcp port: 3306
      |# Time: 231026 10:00:01
      |# User@Host: app[app] @ host1 [10.0.0.1] thread_id: 11
      |# Query_time: 2.5 Lock_time: 0.001 Rows_sent: 10 Rows_examined: 5000
      |SET timestamp=1698314401;
      |SELECT * FROM users WHERE id = 123 AND name = 'bob';
      |# Time: 231026 10:00:02
      |# User@Host: app[app] @ host2 [10.0.0.2] thread_id: 12
      |# Query_time: 1.5 Lock_time: 0.002 Rows_sent: 20 Rows_examined: 6000
      |SET timestamp=1698314402;
      |SELECT * FROM users WHERE id = 456 AND name = 'eve';
      |# Time: 231026 10:00:03
      |# User@Host: app[app] @ host1 [10.0.0.1] thread_id: 13
      |# Query_time: 0.1 Lock_time: 0.000 Rows_sent: 0 Rows_examined: 0
      |SET timestamp=1698314403;
      |COMMIT;
      |# Time: 231026 10:00:04
      |# User@Host: rpt[rpt] @ host3 [10.0.0.3] thread_id: 14
      |# Query_time: 5.0 Lock_time: 0.010 Rows_sent: 100 Rows_examined: 90000
      |SET timestamp=1698314404;
      |SELECT o.id,
      |  o.total
      |FROM orders o
      |GROUP BY o.id;
      |# Time: 231026 10:00:05
      |# User@Host: app[app] @ host1 [10.0.0.1] thread_id: 15
      |SET timestamp=1698314405;
      |SELECT 'incomplete';
      |# Time: 231026 10:00:06
      |# User@Host: app[app] @ host1 [10.0.0.1] thread_id: 16
      |# Query_time: 0.2 Lock_time: 0.000 Rows_sent: 1 Rows_examined: 2
      |SET timestamp=1698314406;
      |SELECT * FROM items WHERE price > 19.99;
      |""".stripMargin

  private lazy val result =
    MySqlLogPipeline.parse(Sources.fromContent(spark, log))
  private lazy val detailed = result.detailed.orderBy("entry_no").collect()

  test("preamble before the first '# Time: ' is dropped; incomplete entry skipped") {
    // 6 entries, 1 incomplete → 5 detailed rows
    assert(detailed.length === 5)
  }

  test("single-line SELECT parses with sec→ms conversion") {
    val r = detailed(0)
    assert(r.getAs[String]("Time") === "231026 10:00:01")
    assert(r.getAs[String]("User@Host") === "app[app] @ host1 [10.0.0.1]")
    assert(r.getAs[Double]("Query_time (ms)") === 2500.0)
    assert(r.getAs[String]("Lock_time") === "0.001")  // stays a string (P11)
    assert(r.getAs[String]("Rows_sent") === "10")
    assert(r.getAs[String]("Rows_examined") === "5000")
    assert(r.getAs[String]("Query") ===
      "SELECT * FROM users WHERE id = 123 AND name = 'bob';")
    assert(r.getAs[String]("Normalized_Query") ===
      "SELECT * FROM USERS WHERE ID = ? AND NAME = ?;")
  }

  test("COMMIT entry IS parsed (reference test's skip-claim is wrong)") {
    val r = detailed(2)
    assert(r.getAs[String]("Query") === "COMMIT;")
    assert(r.getAs[String]("Normalized_Query") === "COMMIT;")
  }

  test("multi-line query captured to end of entry") {
    val r = detailed(3)
    assert(r.getAs[String]("Query") ===
      "SELECT o.id,\n  o.total\nFROM orders o\nGROUP BY o.id;")
  }

  test("decimal literal normalizes to ?.?") {
    val r = detailed(4)
    assert(r.getAs[String]("Normalized_Query") ===
      "SELECT * FROM ITEMS WHERE PRICE > ?.?;")
  }

  test("literal twins aggregate to one pattern with Executions=2, min/max/avg") {
    val agg = result.aggregate.collect()
      .map(r => r.getAs[String]("Normalized_Query") -> r).toMap
    val twin = agg("SELECT * FROM USERS WHERE ID = ? AND NAME = ?;")
    assert(twin.getAs[Long]("Executions") === 2L)
    assert(twin.getAs[Double]("Min_Query_time_ms") === 1500.0)
    assert(twin.getAs[Double]("Max_Query_time_ms") === 2500.0)
    assert(twin.getAs[Double]("Avg_Query_time_ms") === 2000.0)
    // first-in-file sample, not last
    assert(twin.getAs[String]("Sample_Query") ===
      "SELECT * FROM users WHERE id = 123 AND name = 'bob';")
  }

  test("aggregate keys sorted ascending (pandas groupby default, O2)") {
    val keys = result.aggregate.collect().map(_.getAs[String]("Normalized_Query"))
    assert(keys.sameElements(keys.sorted))
  }

  test("incomplete entry produces the skip diagnostic with per-pattern booleans") {
    val warns = result.warnings.collect().map(_.getAs[String]("warning"))
    assert(warns.length === 1)
    assert(warns(0).startsWith(
      "Skipped log entry 5 due to missing fields. Details: T:True, UH:True, " +
        "QT:False, LT:False, RS:False, RE:False, Q:True."))
  }

  test("unparsable Query_time → 0.0 + warning; empty query → placeholder + warning") {
    val badLog =
      """# Time: 231026 11:00:00
        |# User@Host: a[a] @ h [ip] thread_id: 1
        |# Query_time: oops Lock_time: 0.1 Rows_sent: 1 Rows_examined: 1
        |SET timestamp=1;
        |SELECT 1;
        |# Time: 231026 11:00:01
        |# User@Host: a[a] @ h [ip] thread_id: 2
        |# Query_time: 0.5 Lock_time: 0.1 Rows_sent: 1 Rows_examined: 1
        |SET timestamp=2;
        |""".stripMargin
    val res = MySqlLogPipeline.parse(Sources.fromContent(spark, badLog))
    val det = res.detailed.orderBy("entry_no").collect()
    assert(det(0).getAs[Double]("Query_time (ms)") === 0.0)
    assert(det(1).getAs[String]("Query") === MySqlLogPipeline.EmptyQueryPlaceholder)
    assert(det(1).getAs[String]("Normalized_Query") === MySqlLogPipeline.EmptyQueryPlaceholder)
    val warns = res.warnings.collect().map(_.getAs[String]("warning"))
    assert(warns.exists(_.startsWith("Could not parse Query_time: 'oops'")))
    assert(warns.exists(_.startsWith("Empty query string found in entry 2")))
  }

  test("S2 scale path (delimited reader) produces the same detailed rows") {
    val dir = java.nio.file.Files.createTempDirectory("mysql-log").toFile
    val f = new java.io.File(dir, "slow.log")
    java.nio.file.Files.writeString(f.toPath, log)
    try {
      val viaDelim = MySqlLogPipeline.parseEntries(
        Sources.readDelimited(spark, f.getAbsolutePath))
        .detailed.orderBy("entry_no")
        .drop("file_id", "entry_no", "ord").collect()
      val viaWhole = result.detailed.orderBy("entry_no")
        .drop("file_id", "entry_no", "ord").collect()
      assert(viaDelim.toSeq === viaWhole.toSeq)
    } finally {
      f.delete(); dir.delete()
    }
  }

  test("readDelimited: multi-file dir numbers entries in FILE-NAME order, " +
    "not Spark's size-descending split order") {
    val dir = java.nio.file.Files.createTempDirectory("mysql-multi").toFile
    def entry(i: Int, pad: Int): String =
      s"""# Time: 23102$i 12:00:0$i
         |# User@Host: u$i[u] @ h [ip] thread_id: $i
         |# Query_time: 1.0 Lock_time: 0.0 Rows_sent: 1 Rows_examined: 1
         |SET timestamp=$i;
         |SELECT $i; -- ${"x" * pad}
         |""".stripMargin
    // file a: 1 entry; file b: 3 much larger entries — size-descending
    // scan order would visit b first and give it file_id 0
    java.nio.file.Files.writeString(new java.io.File(dir, "a.log").toPath,
      entry(1, 1))
    java.nio.file.Files.writeString(new java.io.File(dir, "b.log").toPath,
      entry(2, 4000) + entry(3, 4000) + entry(4, 4000))
    try {
      val got = Sources.readDelimited(spark, dir.getAbsolutePath)
        .orderBy("ord").collect()
        .map(r => (r.getAs[Long]("file_id"), r.getAs[Long]("entry_no"),
          r.getAs[String]("entry").linesIterator
            .find(_.startsWith("SET timestamp=")).get))
      // entries are numbered within their file, as the reference does
      assert(got.toSeq === Seq(
        (0L, 1L, "SET timestamp=1;"), (1L, 1L, "SET timestamp=2;"),
        (1L, 2L, "SET timestamp=3;"), (1L, 3L, "SET timestamp=4;")))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("whole-file read: a log rotated into 4 files gives the same report " +
    "sheets and warning counts as the single file") {
    val extra =
      """# Time: 231026 11:00:00
        |# User@Host: a[a] @ h [ip] thread_id: 1
        |# Query_time: oops Lock_time: 0.1 Rows_sent: 1 Rows_examined: 1
        |SET timestamp=1;
        |SELECT 1;
        |# Time: 231026 11:00:01
        |# User@Host: a[a] @ h [ip] thread_id: 2
        |# Query_time: 0.5 Lock_time: 0.1 Rows_sent: 1 Rows_examined: 1
        |SET timestamp=2;
        |""".stripMargin
    val full = log + extra
    // rotate at entry boundaries: the preamble stays with the first file
    val cuts = "# Time: ".r.findAllMatchIn(full).map(_.start).toIndexedSeq
    val bounds = 0 +: Seq(2, 4, 6).map(cuts) :+ full.length
    val parts = bounds.sliding(2).map { case Seq(a, b) => full.substring(a, b) }
      .toSeq
    assert(parts.size == 4 && parts.mkString == full)
    val root = java.nio.file.Files.createTempDirectory("graft-rotated").toFile
    val single = new java.io.File(root, "single"); single.mkdirs()
    val rotated = new java.io.File(root, "rotated"); rotated.mkdirs()
    def put(dir: java.io.File, name: String, text: String): Unit =
      java.nio.file.Files.writeString(new java.io.File(dir, name).toPath, text)
    put(single, "slow.log", full)
    parts.zipWithIndex.foreach { case (p, i) => put(rotated, s"slow.log.$i", p) }
    def report(dir: java.io.File) = {
      val res = MySqlLogPipeline.parse(
        Sources.readWholeFile(spark, dir.getAbsolutePath))
      val detailed = MySqlLogPipeline.referenceDetailed(
        res.detailed.orderBy("ord")).collect().toSeq
      val kinds = res.warnings.collect().toSeq
        .map(_.getAs[String]("warning").split(" ").take(3).mkString(" "))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      (detailed, res.aggregate.collect().toSeq, kinds)
    }
    try {
      val (d1, a1, w1) = report(single)
      val (d4, a4, w4) = report(rotated)
      assert(Sources.readWholeFile(spark, rotated.getAbsolutePath)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        .toSeq === parts.indices.map(_.toLong).zip(parts))
      assert(d1.size === 7)
      assert(d4 === d1)
      assert(a4 === a1)
      assert(w1 === Map("Skipped log entry" -> 1,
        "Could not parse" -> 1, "Empty query string" -> 1))
      assert(w4 === w1)
    } finally {
      Seq(single, rotated).foreach(d => { d.listFiles().foreach(_.delete()); d.delete() })
      root.delete()
    }
  }

  test("P8: split fires on '# Time: ' ANYWHERE, even mid-line (reference semantics)") {
    // a query whose text contains the marker gets truncated into a new
    // (incomplete) entry — exactly what content.split('# Time: ') does
    // (mysqlLogParser.py:44-53)
    val tricky =
      """# Time: 231026 12:00:00
        |# User@Host: a[a] @ h [ip] thread_id: 1
        |# Query_time: 1.0 Lock_time: 0.0 Rows_sent: 1 Rows_examined: 1
        |SET timestamp=1;
        |SELECT '# Time: not a real header';
        |""".stripMargin
    val res = MySqlLogPipeline.parse(Sources.fromContent(spark, tricky))
    // the split truncates the query at the embedded marker: entry 1 keeps
    // "SELECT '" (unterminated literal), entry 2 is incomplete → warning
    val det = res.detailed.collect()
    assert(det.length === 1)
    assert(det(0).getAs[String]("Query") === "SELECT '")
    assert(res.warnings.collect()
      .exists(_.getAs[String]("warning").startsWith("Skipped log entry 2")))
  }

  test("S4: empty input yields empty outputs, no crash") {
    val res = MySqlLogPipeline.parse(Sources.fromContent(spark, ""))
    assert(res.detailed.isEmpty && res.aggregate.isEmpty && res.warnings.isEmpty)
  }
}
