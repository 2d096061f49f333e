package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.expr.{NativeFunctions, Normalizers}
import graft.engine.gen.LogGen
import graft.engine.mysql.MySqlLogPipeline

/** Pins the fused [[NativeFunctions.MySqlEntryFields]] kernel against the
  * LIVE regex chain it replaces (the r16 seven-pattern battery + six
  * pyStrip regexp_replaces + the fingerprint normalize): for every
  * element and every entry — adversarial strings plus the full generated
  * sf0.001 corpus — the kernel must equal the regex chain evaluated by
  * Spark itself. The kernel's whole contract is "literal scans ==
  * java.util.regex semantics"; this spec is that contract as a failing
  * test. Element order: [time*, user_host*, query_time_raw, lock_time*,
  * rows_sent*, rows_examined*, query*, normalized_query*] (* = stripped).
  */
class MySqlFieldsKernelSpec extends SparkTestBase {
  import spark.implicits._

  private val patterns = Seq(
    MySqlLogPipeline.TimeP, MySqlLogPipeline.UserHostP,
    MySqlLogPipeline.QueryTimeP, MySqlLogPipeline.LockTimeP,
    MySqlLogPipeline.RowsSentP, MySqlLogPipeline.RowsExaminedP,
    MySqlLogPipeline.QueryP)

  /** The regex chain in Spark built-ins: per pattern, the capture when
    * `rlike` matches and NULL otherwise; pyStrip on every capture except
    * Query_time (nullness preserved), normalize on the stripped query.
    */
  private def legacyChain(df: DataFrame): DataFrame = {
    def find(p: String): Column =
      when(col("entry").rlike(p), regexp_extract(col("entry"), p, 1))
    def strippedOf(c: Column): Column =
      when(c.isNull, lit(null).cast("string")).otherwise(Normalizers.pyStrip(c))
    val qs = strippedOf(find(MySqlLogPipeline.QueryP))
    df.select(col("entry"),
      strippedOf(find(MySqlLogPipeline.TimeP)).as("m0"),
      strippedOf(find(MySqlLogPipeline.UserHostP)).as("m1"),
      find(MySqlLogPipeline.QueryTimeP).as("m2"),
      strippedOf(find(MySqlLogPipeline.LockTimeP)).as("m3"),
      strippedOf(find(MySqlLogPipeline.RowsSentP)).as("m4"),
      strippedOf(find(MySqlLogPipeline.RowsExaminedP)).as("m5"),
      qs.as("m6"),
      when(qs.isNull, lit(null).cast("string"))
        .otherwise(Normalizers.normalizeMySqlQuery(qs)).as("m7"))
  }

  private def fusedChain(df: DataFrame): DataFrame = {
    NativeFunctions.ensureRegistered(spark)
    val fs = NativeFunctions.mysqlEntryFields(col("entry"))
    df.select(col("entry") +: (0 until 8).map(i => fs.getItem(i).as(s"m$i")): _*)
  }

  /** JVM-side legacy chain for per-entry assertion messages. */
  private def legacyLocal(s: String): Seq[String] = {
    val pyWs = java.util.regex.Pattern.compile(
      s"^${Normalizers.PyWhitespaceClass}+|${Normalizers.PyWhitespaceClass}+$$")
    val norm = java.util.regex.Pattern.compile("(\\b\\d+\\b)|('[^']*')")
    def strip(v: String): String =
      if (v == null) null else pyWs.matcher(v).replaceAll("")
    val caps = patterns.map { p =>
      val m = java.util.regex.Pattern.compile(p).matcher(s)
      if (m.find()) { val g = m.group(1); if (g == null) "" else g }
      else null
    }
    val qs = strip(caps(6))
    Seq(strip(caps(0)), strip(caps(1)), caps(2), strip(caps(3)),
      strip(caps(4)), strip(caps(5)), qs,
      if (qs == null) null
      else UTF8String.fromString(norm.matcher(qs).replaceAll("?"))
        .toUpperCase.toString)
  }

  private def kernel(s: String): Seq[String] = {
    val arr = NativeFunctions.mysqlFieldsRun(UTF8String.fromString(s))
    (0 until 8).map(i =>
      if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString)
  }

  private val adversarial = Seq(
    "",
    "no markers at all",
    "# Time: ",
    "# Time: 231026 10:00:01",
    "# Time: abc\ndef\n# Time: second",
    "# Time: abc\u2028def", // LS terminates a non-DOTALL capture
    "# Time: abc\u2029def",
    "# Time: abc\u0085def",
    "# Time: abc\rdef",
    "# Time:  padded  \n", // strip fuses in
    "# Time: \u00A0nbsp\u00A0\n", // Zs strips, mid-line it is not a term
    // hyphenated thread-id must NOT match (the generated skip class)
    "# User@Host: user1[u] @ host1 [10.0.0.1] thread-id: 11",
    "# User@Host: user1[u] @ host1 [10.0.0.1] thread_id: 11",
    // terminator before the suffix: first start fails, second matches
    "# User@Host: broken\nrest\n# User@Host: ok thread_id: 2",
    "# User@Host:  thread_id:", // empty capture
    "# Query_time:  1.5  Lock_time: 0.001 Rows_sent: 10 Rows_examined: 500\n",
    "# Query_time: bad Lock_time: x Rows_sent: y Rows_examined: z", // no \n
    "Lock_time: Lock_time: 1 Rows_sent: 2 Rows_examined: 3\n",
    "Rows_examined: 12", // end-of-input is not \n
    "Rows_examined: 12\r\n", // \r blocks the capture from reaching \n
    "Rows_examined: 12\n",
    "Rows_examined: a\rb\nRows_examined: 44\ntail",
    "SET timestamp=1698314401;", // no ";\n"
    "SET timestamp=1698314401;\n", // empty query at end-of-input
    "SET timestamp=1698314401;\nSELECT 1;\n# Time: next entry",
    "SET timestamp=abc\nxx;\nSELECT 2", // DOTALL .*? spans the newline
    "SET timestamp=9;\nmulti\nline\nquery\n# Time: t\nSET timestamp=8;\nq2",
    // normalize edge cases ride the query capture
    "SET timestamp=1;\nSELECT 123 FROM t WHERE a=45;",
    "SET timestamp=1;\nSELECT a123 FROM 123abc WHERE x = '12''34';",
    "SET timestamp=1;\nSELECT 'unclosed quote 123 and then 456",
    "SET timestamp=1;\nSELECT 'été' , é123 , 12'34'56;",
    "SET timestamp=1;\nSELECT '١٢٣' -- unicode digits stay",
    "SET timestamp=1;\nupdate t set x='a\nmultiline\nliteral' where k=7;",
    "# Time: téè café\n# User@Host: hän thread_id: 汉字" +
      "\n# Query_time: 1 Lock_time: 2 Rows_sent: 3 Rows_examined: 4\n" +
      "SET timestamp=1;\nSELECT '😀';", // multi-byte + surrogate
    "# Time: a\n# User@Host: u thread_id: 1\n# Query_time: 0.1 Lock_time: " +
      "0.2 Rows_sent: 1 Rows_examined: 2\nSET timestamp=3;\nCOMMIT;\n")

  test("kernel == live regex chain on adversarial entries (JVM-side)") {
    adversarial.foreach { s =>
      assert(kernel(s) == legacyLocal(s), s"entry: ${s.take(80)}")
    }
  }

  test("kernel == live regex chain on every generated sf0.001 entry") {
    val entries = MySqlLogPipeline
      .entriesFromFiles(LogGen.mysqlFiles(spark, "/root/testdata/sf0.001"))
      .select("entry").as[String].collect()
    assert(entries.nonEmpty)
    entries.foreach { s =>
      assert(kernel(s) == legacyLocal(s), s"entry: ${s.take(120)}")
    }
  }

  test("DataFrame-level: kernel == Spark-evaluated legacy chain") {
    val df = adversarial.toDF("entry")
    assert(fusedChain(df).exceptAll(legacyChain(df)).isEmpty &&
      legacyChain(df).exceptAll(fusedChain(df)).isEmpty)
  }
}
