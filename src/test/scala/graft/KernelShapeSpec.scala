package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.expr.NativeFunctions
import graft.engine.plans.PlanWalk

/** The one kernel shape. Every table function in
  * [[NativeFunctions.Functions]] is evaluated on generated adversarial
  * input fully code-generated (`factoryMode=CODEGEN_ONLY`, whole-stage
  * codegen on) and fully interpreted (`NO_CODEGEN`, whole-stage off); the
  * two runs must agree on every value and every NULL. A divergence is a
  * kernel bug, never a generator bug. The source guard keeps hand-written
  * evaluation bodies out of `src/main`, so a kernel cannot grow a second
  * copy of its loop again.
  */
class KernelShapeSpec extends SparkTestBase {

  test("src/main hand-writes eval and codegen only in OpaqueBarrier") {
    val body = java.util.regex.Pattern.compile(
      "doGenCode|nullSafeEval|override def eval\\b")
    val caseClass = "case class (\\w+)".r
    val files = scalaSources(new java.io.File("src/main"))
    assert(files.nonEmpty, "no sources found — wrong working directory?")
    val owners = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val m = body.matcher(text)
      Iterator.continually(m).takeWhile(_.find()).map { m =>
        val owner = caseClass.findAllMatchIn(text.substring(0, m.start()))
          .toSeq.lastOption.map(_.group(1)).getOrElse("<none>")
        s"${f.getName}:$owner"
      }.toList
    }.distinct
    assert(owners === Seq("NativeFunctions.scala:OpaqueBarrier"))
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType),
    StructField("a", ArrayType(LongType, containsNull = false)),
    StructField("b", ArrayType(LongType, containsNull = false)),
    StructField("toks", ArrayType(StringType))))

  /** One call per table function over the generated columns; a function
    * missing here fails the coverage assertion below. */
  private val calls: Map[String, Seq[String]] = Map(
    "qdot_native" -> Seq("qdot_native(a, b)"),
    "srp_signature" -> Seq(
      "srp_signature(a, array(array(1L, -2L, 3L), array(-1L, 0L, 5L, 7L)))"),
    "py_parity_check" -> Seq("py_parity_check(s)"),
    "py_error_branch" -> Seq("py_error_branch(s)"),
    "graft_opaque" -> Seq("graft_opaque(s)"),
    "mongo_line_parse" -> Seq("mongo_line_parse(s)"),
    "mysql_entry_fields" -> Seq("mysql_entry_fields(s)"),
    "lang_signal_counts" -> Seq("lang_signal_counts(s, " +
      "array(array('the', 'and', 'x_1'), array('la', 'que', 'de')))"),
    "text_stat_counts" -> Seq("text_stat_counts(s, array('the', 'and', 'of'))"),
    "winnow_karp_rabin" -> Seq("winnow_karp_rabin(s, 5)"),
    "md5_prefix_long" -> Seq("md5_prefix_long(s, 15)"),
    "word_rep_counts" -> Seq("word_rep_counts(toks)", "word_rep_counts(s)"),
    "shingle_hashes" -> Seq("shingle_hashes(s, 3, 15)"),
    "shingle_hash_set" -> Seq("shingle_hash_set(s, 2, 15)"),
    "simhash_sig" -> Seq("simhash_sig(s, 4, 15)"))

  private val pieces = Seq("the", "AND", "de1", "queла", "中文", "é123",
    "'", "''", "\"", "\\", "\\\"", "\\u00", "{", "}", "[", "]", ":", ",",
    " ", "  ", "\t", "\n", "\r", "\r\n", "\u2028", "\u2029", "\u0085",
    "\u00A0", "\u0000", "😀", "\uD83D", "x_1", "42", "-7",
    "1.5e3", "NaN", "null", "true", "SET timestamp=", ";\n", "\n# Time: ",
    "# Query_time: ", " Lock_time: ", "Slow query", "pipeline", "$match")

  private val mongoKeys = Seq("t", "s", "c", "id", "ctx", "msg", "attr",
    "_corrupt", "$date", "ns", "durationMillis", "error", "code",
    "codeName", "errmsg", "command", "filter", "pipeline")

  /** A JSON value of bounded depth; keys repeat, so objects carry
    * duplicate keys, and scalars include the mistyped and the malformed. */
  private def jsonValue(depth: Int): Gen[String] = {
    val scalar = Gen.oneOf(Gen.const("1"), Gen.const("-0"), Gen.const("1.25e2"),
      Gen.const("9223372036854775808"), Gen.const("\"E\""),
      Gen.const("\"Slow query\""), Gen.const("\"\""), Gen.const("null"),
      Gen.const("true"), Gen.const("NaN"), Gen.const("'single'"),
      Gen.const("\"esc\\\"aped\\u00e9\\n\""), Gen.const("\"unterminated"),
      Gen.const("01"), Gen.const("+1"),
      Gen.const("\"2023-10-25T10:00:01.000Z\""))
    if (depth <= 0) scalar
    else Gen.frequency(
      3 -> scalar,
      2 -> Gen.listOfN(4, Gen.zip(Gen.oneOf(mongoKeys), jsonValue(depth - 1)))
        .flatMap(kvs => Gen.choose(0, kvs.size).map(n => kvs.take(n)))
        .map(_.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")),
      1 -> Gen.listOfN(2, jsonValue(depth - 1)).map(_.mkString("[", ",", "]")))
  }

  private val mysqlEntry: Gen[String] = for {
    qt <- Gen.oneOf("0.5", "abc", "", " 1.0 ")
    q <- Gen.oneOf("SELECT * FROM t WHERE id = 42 AND n = 'x';",
      "select 'a''b', 7abc, é123 from t", "", "UPDATE t SET v='unclosed")
    cut <- Gen.choose(0, 6)
    lt <- Gen.oneOf("\n", "\r", "\u2028")
  } yield Seq(s"# Time: 231025 10:00:01", s"# User@Host: u[u] @ h [] thread_id: 7",
    s"# Query_time: $qt Lock_time: 0 Rows_sent: 1 Rows_examined: 2",
    "SET timestamp=1698228001;", q, "# Time: 231025 10:00:02", "tail")
    .patch(cut, Nil, 1).mkString(lt)

  private val text: Gen[String] = Gen.frequency(
    3 -> Gen.listOf(Gen.oneOf(pieces)).map(_.mkString),
    2 -> Gen.listOf(Gen.choose(0, 0x10FFFF).suchThat(Character.isValidCodePoint))
      .map(cps => new String(cps.toArray, 0, cps.size)),
    1 -> org.scalacheck.Arbitrary.arbitrary[String],
    3 -> jsonValue(3),
    2 -> jsonValue(3).map(j => j.dropRight(1)),
    2 -> mysqlEntry,
    1 -> Gen.oneOf(pieces).map(p => ("lorem " + p + " ipsum ") * 1500),
    1 -> Gen.const(""))

  private val longs: Gen[Seq[Long]] =
    Gen.choose(0, 70).flatMap(Gen.listOfN(_, Gen.choose(-1000000L, 1000000L)))

  private val row: Gen[(Option[String], Option[Seq[Long]], Option[Seq[Long]],
      Option[Seq[String]])] = for {
    s <- Gen.frequency(9 -> text.map(Some(_)), 1 -> Gen.const(None))
    a <- Gen.frequency(9 -> longs.map(Some(_)), 1 -> Gen.const(None))
    b <- Gen.frequency(9 -> longs.map(Some(_)), 1 -> Gen.const(None))
    toks <- Gen.frequency(9 -> Gen.listOf(Gen.frequency(
      8 -> Gen.oneOf(pieces), 1 -> Gen.const(""), 1 -> Gen.const(null: String)))
      .map(Some(_)), 1 -> Gen.const(None))
  } yield (s, a, b, toks)

  private def table(seed: Long, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val (s, a, b, toks) = row.apply(Gen.Parameters.default.withSize(40),
        Seed(seed * 1000003L + i)).get
      Row(i.toLong, s.orNull, a.orNull, b.orNull, toks.orNull)
    }
    // RDD-backed: a local relation would be folded on the driver,
    // interpreted, in both modes
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  private def underMode[A](mode: String, wholeStage: Boolean)(body: => A): A = {
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("every table function agrees fully code-generated and interpreted " +
    "on generated adversarial input") {
    assert(calls.keySet === NativeFunctions.Functions.map(_.name).toSet,
      "every table function needs a call here")
    val exprs = calls.toSeq.sortBy(_._1).flatMap(_._2)
    for (seed <- 1L to 3L) {
      // a fresh DataFrame per mode: a plan is physically planned once,
      // so a reused one would keep the first mode's codegen decision
      def df = table(seed, 300)
        .selectExpr("id" +: exprs.zipWithIndex.map { case (e, i) => s"$e AS c$i" }: _*)
      // each kernel reaches the plan as its StaticInvoke, no front left
      val plan = df.queryExecution.optimizedPlan
      assert(!plan.expressions.exists(_.exists(_.isInstanceOf[NativeFunctions.Kernel])))
      assert(plan.expressions.flatMap(_.collect { case s: StaticInvoke => s }).size ===
        exprs.size - 1) // graft_opaque is not a kernel
      def run(mode: String, wholeStage: Boolean): Seq[Row] =
        underMode(mode, wholeStage) {
          val d = df
          val codegen = PlanWalk.nodes(d.queryExecution.executedPlan).exists(
            _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
          assert(codegen === wholeStage, d.queryExecution.executedPlan)
          d.collect().toSeq.sortBy(_.getLong(0))
        }
      val compiled = run("CODEGEN_ONLY", wholeStage = true)
      val interpreted = run("NO_CODEGEN", wholeStage = false)
      assert(compiled.size === 300)
      compiled.zip(interpreted).foreach { case (c, i) =>
        exprs.indices.foreach { k =>
          assert(c.get(k + 1) == i.get(k + 1),
            s"${exprs(k)} diverges on row ${c.getLong(0)} (seed $seed)")
        }
      }
    }
  }
}
