package graft

/** GraftExtensions must make the native functions behave like built-ins:
  * present in a brand-new session with no application code having called
  * `NativeFunctions.ensureRegistered`. `newSession()` is the probe — it
  * shares the SparkContext and extensions but builds a FRESH sessionState,
  * so temp functions registered elsewhere in the suite cannot leak in.
  */
class ExtensionsSpec extends SparkTestBase {

  test("qdot_native is SQL-callable in a fresh session via spark.sql.extensions") {
    val fresh = spark.newSession()
    val r = fresh.sql("SELECT qdot_native(array(1L,2L,3L), array(4L,5L,6L)) AS d")
    assert(r.first().getLong(0) === 32L)
  }

  test("graft_opaque is value-transparent and blocks constant folding") {
    val fresh = spark.newSession()
    val r = fresh.sql("SELECT graft_opaque(1 + 2) AS v, graft_opaque(NULL) AS n")
    val row = r.first()
    assert(row.getInt(0) === 3)
    assert(row.isNullAt(1))
    // the whole point: the wrapped expression must NOT constant-fold
    assert(r.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[graft.engine.expr.NativeFunctions.OpaqueBarrier])))
  }

  test("parity functions install in a fresh session") {
    val fresh = spark.newSession()
    val r = fresh.sql(
      """SELECT py_error_branch(
        |         '{"s":"E","msg":"x","attr":{"error":{"code":1}}}') AS b,
        |       py_parity_check('not json at all') AS c""".stripMargin)
    val row = r.first()
    assert(row.getBoolean(0))
    assert(row.getString(1) ===
      graft.engine.expr.PyParity.InvalidJson.toString)
  }

  test("extension-installed functions survive DESCRIBE FUNCTION") {
    val fresh = spark.newSession()
    val desc = fresh.sql("DESCRIBE FUNCTION qdot_native")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("qdot_native"))
  }

  test("wrong arity fails analysis with WRONG_NUM_ARGS, not an index error") {
    val fresh = spark.newSession()
    for (bad <- Seq(
        "SELECT qdot_native(array(1L))",
        "SELECT qdot_native(array(1L), array(2L), array(3L))",
        "SELECT py_parity_check()",
        "SELECT py_error_branch('a', 'b')",
        "SELECT graft_opaque()")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](fresh.sql(bad))
      assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", bad)
      assert(e.getMessage.contains("parameters"), bad)
    }
  }
}
