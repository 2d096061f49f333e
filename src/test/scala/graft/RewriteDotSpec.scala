package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import graft.engine.expr.NativeFunctions.LongArrayDot
import graft.engine.ext.Similarity

/** RewriteDeclarativeDot: the spec-form HOF dot product must optimize to
  * the codegen'd LongArrayDot with identical results — including the
  * NULL-on-unequal-length semantics of zip_with that the native truncating
  * loop alone would get wrong.
  *
  * Inputs are RDD-backed (not LocalRelation / literals) so the optimizer
  * can neither constant-fold the expression nor collapse the plan before
  * the assertion looks at it.
  */
class RewriteDotSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("a", ArrayType(LongType, containsNull = false)),
    StructField("b", ArrayType(LongType, containsNull = false))))

  private def vecs(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private def hasNativeDot(df: DataFrame): Boolean = nativeDots(df).nonEmpty

  test("declarative dot product rewrites to LongArrayDot") {
    val df = vecs(Row(Array(1L, 2L, 3L), Array(4L, 5L, 6L)))
      .select(Similarity.qdotDeclarative(col("a"), col("b")).as("d"))
    assert(hasNativeDot(df), df.queryExecution.optimizedPlan.toString)
    assert(df.first().getLong(0) === 32L)
  }

  test("unequal lengths still yield NULL after the rewrite") {
    val df = vecs(Row(Array(1L, 2L, 3L), Array(4L, 5L)))
      .select(Similarity.qdotDeclarative(col("a"), col("b")).as("d"))
    assert(hasNativeDot(df))
    assert(df.first().isNullAt(0))
  }

  test("rewrite fires via plain SQL text too") {
    vecs(Row(Array(1L, 2L), Array(10L, 20L))).createOrReplaceTempView("rw_vecs")
    val r = spark.sql(
      """SELECT aggregate(zip_with(a, b, (x, y) -> x * y),
        |                 0L, (acc, v) -> acc + v) AS d
        |FROM rw_vecs""".stripMargin)
    assert(hasNativeDot(r), r.queryExecution.optimizedPlan.toString)
    assert(r.first().getLong(0) === 50L)
  }

  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on)
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  /** The rewrite emits the kernel's replacement: a StaticInvoke of
    * `qdotRun(a, b, failOnError)`, read back as its LongArrayDot front. */
  private def nativeDots(df: DataFrame): Seq[LongArrayDot] =
    df.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case s: StaticInvoke if s.functionName == "qdotRun" =>
        val Seq(a, b, Literal(failOnError: Boolean, _)) = s.arguments
        LongArrayDot(a, b, failOnError)
    })

  test("LEGACY mode rewrites to the wrapping loop (overflow wraps)") {
    withAnsi(false) {
      val big = Long.MaxValue / 2 + 1
      val df = vecs(Row(Array(big, 0L), Array(2L, 0L)))
        .select(Similarity.qdotDeclarative(col("a"), col("b")).as("d"))
      val dots = nativeDots(df)
      assert(dots.nonEmpty && dots.forall(!_.failOnError))
      // 2 * (MaxValue/2 + 1) wraps to MinValue — same as LEGACY `*`.
      assert(df.first().getLong(0) === Long.MinValue)
    }
  }

  test("ANSI mode rewrites to the exact-checked loop (overflow raises)") {
    withAnsi(true) {
      val ok = vecs(Row(Array(1L, 2L, 3L), Array(4L, 5L, 6L)))
        .select(Similarity.qdotDeclarative(col("a"), col("b")).as("d"))
      val dots = nativeDots(ok)
      assert(dots.nonEmpty && dots.forall(_.failOnError))
      assert(ok.first().getLong(0) === 32L)

      val big = Long.MaxValue / 2 + 1
      val boom = vecs(Row(Array(big, 0L), Array(2L, 0L)))
        .select(Similarity.qdotDeclarative(col("a"), col("b")).as("d"))
      // ANSI promises an arithmetic-overflow error, and the rewritten
      // native loop must keep that promise instead of wrapping. The
      // exception surfaces as SparkArithmeticException (possibly wrapped
      // in a SparkException by the scheduler) — check the cause chain.
      val e = intercept[Throwable](boom.first())
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.toLowerCase.contains("overflow"), msgs)
    }
  }

  test("a non-dot aggregate is left alone") {
    val df = vecs(Row(Array(1L, 2L), Array(3L, 4L)))
      .select(aggregate(zip_with(col("a"), col("b"), (x, y) => x + y),
        lit(0L), (acc, v) => acc + v).as("s"))
    assert(!hasNativeDot(df))
    assert(df.first().getLong(0) === 10L)
  }
}
