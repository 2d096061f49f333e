package graft

import graft.engine.ext.ScaleRank
import graft.engine.plans.PlanWalk
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[ScaleRank]] must replicate the unpartitioned-window `ntile` /
  * `row_number` BIT-exactly — it replaced those windows in the RFM and
  * Lorenz operators, whose DuckDB oracles still say `ntile(n) OVER
  * (ORDER BY …)`. Equivalence is checked on multi-partition inputs
  * with heavy metric ties (tiebroken by a unique id, per the contract),
  * across bucket counts that exercise both the remainder (N % n ≠ 0)
  * and the degenerate N < n path.
  */
class ScaleRankSpec extends SparkTestBase {

  import spark.implicits._

  // 997 rows over 8 input partitions; metric has only 13 distinct
  // values → every tie group spans range-partition boundaries unless
  // the unique id tiebreaker does its job.
  private lazy val df = spark.range(0, 997, 1, 8)
    .select(col("id"), (col("id") % 13).as("metric"))

  test("withNtile matches window ntile across remainder bucket counts") {
    for (n <- Seq(2, 5, 7, 10, 32)) {
      val want = df
        .withColumn("b",
          ntile(n).over(Window.orderBy(desc("metric"), col("id")))
            .cast("long"))
        .select(col("id"), col("b"))
      val got = ScaleRank
        .withNtile(df, "b", n, desc("metric"), col("id"))
        .select(col("id"), col("b"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"ntile($n) mismatch: " +
          got.exceptAll(want).limit(5).collect().mkString(", "))
    }
  }

  test("withGlobalRank matches window row_number") {
    val want = df.withColumn("rk",
      row_number().over(Window.orderBy(desc("metric"), col("id")))
        .cast("long"))
    val got = ScaleRank.withGlobalRank(df, "rk", desc("metric"), col("id"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      got.exceptAll(want).limit(5).collect().mkString(", "))
  }

  test("withGroupRank matches the partitionBy window on skewed, straddling groups") {
    // 3 groups with wildly skewed sizes (the few-fat-groups case the
    // operator exists for); only 4 shuffle partitions in tests, so every
    // fat group straddles range-partition boundaries; metric ties break
    // by unique id per the contract
    val skewed = spark.range(0, 1200, 1, 8).select(
      when(col("id") < 1000, "big").when(col("id") < 1180, "mid")
        .otherwise("tiny").as("g"),
      (col("id") % 7).as("metric"), col("id"))
    val want = skewed.withColumn("rk",
      row_number().over(
        Window.partitionBy("g").orderBy(desc("metric"), col("id")))
        .cast("long"))
      .select(col("id"), col("rk"))
    val got = ScaleRank
      .withGroupRank(skewed, "rk", "g", desc("metric"), col("id"))
      .select(col("id"), col("rk"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      got.exceptAll(want).limit(5).collect().mkString(", "))
  }

  test("withGroupNtile matches the partitionBy window ntile") {
    val skewed = spark.range(0, 500, 1, 8).select(
      when(col("id") < 400, "big").otherwise("small").as("g"),
      (col("id") % 5).as("metric"), col("id"))
    for (n <- Seq(4, 10)) {
      val want = skewed.withColumn("b",
        ntile(n).over(
          Window.partitionBy("g").orderBy(desc("metric"), col("id")))
          .cast("long"))
        .select(col("id"), col("b"))
      val got = ScaleRank
        .withGroupNtile(skewed, "b", n, "g", desc("metric"), col("id"))
        .select(col("id"), col("b"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"group ntile($n) mismatch")
    }
  }

  test("grouped rank plan: census windows only, partitioned by the group") {
    import org.apache.spark.sql.execution.window.WindowExec
    val skewed = spark.range(0, 300, 1, 4).select(
      (col("id") % 3).as("g"), (col("id") % 7).as("metric"), col("id"))
    val q = ScaleRank.withGroupRank(skewed, "rk", "g",
      desc("metric"), col("id"))
    val p = q.queryExecution.executedPlan
    assert(p.toString.contains("Exchange rangepartitioning"),
      p.toString.take(600))
    // NO unpartitioned window anywhere, and every window (the census
    // offset/total) is partitioned by the group, never by the data order
    val wins = PlanWalk.nodes(p).collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "census windows missing")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "unpartitioned window in grouped rank")
      val ordered = w.orderSpec.flatMap(_.references.map(_.name)).toSet
      assert(ordered.subsetOf(Set("_sr_pid")),
        s"census window orders by $ordered")
    }
  }

  test("withGroupRank keeps and ranks NULL group keys like the window") {
    // every 5th row has a null group: the census join is null-safe (<=>),
    // so null-group rows must rank exactly as the partitionBy window
    // ranks them — not silently vanish (ADVICE r10)
    val d = spark.range(0, 60, 1, 4).select(
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 3).as("g"),
      (col("id") % 7).as("metric"), col("id"))
    val want = d.withColumn("rk",
      row_number().over(
        Window.partitionBy("g").orderBy(desc("metric"), col("id")))
        .cast("long"))
      .select(col("id"), col("rk"))
    val got = ScaleRank.withGroupRank(d, "rk", "g", desc("metric"), col("id"))
      .select(col("id"), col("rk"))
    assert(got.count() === 60L, "null-group rows were dropped")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      got.exceptAll(want).limit(5).collect().mkString(", "))
  }

  test("census branch REUSES the data branch's range exchange") {
    // correctness depends on the two branches reading ONE execution of
    // the range exchange: the RangePartitioner samples its boundaries
    // nondeterministically, so independent executions could disagree on
    // partition ids and ranks would silently skew (ADVICE r10). Pin the
    // reuse in the EXECUTED plan: exactly one range exchange runs; the
    // second consumer is a ReusedExchange/reused query stage.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    val q = ScaleRank.withGlobalRank(df, "rk", desc("metric"), col("id"))
    q.queryExecution.toRdd.count() // execute THIS plan (AQE finalizes it)
    val nodes = PlanWalk.nodes(q.queryExecution.executedPlan)
    // NOTE: a reused exchange still gets its OWN query-stage id — the
    // reuse is visible as a ShuffleQueryStageExec wrapping
    // ReusedExchangeExec, not as a repeated stage id. Count the real
    // materializations (ShuffleExchangeLike) and the reuse wrappers
    // separately.
    val realRange = nodes.collect {
      case s: ShuffleQueryStageExec
        if s.plan.isInstanceOf[ShuffleExchangeLike] &&
          s.plan.outputPartitioning.isInstanceOf[RangePartitioning] => s
    }
    val reusedRange = nodes.collect {
      case r: ReusedExchangeExec
        if r.outputPartitioning.isInstanceOf[RangePartitioning] => r
    }
    val planStr = q.queryExecution.executedPlan.toString
    assert(realRange.map(_.id).distinct.size == 1,
      s"expected ONE materialized range exchange, ids = " +
        s"${realRange.map(_.id).distinct}:\n${planStr.take(2000)}")
    assert(reusedRange.nonEmpty,
      s"census branch does not reuse the range exchange:\n" +
        planStr.take(2000))
  }

  test("N < n degenerates to rank (one row per bucket), no div-by-zero") {
    val tiny = spark.range(0, 3, 1, 2).select(col("id"))
    val got = ScaleRank.withNtile(tiny, "b", 10, col("id"))
      .orderBy("id").select("b").as[Long].collect()
    assert(got.toSeq === Seq(1L, 2L, 3L))
  }

  test("empty input yields empty output") {
    val empty = spark.range(0).select(col("id"))
    assert(ScaleRank.withNtile(empty, "b", 5, col("id")).count() === 0)
  }

  test("rank plan: range partition + census windows only, no data-sized global window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val q = ScaleRank.withNtile(df, "b", 5, desc("metric"), col("id"))
    val p = q.queryExecution.executedPlan
    assert(p.toString.contains("Exchange rangepartitioning"),
      p.toString.take(600))
    // the only unpartitioned windows left must order by the census key,
    // never by the data columns
    val globalWindows = PlanWalk.nodes(p).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.nonEmpty, "census offset window missing")
    globalWindows.foreach { w =>
      val ordered = w.orderSpec.flatMap(_.references.map(_.name)).toSet
      assert(ordered.subsetOf(Set("_sr_pid")),
        s"data-sized global window over $ordered")
    }
  }
}
