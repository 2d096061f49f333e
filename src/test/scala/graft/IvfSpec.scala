package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.ext.Ivf
import graft.engine.plans.PlanWalk

/** [[Ivf]] against a plain-Scala brute force: the nearest centroid
  * under both metrics, per subspace, the probe list, the floor-mean
  * recompute, the query panel and the per-query top-k, on generated
  * quantized vectors with planted ties — duplicate points, duplicate
  * centroids (equal dots and equal distances), a zero point (every dot
  * ties) and a centroid pair symmetric about a point (equidistant).
  * Every check runs fully code-generated and fully interpreted, each on
  * a fresh DataFrame. The source guard keeps Similarity from growing its
  * own copy of any of these decisions again.
  */
class IvfSpec extends SparkTestBase {
  import spark.implicits._

  private type Vec = Seq[Long]
  private val Dim = 4

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(0x1F5EEDL + i)))

  private val vecGen: Gen[Vec] = Gen.listOfN(Dim, Gen.choose(-4L, 4L))

  /** Points (vec_id, q) and centroids (cell_id, cq). */
  private case class Case(points: Seq[(Long, Vec)], cents: Seq[(Int, Vec)])

  private val caseGen: Gen[Case] = for {
    n <- Gen.choose(3, 30)
    ps <- Gen.listOfN(n, vecGen)
    nc <- Gen.choose(1, 6)
    cs <- Gen.listOfN(nc, vecGen)
    d <- vecGen
  } yield {
    val p0 = ps.head
    val cents = cs ++ Seq(cs.head, d, d,
      p0.zip(d).map { case (a, b) => a + b }, p0.zip(d).map { case (a, b) => a - b })
    val points = ps ++ Seq(p0, ps.last, Seq.fill(Dim)(0L))
    Case(points.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      cents.zipWithIndex.map { case (v, i) => (i, v) })
  }

  private def dot(a: Vec, b: Vec): Long = a.zip(b).map { case (x, y) => x * y }.sum

  /** The reference cost: smaller is nearer. */
  private def cost(metric: Ivf.Metric, p: Vec, c: Vec): Long = metric match {
    case Ivf.Dot => -dot(p, c)
    case Ivf.L2 => p.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
  }

  /** Centroids of `c` ordered nearest first, ties → lowest id. */
  private def ranking(metric: Ivf.Metric, c: Case, p: Vec): Seq[(Int, Long)] =
    c.cents.map { case (id, cv) => (id, cost(metric, p, cv)) }
      .sortBy { case (id, k) => (k, id) }

  private def pointsDf(c: Case): DataFrame = c.points.toDF("vec_id", "q")
  private def centsDf(c: Case): DataFrame = c.cents.toDF("cell_id", "cq")

  /** `body` fully code-generated with whole-stage codegen, then fully
    * interpreted; `run` collects a DataFrame built inside `body` and
    * checks the plan took the mode's path. */
  private def underBothCodegenModes(body: (DataFrame => Seq[Row]) => Unit): Unit =
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> true, "NO_CODEGEN" -> false)) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      try body { df =>
        val rows = df.collect().toSeq
        // after the run: adaptive execution codegens each stage as it runs
        val codegen = PlanWalk.nodes(df.queryExecution.executedPlan).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
        assert(codegen === wholeStage, df.queryExecution.executedPlan)
        rows
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  private def nodeNames(df: DataFrame): Seq[String] =
    PlanWalk.nodes(df.queryExecution.executedPlan).map(_.nodeName)

  test("nearest equals the brute-force argmin under both metrics, ties to " +
    "the lowest cell id, as one primitive aggregate") {
    underBothCodegenModes { run =>
      samples(caseGen, 6).foreach { c =>
        val dotDf = Ivf.nearest(pointsDf(c), centsDf(c), Seq("vec_id"), Ivf.Dot,
          c.cents.size)
        val gotDot = run(dotDf).map(r => r.getLong(0) -> r.getInt(1)).toMap
        val l2Df = Ivf.nearest(pointsDf(c), centsDf(c), Seq("vec_id"), Ivf.L2,
          c.cents.size)
        val gotL2 = run(l2Df).map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
        c.points.foreach { case (id, p) =>
          assert(gotDot(id) === ranking(Ivf.Dot, c, p).head._1, c)
          assert(gotL2(id) === ranking(Ivf.L2, c, p).head, c)
        }
        for (df <- Seq(dotDf, l2Df)) {
          assert(nodeNames(df).contains("HashAggregate"), df.queryExecution.executedPlan)
          assert(!nodeNames(df).contains("ObjectHashAggregate"),
            df.queryExecution.executedPlan)
        }
      }
    }
  }

  test("nearest per subspace (joined on m, the subvector riding the key) " +
    "equals the brute force and stays a primitive aggregate") {
    underBothCodegenModes { run =>
      samples(caseGen, 4).foreach { c =>
        // two subspaces: m = 0 sees the centroids as generated, m = 1
        // sees them reversed, so the planted ties sit at other ids
        val cb = Seq(0 -> c.cents, 1 -> c.cents.map(_._2).reverse.zipWithIndex
          .map(_.swap))
        val subs = c.points.flatMap { case (id, p) => Seq((id, 0, p), (id, 1, p.reverse)) }
        val df = Ivf.nearest(subs.toDF("vec_id", "m", "sq"),
          cb.flatMap { case (m, cs) => cs.map { case (code, v) => (m, code, v) } }
            .toDF("m", "code", "cq"),
          Seq("vec_id", "m", "sq"), Ivf.L2, c.cents.size, vec = "sq", id = "code")
        val got = run(df).map(r =>
          (r.getLong(0), r.getInt(1)) -> (r.getSeq[Long](2), r.getInt(3), r.getLong(4))).toMap
        subs.foreach { case (id, m, sq) =>
          val (code, dist) = ranking(Ivf.L2, Case(Nil, cb(m)._2), sq).head
          assert(got((id, m)) === ((sq, code, dist)), c)
        }
        assert(!nodeNames(df).contains("ObjectHashAggregate"), df.queryExecution.executedPlan)
      }
    }
  }

  test("panel + probes equal the brute-force nprobe best cells per query, " +
    "ties to the lowest cell id, with the probe rank on request") {
    underBothCodegenModes { run =>
      samples(caseGen, 6).foreach { c =>
        for (metric <- Seq(Ivf.Dot, Ivf.L2); qm <- Seq(1, 3); nprobe <- Seq(1, 3)) {
          val panel = Ivf.panel(pointsDf(c), qm)
          val got = run(Ivf.probes(panel, centsDf(c), nprobe, metric, "qq", "probe"))
            .map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2), r.getInt(3)))
            .sortBy(t => (t._1, t._3))
          val want = c.points.filter(_._1 % qm == 0).flatMap { case (id, p) =>
            ranking(metric, c, p).take(nprobe).zipWithIndex.map { case ((cell, _), i) =>
              (id, p, i + 1, cell)
            }
          }.sortBy(t => (t._1, t._3))
          assert(got === want, (c, metric, qm, nprobe))
        }
      }
    }
  }

  test("recenter equals the brute-force per-dimension floor mean of each " +
    "cell's members") {
    underBothCodegenModes { run =>
      samples(caseGen, 6).foreach { c =>
        val members = c.points.map { case (_, p) => (ranking(Ivf.L2, c, p).head._1, p) }
        val got = run(Ivf.recenter(members.toDF("cell_id", "q"), Seq("cell_id"), "q"))
          .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
        val want = members.groupBy(_._1).map { case (cell, ms) =>
          cell -> (0 until Dim).map(i =>
            Math.floorDiv(ms.map(_._2(i)).sum, ms.size.toLong))
        }
        assert(got === want, c)
      }
    }
  }

  test("topK equals the brute-force per-query ranking, ties to the lowest " +
    "neighbor id, and plans a WindowGroupLimit") {
    val candGen: Gen[Seq[(Long, Long, Long)]] = for {
      n <- Gen.choose(1, 60)
      raw <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 12L),
        Gen.choose(0L, 3L)))
    } yield raw.distinctBy(t => (t._1, t._2))
    underBothCodegenModes { run =>
      samples(candGen, 6).foreach { cands =>
        for (k <- Seq(1, 3)) {
          val df = Ivf.topK(cands.toDF("query_id", "neighbor_id", "score"), k, "score")
          val got = run(df)
            .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getLong(2)))
            .sortBy(t => (t._1, t._2))
          val want = cands.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
            cs.sortBy(t => (-t._3, t._2)).take(k).zipWithIndex.map {
              case ((_, nb, s), i) => (q, i + 1, nb, s)
            }
          }.sortBy(t => (t._1, t._2))
          assert(got === want, (cands, k))
          assert(nodeNames(df).contains("WindowGroupLimit"), df.queryExecution.executedPlan)
        }
      }
    }
  }

  test("Similarity.scala probes, ranks and packs only through Ivf") {
    def source(name: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/main/scala/graft/engine/ext/$name")), "UTF-8")
    val sim = source("Similarity.scala")
    val ivf = source("Ivf.scala")
    // the guard reads real files: Ivf holds what Similarity may not
    assert(ivf.contains("row_number") && ivf.contains("1L << 20"))
    assert(!sim.contains("crank"))
    assert(!sim.contains("row_number"))
    assert(!sim.contains("""partitionBy(col("query_id"))"""))
    assert(!sim.contains("1L << 20"))
    assert("""min_by\([^\n]*struct\(""".r.findFirstIn(sim).isEmpty)
  }
}
