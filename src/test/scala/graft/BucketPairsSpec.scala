package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.ext.BucketPairs
import graft.engine.plans.PlanWalk

/** [[BucketPairs]] against its definition: for every key, each pair of
  * distinct members a < b of a bucket whose distinct size is in
  * [2, cap] — a brute-force self-join — and the cap census against the
  * same buckets counted by hand. Inputs are generated (fixed seeds):
  * singletons, buckets at `cap` and `cap + 1`, repeated members, long
  * and struct members. Both run interpreted and fully code-generated.
  */
class BucketPairsSpec extends SparkTestBase {
  import spark.implicits._

  private val Cap = 4L

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(0xB0C4E7L + i)))

  /** (key, member) rows: random small buckets with repeats, plus one
    * singleton, one bucket of exactly `Cap` members and one of `Cap + 1`,
    * each also carrying repeated members. */
  private val rowsGen: Gen[Seq[(Int, Long)]] = for {
    n <- Gen.choose(0, 40)
    random <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 6), Gen.choose(0L, 9L)))
  } yield random ++ Seq(100 -> 7L) ++
    (0L until Cap).map(m => 101 -> m) ++ Seq(101 -> 0L) ++
    (0L to Cap).map(m => 102 -> (m * 3)) ++ Seq(102 -> 3L)

  /** Distinct members per key, sorted — the definition's buckets. */
  private def expectedBuckets[M: Ordering](rows: Seq[(Int, M)]): Map[Int, Seq[M]] =
    rows.groupBy(_._1).map { case (k, kms) => k -> kms.map(_._2).distinct.sorted }

  private def expectedPairs[M: Ordering](rows: Seq[(Int, M)]): Seq[(Int, M, M)] = {
    val ord = implicitly[Ordering[M]]
    (for {
      (k, ms) <- expectedBuckets(rows).toSeq if ms.size >= 2 && ms.size <= Cap
      a <- ms; b <- ms if ord.lt(a, b)
    } yield (k, a, b)).sortBy(t => (t._1, t._2, t._3))
  }

  private def expectedCensus(rows: Seq[(Int, Long)]): (Long, Long, Long) = {
    val sizes = expectedBuckets(rows).values.map(_.size.toLong).toSeq
    def mass(s: Long) = s * (s - 1) / 2
    (sizes.count(_ > Cap).toLong, sizes.filter(_ > Cap).map(mass).sum,
      sizes.filter(s => s >= 2 && s <= Cap).map(mass).sum)
  }

  private def bucketsOf(df: DataFrame, member: String): DataFrame =
    BucketPairs.buckets(df, Seq("k"), col(member))

  private def underBothCodegenModes(body: => Unit): Unit =
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  test("pairs(buckets(...)) equals the brute-force in-bucket self-join, " +
    "long members") {
    underBothCodegenModes {
      samples(rowsGen, 6).foreach { rows =>
        val got = BucketPairs.pairs(bucketsOf(rows.toDF("k", "m"), "m"), Cap, "k")
          .select(col("k"), col("a"), col("b")).as[(Int, Long, Long)]
          .collect().toSeq.sortBy(t => (t._1, t._2, t._3))
        assert(got === expectedPairs(rows), rows)
      }
    }
  }

  test("pairs(buckets(...)) equals the brute-force self-join, struct members " +
    "ordered by their fields") {
    underBothCodegenModes {
      samples(rowsGen, 4).foreach { rows =>
        // (m div 2, m) structs: repeated ids stay repeated structs
        val structRows = rows.map { case (k, m) => (k, (m / 2, m)) }
        val got = BucketPairs.pairs(
            BucketPairs.buckets(rows.toDF("k", "m"), Seq("k"),
              struct((col("m") / 2).cast("long").as("hi"), col("m").as("lo"))),
            Cap, "k")
          .select(col("k"), col("a.hi"), col("a.lo"), col("b.hi"), col("b.lo"))
          .as[(Int, Long, Long, Long, Long)].collect().toSeq
          .map { case (k, ah, al, bh, bl) => (k, (ah, al), (bh, bl)) }
          .sortBy(t => (t._1, t._2, t._3))
        assert(got === expectedPairs(structRows), rows)
      }
    }
  }

  test("capCensus over buckets equals the hand count of the same buckets") {
    underBothCodegenModes {
      samples(rowsGen, 6).foreach { rows =>
        val r = bucketsOf(rows.toDF("k", "m"), "m")
          .agg(BucketPairs.capCensus(size(col("ms")), Cap).head,
            BucketPairs.capCensus(size(col("ms")), Cap).tail: _*)
          .as[(Long, Long, Long)].head()
        assert(r === expectedCensus(rows), rows)
      }
    }
  }

  test("buckets is one exchange and keeps singleton and over-cap buckets " +
    "for a census") {
    val rows = samples(rowsGen, 1).head
    val b = bucketsOf(rows.toDF("k", "m"), "m")
    val p = BucketPairs.pairs(b, Cap, "k")
    p.collect()
    val exchanges = PlanWalk.nodes(p.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size === 1, p.queryExecution.executedPlan)
    val sizes = b.select(size(col("ms"))).as[Int].collect().toSet
    assert(sizes.contains(1) && sizes.contains(Cap.toInt + 1), sizes)
  }

  test("src/main expands bucket pairs only in BucketPairs") {
    val pairSlice = """slice\([^,]+,[^,]*\+\s*lit\(2\)""".r
    val sources = scalaSources(new java.io.File("src/main"))
    assert(sources.nonEmpty, "no sources found — wrong working directory?")
    val text = sources.map(f =>
      f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    val expanders = text.collect {
      case (name, t) if t.contains("posexplode(") &&
          pairSlice.findFirstIn(t).nonEmpty => name
    }
    assert(expanders === Seq("BucketPairs.scala"))
    val needle = "local" + "Pairs" // split so this file is clean
    assert(text.filter(_._2.contains(needle)).map(_._1) === Nil)
  }
}
