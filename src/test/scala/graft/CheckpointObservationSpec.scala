package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** `Dedup.connectedComponents` reads each round's set fingerprint from an
  * `Observation` riding the round's eager `localCheckpoint` job, and
  * `Observation.get` blocks until the listener reports it. This pins that
  * the checkpoint action does report it — with a bounded wait, so a Spark
  * that stops reporting fails here instead of hanging the CC loop — and
  * that the engine's own bounded wait falls back when it never comes.
  */
class CheckpointObservationSpec extends SparkTestBase {
  import spark.implicits._

  test("an Observation completes after an eager localCheckpoint") {
    val obs = Observation()
    val df = Seq((1L, 2L), (3L, 4L)).toDF("u", "v")
      .observe(obs, count(lit(1)).as("n"),
        sum(pmod(xxhash64(col("u"), col("v")), lit(1048573L))).as("h"))
    val ck = df.localCheckpoint(true)
    val m = Await.result(Future(obs.get), 60.seconds)
    assert(m("n") === 2L)
    val want = Seq((1L, 2L), (3L, 4L)).toDF("u", "v")
      .agg(sum(pmod(xxhash64(col("u"), col("v")), lit(1048573L))))
      .first().getLong(0)
    assert(m("h") === want)
    assert(ck.count() === 2L)
  }

  test("awaitObserved reads a filled Observation and falls back, within " +
    "the bound, on one that is never filled") {
    import graft.engine.ext.Dedup.{ObservationWait, awaitObserved}
    val filled = Observation()
    Seq(1L, 2L, 3L).toDF("x").observe(filled, count(lit(1)).as("n")).collect()
    assert(awaitObserved(filled)(_.getAs[Long]("n"))(fail("filled: no fallback")) === 3L)

    val never = Observation()
    Seq(1L).toDF("x").observe(never, count(lit(1)).as("n")) // no action runs
    val t0 = System.nanoTime()
    val got = awaitObserved(never)(_ => fail("never filled"))(
      Seq(4L, 5L).toDF("x").agg(count(lit(1))).first().getLong(0))
    val waited = (System.nanoTime() - t0).nanos
    assert(got === 2L)
    assert(waited >= ObservationWait && waited < ObservationWait + 30.seconds,
      s"waited $waited")
  }
}
