package graft
import java.nio.file.{Files, Paths}
import BenchHost.{jsonString => q}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names: dump only that subset (dev loop —
    // the driver always passes exactly two args and gets the full dump)
    val rows =
      if (args.length == 2) BenchRun.registry else BenchRun.resolve(args.drop(2).toSeq)
    val spark = GraftSession.local("graft-verify", logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    rows.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that errors must be a VISIBLE failure, not a silent omission
    // from the dump (a dropped dump dir just vanishes from the driver's
    // compare). Always write the error manifest — empty {} is the green
    // signal — and scream a summary line the driver's log captures.
    val errJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] FAILED ${failed.size} queries (see verify_errors.json): " +
          failed.keys.mkString(", "))
    // Exit 0 even on per-query failures: the driver must still compare the
    // queries that DID dump (a non-zero rc could zero the whole round).
    // The manifest + stderr line are the failure signal.
    spark.stop()
  }
}
