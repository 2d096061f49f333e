package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole forked test JVM — Spark
  * startup is ~5s, so per-suite sessions would dominate test time. It is
  * the benchmarked [[GraftSession]] local profile at a fixed 4 threads,
  * so specs run the configuration the tools measure.
  */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local("graft-test", cpus = 4,
    extra = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

trait SparkTestBase extends AnyFunSuite {
  /** Log level reset per suite: a spec running cli.Main leaves WARN. */
  lazy val spark: SparkSession = {
    SparkTestBase.spark.sparkContext.setLogLevel("ERROR")
    SparkTestBase.spark
  }

  /** `body` with `kvs` set in the session's Hadoop conf, restored after. */
  def withHadoopConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = kvs.map { case (k, _) => k -> Option(conf.get(k)) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Every `.scala` file under `dir`, recursively — for source guards. */
  def scalaSources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaSources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
}
