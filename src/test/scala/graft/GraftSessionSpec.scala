package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.engine.expr.NativeFunctions

/** Guards the one-session design: [[GraftSession]] is the only builder
  * of sessions, [[NativeFunctions.Functions]] is the only function list
  * (both installers read it), and `cli.Main` — which the benchmark runs
  * inside its own session — applies the engine profile and no sizing.
  */
class GraftSessionSpec extends SparkTestBase {

  test("src/ builds sessions only in GraftSession") {
    val needle = "SparkSession" + ".builder" // split so this file is clean
    val hits = scalaSources(new java.io.File("src")).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      Seq.fill(java.util.regex.Pattern.quote(needle).r
        .findAllMatchIn(text).size)(f.getName)
    }
    assert(hits.nonEmpty, "no sources found — wrong working directory?")
    assert(hits === Seq("GraftSession.scala"))
  }

  /** A session sharing the test context and catalog, built WITHOUT
    * GraftExtensions (the builder would apply the static extensions conf,
    * so this calls the session constructor directly). */
  private def bareSession(): SparkSession = {
    val cls = classOf[org.apache.spark.sql.classic.SparkSession]
    val ctor = cls.getConstructor(classOf[SparkContext], classOf[Option[_]],
      classOf[Option[_]], classOf[SparkSessionExtensions],
      classOf[Map[_, _]], classOf[Map[_, _]])
    ctor.newInstance(spark.sparkContext, Some(spark.sharedState), None,
      new SparkSessionExtensions, Map.empty[String, String],
      Map.empty[String, String])
  }

  private def describe(s: SparkSession, name: String): String =
    s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0)).mkString("\n")

  test("every table function resolves with the extension only, and without " +
    "it after ensureRegistered") {
    val names = NativeFunctions.Functions.map(_.name)
    assert(names.distinct.size === names.size, "duplicate function names")
    val withExt = spark.newSession()
    NativeFunctions.Functions.foreach { f =>
      assert(describe(withExt, f.name).contains(f.usage), f.name)
    }
    val bare = bareSession()
    val missing = names.filterNot(bare.catalog.functionExists)
    assert(missing === names, "the bare session must start without them")
    NativeFunctions.ensureRegistered(bare)
    NativeFunctions.Functions.foreach { f =>
      assert(describe(bare, f.name).contains(f.usage), f.name)
    }
    NativeFunctions.ensureRegistered(bare) // idempotent
  }

  test("SPARK_GRAFT_CPUS is a positive thread count, else fails naming itself") {
    assert(GraftSession.parseCpus(" 6 ") === 6)
    for (bad <- Seq("four", "2.5", "", "0", "-3", "99999999999")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(bad))
      assert(!e.isInstanceOf[NumberFormatException], bad)
      assert(e.getMessage === s"SPARK_GRAFT_CPUS must be a positive integer, got '$bad'")
    }
  }

  test("cli.Main applies the engine profile and no shuffle or scan sizing") {
    val sizing = Seq("spark.sql.shuffle.partitions",
      "spark.sql.files.openCostInBytes")
    assert(GraftSession.EngineConf.keySet.intersect(sizing.toSet).isEmpty)
    val sentinel = Map(sizing(0) -> "7", sizing(1) -> "4194303")
    val saved = sizing.map(k => k -> spark.conf.get(k)).toMap
    val dir = java.nio.file.Files.createTempDirectory("cli-conf").toFile
    val in = new java.io.File(dir, "mongod.log")
    java.nio.file.Files.writeString(in.toPath,
      """{"t":{"$date":"2024-01-01T00:00:00.000Z"},"s":"I","c":"COMMAND",""" +
        """"msg":"Slow query","attr":{"ns":"db.c","durationMillis":5}}""" + "\n")
    try {
      sentinel.foreach { case (k, v) => spark.conf.set(k, v) }
      cli.Main.main(Array("--mode", "mongo", "--input", in.getAbsolutePath,
        "--output", new java.io.File(dir, "report").getAbsolutePath))
      sentinel.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
      GraftSession.EngineConf.foreach { case (k, v) =>
        assert(spark.conf.getOption(k).orElse(spark.sparkContext.getConf
          .getOption(k)).contains(v), k)
      }
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
