package graft

import org.apache.spark.sql.SparkSession

/** The one definition of a graft session — the only place in `src/` that
  * builds a SparkSession (GraftSessionSpec holds that).
  *
  * Two profiles:
  *  - ENGINE ([[EngineConf]]): what every session running graft code
  *    needs — UTC session time zone (the oracles' epoch arithmetic),
  *    Kryo and lz4-compressed RDD blocks (the StageCache serialized pins
  *    pay ObjectOutputStream per row otherwise, and the DISK_ONLY pins
  *    shrink 2-4x under lz4 — QUERIES.md §"Stage pin storage"), and
  *    [[GraftExtensions]]. `cli.Main` runs this profile only: under
  *    spark-submit or inside a caller's session it must not resize the
  *    caller's shuffles or scans.
  *  - LOCAL ([[localConf]]): the engine profile plus the sizing of the
  *    single-JVM tools (Bench, BenchOne, Verify, the audits, the specs):
  *    `local[cpus]`, `cpus` shuffle partitions, and a 128 KB
  *    `openCostInBytes` — the 4 MB default collapses MB-sized benchmark
  *    scans to a handful of partitions and idles the other cores (a 2 MB
  *    parquet = ONE partition); at warehouse scale splits are plentiful
  *    and the default is right.
  *
  * Any other Spark conf (e.g. `spark.graft.stageCache.storageLevel` for a
  * pin-mode A/B) is passed the Spark way, as a `-Dspark.*` JVM property.
  */
object GraftSession {

  /** Worker threads of a local session: `SPARK_GRAFT_CPUS`, else every
    * core this JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(parseCpus)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `SPARK_GRAFT_CPUS` value: a positive integer, else a failure that
    * names the variable and the value. */
  def parseCpus(v: String): Int = v.trim.toIntOption.filter(_ > 0).getOrElse(
    throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))

  /** The engine profile: confs every graft session needs. */
  val EngineConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.rdd.compress" -> "true",
    "spark.sql.extensions" -> GraftExtensions.Name)

  /** Sizing the local profile adds on top of [[EngineConf]] (and no UI). */
  def localConf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.files.openCostInBytes" -> "131072",
    "spark.ui.enabled" -> "false")

  /** Apply the engine profile to a builder. Idempotent: a conf set twice
    * keeps one value. */
  def configure(builder: SparkSession.Builder): SparkSession.Builder =
    builder.config(EngineConf)

  /** Finish a built session: the settings that are not builder confs.
    * Idempotent, so joining an already set-up session is harmless. */
  def setup(spark: SparkSession): SparkSession = {
    graft.engine.ingest.Sources.ensureNanosAsLong(spark)
    spark
  }

  /** An engine-profile session. `master = None` keeps the master of a
    * running context or of spark-submit. */
  def engine(appName: String, master: Option[String] = None): SparkSession =
    build(appName, master.map("spark.master" -> _).toMap)

  /** A local-profile session; `extra` confs are set last. */
  def local(appName: String, cpus: Int = cpus, logLevel: String = "ERROR",
            extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = build(appName, localConf(cpus) ++ extra)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  private def build(appName: String, conf: Map[String, String]): SparkSession =
    setup(configure(SparkSession.builder().appName(appName)).config(conf)
      .getOrCreate())
}
