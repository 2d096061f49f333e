package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.BenchHost
import graft.engine.StageCache
import graft.engine.ingest.Sources
import graft.engine.mongo.MongoLogPipeline
import graft.engine.mysql.MySqlLogPipeline
import graft.engine.report.{ReportSink, XlsxWriter}

/** One benchmark process: builds the session the way `graft.cli.Main`
  * does, runs the workload's first operation cold, then operations in a
  * closed loop (the next starts when the previous ends): `--warmup`
  * reports, then timed ones for `--seconds`. Each operation
  * writes to its own `out-N` directory; `perfbench/run.py` checks the
  * reports there against the generator's plan. Writes what it measured
  * to `--result` as JSON for run.py to aggregate. With `--setup-only 1`
  * it stops once the session is up.
  *
  * Usage: Harness --workload W --plan expect.json --work DIR
  *                --seconds N --trace 0|1 --result FILE [--warmup N]
  *                [--setup-only 1]
  */
object Harness {

  final case class Op(phase: String, kind: String, traced: Boolean, out: String,
                      wallS: Double, ok: Boolean, known: Boolean, err: String,
                      heapMb: Double)

  /** Full-collection interval while an operation's heap is sampled, and
    * the shorter one while the report is in `XlsxWriter`, which holds
    * every collected sheet on the driver: the report's peak falls there,
    * in spikes a 60 ms interval missed. */
  val HeapSampleMs = 1000L
  val XlsxSampleMs = 30L
  val XlsxClass: String = XlsxWriter.getClass.getName.stripSuffix("$")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traceOn = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val plan = new ObjectMapper().readTree(new File(a("plan")))

    val sessionT0 = System.nanoTime()
    val spark = buildSession(a("workload"))
    val sessionBuildS = (System.nanoTime() - sessionT0) / 1e9
    // JVM start (stamped by the launcher as epoch ns) to a usable session
    val setupS = sys.props.get("perfbench.t0").map { t0 =>
      val now = java.time.Instant.now()
      (now.getEpochSecond * 1000000000L + now.getNano - t0.toLong) / 1e9
    }.getOrElse(sessionBuildS)

    val trace = new TaskTrace
    val observed = new ObservedRows
    if (traceOn) {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(observed)
    }
    val work = a("work")
    val w: Workload = a("workload") match {
      case "mongo_report" => new MongoReport(spark, plan, observed)
      case "mysql_report" => new MySqlReport(spark, plan)
      case other => sys.error(s"unknown workload $other")
    }
    val heap = new LiveHeap

    val ops = mutable.ArrayBuffer.empty[Op]
    def runOp(phase: String, kind: String, traced: Option[Spans]): Unit = {
      val out = s"$work/out-${ops.size}"
      w.reset()
      // a measured operation starts from the live set, not from what the
      // previous one left behind
      if (phase != "first" && phase != "warmup") System.gc()
      heap.reset()
      val t0 = System.nanoTime()
      def body(): Unit = traced.fold(w.run(kind, out))(w.traced(_, out))
      val err = try {
        if (phase == "heap") heap.sampled(HeapSampleMs, XlsxSampleMs, XlsxClass)(body()) else body()
        None
      } catch { case e: Throwable => Some(message(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val peakMb = heap.peakMb
      ops += Op(phase, kind, traced.isDefined, out, wall, err.isEmpty,
        err.exists(w.knownDefect(kind, _)), err.getOrElse(""), peakMb)
    }

    if (a.get("setup-only").contains("1")) {
      Files.writeString(Paths.get(a("result")), Json(Map("setup_s" -> setupS,
        "session_build_s" -> sessionBuildS, "ops" -> Nil)), UTF_8)
      halt()
    }
    // the first operation runs before anything else touches Spark: it is
    // the one a one-shot cli.Main process pays
    runOp("first", w.kinds.head, None)
    val canary = new Canary(spark, s"$work/canary")
    val canaryPre = canary.sample()
    // a fixed number of warm-up reports (JIT compiles the hot paths), the
    // last with its heap sampled, then the timed loop; every operation of
    // every phase is checked and counted
    val warmups = a.get("warmup").map(_.toInt).getOrElse(0)
    for (i <- 1 to warmups) runOp(if (i == warmups) "heap" else "warmup", w.kinds.head, None)
    val spans = mutable.ArrayBuffer.empty[Spans]
    val loopT0 = System.nanoTime()
    // traced, each iteration is a traced report and a plain one, so the
    // tracing overhead always has both
    while ((System.nanoTime() - loopT0) / 1e9 < seconds) {
      if (traceOn) {
        val s = new Spans(spark, trace)
        runOp("timed", w.kinds.head, Some(s))
        spans += s
      }
      w.kinds.foreach(runOp("timed", _, None))
    }
    val canaryPost = canary.sample()

    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "session_build_s" -> sessionBuildS,
      "ops" -> ops.map(opJson),
      "spans" -> spans.map(_.metrics),
      "counts" -> (if (traceOn) w.counts() else Map.empty),
      "canary_pre_s" -> canaryPre, "canary_post_s" -> canaryPost,
      "canary_proto" -> BenchHost.CanaryProto,
      "heap" -> BenchHost.heapDesc,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "pin_mode" -> spark.conf.getOption(StageCache.StorageLevelConf)
        .getOrElse(StageCache.autoModeDesc(spark)))
    Files.writeString(Paths.get(a("result")), Json(result), UTF_8)
    halt()
  }

  private def opJson(o: Op) = mutable.LinkedHashMap[String, Any](
    "phase" -> o.phase, "kind" -> o.kind, "traced" -> o.traced, "out" -> o.out,
    "wall_s" -> o.wallS, "ok" -> o.ok, "known_defect" -> o.known, "err" -> o.err,
    "heap_mb" -> o.heapMb)

  /** Ends the process at once: everything measured is on disk, and the
    * launcher deletes the work directory, so Spark's own shutdown (seconds
    * of hooks and temp-dir cleanup) would only lengthen every run.
    */
  private def halt(): Nothing = {
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
    throw new IllegalStateException("unreachable")
  }

  /** The session `graft.cli.Main` builds when it is the one creating it
    * (cli/Main.scala): same confs, `local[*]`, extensions injected. The
    * session state is forced so the extension injection is part of it.
    */
  def buildSession(workload: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"graft-$workload")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.rdd.compress", "true")
      .config("spark.sql.extensions", graft.GraftExtensions.Name)
      .master("local[*]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sources.ensureNanosAsLong(spark)
    spark.sessionState.conf
    spark
  }

  def message(e: Throwable): String = {
    var c = e
    val parts = mutable.ArrayBuffer.empty[String]
    while (c != null && parts.size < 4) {
      parts += s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("")}"
      c = c.getCause
    }
    parts.mkString(" <- ").replaceAll("\\s+", " ").take(400)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** A workload: the operation kinds of one loop iteration (the first
  * kind is also the cold first operation and the traced one), how to run
  * and trace each into an output directory, and what to reset between
  * operations.
  */
trait Workload {
  def kinds: Seq[String]
  def run(kind: String, out: String): Unit
  def traced(spans: Spans, out: String): Unit
  /** A failure that is a recorded, not yet fixed defect of the program. */
  def knownDefect(kind: String, err: String): Boolean = false
  def reset(): Unit
  def counts(): Map[String, Double]
}

/** A log report: `cli.Main --xlsx` writes each operation's report to its
  * own directory, which `perfbench/run.py` checks against the plan.
  */
abstract class LogReport(spark: SparkSession) extends Workload {
  // each operation stands for one `cli.Main` process: nothing cached by
  // an earlier one survives into it (clearCache alone frees the blocks
  // asynchronously, so the next operation could still find them on the heap)
  def reset(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  protected def cli(mode: String, input: String, out: String): Unit =
    graft.cli.Main.main(Array("--mode", mode, "--input", input, "--output", out, "--xlsx"))
}

/** `cli.Main --mode mongo --xlsx` on one mongod JSON log. */
final class MongoReport(spark: SparkSession, plan: JsonNode,
                        observed: ObservedRows) extends LogReport(spark) {
  private val in = plan.get("input").asText
  val kinds = Seq("report")

  def run(kind: String, out: String): Unit = cli("mongo", in, out)

  /** The mongo branch of `cli.Main`, one public call per span. The
    * ingest and scan spans are extra passes that time a prefix of the
    * pipeline; from the route span on, the calls are exactly cli.Main's
    * on one `analyze` result, whose persisted scan the route span
    * materializes (its self time is its wall minus the scan prefix).
    */
  def traced(s: Spans, out: String): Unit = {
    import Harness.noop
    s.span("ingest")(noop(Sources.readLines(spark, in)))
    s.span("mongo.scan", prefix = "ingest")(noop(
      MongoLogPipeline.observed(MongoLogPipeline.parsedScan(Sources.readLines(spark, in)))))
    val lines = Sources.readLines(spark, in)
    val res = MongoLogPipeline.analyze(lines)
    s.span("mongo.route", prefix = "mongo.scan") {
      Seq(res.detailed, res.nonSlow, res.errors, res.parseErrors).foreach(noop)
    }
    s.span("mongo.agg")(noop(res.queryStats))
    val sheets = ReportSink.MongoSheets.zip(Seq(res.detailed, res.queryStats, res.nonSlow, res.errors))
    s.span("report.sheets") {
      lines.isEmpty
      res.parseErrors.count()
      ReportSink.writeWarnings(out, res.parseErrors, "message")
      val (ok, err) = ReportSink.writeSheets(out, sheets)
      if (!ok) sys.error(err)
    }
    s.span("report.xlsx")(XlsxWriter.write(s"$out/report.xlsx", sheets))
  }

  def counts(): Map[String, Double] =
    observed.get(MongoLogPipeline.RoutingMetric).map { r =>
      Seq("lines", "slow", "errors", "non_slow", "parse_errors")
        .map(k => s"mongo.$k" -> r.getAs[Long](k).toDouble).toMap
    }.getOrElse(Map.empty)
}

/** `cli.Main --mode mysql --xlsx` (the default whole-file path) on one
  * slow log, then on the same bytes rotated into several files.
  */
final class MySqlReport(spark: SparkSession, plan: JsonNode) extends LogReport(spark) {
  private val single = plan.get("input").asText
  private val rotated = plan.get("rotated_input").asText
  val kinds = Seq("single", "rotated")

  def run(kind: String, out: String): Unit =
    cli("mysql", if (kind == "rotated") rotated else single, out)

  /** Rotated input: `Sources.readWholeFile` numbers files with
    * monotonically_increasing_id and `entriesFromFiles` multiplies that
    * id by 2^32, which overflows for any file outside partition 0.
    */
  override def knownDefect(kind: String, err: String): Boolean =
    kind == "rotated" && err.contains("ARITHMETIC_OVERFLOW")

  /** The default mysql branch of `cli.Main`, one public call per span.
    * Nothing is cached, as in cli.Main: every action re-runs ingest, the
    * entry split and the fused field kernel. The ingest, split and fields
    * spans each time a prefix of the pipeline once; a derive span is one
    * output over the full prefix, charged its wall minus the fields
    * prefix. The report spans are cli.Main's own calls, recomputation
    * included, so they carry what op_s pays for every re-run prefix.
    */
  def traced(s: Spans, out: String): Unit = {
    import Harness.noop
    def files = Sources.readWholeFile(spark, single)
    s.span("ingest")(noop(files))
    s.span("mysql.split", prefix = "ingest")(noop(MySqlLogPipeline.entriesFromFiles(files)))
    s.span("mysql.fields", prefix = "mysql.split")(noop(
      MySqlLogPipeline.projectedOf(MySqlLogPipeline.entriesFromFiles(files))))
    val res = MySqlLogPipeline.parseEntries(MySqlLogPipeline.entriesFromFiles(files))
    Seq(res.detailed, res.aggregate, res.warnings)
      .foreach(df => s.span("mysql.derive", prefix = "mysql.fields")(noop(df)))
    val sheets = ReportSink.MySqlSheets.zip(Seq(
      MySqlLogPipeline.referenceDetailed(res.detailed), res.aggregate))
    s.span("report.sheets") {
      res.detailed.isEmpty
      res.warnings.count()
      ReportSink.writeWarnings(out, res.warnings)
      val (ok, err) = ReportSink.writeSheets(out, sheets)
      if (!ok) sys.error(err)
    }
    s.span("report.xlsx")(XlsxWriter.write(s"$out/report.xlsx", sheets))
  }

  /** The census of the main input, counted once after the timed loop. */
  def counts(): Map[String, Double] = {
    val res = MySqlLogPipeline.parse(Sources.readWholeFile(spark, single))
    Map("mysql.entries" -> MySqlLogPipeline.projectedOf(MySqlLogPipeline.entriesFromFiles(
        Sources.readWholeFile(spark, single))).count().toDouble,
      "mysql.warnings" -> res.warnings.count().toDouble,
      "mysql.patterns" -> res.aggregate.count().toDouble)
  }
}

/** The `graft.BenchHost` canary workload (scan, 16-round xxhash64 chain,
  * union, bit_xor), 4-way instead of 16-way and over a fixed table
  * generated in the work directory, sampled with the BenchHost protocol:
  * warmed once, then an untimed disk sync before each timed run. It
  * reports the host's state, not the program's.
  */
final class Canary(spark: SparkSession, path: String) {
  import org.apache.spark.sql.functions.{expr, lit, xxhash64}
  private lazy val ready: Unit =
    if (!new File(path).exists())
      spark.range(0, 20000).selectExpr("id", "id % 97 AS k",
        "cast(id * 7919 AS string) AS s", "id * 1.5 AS d")
        .coalesce(1).write.parquet(path)

  private def df(): DataFrame = {
    ready
    val base = spark.read.parquet(path)
    val h0 = xxhash64(base.columns.map(base.col).toIndexedSeq: _*)
    val h = (1 to 16).foldLeft(h0)((e, i) => xxhash64(e, lit(i)))
    Seq.fill(4)(base.select(h.as("h"))).reduce(_ union _).agg(expr("bit_xor(h)"))
  }

  private var warmed = false
  def sample(): Option[Double] = try {
    if (!warmed) { Harness.noop(df()); warmed = true }
    BenchHost.syncDisks()
    val t0 = System.nanoTime()
    Harness.noop(df())
    Some((System.nanoTime() - t0) / 1e9)
  } catch { case _: Throwable => None }
}

/** Peak live heap: the most heap in use right after any garbage
  * collection since `reset` (or at `reset`), which is what the program
  * holds on to — unlike raw or old-generation usage, it does not depend
  * on how much garbage the collector let pile up before running. G1
  * collects only when eden fills, which with a 2 GB heap misses the
  * moment the report holds the most; `sampled` adds full collections,
  * densest where that moment falls.
  */
final class LiveHeap extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      // only full collections give the live set: after a young one the
      // old generation still holds its garbage
      if (info.getGcCause == "System.gc()") synchronized { peak = math.max(peak, used) }
    }

  def reset(): Unit = synchronized {
    peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Runs `body` with a full collection every `everyMs`, and every
    * `denseMs` while the calling thread is inside a class whose name
    * starts with `densePrefix`. */
  def sampled(everyMs: Long, denseMs: Long, densePrefix: String)(body: => Unit): Unit = {
    val on = new java.util.concurrent.atomic.AtomicBoolean(true)
    val op = Thread.currentThread
    val gc = new Thread(() => {
      var last = System.nanoTime()
      while (on.get) {
        Thread.sleep(denseMs)
        if (on.get && (op.getStackTrace.exists(_.getClassName.startsWith(densePrefix))
            || System.nanoTime() - last > everyMs * 1000000L)) {
          System.gc()
          last = System.nanoTime()
        }
      }
    })
    gc.setDaemon(true)
    gc.start()
    try body finally { on.set(false); gc.join() }
  }

  def peakMb: Double = synchronized { peak.toDouble / 1048576.0 }
}

/** Minimal JSON rendering of maps, sequences, options and scalars. */
object Json {
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => q(other.toString)
  }
}
