package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.StageCache

/** Run identity and host primitives every measuring tool stamps or calls
  * (the perfbench harness too): canary protocol version, git sha, heap,
  * JSON string escaping and the disk sync.
  */
object BenchHost {

  /** Canary protocol version, stamped into every artifact line (r16
    * verdict "what's wrong" #1): protocol 2 = canary samples sync
    * untimed first (r16 session 3 on), so they report EXTERNAL host
    * state only. Protocol 1 (pre-r16s3) canaries absorbed the run's own
    * pending writeback — `total_canary_norm` comparisons are valid only
    * WITHIN a protocol version (BASELINE.md §"Host canary").
    */
  val CanaryProto = 2

  /** `git rev-parse HEAD`, not hand-parsed .git files: the loose-ref read
    * silently degraded to "unknown" after pack-refs/gc, in worktrees
    * (.git is a file), or when run from another cwd (r13 ADVICE). */
  def gitSha: String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out
      else "unknown"
    } catch { case _: Throwable => "unknown" }

  /** `s` as a JSON string literal: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in a name or in builder-authored
    * SQL would otherwise make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** -Xmx actually in effect, as a self-description field. */
  def heapDesc: String = {
    val mb = Runtime.getRuntime.maxMemory() / (1024L * 1024L)
    s"${mb}m"
  }

  /** Flush the page cache to disk (`sync(1)`), bounded at two minutes.
    *
    * Why the bench needs it (r16 session 3, measured): a stage build
    * writes a multi-GB DISK_ONLY pin plus shuffle files through the
    * page cache, and the kernel flushes them ASYNCHRONOUSLY — so on a
    * host with modest disk bandwidth the writeback of row N lands in
    * row N+1's wall clock (PSI `io full` held 3-7% for MINUTES after a
    * T0 build exited, and a canary sampled in that window read 8.5 s
    * vs the 0.7 s quiet-host value). Timing `sync` INSIDE each stage
    * row charges every build the flush of its own writes, making rows
    * self-contained and reproducible regardless of what ran before;
    * syncing (untimed) before each canary sample makes the canary
    * report EXTERNAL host state, not our own residue. No-op (logged
    * nowhere, swallowed) where `sync` is unavailable.
    */
  def syncDisks(): Unit =
    try {
      val p = new ProcessBuilder("sync").start()
      p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
      ()
    } catch { case _: Throwable => () }
}

/** The one measurement protocol of [[Bench]] and [[BenchOne]], and the
  * row lookup and fixture setup Verify, ExplainDump and WindowAudit share:
  *
  *  - names: `_stage_*` resolve from [[BenchStages.rows]], every other
  *    name from [[SparkEntry.queries]];
  *  - [[bracket]]: untimed warm-up of the rows in scope at sf0.001
  *    (prepared), fixture setup at the measured SF, the host canary
  *    warmed twice and sampled before and after the body, and a cold
  *    stage cache when the body starts;
  *  - [[time]]: the two timed-row kinds — a stage row is its build
  *    (`toRdd.count`) plus a timed [[BenchHost.syncDisks]], a consumer
  *    row runs the full plan into the noop sink;
  *  - [[stamp]]: the identity every artifact line carries.
  */
object BenchRun {
  type Row = (SparkSession, String) => DataFrame

  def isStage(name: String): Boolean = name.startsWith("_stage_")

  /** The stage or registry row `name` names, if this sha has one. */
  def lookup(name: String): Option[Row] =
    if (isStage(name)) BenchStages.rows.collectFirst { case (`name`, f) => f }
    else SparkEntry.queries.get(name)

  /** Every name with its row, in the given order. Fails fast, naming
    * every unknown name: a typo would otherwise measure or dump nothing
    * and exit 0. */
  def resolve(names: Seq[String]): Seq[(String, Row)] = {
    val found = names.map(n => n -> lookup(n))
    val unknown = found.collect { case (n, None) => n }
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    found.collect { case (n, Some(f)) => n -> f }
  }

  /** The registry in name order. */
  def registry: Seq[(String, Row)] = SparkEntry.queries.toSeq.sortBy(_._1)

  /** Full evaluation of every output column via the no-op v2 sink: it
    * executes the exact plan the query returns (sorts included) without
    * collecting rows. A `count()` consumer let Catalyst prune the work —
    * a projection-only query collapsed to a metadata row count — so
    * totals from rounds ≤ 8 are not comparable for those queries
    * (BASELINE.md §"Bench protocol"). */
  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Generated log fixtures for `dir`: setup, outside every timing. */
  def prepare(spark: SparkSession, dir: String): Unit =
    try SparkEntry.prepare(spark, dir) catch { case _: Throwable => () }

  /** Consume each row at `dir`, untimed, swallowing failures. */
  def warm(spark: SparkSession, dir: String, rows: Seq[Row]): Unit =
    rows.foreach(f => try consume(f(spark, dir)) catch { case _: Throwable => () })

  /** Host canary (BASELINE.md §"Host canary"): a fixed-cost scan-and-hash
    * of a constant parquet file (sf0.01 lineitem — the same bytes at every
    * benched SF), widened by a 16-way self-union and a 16-round xxhash64
    * chain so a sample reflects both IO and sustained CPU. Identical code
    * ⇒ identical expected cost, so `canary_rN / canary_rM` separates a
    * plan regression from a loaded host. One sample each side, no
    * retry-min: retries would launder exactly the stalls it exposes. On
    * a machine without the fixture the canary is skipped (None). */
  private def canaryDf(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{xxhash64, lit, expr}
    val base = spark.read.parquet(CanaryPath)
    val h0 = xxhash64(base.columns.map(base.col): _*)
    val h = (1 to 16).foldLeft(h0)((e, i) => xxhash64(e, lit(i)))
    // bit_xor, not sum: summing 64-bit hashes overflows under ANSI mode.
    Seq.fill(16)(base.select(h.as("h"))).reduce(_ union _).agg(expr("bit_xor(h)"))
  }

  /** The fixed fixtures: the smallest SF (the warm-up) and the canary's
    * constant parquet file. */
  private val WarmDir = "/root/testdata/sf0.001"
  private val CanaryPath = "/root/testdata/sf0.01/lineitem.parquet"

  private def canarySample(spark: SparkSession): Option[Double] =
    if (!new java.io.File(CanaryPath).exists()) None
    else {
      // untimed sync first: the canary reports EXTERNAL host state
      BenchHost.syncDisks()
      val t0 = System.nanoTime()
      consume(canaryDf(spark))
      Some((System.nanoTime() - t0) / 1e9)
    }

  final case class Canaries(pre: Option[Double], post: Option[Double])

  /** Run `body` inside the protocol: warm `scope` at [[WarmDir]] (first
    * executions pay Janino codegen and JIT, which at sf0.1 can exceed the
    * query itself), prepare `sfDir`, warm the canary plan twice (one pass
    * leaves measurable JIT residue), sample it, clear the stage cache so
    * builds at `sfDir` start cold, run `body`, sample the canary again. */
  def bracket[A](spark: SparkSession, sfDir: String, scope: Seq[Row])
                (body: => A): (A, Canaries) = {
    if (new java.io.File(WarmDir).isDirectory && WarmDir != sfDir) {
      prepare(spark, WarmDir)
      warm(spark, WarmDir, scope)
    } else if (WarmDir != sfDir)
      System.err.println(s"[bench] no warm-up: $WarmDir missing")
    prepare(spark, sfDir)
    if (new java.io.File(CanaryPath).exists())
      try Seq.fill(2)(canaryDf(spark)).foreach(consume)
      catch { case _: Throwable => () }
    else System.err.println(s"[bench] no canary: $CanaryPath missing")
    val pre = canarySample(spark)
    StageCache.clear(spark)
    val out = body
    (out, Canaries(pre, canarySample(spark)))
  }

  /** One timed row: (seconds, sanitized error). A stage row builds its pin
    * and pays the TIMED writeback of it, so row N+1 does not inherit row
    * N's flush; a consumer row runs its plan into the noop sink. */
  def time(spark: SparkSession, sfDir: String, name: String,
           fn: Row): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try {
        if (isStage(name)) {
          fn(spark, sfDir).queryExecution.toRdd.count()
          BenchHost.syncDisks()
        } else consume(fn(spark, sfDir))
        None
      } catch { case e: Throwable => Some(errorText(e)) }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** An error message fit for a JSON string value. */
  private def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .replaceAll("[\"\\\\\n\r\t]", " ").take(160)

  def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** What every artifact line says about the run that produced it. */
  final case class Stamp(gitSha: String, heap: String, cpus: Int,
                         canaryProto: Int, rddCompress: String,
                         stageLevel: String)

  def stamp(spark: SparkSession): Stamp =
    Stamp(BenchHost.gitSha, BenchHost.heapDesc, GraftSession.cpus,
      BenchHost.CanaryProto, spark.conf.get("spark.rdd.compress", "false"),
      StageCache.autoModeDesc(spark))
}
