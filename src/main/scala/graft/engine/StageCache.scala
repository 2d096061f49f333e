package graft.engine

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized intermediates ("build once, reuse"), in two modes.
  *
  * Several registered queries ride the same expensive deterministic
  * intermediate — most prominently the SimHash near-dup pair list and the
  * connected-components cluster table, which seven dedup/corpus queries
  * consume. In production that table is materialized once per corpus
  * snapshot and every downstream policy (canonical pick, down-weighting,
  * size histogram, duplication-quality audit) reads the materialization;
  * rebuilding the shingle-explode → 60-bit vote → band-bucket →
  * star-contraction chain per query is pure waste at any scale.
  *
  * Mode 1 — session-local (default): computed once per session, pinned
  * either as a `localCheckpoint(eager)` in the block manager or as
  * parquet under a session-lifetime temp dir (the mode-2 write path,
  * rooted there). The pin follows from the corpus size alone: the
  * parquet pin at or above [[AutoParquetBytes]] in a local session,
  * the checkpoint pin otherwise. Zero-config, but the checkpoint form is
  * executor-LOSS-FRAGILE: local checkpoint blocks are not replicated,
  * so on a real cluster losing any executor silently invalidates the
  * cache mid-session. The right single-process / bench mode.
  *
  * Mode 2 — durable (opt-in via `spark.graft.stageCache.dir=<path>`): the
  * stage is WRITTEN as parquet under that directory, keyed by
  * (stage name, canonical input dir), and read back — surviving executor
  * loss, session restarts, and sharing across jobs (a later session with
  * the same cache dir reuses the files without rebuilding). This is the
  * "actual table write" the cluster deployment wants; point it at a
  * durable filesystem (HDFS/object store). The key includes BOTH the
  * corpus dir path and a fingerprint of its content listing (file
  * names, sizes, mtimes — [[corpusFingerprint]]), so a new corpus
  * snapshot (new dir) never reads an old stage AND regenerating data in
  * place misses instead of silently serving stale derivations; stages
  * keyed by superseded fingerprints linger as garbage until the cache
  * dir is cleaned. Writes go to a temp dir then rename into place;
  * concurrent writers in the same JVM serialize on the per-key lock,
  * cross-job writers are the scheduler's job to serialize (rename
  * losses are tolerated by re-checking for a winner's _SUCCESS — on
  * both rename semantics, see [[finalizeStage]]); crashed writers'
  * orphaned tmp dirs are age-swept on the next call.
  *
  * Lifetime: in-memory entries live until [[clear]] or JVM exit. (A
  * cached DataFrame strongly references its session, so weak-keying the
  * map could never reclaim anything — the map is plainly strong and says
  * so.) As a backstop, every `materialized` call first purges entries
  * whose SparkContext has stopped, so a stopped session's plans don't
  * ride along for the rest of a long JVM. [[clear]] unpersists the
  * ACTUAL checkpointed RDD captured at build time — `queryExecution
  * .toRdd` would re-plan and return a fresh wrapper RDD whose unpersist
  * frees nothing, leaving the blocks pinned until session stop.
  *
  * Locking: the map is consulted under the object monitor, but builds
  * run OUTSIDE it under a per-key lock — a minutes-long stage build must
  * not block an unrelated cache hit, and two independent stage builds
  * may proceed in parallel. Only concurrent requests for the SAME key
  * serialize (the loser finds the winner's entry on re-check).
  *
  * Only the (spark, dir) registry wrappers consult the cache. The
  * DataFrame-form operators stay pure so fixture-driven specs exercise
  * the full build every time.
  */
object StageCache {

  /** Set to a durable directory to switch every stage materialization
    * from localCheckpoint to a parquet write/read under that directory.
    */
  val DurableDirConf = "spark.graft.stageCache.dir"

  /** The key perfbench's harness stamps its pin mode under. Nothing in
    * `src/` reads it: the session pin follows from the corpus size
    * alone ([[AutoParquetBytes]]).
    */
  val StorageLevelConf = "spark.graft.stageCache.storageLevel"

  /** Explain-tooling escape hatch: when `true`, [[materialized]] returns
    * the build DataFrame UNPINNED and UNCACHED, so `explain` shows the
    * stage's actual build plan instead of a one-line scan of the pinned
    * RDD. Never set on a measuring or serving session — every consumer
    * would silently re-run the build. Used by [[graft.ExplainDump]] for
    * the committed `plans/` artifacts.
    */
  val PassthroughConf = "spark.graft.stageCache.passthrough"

  /** Mode-1 pin default. Measured decision (r16 pin-level runs + BenchOne
    * A/Bs; full numbers in QUERIES.md §"Stage pin storage"): Spark's
    * localCheckpoint default pins DESERIALIZED row objects — 2,971 MB
    * of block-manager heap with all 16 stages resident at sf1 (≈30 GB
    * extrapolated to sf10, crowding even the 48g bench heap: the r16
    * "intrinsic post-canary elevation" — the end of a full-suite run
    * measured ~2× slower than its start). Serialized storage fixes the
    * crowding where it actually lives — OBJECT COUNT, not bytes: one
    * byte-array block instead of millions of row objects takes the pin
    * out of every GC mark, while staying memory-first for consumers and
    * spilling overflow to disk. `DISK_ONLY` was measured and REJECTED:
    * on the suite's largest materialization (the sf10 ngram T0 pair
    * table) the cold build cost 122 s vs 61 serialized-in-memory / 79
    * deserialized, because the forced write pays the block codec twice.
    * That codec matters more than the level: with Java serialization
    * the same DISK_ONLY build ranged 92-152 s; with Kryo it was 65.0
    * and 65.5 (two samples, ±0.5%) — set
    * `spark.serializer=org.apache.spark.serializer.KryoSerializer` on
    * the session (the bench/verify harnesses do; production Spark
    * deployments commonly do by default) or the serialized pin pays
    * ObjectOutputStream per row.
    *
    * Why DISK rather than serialized-IN-MEMORY: a full sf10 suite under
    * `MEMORY_AND_DISK_SER` put the multi-GB pair-table pins back on the
    * heap as humongous byte-array blocks, and every CONSUMER of the big
    * pins slowed 5-10× (the T0 family: 1-3 s → 10-27 s per query) while
    * the same consumers over DISK_ONLY pins ran at memory-like speed
    * (sequential reads through the OS page cache, heap left entirely to
    * execution). The pin's job is to be cheap to KEEP; the page cache
    * already keeps hot blocks in RAM without owning heap.
    */
  val DefaultLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** Pin-mode crossover, in bytes of the stage's INPUT dir listing
    * (the one scale signal every stage has, corpus and log dirs alike).
    * A stage whose input dir totals at least this many bytes gets the
    * columnar parquet pin; below it, the [[DefaultLevel]] checkpoint
    * pin. The asymmetry is measured, not guessed (full-suite A/B pairs
    * committed in `bench_logs/r16s4_*`): the parquet pin costs a fixed
    * ~0.1-0.3 s file-commit per stage plus footer reads per consumer —
    * at a 17 MB corpus (sf0.1, 16 stages) that fixed cost LOST 4.5 % of
    * the suite total with no offsetting win; at a 2.3 GB corpus (sf10)
    * the columnar pin halved the largest build (write.parquet streams
    * encoded columns instead of Kryo-serializing whole rows) and cut
    * single-pass consumers 20× (pruned vectorized scan vs whole-row
    * lz4+Kryo decode: `dedup_ngram_pairs` 12.6 → 0.63 s median). The
    * threshold sits at the log-midpoint of the measured bracket's
    * endpoints.
    */
  val AutoParquetBytes: Long = 64L * 1024 * 1024

  /** run_meta self-description of the session pin rule. It reads
    * nothing from `spark`; perfbench's harness calls it in this form. */
  def autoModeDesc(spark: SparkSession): String =
    s"AUTO(parquet>=${AutoParquetBytes / (1024 * 1024)}MB," +
      s" else ${DefaultLevel.description})"

  /** Total bytes under `dir` (recursive listing) — the pin-mode
    * scale signal. NOT memoized (r16 ADVICE): a dir regenerated in
    * place at a different scale (exactly what the durable fingerprint
    * defends against) must not keep a stale pin-mode choice, and an
    * initially-unreadable dir must not memoize 0 forever. The recursion
    * runs only on the build-miss path, at most once per stage build —
    * builds are rare and the listing is cheap next to one.
    */
  private def corpusBytes(spark: SparkSession, dir: String): Long =
    try {
      val p = new Path(canonical(dir))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    } catch { case NonFatal(_) => 0L } // unreadable dir: checkpoint pin

  /** df = what consumers get; persisted = the checkpoint RDD to free on
    * [[clear]] (None for parquet pins — files are the materialization:
    * durable ones deliberately outlive the session, session ones go
    * with their [[sessionRoot]]).
    */
  private final case class Entry(df: DataFrame, persisted: Option[RDD[_]])

  private val sessions =
    new java.util.IdentityHashMap[SparkSession, mutable.Map[String, Entry]]()

  /** Per-session temp dir the session-local PARQUET pins are written
    * under, through the same write → [[finalizeStage]] → read path as
    * durable stages. Created on a session's first parquet pin, deleted
    * with everything in it by [[clear]] (or the exit sweep).
    */
  private val sessionRoots =
    new java.util.IdentityHashMap[SparkSession, java.nio.file.Path]()

  private def sessionRoot(spark: SparkSession): java.nio.file.Path =
    synchronized {
      Option(sessionRoots.get(spark)).getOrElse {
        val root = java.nio.file.Files.createTempDirectory("graft-stage-")
        exitSweep.add(root) // reclaimed at JVM exit if never clear()ed
        sessionRoots.put(spark, root)
        root
      }
    }

  private val keyLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def canonical(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** Build counter for specs: how many times a `build` thunk actually ran
    * (in durable mode: how many times a parquet stage was written).
    */
  @volatile private[graft] var builds: Long = 0L

  private def purgeStopped(): Unit = {
    val it = sessions.keySet.iterator()
    val dead = mutable.Buffer.empty[SparkSession]
    while (it.hasNext) {
      val s = it.next()
      if (s.sparkContext.isStopped) dead += s
    }
    dead.foreach { s => sessions.remove(s); sessionRoots.remove(s) }
  }

  /** A DataFrame a stage build reads several times, checkpointed —
    * but left a plan under [[PassthroughConf]], so the stage's dump shows
    * what built it. Not for loop state: a plan kept per round would grow
    * with every round. */
  def checkpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption(PassthroughConf).contains("true")) df
    else df.localCheckpoint(true)

  /** Return the materialized stage, building it on first use for this
    * (session, dir, name) — checkpoint-pinned, or written durable when
    * [[DurableDirConf]] is set.
    */
  def materialized(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    if (spark.conf.getOption(PassthroughConf).contains("true")) return build
    val key = s"$name|${canonical(dir)}"
    def lookup(): Option[DataFrame] = synchronized {
      purgeStopped()
      sessions
        .computeIfAbsent(spark, _ => mutable.Map.empty[String, Entry])
        .get(key).map(_.df)
    }
    def store(e: Entry): Unit = synchronized {
      sessions
        .computeIfAbsent(spark, _ => mutable.Map.empty[String, Entry])
        .update(key, e)
    }
    lookup() match {
      case Some(df) => df
      case None =>
        // per-key lock: same-key callers serialize, everyone else runs
        val lock =
          keyLocks.computeIfAbsent(s"${System.identityHashCode(spark)}|$key",
            _ => new Object)
        lock.synchronized {
          lookup() match {
            case Some(df) => df
            case None =>
              // counts as a build only when the stage was WRITTEN — a
              // pre-existing durable stage short-circuits, and the
              // counter's contract is "times the thunk actually ran"
              def parquetPin(root: String): Entry = {
                val (df, wrote) = durableStage(spark, root, dir, name, build)
                if (wrote) synchronized { builds += 1 }
                Entry(df, None)
              }
              val entry = spark.conf.getOption(DurableDirConf) match {
                case Some(root) => parquetPin(root)
                case None =>
                  // The parquet pin's fixed per-file cost only pays for
                  // itself once the corpus (and so the pin) is big — see
                  // [[AutoParquetBytes]] for the measured crossover. It
                  // is gated on sparkContext.isLocal: the session pin dir
                  // is a DRIVER-LOCAL java.nio temp dir, so on a
                  // multi-executor-host cluster tasks would write part
                  // files to their own local filesystems and the
                  // read-back would see missing data. A cluster session
                  // gets the checkpoint pin; the durable mode
                  // ([[DurableDirConf]]) is the cluster-correct analog.
                  val useParquet = spark.sparkContext.isLocal &&
                    corpusBytes(spark, dir) >= AutoParquetBytes
                  // Session-local COLUMNAR pin: the durable path rooted at
                  // the session's temp dir. What the block-manager pin can
                  // never give consumers: a vectorized scan with column
                  // pruning and predicate pushdown INTO the pin (a Kryo
                  // DISK_ONLY pin decodes whole rows no matter what the
                  // consumer projects). Same lifetime as a checkpoint
                  // pin — [[clear]] deletes the session root.
                  if (useParquet) parquetPin(sessionRoot(spark).toString)
                  else {
                    val built = build.localCheckpoint(true, DefaultLevel)
                    synchronized { builds += 1 }
                    Entry(built, checkpointRdd(built))
                  }
              }
              store(entry)
              entry.df
          }
        }
    }
  }

  /** The RDD `localCheckpoint` actually persisted: the analyzed plan of a
    * checkpointed Dataset is a LogicalRDD wrapping it. (Never
    * `queryExecution.toRdd` — that re-plans into a fresh
    * MapPartitionsRDD whose unpersist is a no-op on the blocks.)
    */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Fingerprint of the CONTENT LISTING of a corpus dir: every file's
    * (relative name, length, mtime), folded in sorted order. Regenerating
    * a corpus IN PLACE changes sizes/mtimes, so the durable key misses
    * and the stage rebuilds instead of silently serving data derived
    * from the old snapshot (r10 verdict ask #4 — the old path-only key
    * made in-place regeneration "the caller's contract"; the listing is
    * one cheap FileSystem recursion, so the cache can enforce it). The
    * fingerprint deliberately ignores the absolute path prefix — the
    * separate path hash covers identity — so a corpus bit-copied with
    * preserved mtimes keys the same.
    */
  private[graft] def corpusFingerprint(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(p: Path, prefix: String): Unit =
      fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
        val rel = s"$prefix/${st.getPath.getName}"
        if (st.isDirectory) walk(st.getPath, rel)
        else md.update(
          s"$rel|${st.getLen}|${st.getModificationTime}\n".getBytes("UTF-8"))
      }
    walk(dir, "")
    md.digest().map("%02x".format(_)).mkString.take(12)
  }

  /** Stale-tmp sweep threshold: a `.tmp-*` dir this much older than now
    * belongs to a crashed writer (a live writer's parquet job keeps
    * touching its files), so it is safe to reclaim. */
  private val TmpSweepAgeMs = 60L * 60L * 1000L

  /** Durable mode: parquet under `root`, keyed by (name, corpus dir
    * path, corpus CONTENT fingerprint). Write-once: a pre-existing
    * _SUCCESS short-circuits the build — including across JVMs, which
    * is the cross-session reuse.
    */
  private def durableStage(spark: SparkSession, root: String, dir: String,
      name: String, build: => DataFrame): (DataFrame, Boolean) = {
    val dirHash = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical(dir).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val hconf = spark.sparkContext.hadoopConfiguration
    val corpusPath = new Path(canonical(dir))
    val fpHash = corpusFingerprint(corpusPath.getFileSystem(hconf), corpusPath)
    val target = new Path(root, s"$name-$dirHash-$fpHash")
    val fs = target.getFileSystem(hconf)
    def complete(): Boolean = fs.exists(new Path(target, "_SUCCESS"))
    // reclaim crashed writers' tmp dirs for this stage (age-gated so a
    // LIVE concurrent writer's tmp is never deleted mid-write)
    sweepStaleTmps(fs, new Path(root), target.getName)
    val wrote = if (complete()) false else {
      val tmp = new Path(root,
        s".${target.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      build.write.mode("overwrite").parquet(tmp.toString)
      finalizeStage(fs, tmp, target, name)
    }
    (spark.read.parquet(target.toString), wrote)
  }

  /** Rename `tmp` into place as `target`; returns whether THIS caller's
    * write became the stage. Handles both cross-JVM race outcomes
    * (ADVICE r10): on HDFS-like systems a rename onto an existing target
    * returns false, but POSIX-mv filesystems (RawLocalFileSystem) move
    * tmp INSIDE the existing target and return true — detect the nested
    * dir, delete it, and count the caller as the race loser. Either way
    * a loser requires the winner's _SUCCESS to exist.
    */
  private[graft] def finalizeStage(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, target: Path, name: String): Boolean = {
    def complete(): Boolean = fs.exists(new Path(target, "_SUCCESS"))
    if (!fs.rename(tmp, target)) {
      val winnerOk = complete()
      fs.delete(tmp, true)
      require(winnerOk,
        s"stage $name: rename to $target failed and no complete stage exists")
      false
    } else {
      val nested = new Path(target, tmp.getName)
      if (fs.exists(nested)) { // POSIX mv nested us inside the winner
        fs.delete(nested, true)
        require(complete(),
          s"stage $name: lost rename race but no complete stage at $target")
        false
      } else true
    }
  }

  /** Delete `.{stage}.tmp-*` dirs older than [[TmpSweepAgeMs]] — orphans
    * from crashed writers that would otherwise leak cache-dir disk
    * forever (tolerated-race losers already clean up after themselves).
    *
    * Age is the NEWEST mtime found in a shallow recursive listing of the
    * tmp dir, not the dir's own mtime (r11 ADVICE): a parquet job writes
    * into a `_temporary` subtree, so the top dir's mtime goes quiet the
    * moment the job starts — a legitimate cross-JVM build running longer
    * than the sweep age would have its LIVE tmp swept out from under it,
    * turning a tolerated rename race into a failed write. The recursive
    * walk sees the task files the job keeps creating, so a live writer's
    * tmp always looks fresh.
    */
  private def sweepStaleTmps(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, stageName: String): Unit =
    try {
      val cutoff = System.currentTimeMillis() - TmpSweepAgeMs
      fs.listStatus(root).foreach { st =>
        if (st.isDirectory &&
            st.getPath.getName.startsWith(s".$stageName.tmp-") &&
            newestMtime(fs, st.getPath, st.getModificationTime) < cutoff)
          fs.delete(st.getPath, true)
      }
    } catch { case _: java.io.FileNotFoundException => () }

  /** Newest modification time across `p` and everything under it. A
    * concurrently-deleted subtree (the race loser cleaning up) reads as
    * "fresh" — the conservative direction for a sweep.
    */
  private def newestMtime(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      own: Long): Long =
    try {
      fs.listStatus(p).foldLeft(own) { (acc, st) =>
        val m =
          if (st.isDirectory) newestMtime(fs, st.getPath, st.getModificationTime)
          else st.getModificationTime
        math.max(acc, m)
      }
    } catch { case _: java.io.FileNotFoundException => Long.MaxValue }

  /** Drop this session's entries and unpersist their checkpoint blocks
    * (blocking, so a post-clear bench window starts clean). Durable
    * parquet stages are left on disk — reuse is their purpose; delete
    * the cache dir to invalidate them.
    */
  def clear(spark: SparkSession): Unit = synchronized {
    Option(sessions.remove(spark)).foreach(_.valuesIterator.foreach { e =>
      try e.persisted.foreach(_.unpersist(blocking = true))
      catch { case NonFatal(_) => () }
    })
    Option(sessionRoots.remove(spark)).foreach { d =>
      deleteRecursively(d); exitSweep.remove(d)
    }
  }

  /** Session pin roots not yet reclaimed by [[clear]], swept at
    * JVM exit — a bench or batch job that never calls clear() must not
    * leak multi-GB pin dirs into the temp filesystem (a full sf10 suite
    * pins ~3 GB; repeated runs would fill the disk). clear() removes
    * its dirs from this set after deleting them, so the hook only
    * touches what is still live at exit.
    */
  private val exitSweep =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  locally {
    // try-wrapped (r16 ADVICE): if StageCache is first touched DURING
    // shutdown, addShutdownHook throws IllegalStateException — the sweep
    // is then simply skipped (temp-dir GC is the OS's backstop), which
    // beats failing the caller. The hook itself only deletes dirs still
    // registered at exit; clear() removes dirs from the set before the
    // hook can see them, and a Spark job still draining at exit belongs
    // to a session that never clear()ed — its reads race the JVM dying
    // anyway, not this sweep specifically.
    try Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = exitSweep.iterator()
      while (it.hasNext) deleteRecursively(it.next())
    }, "graft-stage-pin-sweep"))
    catch { case _: IllegalStateException => () }
  }

  /** Best-effort recursive delete of a session pin root. */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(f => try java.nio.file.Files.deleteIfExists(f)
          catch { case NonFatal(_) => () })
    } catch { case NonFatal(_) => () }

  def size(spark: SparkSession): Int = synchronized {
    Option(sessions.get(spark)).map(_.size).getOrElse(0)
  }

  /** The stage NAMES (key minus the canonical-dir suffix) this session
    * has materialized — for the bench-honesty spec, which holds the set
    * of consumed stages bijective with the bench's `_stage_*` rows.
    */
  private[graft] def stageNames(spark: SparkSession): Set[String] =
    synchronized {
      Option(sessions.get(spark))
        .map(_.keysIterator.map(_.takeWhile(_ != '|')).toSet)
        .getOrElse(Set.empty)
    }
}
