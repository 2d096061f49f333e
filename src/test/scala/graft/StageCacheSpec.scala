package graft

import org.apache.spark.sql.functions._

import graft.engine.StageCache
import graft.engine.ext.Dedup

/** Contract of the session-scoped materialized-intermediate cache, plus the
  * equivalence that makes it safe to route registry wrappers through it:
  * cached-path results must be row-identical to the pure DataFrame-form
  * pipelines they replace.
  */
class StageCacheSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDocs(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("sc-docs").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val corpus = Seq[(Long, String, String, String, Long)](
    (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "web", 60L),
    (2L, "the quick brown fox jumps over the lazy dog again and again!", "en", "web", 61L),
    (3L, "completely different text about training data pipelines at scale", "en", "book", 64L),
    (4L, "the quick brown fox jumps over the lazy dog again and again", "en", "book", 60L))

  test("build thunk runs once per (session, dir, name); dirs are distinct") {
    val dirA = tmpDocs(corpus)
    val dirB = tmpDocs(corpus)
    val before = StageCache.builds
    val a1 = StageCache.materialized(spark, dirA, "spec.stage") {
      spark.range(5).toDF("n")
    }
    val a2 = StageCache.materialized(spark, dirA, "spec.stage") {
      fail("thunk must not re-run for a cached key"); a1
    }
    assert(StageCache.builds === before + 1)
    assert(a2.collect().map(_.getLong(0)).sorted === Array(0L, 1L, 2L, 3L, 4L))
    StageCache.materialized(spark, dirB, "spec.stage")(spark.range(2).toDF("n"))
    assert(StageCache.builds === before + 2)
    // trailing-slash / relative spellings canonicalize to the same key
    StageCache.materialized(spark, dirA + "/", "spec.stage") {
      fail("canonicalized dir must hit the cache"); a1
    }
    assert(StageCache.builds === before + 2)
  }

  test("cached cluster/pair wrappers match the pure DataFrame-form pipelines") {
    val dir = tmpDocs(corpus)
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    val cachedPairs = Dedup.simhashPairs(spark, dir).collect().toSeq
    val purePairs = Dedup.simhashPairs(docs).collect().toSeq
    assert(cachedPairs === purePairs)
    assert(cachedPairs.nonEmpty) // 1/2/4 are near-dups — the fixture has signal

    val cachedClusters = Dedup.simhashClusters(spark, dir).collect().toSeq
    val pureClusters = Dedup.connectedComponents(
      docs.select(col("doc_id")), Dedup.simhashPairs(docs))
      .orderBy(col("doc_id")).collect().toSeq
    assert(cachedClusters === pureClusters)

    val cachedCanon = Dedup.canonicalByQuality(spark, dir).collect().toSeq
    val pureCanon = Dedup.canonicalByQuality(docs).collect().toSeq
    assert(cachedCanon === pureCanon)

    val cachedNgram = Dedup.ngramJaccardPairs(spark, dir).collect().toSeq
    val pureNgram = Dedup.ngramJaccardPairs(docs).collect().toSeq
    assert(cachedNgram === pureNgram)

    val cachedHist = Dedup.thresholdHist(spark, dir).collect().toSeq
    val pureHist = Dedup.thresholdHist(docs).collect().toSeq
    assert(cachedHist === pureHist)
  }

  test("clear unpersists the ACTUAL checkpoint blocks, not a re-planned wrapper") {
    val dir = tmpDocs(corpus.take(1))
    StageCache.clear(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    StageCache.materialized(spark, dir, "spec.unpersist") {
      spark.range(100).toDF("n")
    }.count()
    val added = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(added.nonEmpty, "localCheckpoint must register a persistent RDD")
    StageCache.clear(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(!after.contains(_)),
      s"checkpoint RDDs ${added.intersect(after)} still pinned after clear()")
  }

  test("durable mode writes the stage once and reuses it across sessions") {
    val dir = tmpDocs(corpus)
    val cacheDir = java.nio.file.Files.createTempDirectory("sc-durable").toString
    spark.conf.set(StageCache.DurableDirConf, cacheDir)
    try {
      val before = StageCache.builds
      val d1 = StageCache.materialized(spark, dir, "spec.durable") {
        spark.range(7).toDF("n")
      }
      assert(StageCache.builds === before + 1)
      assert(d1.collect().map(_.getLong(0)).sorted === (0L until 7L).toArray)
      // the materialization is parquet files under the cache dir
      val stageDirs = new java.io.File(cacheDir).listFiles()
        .filter(f => f.isDirectory && !f.getName.startsWith("."))
      assert(stageDirs.length === 1, stageDirs.mkString(", "))
      assert(new java.io.File(stageDirs.head, "_SUCCESS").exists())
      // same session: in-memory hit, no rebuild
      StageCache.materialized(spark, dir, "spec.durable") {
        fail("thunk must not re-run for a cached key"); d1
      }
      assert(StageCache.builds === before + 1)
      // FRESH session (new sessionState, empty in-memory cache): the
      // files short-circuit the build — the cross-session/restart reuse
      // localCheckpoint can never give
      val s2 = spark.newSession()
      s2.conf.set(StageCache.DurableDirConf, cacheDir)
      val d2 = StageCache.materialized(s2, dir, "spec.durable") {
        fail("durable stage on disk must short-circuit the build"); d1
      }
      assert(StageCache.builds === before + 1)
      assert(d2.collect().map(_.getLong(0)).sorted === (0L until 7L).toArray)
      // durable entries pin no executor blocks, and clear leaves files
      StageCache.clear(s2)
      assert(new java.io.File(stageDirs.head, "_SUCCESS").exists())
    } finally {
      spark.conf.unset(StageCache.DurableDirConf)
      StageCache.clear(spark)
    }
  }

  test("durable stage REBUILDS when the corpus is regenerated in place") {
    // r10 verdict ask #4: the durable key folds in the corpus content
    // listing (names, sizes, mtimes), so rewriting the same dir misses
    // the cache instead of silently serving the stale derivation
    val dir = tmpDocs(corpus)
    val cacheDir = java.nio.file.Files.createTempDirectory("sc-fp").toString
    spark.conf.set(StageCache.DurableDirConf, cacheDir)
    try {
      val before = StageCache.builds
      val d1 = StageCache.materialized(spark, dir, "spec.fp") {
        spark.range(3).toDF("n")
      }
      assert(StageCache.builds === before + 1)
      assert(d1.count() === 3)
      // regenerate the corpus IN PLACE (different content -> different
      // file sizes, so the fingerprint changes even at coarse mtimes)
      corpus.take(2).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // fresh session (durable mode's cross-session path): must REBUILD
      val s2 = spark.newSession()
      s2.conf.set(StageCache.DurableDirConf, cacheDir)
      var rebuilt = false
      val d2 = StageCache.materialized(s2, dir, "spec.fp") {
        rebuilt = true; s2.range(4).toDF("n")
      }
      assert(rebuilt, "in-place corpus regeneration served a stale stage")
      assert(StageCache.builds === before + 2)
      assert(d2.count() === 4)
      StageCache.clear(s2)
    } finally {
      spark.conf.unset(StageCache.DurableDirConf)
      StageCache.clear(spark)
    }
  }

  test("rename-race loser on POSIX-mv semantics cleans its nested tmp") {
    // RawLocalFileSystem renames INTO an existing target (POSIX mv):
    // the loser's tmp nests inside the winner's stage dir and rename
    // returns true. finalizeStage must detect the nesting, delete it,
    // and report the caller as the loser (ADVICE r10).
    val root = java.nio.file.Files.createTempDirectory("sc-race").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(root, "stage-abc")
    fs.mkdirs(target)
    fs.create(new org.apache.hadoop.fs.Path(target, "_SUCCESS")).close()
    fs.create(new org.apache.hadoop.fs.Path(target, "part-0.parquet")).close()
    val tmp = new org.apache.hadoop.fs.Path(root, ".stage-abc.tmp-deadbeef")
    fs.mkdirs(tmp)
    fs.create(new org.apache.hadoop.fs.Path(tmp, "part-0.parquet")).close()
    val wrote = StageCache.finalizeStage(fs, tmp, target, "stage-abc")
    assert(!wrote, "race loser must not count as the writer")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(target, tmp.getName)),
      "nested tmp dir leaked inside the winner's stage")
    assert(!fs.exists(tmp))
    assert(fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(target, "part-0.parquet")),
      "winner's stage files must be untouched")
  }

  test("CLI --stage-cache-dir switches a registry query to durable stages") {
    val cacheDir = java.nio.file.Files.createTempDirectory("sc-cli").toString
    val out = java.nio.file.Files.createTempDirectory("sc-cli-out").toString
    try {
      // dedup_clusters rides the simhash pair + cluster stages
      graft.cli.Main.main(Array("--mode", "query", "--query", "dedup_clusters",
        "--input", "/root/testdata/sf0.001", "--output", out,
        "--stage-cache-dir", cacheDir))
      val stages = new java.io.File(cacheDir).listFiles()
        .filter(f => f.isDirectory && !f.getName.startsWith("."))
      assert(stages.nonEmpty, "no durable stage written under --stage-cache-dir")
      assert(stages.forall(d => new java.io.File(d, "_SUCCESS").exists()))
      assert(new java.io.File(s"$out/result").exists())
    } finally {
      spark.conf.unset(StageCache.DurableDirConf) // Main set it on the shared session
      StageCache.clear(spark)
    }
  }

  test("clear drops the session's entries") {
    val dir = tmpDocs(corpus.take(1))
    StageCache.materialized(spark, dir, "spec.clear")(spark.range(1).toDF("n"))
    assert(StageCache.size(spark) > 0)
    StageCache.clear(spark)
    assert(StageCache.size(spark) === 0)
    val before = StageCache.builds
    StageCache.materialized(spark, dir, "spec.clear")(spark.range(1).toDF("n"))
    assert(StageCache.builds === before + 1)
  }

  test("AUTO mode picks the parquet pin at/above the size crossover") {
    val dir = tmpDocs(corpus.take(1))
    StageCache.clear(spark)
    // no StorageLevelConf: AUTO. Threshold 1 byte makes the tiny fixture
    // dir count as "large", so AUTO must choose the columnar pin.
    spark.conf.set(StageCache.AutoParquetBytesConf, "1")
    try {
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val d = StageCache.materialized(spark, dir, "spec.auto.pq") {
        spark.range(3).toDF("n")
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet === pinnedBefore)
      assert(d.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.nonEmpty, "AUTO above threshold must yield a parquet file scan")
    } finally {
      spark.conf.unset(StageCache.AutoParquetBytesConf)
      StageCache.clear(spark)
    }
    // same fixture below the (default, 64 MB) threshold: checkpoint pin
    val dir2 = tmpDocs(corpus.take(1))
    val before2 = spark.sparkContext.getPersistentRDDs.keySet
    StageCache.materialized(spark, dir2, "spec.auto.ckpt") {
      spark.range(3).toDF("n")
    }.count()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before2).nonEmpty,
      "AUTO below threshold must localCheckpoint (block-manager pin)")
    StageCache.clear(spark)
  }

  test("explicit StorageLevelConf overrides the AUTO size rule") {
    val dir = tmpDocs(corpus.take(1))
    StageCache.clear(spark)
    spark.conf.set(StageCache.AutoParquetBytesConf, "1") // would say parquet
    spark.conf.set(StageCache.StorageLevelConf, "DISK_ONLY")
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      StageCache.materialized(spark, dir, "spec.override") {
        spark.range(3).toDF("n")
      }.count()
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
        "explicit level must checkpoint even when AUTO would pick parquet")
    } finally {
      spark.conf.unset(StageCache.StorageLevelConf)
      spark.conf.unset(StageCache.AutoParquetBytesConf)
      StageCache.clear(spark)
    }
  }

  test("PARQUET level pins the stage as session-local parquet files") {
    val dir = tmpDocs(corpus.take(1))
    StageCache.clear(spark)
    spark.conf.set(StageCache.StorageLevelConf, "PARQUET")
    try {
      val before = StageCache.builds
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val d1 = StageCache.materialized(spark, dir, "spec.parquet") {
        spark.range(9).toDF("n")
      }
      assert(StageCache.builds === before + 1)
      // a columnar pin, not a block-manager pin: no persistent RDD, and
      // the plan is a parquet file scan (column pruning / pushdown apply)
      assert(spark.sparkContext.getPersistentRDDs.keySet === pinnedBefore)
      val scan = d1.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scan.nonEmpty, "PARQUET pin must read back as a file scan")
      // written through the durable path: a finalized stage dir named
      // after the stage, under the session's temp root
      val pinDir = scan.get.relation.location.rootPaths.head
      val local = new java.io.File(new java.net.URI(pinDir.toString).getPath)
      val root = local.getParentFile
      assert(local.getName.startsWith("spec.parquet-"), local)
      assert(root.getName.startsWith("graft-stage-"), root)
      assert(new java.io.File(local, "_SUCCESS").isFile, local)
      assert(local.listFiles().exists(_.getName.endsWith(".parquet")), local)
      assert(d1.collect().map(_.getLong(0)).sorted === (0L until 9L).toArray)
      // cached: the thunk must not re-run
      StageCache.materialized(spark, dir, "spec.parquet") {
        fail("thunk must not re-run for a cached key"); d1
      }
      assert(StageCache.builds === before + 1)
      // clear deletes the files and the session root — session lifetime,
      // unlike durable
      StageCache.clear(spark)
      assert(!local.exists(), s"parquet pin $local must be deleted on clear")
      assert(!root.exists(), s"session pin root $root must be deleted on clear")
    } finally {
      spark.conf.unset(StageCache.StorageLevelConf)
      StageCache.clear(spark)
    }
  }

  test("a StorageLevelConf other than PARQUET or DISK_ONLY fails the build, " +
    "naming the allowed values") {
    val dir = tmpDocs(corpus.take(1))
    StageCache.clear(spark)
    try {
      for (bad <- Seq("MEMORY_AND_DISK", "parquett", "")) {
        spark.conf.set(StageCache.StorageLevelConf, bad)
        val e = intercept[IllegalArgumentException] {
          StageCache.materialized(spark, dir, s"spec.bad.$bad") {
            fail("thunk must not run under an invalid pin mode")
          }
        }
        assert(e.getMessage.contains("PARQUET or DISK_ONLY"), bad)
      }
      // case and surrounding blanks are forgiven, not the value
      spark.conf.set(StageCache.StorageLevelConf, " parquet ")
      StageCache.materialized(spark, dir, "spec.lower")(spark.range(2).toDF("n"))
    } finally {
      spark.conf.unset(StageCache.StorageLevelConf)
      StageCache.clear(spark)
    }
  }

  test("a malformed AutoParquetBytesConf falls back to the default threshold") {
    try {
      for (bad <- Seq("64MB", "1e6", "")) {
        spark.conf.set(StageCache.AutoParquetBytesConf, bad)
        assert(StageCache.autoParquetBytes(spark) ===
          StageCache.AutoParquetBytesDefault, bad)
        assert(StageCache.autoModeDesc(spark) === StageCache.autoModeDesc, bad)
      }
      spark.conf.set(StageCache.AutoParquetBytesConf, " 1048576 ")
      assert(StageCache.autoParquetBytes(spark) === 1048576L)
      // and a build under the malformed value takes the default-threshold
      // decision: the tiny fixture pins by checkpoint, no crash
      spark.conf.set(StageCache.AutoParquetBytesConf, "lots")
      val dir = tmpDocs(corpus.take(1))
      val before = spark.sparkContext.getPersistentRDDs.keySet
      StageCache.materialized(spark, dir, "spec.bad.threshold") {
        spark.range(3).toDF("n")
      }.count()
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty)
    } finally {
      spark.conf.unset(StageCache.AutoParquetBytesConf)
      StageCache.clear(spark)
    }
  }
}
