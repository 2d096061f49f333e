package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.engine.streaming.MongoStream

/** Streaming-pipeline test: feed mongod lines through a MemoryStream and
  * check the watermarked windowed A1 aggregation (complete mode, in-memory
  * sink).
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def slowLine(tsIso: String, age: Int, dur: Int): String =
    s"""{"t":{"$$date":"$tsIso"},"s":"I","c":"COMMAND","id":1,"ctx":"c","msg":"Slow query","attr":{"ns":"db.users","command":{"find":"users","filter":{"age":$age}},"durationMillis":$dur}}"""

  test("windowed query stats over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val stats = MongoStream.windowedQueryStats(
      MongoStream.parsedScan(mem.toDF()), windowLen = "1 minute")

    val q = stats.writeStream.format("memory")
      .queryName("stream_stats").outputMode("complete").start()
    try {
      mem.addData(
        slowLine("2023-10-25T10:00:05.000Z", 30, 100),
        slowLine("2023-10-25T10:00:40.000Z", 55, 300), // same window, same pattern
        slowLine("2023-10-25T10:01:10.000Z", 70, 50),  // next window
        """not json at all""",                          // dropped by routing
      )
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT window.start AS ws, Executions, `Min Duration(ms)` AS mn,
          |  `Max Duration(ms)` AS mx, `Avg Duration(ms)` AS av
          |FROM stream_stats ORDER BY ws""".stripMargin).collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[Long]("Executions") === 2L)
      assert(rows(0).getAs[Long]("mn") === 100L)
      assert(rows(0).getAs[Long]("mx") === 300L)
      assert(rows(0).getAs[Double]("av") === 200.0)
      assert(rows(1).getAs[Long]("Executions") === 1L)
    } finally q.stop()
  }

  test("file-source streaming: readStream.text through windowed query stats") {
    val dir = java.nio.file.Files.createTempDirectory("stream-in").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "a.log").toPath,
      slowLine("2023-10-25T10:00:05.000Z", 30, 100) + "\n" +
        slowLine("2023-10-25T10:00:40.000Z", 55, 300) + "\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "b.log").toPath,
      slowLine("2023-10-25T10:01:10.000Z", 70, 50) + "\n")
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1).text(dir.getAbsolutePath)
    val q = MongoStream.windowedQueryStats(MongoStream.parsedScan(stream))
      .writeStream.format("memory").queryName("file_stats")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "stream did not drain in time")
      val rows = spark.sql(
        "SELECT Executions FROM file_stats ORDER BY window.start").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(2L, 1L))
    } finally q.stop()
  }

  test("native session windows merge events within the gap") {
    import graft.engine.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.UserEvent]
    val q = EventStream.sessionStats(mem.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("complete").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 10:00:00"), 1.5),
        EventStream.UserEvent(1L, ts("2023-10-25 10:10:00"), 2.5),  // same session
        EventStream.UserEvent(1L, ts("2023-10-25 11:30:00"), 4.0),  // gap > 30m → new
        EventStream.UserEvent(2L, ts("2023-10-25 10:05:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT user_id, n_events, sum_value_c FROM stream_sessions
          |ORDER BY user_id, session_start""".stripMargin).collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
        Seq((1L, 2L, 400L), (1L, 1L, 400L), (2L, 1L, 100L)))
    } finally q.stop()
  }

  test("session batch twin matches the streaming session_window on real events") {
    import graft.engine.streaming.EventStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val typed = graft.engine.ingest.Sources.events(spark, dir)
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("event_time"),
        col("value"))
      .as[EventStream.UserEvent].collect()
    val mem = MemoryStream[EventStream.UserEvent]
    val q = EventStream.sessionStats(mem.toDF())
      .writeStream.format("memory").queryName("twin_sessions")
      .outputMode("complete").start()
    try {
      mem.addData(typed.toSeq)
      q.processAllAvailable()
      val streamed = spark.sql(
        """SELECT user_id, unix_micros(session_start), unix_micros(session_end),
          |  n_events, sum_value_c FROM twin_sessions""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).sortBy(t => (t._1, t._2))
      val batch = EventStream.sessionStatsBatch(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
      assert(streamed.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("timer-sessionizer batch twin matches the real processor on real events") {
    // the oracle row (stream_timer_sessions_batch) states the processor's
    // fold; THIS closes the loop — the actual SessionTimerProcessor on
    // RocksDB, fed the whole sf0.001 events fixture in one batch, then a
    // far-future advancer (sentinel user) to expire every timer, must
    // emit exactly the twin's row set
    import graft.engine.streaming.EventStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val typed = graft.engine.ingest.Sources.events(spark, dir)
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("event_time"),
        col("value"))
      .as[EventStream.UserEvent].collect()
    val sentinel = -1L
    val advancer = EventStream.UserEvent(sentinel,
      new java.sql.Timestamp(typed.map(_.event_time.getTime).max
        + 2L * 86400000L), 0.0)
    val mem = MemoryStream[EventStream.UserEvent]
    val q = EventStream.sessionsTws(mem.toDS(), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("twin_timer_sessions")
      .outputMode("append").start()
    try {
      mem.addData(typed.toSeq)
      q.processAllAvailable()
      mem.addData(advancer) // watermark past every last-event + gap
      q.processAllAvailable()
      val streamed = spark.sql(
        s"""SELECT user_id, session_start_us, session_end_us, n_events,
           |  sum_value_c FROM twin_timer_sessions
           |WHERE user_id != $sentinel""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
      val twin = EventStream.timerSessionsBatch(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
      assert(streamed.nonEmpty && streamed === twin)
    } finally {
      q.stop()
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("event-time timers close sessions exactly once as the watermark passes") {
    import graft.engine.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EventStream.UserEvent]
    val q = EventStream.sessionsTws(mem.toDS(), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("tws_sessions")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // user 1: two events 10 min apart (one session); user 2: one event
      mem.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 10:00:00"), 1.5),
        EventStream.UserEvent(1L, ts("2023-10-25 10:10:00"), 2.5),
        EventStream.UserEvent(2L, ts("2023-10-25 10:05:00"), 1.0))
      q.processAllAvailable()
      // nothing closed yet: watermark is at 10:10, gaps not expired
      assert(spark.sql("SELECT * FROM tws_sessions").collect().isEmpty)
      // a later event advances the watermark past every open gap
      mem.addData(EventStream.UserEvent(9L, ts("2023-10-25 12:00:00"), 0.1))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT user_id, session_start_us, session_end_us, n_events,
          |  sum_value_c FROM tws_sessions ORDER BY user_id""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      def us(s: String) = ts(s).getTime * 1000L
      assert(rows.toSeq === Seq(
        (1L, us("2023-10-25 10:00:00"), us("2023-10-25 10:40:00"), 2L, 400L),
        (2L, us("2023-10-25 10:05:00"), us("2023-10-25 10:35:00"), 1L, 100L)))
      // advancing further closes the advancer's own 12:00 session (a
      // THIRD row) but must not re-emit the first two: append-once
      mem.addData(EventStream.UserEvent(9L, ts("2023-10-25 13:00:00"), 0.1))
      q.processAllAvailable()
      val after = spark.sql(
        """SELECT user_id, count(*) FROM tws_sessions GROUP BY user_id
          |ORDER BY user_id""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(after.toSeq === Seq((1L, 1L), (2L, 1L), (9L, 1L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("timer sessions extend start backwards for in-watermark out-of-order events") {
    import graft.engine.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EventStream.UserEvent]
    val q = EventStream.sessionsTws(mem.toDS(), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("tws_sessions_ooo")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      def us(s: String) = ts(s).getTime * 1000L
      mem.addData(EventStream.UserEvent(1L, ts("2023-10-25 10:20:00"), 1.0))
      q.processAllAvailable() // watermark 10:10
      // out-of-order but within the watermark: must merge AND pull the
      // session start back to 10:15
      mem.addData(EventStream.UserEvent(1L, ts("2023-10-25 10:15:00"), 2.0))
      q.processAllAvailable()
      mem.addData(EventStream.UserEvent(9L, ts("2023-10-25 12:00:00"), 0.1))
      q.processAllAvailable() // watermark 11:50 closes user 1
      val rows = spark.sql(
        """SELECT session_start_us, session_end_us, n_events, sum_value_c
          |FROM tws_sessions_ooo WHERE user_id = 1""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(rows.toSeq === Seq(
        (us("2023-10-25 10:15:00"), us("2023-10-25 10:50:00"), 2L, 300L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("mapGroupsWithState accumulates per-user profiles across batches") {
    import graft.engine.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.UserEvent]
    val q = EventStream.userProfiles(mem.toDS())
      .writeStream.format("memory").queryName("stream_profiles")
      .outputMode("update").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(EventStream.UserEvent(7L, ts("2023-10-25 10:00:00"), 1.0))
      q.processAllAvailable()
      mem.addData(EventStream.UserEvent(7L, ts("2023-10-25 10:01:00"), 2.0))
      q.processAllAvailable()
      // update-mode memory sink appends each batch's snapshot; the latest
      // row for user 7 must carry state accumulated over BOTH batches
      val last = spark.sql(
        """SELECT n_events, sum_value_c FROM stream_profiles
          |ORDER BY n_events DESC LIMIT 1""".stripMargin).head()
      assert(last.getLong(0) === 2L)
      assert(last.getLong(1) === 300L)
    } finally q.stop()
  }

  test("transformWithState accumulates the same profiles on the RocksDB store") {
    import graft.engine.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EventStream.UserEvent]
    val q = EventStream.userProfilesTws(mem.toDS())
      .writeStream.format("memory").queryName("tws_profiles")
      .outputMode("update").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(EventStream.UserEvent(7L, ts("2023-10-25 10:00:00"), 1.0))
      q.processAllAvailable()
      mem.addData(EventStream.UserEvent(7L, ts("2023-10-25 10:01:00"), 2.0))
      q.processAllAvailable()
      val last = spark.sql(
        """SELECT n_events, sum_value_c FROM tws_profiles
          |ORDER BY n_events DESC LIMIT 1""".stripMargin).head()
      assert(last.getLong(0) === 2L)
      assert(last.getLong(1) === 300L)
    } finally {
      q.stop()
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("profile batch twin matches the streaming fold on real events") {
    import graft.engine.streaming.EventStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // feed the REAL events fixture through the streaming operator…
    val typed = graft.engine.ingest.Sources.events(spark, dir)
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("event_time"),
        col("value"))
      .as[EventStream.UserEvent].collect()
    val mem = MemoryStream[EventStream.UserEvent]
    val q = EventStream.userProfiles(mem.toDS())
      .writeStream.format("memory").queryName("twin_profiles")
      .outputMode("update").start()
    try {
      mem.addData(typed.toSeq)
      q.processAllAvailable()
      val streamed = spark.sql(
        """SELECT user_id, n_events, sum_value_c, last_seen_us
          |FROM twin_profiles""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      // …and assert the oracle-checked batch twin states the same fold
      val batch = EventStream.userProfilesBatch(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(streamed.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("streaming conversion lag converges to the batch fold across batches") {
    import graft.engine.streaming.EventStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = "/root/testdata/sf0.001"
    val typed = graft.engine.ingest.Sources.events(spark, dir)
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("event_time"),
        col("event_type"))
      .as[EventStream.TypedEvent].collect()
    val mem = MemoryStream[EventStream.TypedEvent]
    val q = EventStream.conversionLagTws(mem.toDS())
      .writeStream.format("memory").queryName("tws_conv")
      .outputMode("update").start()
    try {
      // arbitrary split: min-fold state must converge regardless
      val (a, b) = typed.splitAt(typed.length / 3)
      mem.addData(a.toSeq); q.processAllAvailable()
      mem.addData(b.toSeq); q.processAllAvailable()
      // the emitted mins are monotone: min() over all snapshots IS the
      // final state, no reliance on sink row order
      val streamed = spark.sql(
        """SELECT user_id, min(min_purchase_us) - min(min_view_us) AS lag_us
          |FROM tws_conv GROUP BY user_id
          |HAVING min(min_view_us) < 9223372036854775807
          |   AND min(min_purchase_us) > min(min_view_us)
          |   AND min(min_purchase_us) < 9223372036854775807""".stripMargin)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val batch = graft.engine.ingest.Sources.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view",
            expr("(ts_us div 1000) * 1000"))).as("v"),
          min(when(col("event_type") === "purchase",
            expr("(ts_us div 1000) * 1000"))).as("p"))
        .filter(col("p") > col("v"))
        .select(col("user_id"), (col("p") - col("v")).as("lag_us")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq)
    } finally {
      q.stop()
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel advances ordered steps across micro-batches") {
    import graft.engine.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.TypedEvent]
    val q = EventStream.funnelStates(mem.toDS())
      .writeStream.format("memory").queryName("stream_funnel")
      .outputMode("update").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // batch 1: user 1 views then clicks; user 2 purchases FIRST (must
      // not count — no prior click)
      mem.addData(
        EventStream.TypedEvent(1L, ts("2023-10-25 10:00:00"), "view"),
        EventStream.TypedEvent(1L, ts("2023-10-25 10:00:10"), "click"),
        EventStream.TypedEvent(2L, ts("2023-10-25 10:00:00"), "purchase"))
      q.processAllAvailable()
      // batch 2: user 1 completes; user 2 starts the funnel properly
      mem.addData(
        EventStream.TypedEvent(1L, ts("2023-10-25 10:00:20"), "purchase"),
        EventStream.TypedEvent(2L, ts("2023-10-25 10:00:30"), "view"))
      q.processAllAvailable()
      val depths = spark.sql(
        """SELECT user_id, max(depth) AS depth FROM stream_funnel
          |GROUP BY user_id ORDER BY user_id""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(depths.toSeq === Seq((1L, 3L), (2L, 1L)))
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark keeps first occurrence") {
    import graft.engine.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.UserEvent]
    // streaming twin of dedup_exact: state bounded by the watermark horizon
    val deduped = mem.toDF()
      .withWatermark("event_time", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id")
    val q = deduped.writeStream.format("memory")
      .queryName("stream_dedup").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 10:00:00"), 1.0),
        EventStream.UserEvent(1L, ts("2023-10-25 10:00:30"), 2.0), // dup key
        EventStream.UserEvent(2L, ts("2023-10-25 10:00:10"), 3.0))
      q.processAllAvailable()
      mem.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 10:01:00"), 4.0)) // still dup
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, value FROM stream_dedup ORDER BY user_id").collect()
      assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
        Seq((1L, 1.0), (2L, 3.0)))
    } finally q.stop()
  }

  private def mysqlEntry(time: String, qtSec: Double, query: String): String =
    s"""# Time: $time
       |# User@Host: app[app] @ h [ip] thread_id: 1
       |# Query_time: $qtSec Lock_time: 0.001 Rows_sent: 1 Rows_examined: 2
       |SET timestamp=1;
       |$query
       |""".stripMargin

  test("streaming MySQL source: lineSep-delimited files through windowed aggregate") {
    import graft.engine.streaming.MySqlStream
    val dir = java.nio.file.Files.createTempDirectory("mysql-stream").toFile
    // file a: server preamble + two entries in the same minute
    java.nio.file.Files.writeString(new java.io.File(dir, "a.log").toPath,
      "/usr/sbin/mysqld, Version: 8.0 started with:\nTime Id Command Argument\n" +
        mysqlEntry("231026 10:00:01", 1.0, "SELECT * FROM t WHERE id = 7;") +
        mysqlEntry("231026 10:00:41", 3.0, "SELECT * FROM t WHERE id = 9;"))
    // file b: one entry in the next minute, same pattern
    java.nio.file.Files.writeString(new java.io.File(dir, "b.log").toPath,
      mysqlEntry("231026 10:01:10", 2.0, "SELECT * FROM t WHERE id = 11;"))
    val agg = MySqlStream.windowedAggregate(
      MySqlStream.entryStream(spark, dir.getAbsolutePath, maxFilesPerTrigger = 1))
    val q = agg.writeStream.format("memory").queryName("mysql_stream_agg")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "stream did not drain in time")
      val rows = spark.sql(
        """SELECT window.start AS ws, Normalized_Query, Executions,
          |  Min_Query_time_ms, Max_Query_time_ms, Sample_Query
          |FROM mysql_stream_agg ORDER BY ws""".stripMargin).collect()
      assert(rows.length === 2) // preamble gated out; 2 windows, 1 pattern each
      assert(rows.forall(_.getAs[String]("Normalized_Query") ===
        "SELECT * FROM T WHERE ID = ?;"))
      assert(rows(0).getAs[Long]("Executions") === 2L)
      assert(rows(0).getAs[Double]("Min_Query_time_ms") === 1000.0)
      assert(rows(0).getAs[Double]("Max_Query_time_ms") === 3000.0)
      // earliest-event-time sample within the window
      assert(rows(0).getAs[String]("Sample_Query") === "SELECT * FROM t WHERE id = 7;")
      assert(rows(1).getAs[Long]("Executions") === 1L)
    } finally q.stop()
  }

  test("eventTime honors the zone designator under a non-UTC session TZ") {
    import graft.engine.streaming.MySqlStream
    import spark.implicits._
    val df = Seq(
      "2023-10-26T10:00:01.000000Z",      // UTC instant
      "2023-10-26T12:30:01.000000+02:30", // SAME instant, offset form
      "2023-10-26T10:00:01",              // zone-less: session-local by design
      "231026 10:00:01",                  // legacy: session-local by design
      "garbage").toDF("t")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = df.select(
        org.apache.spark.sql.functions.unix_timestamp(
          MySqlStream.eventTime(org.apache.spark.sql.functions.col("t"))).as("s"))
        .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
      assert(e(0) === 1698314401L)  // 2023-10-26T10:00:01Z, NOT shifted by -4h
      assert(e(1) === e(0))         // offset form resolves to the same instant
      assert(e(2) === e(0) + 4 * 3600) // EDT local reading, 4h later as an instant
      assert(e(3) === e(2))         // legacy form matches the zone-less reading
      assert(e(4) === -1L)          // unparsable stays NULL
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("streaming entry restoration matches the batch delimited reader") {
    import graft.engine.streaming.MySqlStream
    import graft.engine.ingest.Sources
    import graft.engine.mysql.MySqlLogPipeline
    val dir = java.nio.file.Files.createTempDirectory("mysql-parity").toFile
    val f = new java.io.File(dir, "slow.log")
    java.nio.file.Files.writeString(f.toPath,
      mysqlEntry("231026 10:00:01", 1.0, "SELECT a FROM x;") +
        mysqlEntry("231026 10:00:02", 2.0, "SELECT b FROM y WHERE k = 3;"))
    // same lineSep trick on a BATCH read — entry bytes must match readDelimited
    val streamShaped = MySqlStream.restoreEntries(
      spark.read.option("lineSep", Sources.EntryMarker).text(f.getAbsolutePath))
    val batch = Sources.readDelimited(spark, f.getAbsolutePath)
    assert(streamShaped.select("entry").collect().map(_.getString(0)).sorted.toSeq ===
      batch.select("entry").collect().map(_.getString(0)).sorted.toSeq)
    val d = MySqlLogPipeline.parseEntries(streamShaped).detailed
    assert(d.count() === 2L)
  }

  test("stream-stream interval join attributes purchases to in-horizon views") {
    import graft.engine.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[EventStream.UserEvent]
    val purchases = MemoryStream[EventStream.UserEvent]
    val joined = EventStream.attributedPurchases(
      views.toDF(), purchases.toDF(), horizon = "1 hour")
    val q = joined.writeStream.format("memory")
      .queryName("stream_attr").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // user 1: two views inside the horizon, one stale view outside it;
      // user 2: a view but no purchase — must emit nothing.
      views.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 08:00:00"), 0.0), // stale
        EventStream.UserEvent(1L, ts("2023-10-25 09:30:00"), 0.0),
        EventStream.UserEvent(2L, ts("2023-10-25 09:40:00"), 0.0))
      purchases.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 10:00:00"), 9.99))
      q.processAllAvailable()
      views.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 09:50:00"), 0.0)) // late view, still in horizon
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT user_id, view_time FROM stream_attr
          |ORDER BY view_time""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString))
      assert(rows.toSeq === Seq(
        (1L, "2023-10-25 09:30:00.0"),
        (1L, "2023-10-25 09:50:00.0")))
    } finally q.stop()
  }

  test("left-outer interval join emits unattributed purchases on eviction only") {
    import graft.engine.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[EventStream.UserEvent]
    val purchases = MemoryStream[EventStream.UserEvent]
    val un = EventStream.unattributedPurchases(
      views.toDF(), purchases.toDF(), horizon = "1 hour",
      watermarkDelay = "0 seconds")
    val q = un.writeStream.format("memory")
      .queryName("stream_unattr").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // user 1 purchases WITH an in-horizon view; user 2 purchases with
      // only a stale (out-of-horizon) view — organic
      views.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 09:30:00"), 0.0),
        EventStream.UserEvent(2L, ts("2023-10-25 07:00:00"), 0.0))
      purchases.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 10:00:00"), 9.99),
        EventStream.UserEvent(2L, ts("2023-10-25 10:00:00"), 5.0))
      q.processAllAvailable()
      // nothing emitted yet: a matching view could still arrive for
      // user 2 — the outer row must wait for watermark eviction
      assert(spark.sql("SELECT * FROM stream_unattr").collect().isEmpty)
      // advance BOTH watermarks far past purchase + horizon
      views.addData(EventStream.UserEvent(9L, ts("2023-10-25 15:00:00"), 0.0))
      purchases.addData(EventStream.UserEvent(9L, ts("2023-10-25 15:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id FROM stream_unattr ORDER BY user_id").collect()
        .map(_.getLong(0))
      assert(rows.toSeq === Seq(2L), rows.mkString(","))
    } finally q.stop()
  }

  test("unattributed batch twin complements attribution on real events") {
    import graft.engine.streaming.EventStream
    val dir = "/root/testdata/sf0.001"
    // same operator code, bounded input: the unattributed set must be
    // exactly (all purchases) minus (attributed purchase ids)
    val attributed = EventStream.attributedPurchasesBatch(spark, dir)
      .select("event_id").distinct().collect().map(_.getLong(0)).toSet
    val unattributed = EventStream.unattributedPurchasesBatch(spark, dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val all = graft.engine.ingest.Sources.events(spark, dir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(unattributed.nonEmpty && attributed.nonEmpty)
    assert((attributed intersect unattributed).isEmpty)
    assert((attributed union unattributed) === all)
  }

  test("chained stateful ops: windowed rollup AFTER the stream-stream join") {
    import graft.engine.streaming.EventStream
    import org.apache.spark.sql.functions.{window, col, count, lit}
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[EventStream.UserEvent]
    val purchases = MemoryStream[EventStream.UserEvent]
    // two stateful operators in one streaming query: interval join, then
    // a watermark-closed windowed aggregate over the join output
    val rolled = EventStream.attributedPurchases(
        views.toDF(), purchases.toDF(), horizon = "1 hour")
      .groupBy(window(col("purchase_time"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_attributed"))
    val q = rolled.writeStream.format("memory")
      .queryName("stream_attr_rollup").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      views.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 09:30:00"), 0.0),
        EventStream.UserEvent(1L, ts("2023-10-25 09:45:00"), 0.0))
      purchases.addData(
        EventStream.UserEvent(1L, ts("2023-10-25 10:00:00"), 9.99))
      q.processAllAvailable()
      // advance BOTH inputs far past the window so the min-watermark
      // closes [10:00, 11:00) through the join's delay chain
      views.addData(EventStream.UserEvent(9L, ts("2023-10-25 15:00:00"), 0.0))
      purchases.addData(EventStream.UserEvent(9L, ts("2023-10-25 15:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT user_id, n_attributed FROM stream_attr_rollup
          |WHERE user_id = 1""".stripMargin).collect()
      assert(rows.length === 1, rows.mkString(","))
      assert(rows(0).getLong(1) === 2L) // both in-horizon views attributed
    } finally q.stop()
  }

  test("windowed error rollup over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val errs = MongoStream.windowedErrors(MongoStream.parsedScan(mem.toDF()))
    val q = errs.writeStream.format("memory")
      .queryName("stream_errs").outputMode("complete").start()
    try {
      mem.addData(
        """{"t":{"$date":"2023-10-25T10:00:01.000Z"},"s":"E","c":"S","id":1,"ctx":"c","msg":"Index build failed","attr":{"error":{"code":1,"codeName":"IndexBuildAborted","errmsg":"x"}}}""",
        """{"t":{"$date":"2023-10-25T10:00:30.000Z"},"s":"E","c":"S","id":1,"ctx":"c","msg":"Index build failed","attr":{"error":{"code":1,"codeName":"IndexBuildAborted","errmsg":"x"}}}""",
      )
      q.processAllAvailable()
      val rows = spark.sql("SELECT totalCount FROM stream_errs").collect()
      assert(rows.length === 1)
      assert(rows(0).getAs[Long]("totalCount") === 2L)
    } finally q.stop()
  }

  test("windowed error rollup counts every line the batch rollup counts") {
    import graft.engine.ingest.Sources
    import graft.engine.mongo.MongoLogPipeline
    implicit val sqlCtx = spark.sqlContext
    val err = """"error":{"code":1,"codeName":"IndexBuildAborted","errmsg":"x"}"""
    val lines = Seq(
      s"""{"t":{"$$date":"2023-10-25T10:00:01.000Z"},"s":"E","c":"S","id":1,"ctx":"c","msg":"Index build failed","attr":{$err}}""",
      // good t.$date, the only defect a mistyped non-error field: the
      // parse keeps its fields and marks it corrupt (valid = false), but
      // the reference, and the batch rollup, still count it as an error
      s"""{"t":{"$$date":"2023-10-25T10:00:30.000Z"},"s":"E","c":"S","id":1,"ctx":"c","msg":"Index build failed","attr":{"durationMillis":"x",$err}}""")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("msg", "error", "errmsg", "totalCount").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val batch = keyed(MongoLogPipeline.errors(
      MongoLogPipeline.parsedScan(Sources.fromLines(spark, lines))))
    assert(batch === Set(("Index build failed", "IndexBuildAborted", "x", 2L)))
    val mem = MemoryStream[String]
    val q = MongoStream.windowedErrors(MongoStream.parsedScan(mem.toDF()))
      .writeStream.format("memory")
      .queryName("stream_errs_vs_batch").outputMode("complete").start()
    try {
      mem.addData(lines: _*)
      q.processAllAvailable()
      assert(keyed(spark.table("stream_errs_vs_batch")) === batch)
    } finally q.stop()
  }
}
