package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.gen.LogGen
import graft.engine.ingest.Sources
import graft.engine.mysql.MySqlLogPipeline
import graft.engine.mongo.MongoLogPipeline
import graft.engine.expr.Normalizers

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry pairs a Spark query with a DuckDB oracle over the same
  * parquet tables. Log-pipeline queries parse log text generated
  * deterministically from those tables ([[LogGen]]), so the oracle can
  * predict the parser's output analytically while Spark exercises the real
  * split/regex/from_json path. All queries end in an explicit total ORDER BY
  * mirrored in the oracle, so row order is deterministic on both sides.
  */
object SparkEntry {

  /** Flagship: full mongo slow-query pipeline (parse → route → fingerprint →
    * aggregate → sort) over log lines generated from sf0.001 events.
    */
  def entry(spark: SparkSession): DataFrame = {
    val lines = LogGen.mongoLines(spark, "/root/testdata/sf0.001")
    MongoLogPipeline.queryStats(
      MongoLogPipeline.detailed(MongoLogPipeline.parsedScan(lines)))
  }

  // ----------------------------------------------------------- helpers

  /** The mysql parse's expensive pass (7-regex battery + projection),
    * materialized once per (session, corpus) — detailed/agg/warnings are
    * cheap derivations, and re-running the battery per registry query
    * was the family's whole steady-state cost (the reference parses
    * once and writes every sheet from memory). Priced by the
    * `_stage_mysql_parsed` bench row; also the BenchStages builder.
    */
  def mysqlParsedStage(s: SparkSession, dir: String): DataFrame =
    graft.engine.StageCache.materialized(s, dir, "logs.mysql_parsed") {
      MySqlLogPipeline.projectedOf(
        MySqlLogPipeline.entriesFromFiles(LogGen.mysqlFiles(s, dir)))
    }

  private def mysqlResult(s: SparkSession, dir: String): MySqlLogPipeline.Result =
    MySqlLogPipeline.resultFromProjected(mysqlParsedStage(s, dir))

  /** The mongo parsed-line scan (from_json + parity verdict per line),
    * materialized once per (session, corpus) — five registry queries
    * (detailed / query_stats / errors / nonslow / parse_errors) are
    * routing filters over it. Priced by `_stage_mongo_scan`.
    * mongo_file_stats (the real-file reader path) and mongo_report_all
    * (the one-persisted-parse census shape) deliberately keep their own
    * scans.
    */
  def mongoScanStage(s: SparkSession, dir: String): DataFrame =
    graft.engine.StageCache.materialized(s, dir, "logs.mongo_scan") {
      MongoLogPipeline.parsedScan(LogGen.mongoLines(s, dir))
    }

  private def mongoScan(s: SparkSession, dir: String): DataFrame =
    mongoScanStage(s, dir)

  /** Materialize the generated logs as REAL text files (once per sf dir) so
    * the file-based sources (S1 readLines, S2 readDelimited) are exercised
    * by the correctness gate, not only the in-memory path.
    *
    * Written as EIGHT part files (r12 — was repartition(1)): range-
    * partitioned on the generation order key and sorted within each part,
    * so lexicographic part-file order concatenates back to generation
    * order — the (file name, in-file offset) contract the readers number
    * by. The multi-file parallel ingest path is therefore what the
    * tri-scale correctness gate checks at EVERY scale, and what the sf1
    * bench measures — not a single-file special case.
    */
  private def logFileDir(s: SparkSession, dir: String, kind: String): String = {
    // v-token guards against stale caches when LogGen's templates change
    // between rounds (same tmp dir, different generation). The SOURCE
    // fingerprint (size+mtime of the parquet the log derives from) guards
    // against the dir's data regenerating in place under the same token —
    // exactly what happened when gen_sf1 grew orders 10x for the r11 TPC-H
    // replicas: the r11 sf1 log rows silently measured the stale 150k-entry
    // fixture instead of the true 1.5M entries.
    def fp(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(fp).sum
      else f.length() + f.lastModified() / 1000
    val src = new java.io.File(dir,
      if (kind == "mysql") "orders.parquet" else "events.parquet")
    val out = new java.io.File(
      new java.io.File(sys.props("java.io.tmpdir"),
        "graft_logs_v4_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + java.lang.Long.toHexString(fp(src))), kind)
    if (!new java.io.File(out, "_SUCCESS").exists()) {
      val df = kind match {
        case "mysql" => LogGen.mysqlFiles(s, dir)
          .repartitionByRange(8, col("file_id"))
          .sortWithinPartitions("file_id").select("content")
        case "mongo" => LogGen.mongoLines(s, dir)
          .repartitionByRange(8, col("line_no"))
          .sortWithinPartitions("line_no").select("line")
      }
      df.write.mode("overwrite").text(out.getAbsolutePath)
    }
    out.getAbsolutePath
  }

  /** Materialize the generated log FILES for `dir` (idempotent). Bench
    * calls this before the timed loop: input-file generation is test
    * fixture setup, not engine work — every other query reads
    * pre-existing parquet the same way.
    */
  def prepare(s: SparkSession, dir: String): Unit = {
    LogGen.mongoLines(s, dir) // sets the nanos read conf
    logFileDir(s, dir, "mysql")
    logFileDir(s, dir, "mongo")
  }

  // ----------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = logQueries ++ ExtQueries.queries

  private def logQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mysql_detailed" -> ((s, dir) =>
      mysqlResult(s, dir).detailed.drop("ord")
        .orderBy(col("file_id"), col("entry_no"))),
    "mysql_agg" -> ((s, dir) => mysqlResult(s, dir).aggregate),
    "mysql_warnings" -> ((s, dir) =>
      mysqlResult(s, dir).warnings
        .orderBy(col("file_id"), col("entry_no"), col("warning"))),
    "mysql_normalize" -> ((s, dir) => {
      val q = concat(
        lit("SELECT p_brand FROM part WHERE p_name = '"), col("p_name"),
        lit("' AND p_size = "), col("p_size").cast("string"),
        lit(" AND p_partkey = "), col("p_partkey").cast("string"),
        lit(" AND p_retailprice > 19.99"))
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), q.as("query"),
          Normalizers.normalizeMySqlQuery(q).as("normalized"))
        .orderBy(col("p_partkey"))
    }),
    "mongo_detailed" -> ((s, dir) =>
      MongoLogPipeline.detailed(mongoScan(s, dir)).orderBy(col("line_no"))),
    "mongo_query_stats" -> ((s, dir) =>
      MongoLogPipeline.queryStats(MongoLogPipeline.detailed(mongoScan(s, dir)))
        .orderBy(desc("Executions"), desc("Avg Duration(ms)"), col("Query Pattern"))),
    "mongo_errors" -> ((s, dir) =>
      MongoLogPipeline.errors(mongoScan(s, dir)).orderBy(col("OriginalLineNumber"))),
    "mongo_nonslow" -> ((s, dir) =>
      MongoLogPipeline.nonSlow(mongoScan(s, dir)).orderBy(col("line_no"))),
    "mongo_parse_errors" -> ((s, dir) =>
      MongoLogPipeline.parseErrors(mongoScan(s, dir)).orderBy(col("line_no"))),
    // S2 file path: the SAME aggregate through real files and cli.Main's
    // entry-record reader instead of wholetext content rows.
    "mysql_scale_agg" -> ((s, dir) =>
      MySqlLogPipeline.parseEntries(
        Sources.readDelimited(s, logFileDir(s, dir, "mysql"))).aggregate),
    // Whole-report census: one checkpointed parse feeding all five branches —
    // the shape a real report run uses (and what Bench should charge for
    // "the full mongo report": one scan, not five).
    "mongo_report_all" -> ((s, dir) =>
      MongoLogPipeline.reportAll(LogGen.mongoLines(s, dir))),
    // S1 file path: the mongo stats through spark.read.textFile + explicit
    // line numbering instead of the in-memory generated lines.
    "mongo_file_stats" -> ((s, dir) => {
      LogGen.mongoLines(s, dir) // sets the nanos read conf for the write path
      MongoLogPipeline.queryStats(MongoLogPipeline.detailed(
        MongoLogPipeline.parsedScan(
          Sources.readLines(s, logFileDir(s, dir, "mongo")))))
        .orderBy(desc("Executions"), desc("Avg Duration(ms)"), col("Query Pattern"))
    }),
  )

  // ----------------------------------------------------------- oracles

  /** Shared DuckDB CTE fragments mirroring LogGen's deterministic
    * generation; see LogGen.scala for the one-true-spec of each template.
    */
  private val mysqlGen =
    """WITH g AS (
      |  SELECT o_orderkey AS k, o_custkey AS c, o_orderdate AS od,
      |         o_orderkey % 5 AS m,
      |         o_orderkey // 1000 AS file_id,
      |         o_orderkey % 1000 + 1 AS entry_no
      |  FROM orders
      |), q AS (
      |  SELECT *,
      |    CASE m
      |      WHEN 0 THEN 'SELECT * FROM ' || ['orders','customer','part'][(k % 3 + 1)::INT] || ' WHERE id = ' || k || ';'
      |      WHEN 1 THEN 'SELECT c_name FROM customer WHERE c_custkey = ' || (c % 1500) || ' AND c_mktsegment = ''SEG' || (k % 5) || ''' AND c_acctbal > 19.99;'
      |      WHEN 2 THEN 'UPDATE orders SET o_orderstatus = ''S'' WHERE o_orderkey = ' || k || '; -- retry ' || (k % 4)
      |      WHEN 3 THEN 'SELECT o1.o_orderkey,' || chr(10) || '  o1.o_totalprice' || chr(10) || 'FROM orders o1' || chr(10) || 'WHERE o1.o_custkey = ' || (c % 1500) || ' LIMIT 10;'
      |      ELSE NULL END AS query,
      |    CASE WHEN k % 97 = 0 THEN 'bad' ELSE CAST(k % 7 AS VARCHAR) END AS qt_raw,
      |    CASE WHEN k % 97 = 0 THEN CAST(0 AS DOUBLE)
      |         ELSE CAST(k % 7 AS DOUBLE) * 1000 END AS qt_ms
      |  FROM g
      |), d AS (
      |  SELECT file_id, entry_no, k, m, qt_raw,
      |    CAST(epoch_us(od) AS VARCHAR) AS "Time",
      |    'user' || (c % 20) || '[u] @ host' || (c % 7) || ' [10.0.0.' || (c % 7) || ']' AS "User@Host",
      |    qt_ms AS "Query_time (ms)",
      |    '0.00' || (k % 10) AS "Lock_time",
      |    CAST(k % 100 AS VARCHAR) AS "Rows_sent",
      |    CAST(k % 1000 AS VARCHAR) AS "Rows_examined",
      |    COALESCE(query, 'N/A (Query not captured)') AS "Query",
      |    CASE WHEN m = 4 THEN 'N/A (Query not captured)'
      |         ELSE upper(regexp_replace(query, '(\b\d+\b)|(''[^'']*'')', '?', 'g')) END AS "Normalized_Query"
      |  FROM q WHERE k % 53 <> 0
      |)
      |""".stripMargin

  private val mongoGen =
    """WITH e AS (
      |  SELECT event_id AS eid, user_id AS uid, event_type AS et,
      |         CAST(epoch_us(ts) AS VARCHAR) AS tss,
      |         CAST(floor("value" * 100) AS BIGINT) AS dur,
      |         event_id + 1 AS line_no
      |  FROM events
      |), c AS (
      |  SELECT *,
      |    CASE WHEN et = 'click' THEN
      |      '{"find":"coll' || (eid % 5) || '","filter":{"user_id":' || uid || '},"limit":' || (eid % 20) || '}'
      |    WHEN et = 'purchase' AND eid % 2 = 0 THEN
      |      '{"aggregate":"coll' || (eid % 5) || '","pipeline":[{"$match":{"user_id":' || uid || '}},{"$group":{"_id":"$status","n":{"$sum":1}}}],"cursor":{}}'
      |    WHEN et = 'purchase' THEN
      |      '{"aggregate":"coll' || (eid % 5) || '","pipeline":[{"$sort":{"ts":-1}},{"$limit":' || (eid % 9) || '}],"cursor":{}}'
      |    WHEN et = 'error' AND eid % 4 = 0 THEN '{}'
      |    ELSE NULL END AS cmd,
      |    CASE WHEN eid % 4 = 0 THEN 'Slow query'
      |         ELSE ['Connection error','Index build failed','Authentication failed'][(uid % 3 + 1)::INT] END AS emsg,
      |    CASE WHEN eid % 4 = 0 THEN 'InternalError'
      |         ELSE ['HostUnreachable','IndexBuildAborted','AuthenticationFailed'][(uid % 3 + 1)::INT] END AS ecn,
      |    CASE WHEN eid % 4 = 0 THEN 'error while logging slow query'
      |         ELSE ['Connection refused','index build failed on collection','SCRAM mechanism failed'][(uid % 3 + 1)::INT] END AS eem
      |  FROM e
      |), lines AS (
      |  SELECT *,
      |    '{"t":{"$date":"' || tss || '"},"s":"E","c":"STORAGE","id":22435,"ctx":"conn' || uid || '","msg":"' || emsg || '","attr":{"error":{"code":' || (uid % 3 + 100) || ',"codeName":"' || ecn || '","errmsg":"' || eem || '"}}}' AS error_line,
      |    CASE eid % 7
      |      WHEN 4 THEN '{"t":' || eid || ',"s":"I","c":"NETWORK","id":22944,"ctx":"listener","msg":"Client metadata","attr":{"remote":"10.0.0.' || (uid % 255) || '"}}'
      |      ELSE '{"t":{"$date":"' || tss || '"},"s":"I","c":"NETWORK","id":22943,"ctx":"listener","msg":"Connection accepted","attr":{"remote":"10.0.0.' || (uid % 255) || ':' || (eid % 60000) || '","connectionCount":' || (uid % 100) || '}}'
      |    END AS view_line,
      |    '{"t":{"$date":"' || tss || '"},"s":"I","c":"ACCESS","msg":"Successfully authenticated","attr":{"principal":"u' || uid || '"}}' AS signup_line
      |  FROM c
      |)
      |""".stripMargin

  def oracleSql: Map[String, String] = logOracles ++ ExtQueries.oracleSql

  private def logOracles: Map[String, String] = {
    val base = logOraclesBase
    base ++ Map(
      // file-source variants: same results as their in-memory twins, so
      // the oracle SQL is shared verbatim.
      "mysql_scale_agg" -> base("mysql_agg"),
      "mongo_file_stats" -> base("mongo_query_stats"))
  }

  private def logOraclesBase: Map[String, String] = Map(
    "mysql_detailed" -> (mysqlGen +
      """SELECT file_id, entry_no, "Time", "User@Host", "Query_time (ms)",
        |  "Lock_time", "Rows_sent", "Rows_examined", "Query", "Normalized_Query"
        |FROM d ORDER BY file_id, entry_no""".stripMargin),

    "mysql_agg" -> (mysqlGen +
      """SELECT "Normalized_Query",
        |  count(*) AS "Executions",
        |  min("Query_time (ms)") AS "Min_Query_time_ms",
        |  max("Query_time (ms)") AS "Max_Query_time_ms",
        |  round(avg("Query_time (ms)"), 2) AS "Avg_Query_time_ms",
        |  arg_min("Query", k) AS "Sample_Query"
        |FROM d GROUP BY "Normalized_Query" ORDER BY "Normalized_Query"""".stripMargin),

    "mysql_warnings" -> (mysqlGen.dropRight(1) +
      """, entry_text AS (
        |  SELECT *,
        |    '# Time: ' || epoch_us(od) || chr(10) ||
        |    '# User@Host: user' || (c % 20) || '[u] @ host' || (c % 7) || ' [10.0.0.' || (c % 7) || '] thread-id: ' || (c % 50) || chr(10) ||
        |    '# Query_time: ' || qt_raw || ' Lock_time: 0.00' || (k % 10) || ' Rows_sent: ' || (k % 100) || ' Rows_examined: ' || (k % 1000) || chr(10) ||
        |    'SET timestamp=' || (k + 1700000000) || ';' || chr(10) ||
        |    CASE WHEN m = 4 THEN '' ELSE query || chr(10) END AS entry
        |  FROM q WHERE k % 53 = 0
        |)
        |SELECT * FROM (
        |  SELECT k // 1000 AS file_id, k % 1000 + 1 AS entry_no,
        |    'Skipped log entry ' || (k % 1000 + 1) || ' due to missing fields. Details: T:True, UH:False, QT:True, LT:True, RS:True, RE:True, Q:True. Content snippet: ' || substring(entry, 1, 200) || '...' AS warning
        |  FROM entry_text
        |  UNION ALL
        |  SELECT file_id, entry_no,
        |    'Could not parse Query_time: ''' || qt_raw || ''' in entry ' || entry_no || '. Skipping field.' AS warning
        |  FROM d WHERE qt_raw = 'bad'
        |  UNION ALL
        |  SELECT file_id, entry_no,
        |    'Empty query string found in entry ' || entry_no || '. It might be a non-SELECT/INSERT/UPDATE/DELETE statement or a parsing issue.' AS warning
        |  FROM d WHERE m = 4
        |) ORDER BY file_id, entry_no, warning""".stripMargin),

    "mysql_normalize" ->
      """SELECT p_partkey,
        |  'SELECT p_brand FROM part WHERE p_name = ''' || p_name || ''' AND p_size = ' || p_size || ' AND p_partkey = ' || p_partkey || ' AND p_retailprice > 19.99' AS query,
        |  upper(regexp_replace(
        |    'SELECT p_brand FROM part WHERE p_name = ''' || p_name || ''' AND p_size = ' || p_size || ' AND p_partkey = ' || p_partkey || ' AND p_retailprice > 19.99',
        |    '(\b\d+\b)|(''[^'']*'')', '?', 'g')) AS normalized
        |FROM part ORDER BY p_partkey""".stripMargin,

    "mongo_detailed" -> (mongoGen +
      """SELECT line_no, cmd AS "Command",
        |  CASE WHEN et = 'error' THEN 'N/A' ELSE 'coll' || (eid % 5) END AS "Collection",
        |  CASE WHEN et = 'error' THEN '' ELSE 'app' || (uid % 3) END AS "AppName",
        |  CASE WHEN et = 'error' THEN 0 ELSE dur END AS "Duration(ms)",
        |  CAST(CASE WHEN et = 'click' AND eid % 10 <> 0 THEN eid % 50 ELSE 0 END AS BIGINT) AS "KeysExamined",
        |  CAST(CASE WHEN et = 'click' AND eid % 10 <> 0 THEN eid % 500 ELSE 0 END AS BIGINT) AS "DocsExamined",
        |  CAST(CASE WHEN et = 'error' THEN 0 ELSE eid % 5 END AS BIGINT) AS "numYields",
        |  CAST(CASE WHEN et = 'error' THEN 0 ELSE eid % 25 END AS BIGINT) AS "nreturned",
        |  CASE WHEN et IN ('click') THEN '{"user_id":' || uid || '}'
        |       WHEN et = 'purchase' AND eid % 2 = 0 THEN '{"user_id":' || uid || '}'
        |       WHEN et = 'purchase' THEN '{"pipeline_info":"Complex pipeline, see full command"}'
        |       ELSE '{}' END AS "Filter",
        |  CASE WHEN et = 'click' THEN 'COLLSCAN' ELSE '' END AS "Plan",
        |  tss AS "timestamp"
        |FROM lines
        |WHERE et IN ('click','purchase') OR (et = 'error' AND eid % 4 = 0)
        |ORDER BY line_no""".stripMargin),

    "mongo_query_stats" -> (mongoGen +
      """SELECT
        |  CASE WHEN et = 'click' THEN '{"find":<value>,"filter":{"user_id":<value>},"limit":<value>}'
        |       WHEN et = 'purchase' AND eid % 2 = 0 THEN '{"aggregate":<value>,"pipeline":[{"$match":{"user_id":<value>}},{"$group":{"_id":<value>,"n":{"$sum":<value>}}}],"cursor":{}}'
        |       WHEN et = 'purchase' THEN '{"aggregate":<value>,"pipeline":[{"$sort":{"ts":<value>}},{"$limit":<value>}],"cursor":{}}'
        |       ELSE '{}' END AS "Query Pattern",
        |  count(*) AS "Executions",
        |  min(d2) AS "Min Duration(ms)", max(d2) AS "Max Duration(ms)",
        |  round(avg(d2), 2) AS "Avg Duration(ms)",
        |  arg_min(cmd, line_no) AS "Sample Full Query"
        |FROM (SELECT *, CASE WHEN et = 'error' THEN 0 ELSE dur END AS d2 FROM lines)
        |WHERE et IN ('click','purchase') OR (et = 'error' AND eid % 4 = 0)
        |GROUP BY 1
        |ORDER BY "Executions" DESC, "Avg Duration(ms)" DESC, "Query Pattern"""".stripMargin),

    "mongo_errors" -> (mongoGen +
      """SELECT min(line_no) AS "OriginalLineNumber", emsg AS msg, ecn AS error,
        |  eem AS errmsg, count(*) AS "totalCount",
        |  arg_min(error_line, line_no) AS "SampleLine"
        |FROM lines WHERE et = 'error'
        |GROUP BY emsg, ecn, eem
        |ORDER BY "OriginalLineNumber"""".stripMargin),

    // view lines with eid%7 <= 3 are the shape-malformed "Slow query"
    // classes that raise generic exceptions → they are parse errors, not
    // non-slow rows; eid%7 == 4 is non-slow despite its scalar t (the
    // reference never touches t on the non-slow path).
    "mongo_nonslow" -> (mongoGen +
      """SELECT line_no,
        |  CASE WHEN et = 'view' THEN view_line ELSE signup_line END AS "LogLine"
        |FROM lines
        |WHERE (et = 'view' AND eid % 7 >= 4) OR (et = 'signup' AND eid % 3 <> 0)
        |ORDER BY line_no""".stripMargin),

    // Census of all five report branches: each term reuses the branch
    // predicate of its standalone oracle above verbatim.
    "mongo_report_all" -> (mongoGen +
      """SELECT branch, n_rows, checksum FROM (
        |  SELECT 'detailed' AS branch, count(*)::BIGINT AS n_rows,
        |    coalesce(sum(line_no), 0)::BIGINT AS checksum
        |  FROM lines
        |  WHERE et IN ('click','purchase') OR (et = 'error' AND eid % 4 = 0)
        |  UNION ALL
        |  SELECT 'errors', count(*)::BIGINT, coalesce(sum(cnt), 0)::BIGINT FROM (
        |    SELECT count(*)::BIGINT AS cnt FROM lines WHERE et = 'error'
        |    GROUP BY emsg, ecn, eem)
        |  UNION ALL
        |  SELECT 'non_slow', count(*)::BIGINT, coalesce(sum(line_no), 0)::BIGINT
        |  FROM lines
        |  WHERE (et = 'view' AND eid % 7 >= 4) OR (et = 'signup' AND eid % 3 <> 0)
        |  UNION ALL
        |  SELECT 'parse_errors', count(*)::BIGINT, coalesce(sum(line_no), 0)::BIGINT
        |  FROM lines
        |  WHERE (et = 'signup' AND eid % 3 = 0) OR (et = 'view' AND eid % 7 <= 3)
        |  UNION ALL
        |  SELECT 'query_stats', count(*)::BIGINT, coalesce(sum(ex), 0)::BIGINT FROM (
        |    SELECT count(*)::BIGINT AS ex FROM lines
        |    WHERE et IN ('click','purchase') OR (et = 'error' AND eid % 4 = 0)
        |    GROUP BY CASE WHEN et = 'click' THEN 1
        |                  WHEN et = 'purchase' AND eid % 2 = 0 THEN 2
        |                  WHEN et = 'purchase' THEN 3 ELSE 4 END)
        |) ORDER BY branch""".stripMargin),

    "mongo_parse_errors" -> (mongoGen +
      """SELECT line_no,
        |  'Line ' || line_no || ': Invalid JSON. Skipped.' AS message
        |FROM lines WHERE et = 'signup' AND eid % 3 = 0
        |UNION ALL
        |SELECT line_no,
        |  'Line ' || line_no || ': Error parsing line: ' ||
        |  CASE eid % 7
        |    WHEN 0 THEN '''int'' object has no attribute ''get'''
        |    WHEN 1 THEN '''str'' object has no attribute ''get'''
        |    WHEN 2 THEN '''int'' object has no attribute ''split'''
        |    ELSE 'argument of type ''int'' is not iterable'
        |  END || '. Skipped.' AS message
        |FROM lines WHERE et = 'view' AND eid % 7 <= 3
        |ORDER BY line_no""".stripMargin),
  )
}
