package graft.engine.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat

/** Log ingestion sources (SURVEY.md §2.1 S1-S3).
  *
  * Line numbering: the reference consumes files sequentially and numbers
  * lines 1-based in file order (mongo_parser.py:28). Spark has no global row
  * order, so we materialize an explicit `line_no` at ingest via
  * zipWithIndex — deterministic for a single file read as a whole, and per
  * partition-stable for splittable reads. Downstream operators never rely on
  * implicit order; they use `line_no` (e.g. `min_by(x, line_no)` for
  * "first in file order" samples), which is the design that survives a
  * 1000-executor scale-out.
  */
object Sources {

  /** The SINGLE definition point of the nanos-timestamp read requirement:
    * some testdata generations write `events.ts` as parquet
    * TIMESTAMP(NANOS), which Spark 4 only reads as a raw nanos Long under
    * this legacy flag. Entry points (Verify, Bench, cli.Main, the test
    * base) call this once up front; [[events]] also calls it defensively
    * for direct query invocation. Idempotent, and harmless when the data
    * is micros-precision instead.
    */
  def ensureNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Re-balance a parquet scan whose total file bytes cannot naturally
    * split into `defaultParallelism` partitions, for CPU-BOUND consumers.
    *
    * Spark sizes splits by bytes, and a parquet row group is the read
    * atom — so a compact single-row-group file "splits" into N byte
    * ranges of which N−1 produce zero rows, and a compute-heavy consumer
    * (per-char hashing, sketch partials at high accuracy) runs on ONE
    * core no matter the cluster. When the input is small enough for that
    * to be possible, redistribute rows round-robin — one exchange of a
    * by-definition-small input. At warehouse scale (bytes ≥ maxSplit ×
    * cores) this returns the scan untouched: no shuffle is ever added to
    * an input that splits naturally.
    */
  def rebalanceSmall(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val hconf = spark.sparkContext.hadoopConfiguration
    val bytes = df.inputFiles.map { s =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(s))
      p.getFileSystem(hconf).getFileStatus(p).getLen
    }.sum
    if (bytes < spark.sessionState.conf.filesMaxPartitionBytes * target)
      df.repartition(target)
    else df
  }

  /** The `events` table with integer-microsecond timestamps (`ts_us`) —
    * the shape every event operator (sessionization, windows, temporal
    * joins, log generation) consumes.
    *
    * The driver's testdata has shipped `ts` under three parquet physical
    * shapes across generations, so we branch on the READ dtype rather
    * than assume one:
    *   - TIMESTAMP(NANOS)  → Long under nanosAsLong; `ts div 1000`
    *     truncates nanos→micros exactly (integer division; double math
    *     would lose precision above 2^53).
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true)  → TimestampType;
    *     `unix_micros` is the exact inverse of the writer's epoch-micros.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampNTZType;
    *     the naive wall-clock IS the UTC instant (the generator writes
    *     epoch micros), so diff against the NTZ epoch literal — exact and
    *     independent of the session time zone.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosAsLong(spark)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val tsUs = raw.schema("ts").dataType match {
      case LongType         => expr("ts div 1000")
      case TimestampType    => unix_micros(col("ts"))
      case TimestampNTZType =>
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      case other =>
        throw new IllegalStateException(s"events.ts: unsupported read dtype $other")
    }
    raw.withColumn("ts_us", tsUs)
  }

  /** Records of a Hadoop text scan tagged with their (file path, byte
    * offset WITHIN that file) — the two coordinates that define the
    * reference's sequential read order without depending on Spark's
    * split scheduling. `zipWithIndex` scan order is NOT that order:
    * Spark sorts splits by size descending for bin-packing, so a
    * multi-file directory (and even a single file large enough to
    * split) enumerates out of file order. Offsets are per-file and
    * strictly increasing, so (file, off) is a total order per file.
    */
  private def taggedRecords(spark: SparkSession, path: String,
                            conf: Configuration): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit { (split, it) =>
        val fs = split
          .asInstanceOf[org.apache.hadoop.mapreduce.lib.input.FileSplit]
        val file = fs.getPath.toString
        val splitOff = fs.getStart
        var idx = -1L
        // Text/LongWritable are reused by the record reader — copy out
        // before the iterator advances.
        it.map { case (off, t) =>
          idx += 1
          (file, splitOff, idx, off.get(), t.toString)
        }
      }
      .toDF("file", "split_off", "idx", "off", "rec")
  }

  /** Global 1-based record numbering in (file NAME, in-file offset)
    * order, for a `taggedRecords` scan, WITHOUT shuffling the record
    * data: each record already carries its (file, split offset, index
    * within split) coordinates from the scan, a census of ONE ROW PER
    * SPLIT (count of records) is aggregated, the running sum over
    * (file, split_off) order — a tiny global window, ≪ the 4096-row
    * audit gate — yields each split's global base, and a broadcast join
    * adds base + idx + 1 back in the scan stage. File names define the
    * sequence — the writer's contract (part-00000 < part-00001, log
    * rotation timestamps, …); within a file, split offsets and
    * record-reader order define the rest. Costs one extra pass of the
    * scan for the census and zero record-data shuffles — the numbering
    * that survives a 1000-executor multi-file scan.
    */
  private def withGlobalOrder(tagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = tagged.groupBy(col("file"), col("split_off"))
      .agg(count(lit(1)).as("n"))
    val bases = census
      .withColumn("base",
        coalesce(sum(col("n")).over(Window.orderBy(col("file"), col("split_off"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("file"), col("split_off"), col("base"))
    tagged.join(broadcast(bases), Seq("file", "split_off"))
      .withColumn("seq", col("base") + col("idx") + 1L)
  }

  /** S1: line-oriented text scan with 1-based line numbers
    * (mongo_parser.py:215-216 readlines + enumerate). Numbering is
    * global across a multi-file directory in (file name, in-file
    * offset) order — see [[withGlobalOrder]] — so the single-file and
    * N-file layouts of the same log produce identical line numbers.
    * The trailing repartition round-robins the numbered lines so the
    * (CPU-heavy) downstream parse uses every core regardless of file
    * count; `line_no` is explicit, so nothing downstream depends on
    * physical order.
    */
  def readLines(spark: SparkSession, path: String): DataFrame =
    withGlobalOrder(taggedRecords(spark, path,
      new Configuration(spark.sparkContext.hadoopConfiguration)))
      .select(col("rec").as("line"), col("seq").as("line_no"))
      .repartition(spark.sparkContext.defaultParallelism)

  /** S3: in-memory lines (mongo_parser.py:157-158 upload path). */
  def fromLines(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    lines.zipWithIndex.map { case (l, i) => (l, i + 1L) }.toDF("line", "line_no")
  }

  /** S2 parity path: whole-file scan (mysqlLogParser.py:218-219).
    * One row per file: (file_id, content). Only for small-file parity runs —
    * a single 100 TB record is the scale-killer SURVEY.md §7.2 flags; the
    * scale path is [[readDelimited]].
    *
    * `file_id` is dense and 0-based in file-name order — the order
    * [[readLines]] and [[readDelimited]] number in — taken from the
    * driver's sorted file listing and looked up by each row's file path,
    * so no file content moves. (A partition-derived id such as
    * `monotonically_increasing_id` jumps by 2^33 per partition, and the
    * entry order key `file_id * 2^32 + entry_no` overflows.)
    */
  def readWholeFile(spark: SparkSession, path: String): DataFrame = {
    val files = spark.read.option("wholetext", "true").text(path)
    val ids = typedLit(files.inputFiles.sorted.zipWithIndex
      .map { case (f, i) => f -> i.toLong }.toMap)
    // input_file_name, not _metadata.file_path: it renders the path the
    // way inputFiles does ("file:///x", not "file:/x")
    files.select(element_at(ids, input_file_name()).as("file_id"),
      col("value").as("content"))
  }

  /** S3 for MySQL: in-memory whole-log string. */
  def fromContent(spark: SparkSession, content: String): DataFrame = {
    import spark.implicits._
    Seq((0L, content)).toDF("file_id", "content")
  }

  /** S2 scale path: record-delimited read via Hadoop's configurable record
    * delimiter. Splits a MySQL slow log into one record per `# Time: ` entry
    * WITHOUT loading whole files into single rows, so a 100 TB log dir scans
    * in parallel with normal HDFS/S3 splits.
    *
    * Each record is one entry body (delimiter stripped); we re-prepend the
    * marker exactly like the reference reconstructs entries
    * (mysqlLogParser.py:52-53). `entry_no` is the 1-based record index in
    * scan order (per-file stable: TextInputFormat splits preserve in-file
    * record order and zipWithIndex numbers them by split index).
    */
  def readDelimited(spark: SparkSession, path: String,
                    delimiter: String = "\n# Time: "): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", delimiter)
    // The record key is the record's byte offset WITHIN ITS FILE: offset 0
    // marks each file's first record, which keeps its own content verbatim
    // (either a preamble, dropped below, or a full first entry). Every
    // later record lost its leading "# Time: " to the delimiter —
    // reconstruct it. Keying on offset (not global index) makes this
    // correct for multi-file directories, where every file restarts the
    // preamble/header cycle. Numbering is global in (file name, offset)
    // order via withGlobalOrder — identical for the single-file and
    // N-file layouts of the same log, and stable when a multi-hundred-MB
    // file splits across many tasks.
    withGlobalOrder(taggedRecords(spark, path, conf)
      .select(col("file"), col("split_off"), col("idx"),
        when(col("off") === 0L, col("rec"))
          .otherwise(concat(lit("# Time: "), col("rec"))).as("rec0"))
      .select(col("file"), col("split_off"), col("idx"),
        when(col("rec0").endsWith("\n"), col("rec0"))
          // the delimiter match consumed the entry's trailing newline; the
          // whole-file split keeps it, and the query-capture regex requires
          // a newline-terminated "SET timestamp=...;" line. Restore it.
          .otherwise(concat(col("rec0"), lit("\n"))).as("rec")))
      .select(col("seq").as("entry_no"), col("rec").as("entry"))
      .filter(col("entry").startsWith("# Time: "))
      .repartition(spark.sparkContext.defaultParallelism)
  }
}
