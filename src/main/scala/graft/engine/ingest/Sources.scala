package graft.engine.ingest

import java.net.URI

import scala.reflect.ClassTag

import org.apache.spark.rdd.{NewHadoopRDD, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit, TextInputFormat}

/** Log ingestion sources (SURVEY.md §2.1 S1-S3).
  *
  * Record numbering: the reference consumes files sequentially and
  * numbers lines (and slow-log entries) 1-based in file order
  * (mongo_parser.py:28, mysqlLogParser.py:52). Spark has no global row
  * order, so the file readers materialize an explicit `line_no` /
  * `entry_no` at ingest, in the order of a Hadoop RDD over one
  * URI-sorted file listing, whose splits keep the listing's order and,
  * within a file, offset order: [[readLines]] with `RDD.zipWithIndex`,
  * which numbers in partition order, and [[readDelimited]] within each
  * file (one partition per file) as it reads. A `spark.read` scan must
  * never feed a numbering: it bin-packs splits by size, so a multi-file
  * directory (or one file large enough to split) enumerates out of file
  * order. Downstream operators never rely on implicit order; they use
  * the explicit number (e.g. `min_by(x, line_no)` for "first in file
  * order" samples).
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

  /** The one file listing every reader numbers by: the files a
    * `spark.read` text scan resolves `path` to (globs expanded, hidden
    * `_`/`.` files skipped), sorted by URI. File names define the
    * sequence — the writer's contract (part-00000 < part-00001, log
    * rotation timestamps, ...).
    */
  private def sortedFiles(scan: DataFrame): Array[String] =
    scan.inputFiles.sorted

  /** `perSplit(file_id, split length, records)` over each split's lines
    * or `delimiter`-split records by byte offset (Writables are reused:
    * copy out), in [[sortedFiles]] order, then offset order; `file_id` is
    * the file's index there. Files split at blocks, or with `wholeFiles`
    * not at all. The paths go in as `Path`s (a comma in a file name stays
    * in it) with Hadoop's glob characters escaped, listed on one thread
    * (more return files in completion order).
    */
  private def records[T: ClassTag](spark: SparkSession, path: String, delimiter: Option[String],
                                   wholeFiles: Boolean)(
      perSplit: (Long, Long, Iterator[(LongWritable, Text)]) => Iterator[T]): RDD[T] = {
    val files = sortedFiles(spark.read.text(path))
    if (files.isEmpty) spark.sparkContext.emptyRDD[T]
    else {
      val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
      val conf = job.getConfiguration
      delimiter.foreach(conf.set("textinputformat.record.delimiter", _))
      if (wholeFiles) conf.setLong(FileInputFormat.SPLIT_MINSIZE, Long.MaxValue)
      conf.setInt(FileInputFormat.LIST_STATUS_NUM_THREADS, 1)
      val uris = files.map(new URI(_))
      FileInputFormat.setInputPaths(job, uris.toIndexedSeq.map { u =>
        new Path(u.getScheme, u.getAuthority,
          u.getPath.replaceAll("""([\\\[\]{}*?])""", """\\$1"""))
      }: _*)
      val ids = uris.map(_.getPath).zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
      spark.sparkContext
        .newAPIHadoopRDD(conf, classOf[TextInputFormat], classOf[LongWritable], classOf[Text])
        .asInstanceOf[NewHadoopRDD[LongWritable, Text]]
        .mapPartitionsWithInputSplit { (split, recs) =>
          val file = split.asInstanceOf[FileSplit]
          perSplit(ids(file.getPath.toUri.getPath), file.getLength, recs)
        }
    }
  }

  /** S1: line-oriented text scan with 1-based line numbers
    * (mongo_parser.py:215-216 readlines + enumerate), global across a
    * multi-file directory in (file name, in-file offset) order, so the
    * single-file and N-file layouts of the same log number alike.
    *
    * `zipWithIndex` counts the first n−1 partitions of [[records]] in a
    * job of its own (Spark 4.1.2's `ZippedWithIndexRDD` constructor, as
    * its bytecode reads): an input of one split (a file under one block)
    * runs no such job and is read once, a multi-split input reads n−1
    * splits twice, and the job runs when this reader is called, not when
    * the DataFrame is first used. The trailing repartition round-robins
    * the numbered lines so the (CPU-heavy) downstream parse uses every
    * core regardless of file count.
    */
  def readLines(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    records(spark, path, None, wholeFiles = false)((_, _, recs) => recs.map(_._2.toString))
      .zipWithIndex().map { case (line, i) => (line, i + 1) }
      .toDF("line", "line_no")
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** S3: in-memory lines (mongo_parser.py:157-158 upload path). */
  def fromLines(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    lines.zipWithIndex.map { case (l, i) => (l, i + 1L) }.toDF("line", "line_no")
  }

  /** S2 reference path: whole-file scan (mysqlLogParser.py:218-219), one
    * row per file: (file_id, content), the spec [[readDelimited]] is held
    * to. A file is one string here (SURVEY.md §7.2's scale-killer).
    *
    * `file_id` is dense and 0-based in file-name order — the order
    * [[readLines]] and [[readDelimited]] number in — taken from
    * [[sortedFiles]] of this reader's own scan (so a file landing between
    * two listings cannot get a null id) and looked up by each row's file
    * path, so no file content moves. (A partition-derived id such as
    * `monotonically_increasing_id` jumps by 2^33 per partition, and the
    * entry order key `file_id * 2^32 + entry_no` overflows.)
    */
  def readWholeFile(spark: SparkSession, path: String): DataFrame = {
    val files = spark.read.option("wholetext", "true").text(path)
    val ids = typedLit(sortedFiles(files).zipWithIndex
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

  /** P8: the marker every slow-log entry starts with (mysqlLogParser.py:44); ASCII. */
  val EntryMarker = "# Time: "

  /** S2: a slow-log directory or file as entry records, the rows
    * `entriesFromFiles(readWholeFile(path))` gives — (file_id, entry_no,
    * ord = file_id·2^32 + entry_no, entry) — without loading a file into
    * one string. Hadoop splits each file at the reference's marker
    * `# Time: ` wherever it occurs (mysqlLogParser.py:44-53, P8), one
    * partition per file: a single huge file is read by one task, as a
    * stream. The offset-0 record (a `mysqld ... started with:` preamble,
    * or nothing) is dropped; every later record gets its marker back. A
    * file ending in the marker ends in an empty entry, which `split`
    * yields and Hadoop does not: it is added where the last record ends
    * one marker short of the file's end. Entries are numbered within
    * their file from 1 as they are read, and parsed in its partition:
    * spread over 4 partitions, a 10.5 MB file's report peaked ~40% higher
    * on the heap (perfbench).
    */
  def readDelimited(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    records(spark, path, Some(EntryMarker), wholeFiles = true) { (fileId, length, recs) =>
      var (n, end) = (0L, 0L)
      def entry(body: String) = { n += 1; (fileId, n, (fileId << 32) + n, EntryMarker + body) }
      val entries = recs.flatMap { case (off, rec) =>
        end = off.get + rec.getLength
        if (off.get == 0L) None else Some(entry(rec.toString))
      }
      // `++` takes its operand by name: it runs once `entries` is drained
      entries ++ (if (end + EntryMarker.length == length) Iterator.single(entry("")) else Iterator.empty)
    }.toDF("file_id", "entry_no", "ord", "entry")
  }
}
