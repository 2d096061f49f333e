package graft.engine.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.ingest.Sources.EntryMarker
import graft.engine.mysql.MySqlLogPipeline

/** Structured Streaming variant of the MySQL slow-log pipeline
  * (SURVEY.md §2.9 flagged this as the one non-streamable branch because
  * the parity path splits whole files; this closes it).
  *
  * The batch reader ([[graft.engine.ingest.Sources.readDelimited]])
  * splits files at `# Time: ` with Hadoop's
  * `textinputformat.record.delimiter`, which has no streaming hook — but
  * the text DATASOURCE's `lineSep` option cuts the same records and works
  * under `readStream`, so new files landing in the directory stream in
  * incrementally. Streaming records carry no byte offset, so a file's
  * first record cannot be told from an entry: an empty one (the file began
  * with the marker) is dropped, and a non-empty one gets the marker like
  * every record. A file preamble therefore flows to the WARNINGS channel
  * (P10 gate) instead of being silently dropped — at worst one diagnostic
  * row per file, and arguably the more honest treatment for a tailing
  * deployment. Dropping empty records also drops the empty entry that
  * two consecutive markers give in batch.
  *
  * Everything downstream reuses [[MySqlLogPipeline.parseEntries]]
  * verbatim — the regex battery is a stateless projection, so the only
  * streaming state is the windowed aggregate, bounded by the watermark.
  */
object MySqlStream {

  /** Streaming entry source over a log directory. */
  def entryStream(spark: SparkSession, path: String,
                  maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.option("lineSep", EntryMarker)
    val r2 = if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r
    restoreEntries(r2.text(path))
  }

  /** Marker-split records (`value: String`) → the
    * (file_id, entry_no, ord, entry) shape [[MySqlLogPipeline.parseEntries]]
    * expects. File order doesn't exist in a stream, so the provenance keys
    * are constants; the streaming aggregate samples by EVENT time instead
    * (see [[windowedAggregate]]), exactly like [[MongoStream]].
    */
  def restoreEntries(records: DataFrame): DataFrame =
    records.filter(col("value") =!= "").select(
      lit(0L).as("file_id"), lit(0L).as("entry_no"), lit(0L).as("ord"),
      concat(lit(EntryMarker), col("value")).as("entry"))

  /** Slow-log `# Time:` values in the wild are either the legacy
    * `yymmdd hh:mm:ss` form or ISO-8601 (5.7+, log_timestamps=UTC/SYSTEM);
    * try_to_timestamp keeps unparsable forms as NULL (filtered before
    * the watermark) instead of failing the stream under ANSI mode.
    *
    * Zone-suffixed forms (`...Z`, `...+05:30`) parse WITH the designator
    * (pattern `X`), so a UTC-stamped 5.7+ log yields the correct instant
    * in ANY session timezone — stripping the `Z` and parsing in session
    * local time would shift every event by the zone offset and move rows
    * across windows. Only the zone-less forms fall back to session-time
    * interpretation (the log carries no better information there).
    */
  def eventTime(time: Column): Column =
    coalesce(
      try_to_timestamp(time, lit("yyMMdd HH:mm:ss")),
      try_to_timestamp(time, lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX")),
      try_to_timestamp(time, lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")),
      try_to_timestamp(time))

  /** P9-P12 detailed rows on a stream: stateless, append-mode friendly. */
  def detailed(entries: DataFrame): DataFrame =
    MySqlLogPipeline.parseEntries(entries).detailed
      .drop("file_id", "entry_no", "ord")
      .withColumn("event_time", eventTime(col("Time")))

  /** A3 as a watermarked tumbling-window aggregation — one stats row per
    * (window, normalized pattern), state bounded by the watermark horizon.
    * The batch "first in file order" sample becomes earliest-event-time.
    */
  def windowedAggregate(entries: DataFrame,
                        windowLen: String = "1 minute",
                        watermarkDelay: String = "5 minutes"): DataFrame =
    MySqlLogPipeline.aggregateStats(
      detailed(entries)
        .filter(col("event_time").isNotNull)
        .withWatermark("event_time", watermarkDelay)
        .groupBy(window(col("event_time"), windowLen), col("Normalized_Query")),
      col("event_time"))
}
