package graft.engine.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.expr.Normalizers
import graft.engine.mongo.MongoLogPipeline

/** Structured Streaming variant of the Mongo slow-query pipeline
  * (SURVEY.md §2.9: the mongo DAG is trivially streamable — stateless
  * routes plus one windowed aggregation).
  *
  * Input: a streaming DataFrame of raw log lines (`value: String`), e.g.
  * `spark.readStream.text(dir)` or a socket/Kafka source. The batch
  * pipeline's parse/route column logic is reused verbatim — the only
  * change is time semantics: the batch "first in file order" sample
  * (line_no) becomes "earliest event time", and A1's global aggregation
  * becomes a watermarked tumbling-window aggregation so state is bounded
  * and late lines are handled.
  */
object MongoStream {

  /** Routing flags on a streaming scan: identical logic to the batch
    * [[MongoLogPipeline.parsedScan]] minus the line-number provenance
    * (file order does not exist in a stream; event time replaces it).
    */
  def parsedScan(lines: DataFrame): DataFrame =
    MongoLogPipeline.parsedScan(
      lines.select(col("value").as("line"), lit(null).cast("long").as("line_no")))
      .withColumn("event_time", to_timestamp(col("j.t.`$date`")))

  /** R1 detailed slow-query rows (streaming: append-mode friendly,
    * stateless).
    */
  def detailed(scan: DataFrame): DataFrame =
    MongoLogPipeline.detailed(scan)
      .drop("line_no")
      .withColumn("event_time", to_timestamp(col("timestamp")))

  /** A1 as a watermarked tumbling-window aggregation: one stats row per
    * (window, query pattern). State is bounded by the watermark horizon —
    * the property that keeps this runnable forever at 100 TB/day.
    * The sample is the earliest-in-event-time full command (min_by), the
    * streaming analog of the batch pipeline's first-in-file-order sample.
    */
  def windowedQueryStats(scan: DataFrame,
                         windowLen: String = "1 minute",
                         watermarkDelay: String = "5 minutes"): DataFrame =
    MongoLogPipeline.queryStatsAgg(
      detailed(scan)
        .filter(col("event_time").isNotNull)
        .withWatermark("event_time", watermarkDelay)
        .groupBy(window(col("event_time"), windowLen),
          MongoLogPipeline.QueryPattern),
      col("event_time"))

  /** R2 error rollup, windowed like A1: the batch rollup's gate and keys
    * ([[MongoLogPipeline.ErrorGate]], [[MongoLogPipeline.ErrorKeys]]), so
    * a line the batch report counts is counted here too. */
  def windowedErrors(scan: DataFrame,
                     windowLen: String = "1 minute",
                     watermarkDelay: String = "5 minutes"): DataFrame =
    scan.filter(MongoLogPipeline.ErrorGate)
      .filter(col("event_time").isNotNull)
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen) +:
        MongoLogPipeline.ErrorKeys: _*)
      .agg(count(lit(1)).as("totalCount"),
        min_by(Normalizers.pyStrip(col("line")), col("event_time")).as("SampleLine"))
}
