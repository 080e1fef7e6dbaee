package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference pipeline (Kafka → decode → anonymize → batch → ClickHouse,
  * `/root/reference/anonymizer/src/lib.rs:10-45`) re-expressed as transforms
  * shared verbatim between batch DataFrames and Structured Streaming — the
  * same function lifts to a stream because nothing here is batch-specific.
  *
  * Streaming shape: `readStream` (Kafka-shaped frames, see
  * [[graft.sources.KafkaShaped]]) → [[decodeAndAnonymize]] →
  * [[windowedTotals]] / [[dedupReplayed]] → `foreachBatch` sink
  * ([[Sinks.idempotentParquet]] with [[RateLimiter]]).
  */
object HttpLogPipeline {

  /** GDPR step: anonymize the remote address (reference lib.rs:253). */
  def anonymize(logs: DataFrame): DataFrame =
    logs.withColumn("remote_addr", graft.functions.anonymize_ip(col("remote_addr")))

  /** Decode Kafka-shaped binary frames into anonymized log rows; malformed
    * frames are dropped (dead-letter counting in [[graft.sources.KafkaShaped]]).
    */
  def decodeAndAnonymize(frames: DataFrame): DataFrame = {
    val decoded = graft.sources.KafkaShaped.decodeSplit(frames)._1
      .select(
        expr("timestamp_millis(r.ts_milli)").as("ts"),
        col("r.resource_id").as("resource_id"),
        col("r.bytes_sent").as("bytes_sent"),
        col("r.request_time_milli").as("request_time_milli"),
        col("r.response_status").as("response_status"),
        col("r.cache_status").as("cache_status"),
        col("r.method").as("method"),
        col("r.remote_addr").as("remote_addr"),
        col("r.url").as("url"))
    anonymize(decoded)
  }

  /** The README's traffic-totals table as an hourly windowed aggregation.
    * On a stream add `.withWatermark("ts", …)` upstream (see
    * [[withEventTimeBounds]]) — the groupBy itself is identical.
    */
  def windowedTotals(logs: DataFrame): DataFrame =
    logs
      .groupBy(
        window(col("ts"), "1 hour"),
        col("resource_id"), col("response_status"), col("cache_status"),
        col("remote_addr"))
      .agg(
        count(lit(1)).as("requests"),
        sum("bytes_sent").as("total_bytes"),
        sum("request_time_milli").as("total_time_milli"))

  /** Event-time bound for streaming use (no-op on batch frames). */
  def withEventTimeBounds(logs: DataFrame, watermark: String = "2 hours"): DataFrame =
    if (logs.isStreaming) logs.withWatermark("ts", watermark) else logs

  /** At-least-once replay dedup — the ReplacingMergeTree role in the
    * reference's delivery semantics (lib.rs:99-107): replayed rows are exact
    * duplicates, so `dropDuplicates` restores exactly-once output. On a
    * stream this becomes `dropDuplicatesWithinWatermark` (state bounded by
    * the watermark); batch uses plain distinct.
    */
  def dedupReplayed(logs: DataFrame, keys: Seq[String] = Seq("log_id")): DataFrame =
    if (logs.isStreaming) logs.dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
    else logs.dropDuplicates(keys)

  /** Hourly per-resource request counts — the streaming-legal HALF of the
    * continuous top-N dashboard: ONE windowed aggregation (state bounded by
    * the watermark), emitted per closed window in append mode.
    */
  def hourlyResourceCounts(logs: DataFrame): DataFrame =
    logs.groupBy(window(col("ts"), "1 hour").as("w"), col("resource_id"))
      .agg(count(lit(1)).as("requests"))

  /** Top-k selection over emitted window counts — STATELESS given closed
    * windows, so on a stream it runs per micro-batch (foreachBatch) over
    * the append output rather than as a second streaming aggregation
    * (chained streaming aggs would double the state for a selection the
    * closed windows already determine). The k-bounded [[graft.operators.TopK]]
    * aggregate keeps partial state at k entries per window; resource ids are
    * zero-padded so the aggregate's string tie-break equals numeric order.
    */
  def topResources(hourly: DataFrame, k: Int = 5): DataFrame = {
    val agg = graft.operators.TopK.top_k(k)
    hourly
      .groupBy(col("w"))
      // pad to 19 — the max digit count of a positive 64-bit id; a shorter
      // pad would TRUNCATE longer ids (lpad cuts, not just fills), silently
      // corrupting both the id and the tie-break order
      .agg(agg(lpad(col("resource_id").cast("string"), 19, "0"),
        col("requests")).as("top"))
      .select(col("w.start").as("ts_hour"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("ts_hour"), (col("pos") + 1).cast("int").as("rank"),
        col("e.key").cast("bigint").as("resource_id"),
        col("e.value").as("requests"))
  }
}
