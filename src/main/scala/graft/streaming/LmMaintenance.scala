package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the [[QualityGate]] language model as the
  * corpus grows — the "model drifts with the crawl" loop closed with the
  * same exactly-once machinery as the totals sink.
  *
  * Unigram counts are MERGEABLE, so each micro-batch writes only its own
  * PARTIAL (term, cnt) aggregate into its own `batch_id=N` directory
  * through [[Sinks.idempotentParquet]]: a replayed batch (failure between
  * write and checkpoint commit) overwrites exactly itself, earlier partials are
  * untouched — at-least-once replay + idempotent write = effectively
  * exactly-once counts (the totals sink's argument, applied to
  * aggregation state instead of rows). A model snapshot is then one
  * vocab-sized merge of the partials, taken whenever a fresh LM is wanted —
  * no read-modify-write race with the stream, because partials are only
  * ever added, never updated.
  */
object LmMaintenance {

  /** foreachBatch sink: per-batch partial unigram counts, idempotent on
    * replay via the batch's own directory.
    */
  def countsSink(path: String, textCol: String): (DataFrame, Long) => Unit = {
    val write = Sinks.idempotentParquet(path)
    (batch, batchId) =>
      val counts = batch.select(explode(split(trim(col(textCol)), "\\s+")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      write(counts, batchId)
  }

  /** Current model snapshot: merge all partials (one vocab-sized groupBy
    * sum) into the same (term, logp) + OOV surface as
    * [[QualityGate.trainLm]] — gate callers can swap snapshots freely.
    */
  def currentLm(spark: SparkSession, path: String): (DataFrame, Double) = {
    val counts = spark.read.parquet(path)
      .groupBy("term").agg(sum("cnt").as("cnt"))
    val tot = counts.agg(sum("cnt")).head().getLong(0).toDouble
    val lm = counts.select(col("term"),
      log(col("cnt").cast("double") / tot).as("logp"))
    (lm, math.log(0.5 / tot))
  }
}
