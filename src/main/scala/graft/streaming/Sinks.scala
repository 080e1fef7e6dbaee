package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** Rate limiting for a downstream store, as in the reference's 1-req/min
  * ClickHouse proxy (`/root/reference/anonymizer/src/limiter.rs` +
  * `docker/ch-proxy/nginx.conf`): a micro-batch sink blocks until the
  * interval since the previous insert has elapsed. Backpressure then
  * propagates naturally — Structured Streaming won't start the next
  * micro-batch until foreachBatch returns, so consumers accumulate larger
  * batches instead of dropping data (same behavior the reference gets from
  * its sink mutex).
  */
final class RateLimiter(minIntervalMs: Long,
                        nanoTime: () => Long = System.nanoTime,
                        sleep: Long => Unit = Thread.sleep) {
  private val lastNanos = new AtomicLong(Long.MinValue)

  /** Blocks until the interval has elapsed; returns the ms actually waited. */
  def acquire(): Long = {
    val last = lastNanos.get()
    val now = nanoTime()
    val waitMs =
      if (last == Long.MinValue) 0L
      else math.max(0L, minIntervalMs - (now - last) / 1000000L)
    if (waitMs > 0) sleep(waitMs)
    lastNanos.set(nanoTime())
    waitMs
  }
}

/** foreachBatch sinks with the reference's delivery semantics. */
object Sinks {

  /** Idempotent parquet sink — the ReplacingMergeTree analog. Each
    * micro-batch is written with plain overwrite into its own
    * `path/batch_id=<id>` directory (optionally sub-partitioned by
    * `partitionBy` inside it), so a replayed micro-batch (failure between
    * write and checkpoint commit) overwrites exactly itself — earlier
    * batches' directories are untouched: at-least-once replay + idempotent
    * write = effectively exactly-once, the same argument as reference
    * lib.rs:99-116. Reading `path` discovers `batch_id` as a partition
    * column. The batch id never enters the plan as a literal, so every
    * micro-batch reuses the same generated code.
    *
    * The batch is written as one file (one per `partitionBy` value): a
    * foreachBatch batch runs in the stream's cloned session, where AQE is
    * off, so without the `coalesce(1)` an aggregated batch writes one file
    * per shuffle partition, and every later read opens them all. The
    * reference's sink is the same shape: one batched insert per batch.
    */
  def idempotentParquet(path: String, limiter: Option[RateLimiter] = None,
                        partitionBy: Seq[String] = Nil)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    limiter.foreach(_.acquire())
    batch.coalesce(1).write
      .mode("overwrite")
      .partitionBy(partitionBy: _*)
      .parquet(s"$path/batch_id=$batchId")
  }
}
