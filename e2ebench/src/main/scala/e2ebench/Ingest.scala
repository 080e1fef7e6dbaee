package e2ebench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.sources.KafkaShaped
import graft.streaming.Recovery

/** Query progress of every micro-batch, from `StreamingQueryListener`. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentSkipListMap[Long, org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    batches.put(e.progress.batchId, e.progress)

  def data: Vector[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    batches.values.asScala.filter(_.numInputRows > 0).toVector

  /** Wait until the progress of every batch in `ids` has been delivered. */
  def await(ids: Set[Long]): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (!ids.forall(batches.containsKey)) {
      require(System.currentTimeMillis() < deadline, "query progress was not delivered")
      Thread.sleep(10)
    }
  }
}

object ProgressLog {
  import org.apache.spark.sql.streaming.StreamingQueryProgress
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + ms(p, "triggerExecution").toLong
  def dedup(p: StreamingQueryProgress) = p.stateOperators.headOption
  def custom(p: StreamingQueryProgress, k: String): Long =
    dedup(p).flatMap(s => Option(s.customMetrics.get(k))).map(_.longValue).getOrElse(0L)
}

/** One running pipeline: `KafkaShaped.fileStream` → `Recovery.offsetKeyedLogs`
  * → `Recovery.totalsBatchSink`, with a span around each sink call.
  */
final class Pipeline(spark: SparkSession, frames: Path, val ckpt: Path, val sink: Path,
                     maxFilesPerTrigger: Option[Int]) {
  /** batch id → (sink call start, sink call end), System.nanoTime. */
  val sinkSpans = new ConcurrentHashMap[Long, (Long, Long)]()
  private val write = Recovery.totalsBatchSink(sink.toString)
  val query: StreamingQuery = Recovery.offsetKeyedLogs(
      KafkaShaped.fileStream(spark, frames.toString, maxFilesPerTrigger))
    .writeStream
    .option("checkpointLocation", ckpt.toString)
    .foreachBatch { (df: DataFrame, id: Long) =>
      val t0 = System.nanoTime()
      write(df, id)
      sinkSpans.put(id, (t0, System.nanoTime()))
      ()
    }
    .start()

  def awaitSink(batchId: Long, timeoutMs: Long): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!sinkSpans.containsKey(batchId)) {
      query.exception.foreach(e => throw e)
      require(System.currentTimeMillis() < end, s"batch $batchId did not complete")
      Thread.sleep(2)
    }
  }

  def stop(): Unit = { query.stop(); query.awaitTermination() }

  /** Batch ids the checkpoint's commit log has committed. */
  def committed(): Set[Long] = Ckpt.ids(ckpt.resolve("commits"))

  /** Frame file name → the batch that consumed it, from the source log. */
  def fileBatches(): Map[String, Long] = Ckpt.sourceLog(ckpt.resolve("sources/0"))
}

object Ckpt {
  def ids(dir: Path): Set[Long] =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty).map(_.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).toSet

  private val Entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored

  def sourceLog(dir: Path): Map[String, Long] =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.head.isDigit)
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .collect { case Entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
}

/** The dashboard over committed sink partitions. Each committed `batch_id`
  * partition is hard-linked into `view`, so `Recovery.finalTotals` over the
  * view never sees a partition whose batch the checkpoint has not committed.
  * The view holds the newest `keep` committed batches: the newest hour's
  * rows all come from the last few batches, and a read's cost then does not
  * grow with how long the run has been ingesting.
  */
final class Dashboard(spark: SparkSession, p: Pipeline, view: Path, keep: Int) {
  private val linked = mutable.SortedSet[Long]()
  val reads = mutable.ArrayBuffer[Dashboard.Read]()

  def refresh(): Unit = {
    p.committed().diff(linked).toSeq.sorted.foreach { b =>
      val part = p.sink.resolve(s"batch_id=$b")
      if (Files.isDirectory(part)) {
        val dst = Files.createDirectories(view.resolve(s"batch_id=$b"))
        part.toFile.listFiles().foreach(f => Files.createLink(dst.resolve(f.getName), f.toPath))
      }
      linked += b
    }
    linked.toSeq.dropRight(keep).foreach { b =>
      Option(view.resolve(s"batch_id=$b").toFile).filter(_.isDirectory).foreach { d =>
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
  }

  /** `Recovery.finalTotals` over the view. */
  def totals() = { refresh(); Recovery.finalTotals(spark, view.toString) }

  def files: Int = Option(view.toFile.listFiles()).getOrElse(Array.empty).iterator
    .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
    .count(f => f.getName.endsWith(".parquet"))

  /** One read: the newest hour's top-10 resources and its 5xx share. */
  def read(n: Int): Dashboard.Read = {
    spark.sparkContext.setLocalProperty(OpsListener.UnitKey, s"read-$n")
    val t0 = System.nanoTime()
    val t = totals()
    val newestQ = t.agg(max("ts_hour"))
    val newest = newestQ.collect().head.getTimestamp(0)
    val hour = t.filter(col("ts_hour") === lit(newest))
    val topQ = hour.groupBy("resource_id").agg(sum("requests").as("r"))
      .orderBy(desc("r"), asc("resource_id")).limit(10)
    val top = topQ.collect().map(r => (r.getLong(0), r.getLong(1))).toVector
    val shareQ = hour.agg(
      sum(when(col("response_status") >= 500, col("requests")).otherwise(0L)), sum("requests"))
    val share = shareQ.collect().head
    val t1 = System.nanoTime()
    spark.sparkContext.setLocalProperty(OpsListener.UnitKey, null)
    val planMs = Seq(newestQ, topQ, shareQ).map { q =>
      val ph = q.queryExecution.tracker.phases
      Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum.toDouble
    }.sum
    val r = Dashboard.Read(t0, t1, newest.getTime, top, share.getLong(0), share.getLong(1),
      planMs, files)
    reads += r
    r
  }
}

object Dashboard {
  final case class Read(startNs: Long, endNs: Long, hourMs: Long, top: Vector[(Long, Long)],
                        req5xx: Long, req: Long, planMs: Double, files: Int) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** Totals and dashboard answers computed from the generator's records. */
object Truth {
  type Key = (Long, Long, Int, String, String)
  final case class Tot(requests: Long, bytes: Long, timeMs: Long)

  def hour(ts: Long): Long = ts - Math.floorMod(ts, 3600000L)

  /** What a correct pipeline makes of a frame sequence. */
  final case class Ingested(totals: Map[Key, Tot], frames: Long, dead: Long, redelivered: Long)

  /** Good frames deduplicated by offset, totalled per hourly key. */
  def ingest(frames: Iterator[Frame]): Ingested = {
    val seen = new java.util.BitSet()
    val acc = mutable.HashMap[Key, Tot]()
    var n = 0L; var dead = 0L; var again = 0L
    frames.foreach { f =>
      n += 1
      if (f.rec == null) dead += 1
      else if (seen.get(f.offset.toInt)) again += 1
      else {
        seen.set(f.offset.toInt)
        val r = f.rec
        val k = (hour(r.tsMilli), r.resourceId, r.status, r.cache, r.addr.anonymized)
        val t = acc.getOrElse(k, Tot(0, 0, 0))
        acc(k) = Tot(t.requests + 1, t.bytes + r.bytesSent, t.timeMs + r.requestTimeMilli)
      }
    }
    Ingested(acc.toMap, n, dead, again)
  }

  def dashboard(t: Map[Key, Tot]): (Long, Vector[(Long, Long)], Long, Long) = {
    val newest = t.keys.map(_._1).max
    val hourRows = t.filter(_._1._1 == newest)
    val top = hourRows.groupBy(_._1._2).map { case (res, m) => res -> m.values.map(_.requests).sum }
      .toVector.sortBy { case (res, n) => (-n, res) }.take(10)
    val bad = hourRows.filter(_._1._3 >= 500).values.map(_.requests).sum
    (newest, top, bad, hourRows.values.map(_.requests).sum)
  }
}
