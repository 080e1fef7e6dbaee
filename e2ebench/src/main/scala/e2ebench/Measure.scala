package e2ebench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HttpLogCodec, IpAnon}

/** JMX counters over the measured window. */
final case class JvmDelta(cpuS: Double, jitMs: Double, gcMs: Double)

object JvmDelta {
  final case class Mark(cpuNs: Long, jitMs: Long, gcMs: Long) {
    def to(b: Mark): JvmDelta = JvmDelta((b.cpuNs - cpuNs) / 1e9, (b.jitMs - jitMs).toDouble,
      (b.gcMs - gcMs).toDouble)
  }
  def mark(): Mark = Mark(Jvm.cpuNs, Jvm.jitMs, Jvm.gcMs)
}

/** The measured window: the units (micro-batches or passes) after warm-up,
  * chosen by [[Stats.steadyAfter]], that fill `--seconds`.
  */
final case class Window(units: Set[Long], seconds: Double, warmupUnits: Int, steady: Boolean,
                        jvm: JvmDelta, startNs: Long, endNs: Long) {
  def describe(what: String): String =
    f"window: ${units.size} $what in $seconds%.3f s after $warmupUnits warm-up $what " +
      (if (steady) "(steady-state rule met)" else "(warm-up cap hit)")
}

object Window {
  /** A closed-loop micro-batch drain. `poll` lists completed data batches
    * as (id, start ms, end ms); the window opens at the end of the last
    * warm-up batch and closes at the end of the first batch that completes
    * `seconds` later, or when the backlog (`total` batches) runs out.
    */
  def closedLoop(seconds: Int, total: Int, poll: () => Vector[(Long, Long, Long)]): Window = {
    val t0 = System.nanoTime()
    var warm: Option[(Int, Boolean)] = None
    var startMark: JvmDelta.Mark = null
    var startNs = 0L
    while (true) {
      val bs = poll()
      if (warm.isEmpty && bs.nonEmpty) {
        val capped = (System.nanoTime() - t0) / 1e9 > Pinned.maxWarmupS
        Stats.steadyAfter(bs.map(b => (b._3 - b._2).toDouble)).map(u => (u, true))
          .orElse(if (capped) Some((bs.size - 1, false)) else None)
          .foreach { w => warm = Some(w); startMark = JvmDelta.mark(); startNs = System.nanoTime() }
      }
      warm.foreach { case (u, steady) =>
        val openMs = bs(u)._3
        val after = bs.drop(u + 1)
        val done = after.find(_._3 - openMs >= seconds * 1000L)
        if (done.isDefined || bs.size >= total) {
          val in = after.takeWhile(b => done.forall(d => b._1 <= d._1))
          val endMs = in.lastOption.map(_._3).getOrElse(openMs)
          return Window(in.map(_._1).toSet, (endMs - openMs) / 1e3, u + 1, steady,
            startMark.to(JvmDelta.mark()), startNs, System.nanoTime())
        }
      }
      Thread.sleep(10)
    }
    throw new IllegalStateException("unreachable")
  }

  /** An open loop: warm-up by the same rule over batch durations (at least
    * three seconds, at most `Pinned.maxWarmupS`), then a fixed `seconds` of
    * wall time.
    */
  def openLoop(seconds: Int, poll: () => Vector[(Long, Long, Long)]): Window = {
    val t0 = System.nanoTime()
    var warm: Option[(Int, Boolean)] = None
    while (warm.isEmpty) {
      Thread.sleep(10)
      val bs = poll()
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (elapsed >= 3.0)
        warm = Stats.steadyAfter(bs.map(b => (b._3 - b._2).toDouble)).map(u => (bs.size, true))
          .orElse(if (elapsed > Pinned.maxWarmupS) Some((bs.size, false)) else None)
    }
    val startNs = System.nanoTime(); val startMs = System.currentTimeMillis()
    val m0 = JvmDelta.mark()
    Thread.sleep(seconds * 1000L)
    val endMs = System.currentTimeMillis()
    val jvm = m0.to(JvmDelta.mark())
    val endNs = startNs + seconds * 1000000000L
    val in = poll().filter(b => b._2 >= startMs && b._3 < endMs).map(_._1).toSet
    Window(in, seconds.toDouble, warm.get._1, warm.get._2, jvm, startNs, endNs)
  }
}

object Probe {
  /** The operator listener; registered only for a traced run. */
  def attach(spark: SparkSession, trace: Boolean): OpsListener = {
    val l = new OpsListener
    if (trace) spark.sparkContext.addSparkListener(l)
    l
  }

  /** Where kernel results go, so their calls cannot be optimised away. */
  @volatile var blackhole = 0L

  /** Median ns per call of `f` over `n` inputs: five rounds, each long
    * enough (>= 100 ms) to dwarf the clock.
    */
  def nsPerCall(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    var reps = 1
    def round(): Double = {
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) { var i = 0; while (i < n) { sink += f(i); i += 1 }; r += 1 }
      (System.nanoTime() - t0).toDouble / (reps.toLong * n)
    }
    while (round() * reps * n < 1e8) reps *= 2
    val out = Stats.median((1 to 5).map(_ => round()))
    blackhole = sink
    out
  }
}

/** Per-layer metrics, named `<module>.<metric>`. A layer a workload does not
  * use reads 0 there.
  */
object Layers {
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def streaming(res: Result, log: ProgressLog, in: Seq[StreamingQueryProgress],
                backlogFilesEnd: Int): Unit = {
    import ProgressLog.ms
    res.layer("sources.discover_ms_p50") = (med(in.map(b => ms(b, "latestOffset") + ms(b, "getBatch"))), "ms")
    res.layer("streaming.trigger_ms_p50") = (med(in.map(ms(_, "triggerExecution"))), "ms")
    res.layer("streaming.planning_ms_p50") = (med(in.map(ms(_, "queryPlanning"))), "ms")
    res.layer("streaming.wal_commit_ms_p50") = (med(in.map(ms(_, "walCommit"))), "ms")
    res.layer("streaming.commit_offsets_ms_p50") = (med(in.map(ms(_, "commitOffsets"))), "ms")
    res.layer("streaming.rows_per_batch_p50") = (med(in.map(_.numInputRows.toDouble)), "count")
    res.layer("streaming.add_batch_ms_p50") = (med(in.map(ms(_, "addBatch"))), "ms")
    val last = in.lastOption.flatMap(ProgressLog.dedup)
    res.layer("streaming.state_rows") = (last.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    res.layer("streaming.state_mb") = (last.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB")
    res.layer("streaming.state_update_ms") =
      (med(in.flatMap(ProgressLog.dedup).map(_.allUpdatesTimeMs.toDouble)), "ms")
    val all = log.batches.values().toArray(Array.empty[StreamingQueryProgress]).toSeq
    res.layer("streaming.rows_dropped_by_watermark") =
      (all.flatMap(ProgressLog.dedup).map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    res.layer("streaming.backlog_files_end") = (backlogFilesEnd.toDouble, "count")
  }

  /** Files and bytes each window batch left in its sink partition. */
  def sink(res: Result, sink: Path, batches: Seq[Long]): Unit = {
    val parts = batches.map(b => Option(sink.resolve(s"batch_id=$b").toFile.listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")))
    res.layer("sink.files_per_batch") = (med(parts.map(_.length.toDouble)), "count")
    res.layer("sink.bytes_per_batch") = (med(parts.map(_.map(_.length).sum.toDouble)), "B")
  }

  def noSink(res: Result): Unit = {
    res.layer("sink.files_per_batch") = (0.0, "count")
    res.layer("sink.bytes_per_batch") = (0.0, "B")
  }

  /** Per-unit listener counts, as medians over the window's units. */
  def operators(res: Result, ops: OpsListener, spark: SparkSession, units: Seq[String],
                spans: Map[String, (Long, Long)], pairs: Boolean): Unit = {
    val us = units.map(ops.unit)
    res.layer("operators.jobs") = (med(us.map(_.jobs.toDouble)), "count")
    res.layer("operators.stages") = (med(us.map(_.stages.toDouble)), "count")
    res.layer("operators.tasks") = (med(us.map(_.tasks.toDouble)), "count")
    res.layer("operators.shuffle_write_mb") = (med(us.map(_.shuffleWrite / 1048576.0)), "MB")
    res.layer("operators.shuffle_read_mb") = (med(us.map(_.shuffleRead / 1048576.0)), "MB")
    res.layer("operators.executor_cpu_ms") = (med(us.map(_.cpuNs / 1e6)), "ms")
    res.layer("operators.spill_mb") = (med(us.map(_.spill / 1048576.0)), "MB")
    res.layer("operators.driver_gap_ms") =
      (med(units.flatMap(u => spans.get(u).map { case (a, b) => ops.gapMs(u, a, b) })), "ms")
    res.layer("operators.pairs_verified") = (
      if (!pairs) 0.0
      else med(us.map(u => OpsListener.sqlMetric(spark, u.executions,
        d => d.startsWith("Filter") && d.contains("isnotnull(inter#"), "number of output rows").toDouble)),
      "count")
  }

  def reads(res: Result, dash: Dashboard): Unit = {
    val rs = dash.reads.toSeq
    res.layer("reads.query_ms_p50") = (med(rs.map(_.ms)), "ms")
    res.layer("reads.planning_ms_p50") = (med(rs.map(_.planMs)), "ms")
    res.layer("reads.files_scanned") = (med(rs.map(_.files.toDouble)), "count")
  }

  def noReads(res: Result): Unit = {
    res.layer("reads.query_ms_p50") = (0.0, "ms")
    res.layer("reads.planning_ms_p50") = (0.0, "ms")
    res.layer("reads.files_scanned") = (0.0, "count")
  }

  def jvm(res: Result, d: JvmDelta, units: Int, heapMb: Double): Unit = {
    res.layer("jvm.jit_ms_per_pass") = (d.jitMs / math.max(units, 1), "ms")
    res.layer("jvm.gc_ms_per_pass") = (d.gcMs / math.max(units, 1), "ms")
    res.layer("jvm.live_heap_mb") = (heapMb, "MB")
  }

  def ingestKernels(res: Result, frames: Seq[Frame]): Unit = {
    val values = frames.map(_.value).toArray
    val addrs = frames.filter(_.rec != null).map(f => UTF8String.fromString(f.rec.addr.raw)).toArray
    res.layer("functions.capnp_decode_ns") = (Probe.nsPerCall(values.length) { i =>
      val r = HttpLogCodec.decode(values(i)); if (r == null) 0L else r.getLong(0)
    }, "ns")
    res.layer("functions.anonymize_ip_ns") = (Probe.nsPerCall(addrs.length) { i =>
      IpAnon.anonymize(addrs(i)).numBytes().toLong
    }, "ns")
  }

  def ingestKernelsAbsent(res: Result): Unit = {
    res.layer("functions.capnp_decode_ns") = (0.0, "ns")
    res.layer("functions.anonymize_ip_ns") = (0.0, "ns")
  }

  def corpusKernelsAbsent(res: Result): Unit =
    Seq("word_shingles_ns", "minhash_sig_ns", "lsh_band_keys_ns", "intersect_ns")
      .foreach(k => res.layer(s"functions.$k") = (0.0, "ns"))

  def noStreaming(res: Result): Unit = {
    Seq("sources.discover_ms_p50", "streaming.trigger_ms_p50", "streaming.planning_ms_p50",
      "streaming.wal_commit_ms_p50", "streaming.commit_offsets_ms_p50",
      "streaming.add_batch_ms_p50", "streaming.state_update_ms").foreach(k => res.layer(k) = (0.0, "ms"))
    Seq("sources.frames_in", "sources.dead_frames", "streaming.rows_per_batch_p50",
      "streaming.state_rows", "streaming.rows_dropped_by_watermark", "streaming.dups_removed",
      "streaming.backlog_files_end").foreach(k => res.layer(k) = (0.0, "count"))
    res.layer("streaming.state_mb") = (0.0, "MB")
    res.layer("generator.lag_ms_p95") = (0.0, "ms")
  }
}
