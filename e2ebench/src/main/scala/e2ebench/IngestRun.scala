package e2ebench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}


import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The two ingest workloads over the same pipeline.
  *
  *  - `ingest_backlog`: a closed-loop drain of a pre-staged backlog, one
  *    large file per micro-batch. Per-batch overhead is amortised, so the
  *    per-row layers (decode, anonymize, dedup state, sink bytes) set the
  *    rate.
  *  - `ingest_live`: an open loop of small files at a fixed rate, with a
  *    dashboard reader alongside. Per-batch fixed cost dominates.
  */
object IngestRun {
  val backlogShape = IngestShape(framesPerFile = 30000, deadPerFile = 150,
    redeliveriesPerFile = 300, stepMs = 96)
  val backlogSetupShape = IngestShape(framesPerFile = 4000, deadPerFile = 20,
    redeliveriesPerFile = 40, stepMs = 96)
  val backlogFiles = 24
  /** Dashboard reads over the drained sink, after the drain window. */
  val backlogReadS = 1.0
  /** Committed batches the dashboard reads (the newest hour is in them). */
  val dashboardBatches = 8

  val liveShape = IngestShape(framesPerFile = 200, deadPerFile = 2,
    redeliveriesPerFile = 4, stepMs = 720)
  val liveFilesPerS = 10
  /** Heap probing and the tail after the window, in seconds of schedule. */
  val liveTailS = 4

  /** Stage `files` generated files under `dir` with ascending mtimes (the
    * file source consumes oldest first). Generation is parallel; every
    * file is a pure function of (seed, shape, index).
    */
  def fileName(k: Int): String = f"f-$k%05d.parquet"

  def stage(gen: FrameGen, files: Range, dir: Path): Unit = {
    val pool = Executors.newFixedThreadPool(Pinned.cores)
    try {
      val fs = files.map(k => pool.submit(new Runnable {
        def run(): Unit = gen.writeFile(k, dir.resolve(fileName(k)))
      }))
      fs.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    val t0 = System.currentTimeMillis() - 1000L * files.size
    files.foreach(k => dir.resolve(fileName(k)).toFile.setLastModified(t0 + 1000L * (k - files.start)))
  }

  /** The truth over files `ks`, in order; files are regenerated four at a
    * time in parallel.
    */
  def truthOf(gen: FrameGen, ks: Seq[Int]): Truth.Ingested = {
    val pool = Executors.newFixedThreadPool(Pinned.cores)
    try Truth.ingest(ks.grouped(Pinned.cores).flatMap { g =>
      g.map(k => pool.submit(() => gen.file(k))).map(_.get())
    }.flatten)
    finally pool.shutdown()
  }

  /** `setup_s` for a pipeline: `Pinned.setups` fresh sessions, each timed
    * through its first completed micro-batch over one staged file.
    */
  def setups(env: Env, gen: FrameGen, maxFiles: Option[Int], res: Result): Unit = {
    val dirs = (1 to Pinned.setups).map { i =>
      val d = env.dir(s"setup-$i/frames")
      stage(gen, 0 until 1, d)
      i -> d
    }.toMap
    Setup.measure(res, env) { (spark, i) =>
      val p = new Pipeline(spark, dirs(i), env.root.resolve(s"setup-$i/ckpt"),
        env.root.resolve(s"setup-$i/sink"), maxFiles)
      p.awaitSink(0, 120000)
      p.stop()
    }
  }

  // ---------------------------------------------------------------- backlog

  def backlog(env: Env, seed: Long, seconds: Int, trace: Boolean): Result = {
    val res = new Result
    val gen = new FrameGen(seed, backlogShape)
    val frames = env.dir("backlog")
    stage(gen, 0 until backlogFiles, frames)
    res.note(s"staged $backlogFiles files of ${backlogShape.framesPerFile} frames")
    val t0 = System.nanoTime()
    val spark = env.session()
    val ops = Probe.attach(spark, trace)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val p = new Pipeline(spark, frames, env.root.resolve("ckpt"), env.root.resolve("sink"), Some(1))
    p.awaitSink(0, 120000)
    res.note(f"cold start (new JVM, session through first batch): ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val w = Window.closedLoop(seconds, backlogFiles, () => {
      p.query.exception.foreach(e => throw e)
      log.data.map(b => (b.batchId, ProgressLog.startMs(b), ProgressLog.endMs(b)))
    })
    val jvm = w.jvm
    val heap = Jvm.sampledLiveHeapMb(1000)
    p.stop()
    val inWindow = log.data.filter(b => w.units.contains(b.batchId))
    val rows = inWindow.map(_.numInputRows).sum
    res.note(w.describe("micro-batches"))
    res.e2e("rows_per_s") = (rows / w.seconds, "1/s")
    val lat = inWindow.map(b => ProgressLog.ms(b, "triggerExecution"))
    res.e2e("latency_p50_ms") = (Stats.median(lat), "ms")
    val (label, tail) = Stats.tail(lat)
    res.e2e("latency_p95_ms") = (tail, "ms")
    res.note(s"latency_p95_ms reports the $label per-batch latency")

    // dashboard reads over the committed sink, closed loop
    val dash = new Dashboard(spark, p, env.dir("view"), dashboardBatches)
    val r0 = System.nanoTime()
    var n = 0
    while (n < 3 || (System.nanoTime() - r0) / 1e9 < backlogReadS) { readCounted(dash, n, res); n += 1 }
    res.e2e("queries_per_s") = (dash.reads.size / dash.reads.map(_.ms / 1e3).sum, "1/s")
    res.layer("jvm.cpu_s_per_mrow") = (jvm.cpuS / rows * 1e6, "s")
    res.e2e("live_heap_mb") = (heap, "MB")
    res.attempted += inWindow.size

    // correctness over the committed prefix of the backlog
    val files = p.fileBatches()
    val committed = p.committed()
    val consumed = files.filter { case (_, b) => committed(b) }.keys.toSeq.sorted
    val truth = truthOf(gen, consumed.map(f => f.stripPrefix("f-").stripSuffix(".parquet").toInt))
    checkIngest(spark, p, dash, log, truth, res)
    res.note("checked")

    if (trace) {
      ops.settle(spark)
      Layers.streaming(res, log, inWindow, backlogFiles - consumed.size)
      Layers.sink(res, p.sink, inWindow.map(_.batchId))
      Layers.operators(res, ops, spark, inWindow.map(b => s"batch-${b.batchId}"),
        inWindow.map(b => s"batch-${b.batchId}" -> (ProgressLog.startMs(b), ProgressLog.endMs(b))).toMap,
        pairs = false)
      Layers.reads(res, dash)
      Layers.jvm(res, jvm, inWindow.size, heap)
      res.layer("generator.lag_ms_p95") = (0.0, "ms")
      val sample = (0 until 2).flatMap(gen.file)
      Layers.ingestKernels(res, sample)
      Layers.corpusKernelsAbsent(res)
    }
    setups(env, new FrameGen(seed + 1, backlogSetupShape), Some(1), res)
    res
  }

  private def readCounted(dash: Dashboard, n: Int, res: Result): Unit = {
    res.attempted += 1
    try dash.read(n)
    catch { case scala.util.control.NonFatal(e) =>
      res.failed += 1
      res.note(s"read-$n failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Totals, planted counts and the dashboard answer against the truth. */
  private def checkIngest(spark: SparkSession, p: Pipeline, dash: Dashboard, log: ProgressLog,
                          truth: Truth.Ingested, res: Result): Unit = {
    log.await(p.committed())
    val all = new Dashboard(spark, p, Files.createDirectories(p.ckpt.resolveSibling("view-all")), Int.MaxValue)
    val got = all.totals().collect().map { r =>
      (r.getTimestamp(0).getTime, r.getLong(1), r.getInt(2), r.getString(3), r.getString(4)) ->
        Truth.Tot(r.getLong(5), r.getLong(6), r.getLong(7))
    }.toMap
    val exact = truth.totals.count { case (k, v) => got.get(k).contains(v) }
    val recall = exact.toDouble / truth.totals.size
    res.e2e("recall") = (recall, "ratio")
    res.check("totals", recall == 1.0 && got.size == truth.totals.size,
      s"$exact of ${truth.totals.size} truth rows reproduced exactly; ${got.size} rows returned")
    val batches = log.batches.values().toArray(Array.empty[StreamingQueryProgress]).toSeq
    val framesIn = batches.map(_.numInputRows).sum
    val dups = batches.map(b => ProgressLog.custom(b, "numDroppedDuplicateRows")).sum
    val intoDedup = batches.map(b => ProgressLog.dedup(b).map(s =>
      s.numRowsUpdated + ProgressLog.custom(b, "numDroppedDuplicateRows") +
        s.numRowsDroppedByWatermark).getOrElse(0L)).sum
    res.check("frames_in", framesIn == truth.frames, s"$framesIn frames in, ${truth.frames} planted")
    res.check("dead_frames", framesIn - intoDedup == truth.dead,
      s"${framesIn - intoDedup} dead, ${truth.dead} planted")
    res.check("dups_removed", dups == truth.redelivered, s"$dups removed, ${truth.redelivered} planted")
    res.layer("sources.frames_in") = (framesIn.toDouble, "count")
    res.layer("sources.dead_frames") = ((framesIn - intoDedup).toDouble, "count")
    res.layer("streaming.dups_removed") = (dups.toDouble, "count")
    val last = all.read(1 << 20)
    val (hour, top, bad, req) = Truth.dashboard(truth.totals)
    res.check("dashboard", last.hourMs == hour && last.top == top && last.req5xx == bad && last.req == req,
      s"newest hour ${last.hourMs} vs $hour, top-10 ${if (last.top == top) "equal" else "differ"}, " +
        s"5xx ${last.req5xx}/${last.req} vs $bad/$req")
  }

  // ------------------------------------------------------------------- live

  def live(env: Env, seed: Long, seconds: Int, trace: Boolean): Result = {
    val res = new Result
    val gen = new FrameGen(seed, liveShape)
    val nFiles = ((Pinned.maxWarmupS.toInt + seconds + liveTailS) * liveFilesPerS)
    val staging = env.dir("live-staging")
    stage(gen, 0 until nFiles, staging)
    res.note(s"staged $nFiles files of ${liveShape.framesPerFile} frames")
    val c0 = System.nanoTime()
    val spark = env.session()
    val ops = Probe.attach(spark, trace)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val watched = env.dir("live")
    val p = new Pipeline(spark, watched, env.root.resolve("ckpt"), env.root.resolve("sink"), None)
    val dash = new Dashboard(spark, p, env.dir("view"), dashboardBatches)
    val moved = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    def move(k: Int): Unit = {
      val name = fileName(k)
      Files.move(staging.resolve(name), watched.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      moved.put(k, System.nanoTime())
    }
    // file 0 alone pays the cold start; the schedule starts after it, so the
    // loop does not begin by draining the files that piled up meanwhile
    move(0)
    p.awaitSink(0, 120000)
    res.note(f"cold start (new JVM, session through first batch): ${(System.nanoTime() - c0) / 1e9}%.3f s")

    // open-loop generator: file k >= 1 is due at t0 + (k - 1) / rate,
    // whatever the pipeline is doing; lag is how late the move happened
    val periodNs = 1000000000L / liveFilesPerS
    val t0 = System.nanoTime() + 50000000L
    val due = (k: Int) => t0 + (k - 1) * periodNs
    @volatile var stopGen = false
    val genThread = new Thread(() => {
      var k = 1
      while (!stopGen && k < nFiles) {
        val due = t0 + (k - 1) * periodNs
        var now = System.nanoTime()
        while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000L), 0); now = System.nanoTime() }
        move(k)
        k += 1
      }
    }, "e2ebench-generator")
    @volatile var stopRead = false
    val readThread = new Thread(() => {
      var n = 0
      while (!stopRead) {
        if (p.committed().isEmpty) Thread.sleep(20)
        else { readCounted(dash, n, res); n += 1 }
      }
    }, "e2ebench-reader")
    genThread.start()
    readThread.start()

    val w = Window.openLoop(seconds, () => {
      p.query.exception.foreach(e => throw e)
      log.data.map(b => (b.batchId, ProgressLog.startMs(b), ProgressLog.endMs(b)))
    })
    val jvm = w.jvm
    val wsNs = w.startNs; val weNs = w.endNs
    // backlog at the window's end: files moved in but not yet committed
    val committedAtEnd = p.committed()
    val filesAtEnd = p.fileBatches()
    val backlogEnd = moved.size - filesAtEnd.count { case (_, b) => committedAtEnd(b) }
    // the heap probe's full collections would stall the batches that commit
    // the window's last rows, so it starts once those rows are committed
    val lastDue = fileName(((weNs - t0 - 1) / periodNs).toInt + 1)
    val deadline = System.nanoTime() + 60000000000L
    while (!p.fileBatches().get(lastDue).exists(p.sinkSpans.containsKey)) {
      p.query.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"$lastDue was not committed")
      Thread.sleep(20)
    }
    val heap = Jvm.sampledLiveHeapMb(1000)
    stopGen = true; genThread.join()
    stopRead = true; readThread.join()
    p.query.processAllAvailable()
    p.stop()

    // per-row latency: due time of its file → end of its batch's sink call
    val batchOf = p.fileBatches()
    val windowFiles = (0 until moved.size).filter(k => due(k) >= wsNs && due(k) < weNs)
    val fileLat = windowFiles.map { k =>
      val b = batchOf(fileName(k))
      (p.sinkSpans.get(b)._2 - due(k)) / 1e6
    }
    val rowLat = fileLat.flatMap(l => Seq.fill(liveShape.framesPerFile)(l))
    res.note(w.describe("micro-batches") +
      s"; ${windowFiles.size} files (${rowLat.size} rows) due in the window")
    // throughput between the window's first and last sink commits, so the
    // count does not depend on where the window cuts a batch
    val commits = log.data.flatMap(b => Option(p.sinkSpans.get(b.batchId)).map(s => (s._2, b.numInputRows)))
      .filter { case (e, _) => e >= wsNs && e < weNs }.sortBy(_._1)
    require(commits.size >= 2, s"only ${commits.size} batches committed in the window")
    val rowsPerS = commits.drop(1).map(_._2).sum / ((commits.last._1 - commits.head._1) / 1e9)
    val rows = rowsPerS * w.seconds
    res.e2e("rows_per_s") = (rowsPerS, "1/s")
    res.e2e("latency_p50_ms") = (Stats.median(rowLat), "ms")
    val (label, tail) = Stats.tail(rowLat)
    res.e2e("latency_p95_ms") = (tail, "ms")
    res.note(s"latency_p95_ms reports the $label row latency")
    // one closed-loop reader: reads per second of its busy time
    val readsIn = dash.reads.filter(r => r.startNs >= wsNs && r.endNs < weNs)
    res.e2e("queries_per_s") = (readsIn.size / readsIn.map(_.ms / 1e3).sum, "1/s")
    res.layer("jvm.cpu_s_per_mrow") = (jvm.cpuS / rows * 1e6, "s")
    res.e2e("live_heap_mb") = (heap, "MB")
    val inWindow = log.data.filter(b => w.units.contains(b.batchId))
    res.attempted += inWindow.size

    val truth = truthOf(gen, 0 until moved.size)
    checkIngest(spark, p, dash, log, truth, res)
    res.note("checked")

    if (trace) {
      ops.settle(spark)
      Layers.streaming(res, log, inWindow, backlogEnd)
      Layers.sink(res, p.sink, inWindow.map(_.batchId))
      Layers.operators(res, ops, spark, inWindow.map(b => s"batch-${b.batchId}"),
        inWindow.map(b => s"batch-${b.batchId}" -> (ProgressLog.startMs(b), ProgressLog.endMs(b))).toMap,
        pairs = false)
      Layers.reads(res, dash)
      Layers.jvm(res, jvm, inWindow.size, heap)
      val lag = (1 until moved.size).map(k => (moved.get(k) - due(k)) / 1e6)
      res.layer("generator.lag_ms_p95") = (Stats.tail(lag)._2, "ms")
      Layers.ingestKernels(res, (0 until 40).flatMap(gen.file))
      Layers.corpusKernelsAbsent(res)
    }
    setups(env, new FrameGen(seed + 1, liveShape), None, res)
    res
  }
}
