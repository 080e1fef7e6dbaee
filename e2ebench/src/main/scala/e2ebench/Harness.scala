package e2ebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Pinned run settings for a 4-core machine; the JVM heap is fixed by the
  * launcher (`run.py`), and the library's own 32-core default is not used.
  */
object Pinned {
  val cores = 4
  val shufflePartitions = 4
  /** Set-ups per run; `setup_s` is their median. */
  val setups = 3
  /** Warm-up never runs longer than this; the run records if it hit it. */
  val maxWarmupS = 10.0
}

/** Creates and tears down the benchmark's Spark sessions. */
final class Env(val root: java.nio.file.Path) {
  def dir(name: String): java.nio.file.Path =
    java.nio.file.Files.createDirectories(root.resolve(name))

  def session(): SparkSession = {
    val s = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[${Pinned.cores}]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", Pinned.shufflePartitions.toString)
      .config("spark.sql.warehouse.dir", dir("warehouse").toString)
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", dir("hadoop-tmp").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** `setup_s`: session creation through the first completed unit (a
  * micro-batch or a pass). It is timed on `Pinned.setups` fresh sessions
  * after the measured run, when the JIT no longer moves it, and the median
  * is reported. The run's own first start (new JVM, classes loading) is a
  * single noisy sample and only noted.
  */
object Setup {
  def measure(res: Result, env: Env)(first: (SparkSession, Int) => Any): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    val times = (1 to Pinned.setups).map { i =>
      val t0 = System.nanoTime()
      val spark = env.session()
      first(spark, i)
      val s = (System.nanoTime() - t0) / 1e9
      spark.stop()
      s
    }
    res.e2e("setup_s") = (Stats.median(times), "s")
    res.note(f"setup_s: median of ${times.size} set-ups: ${times.map(t => f"$t%.3f").mkString(" ")}")
  }
}

/** Process-level counters read through JMX. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap occupancy after a full collection: the heap pools' collection
    * usage, read right after `System.gc()`.
    */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  /** Median post-GC heap occupancy while the workload keeps running: a
    * full collection every `everyMs` for `forMs`. (The largest sample
    * depends on which transient objects a collection happens to meet; on
    * `corpus_dedup` it spread 0.29 of its median across seeds.)
    */
  def sampledLiveHeapMb(forMs: Long, everyMs: Long = 100): Double = {
    val end = System.currentTimeMillis() + forMs
    val samples = scala.collection.mutable.ArrayBuffer[Double]()
    while (samples.isEmpty || System.currentTimeMillis() < end) {
      samples += liveHeapMb()
      Thread.sleep(everyMs)
    }
    Stats.median(samples.toSeq)
  }
}

/** Per-unit operator counts, from `SparkListener` callbacks. A unit is a
  * micro-batch (its jobs carry the streaming batch id), a dashboard read or
  * a clean pass (their jobs carry the `e2ebench.unit` local property).
  */
final class OpsListener extends SparkListener {
  final class UnitCounts {
    var jobs = 0; var stages = 0; var tasks = 0
    var cpuNs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val stageSpans = mutable.ArrayBuffer[(Long, Long)]()
    val executions = mutable.LinkedHashSet[Long]()
  }
  val units = new ConcurrentHashMap[String, UnitCounts]()
  private val stageUnit = new ConcurrentHashMap[Int, String]()

  private def unitOf(p: java.util.Properties): Option[String] = Option(p).flatMap { p =>
    Option(p.getProperty(OpsListener.UnitKey))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map("batch-" + _))
  }

  def unit(key: String): UnitCounts = units.computeIfAbsent(key, _ => new UnitCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    unitOf(e.properties).foreach { k =>
      val u = unit(k)
      u.jobs += 1
      Option(e.properties.getProperty("spark.sql.execution.id")).foreach(x => u.executions += x.toLong)
      e.stageIds.foreach(stageUnit.put(_, k))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    Option(stageUnit.get(si.stageId)).foreach { k =>
      val u = unit(k)
      u.stages += 1
      u.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        u.cpuNs += m.executorCpuTime
        u.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        u.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        u.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      for (a <- si.submissionTime; b <- si.completionTime) u.stageSpans += ((a, b))
    }
  }

  /** Time in [from, to] (epoch ms) during which no stage of the unit ran. */
  def gapMs(key: String, from: Long, to: Long): Double = {
    val spans = unit(key).stageSpans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (to - from - covered).toDouble
  }

  /** Block until the listener bus has delivered every event posted so far. */
  def settle(spark: SparkSession): Unit = org.apache.spark.E2eBus.drain(spark.sparkContext)
}

object OpsListener {
  val UnitKey = "e2ebench.unit"

  /** Sum of a SQL metric over the unit's executions, for plan nodes whose
    * description matches `node` (e.g. the verification filter).
    */
  def sqlMetric(spark: SparkSession, executions: Iterable[Long], node: String => Boolean,
                metric: String): Long = {
    val store = spark.sharedState.statusStore
    executions.iterator.map { ex =>
      val values = store.executionMetrics(ex)
      store.planGraph(ex).allNodes.filter(n => node(n.desc)).flatMap(_.metrics)
        .filter(_.name == metric)
        .flatMap(m => values.get(m.accumulatorId))
        .map(v => v.split("\n").head.replaceAll("[^0-9]", ""))
        .filter(_.nonEmpty).map(_.toLong).sum
    }.sum
  }
}

/** End-to-end metrics, per-layer metrics, checks and notes of one run. */
final class Result {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val notes = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String): Unit = checks += ((name, ok, detail))
  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)
  private val t0 = System.nanoTime()
  /** A note, stamped with the seconds since the run started. */
  def note(s: String): Unit = notes += f"[${(System.nanoTime() - t0) / 1e9}%5.1f s] $s"
}

object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.math.BigDecimal.valueOf(x).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")
}
