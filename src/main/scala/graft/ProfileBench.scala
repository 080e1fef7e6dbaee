package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement harness for the optimization rounds (guide §1: measure first).
  *
  * For each named bench query (all of them when no args): one warm pass, then
  * one cache-cleared timed pass with a stage listener attached, printing per
  * stage — wall clock, task count, executor run/CPU time, input bytes, shuffle
  * read/write bytes — so the expensive exchange is attributable before any
  * change is made. Same session shape as [[Bench]] (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus, [[Bench.timedPass]]). Diagnostic only:
  * never part of the driver contract, adds no query, changes none.
  */
object ProfileBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSet
    val spark = GraftSession.local()

    final case class St(id: Int, name: String, wallMs: Long, tasks: Int,
                        runMs: Long, cpuMs: Long, inB: Long, srB: Long, swB: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        stages.add(St(si.stageId, si.name.takeWhile(_ != '\n').take(80), wall,
          si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000,
          tm.inputMetrics.bytesRead, tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten))
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ()
    }

    val qs = Queries.all.filter(q => q.bench && (names.isEmpty || names(q.name)))
    qs.foreach { q =>
      Bench.timedPass(spark)(q.fn(spark, sfDir)) // warm: codegen, JIT, file index
      stages.clear(); jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      val sec = Bench.timedPass(spark)(q.fn(spark, sfDir))
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== ${q.name} total=$sec%.3f s, jobs=${jobs.get()}, stages=${stages.size} =====")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"tasks"}%5s ${"run_ms"}%8s ${"cpu_ms"}%8s ${"input"}%10s ${"sh_read"}%10s ${"sh_write"}%10s  name")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_.wallMs).foreach { s =>
        println(f"${s.id}%6d ${s.wallMs}%8d ${s.tasks}%5d ${s.runMs}%8d ${s.cpuMs}%8d ${s.inB}%10d ${s.srB}%10d ${s.swB}%10d  ${s.name}")
      }
    }
    spark.stop()
  }
}
