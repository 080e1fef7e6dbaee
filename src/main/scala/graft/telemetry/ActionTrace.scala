package graft.telemetry

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One completed stage attempt: wall ms from submission to completion, its
  * tasks, their executor run and CPU ms, and input, shuffle read and shuffle
  * write bytes. `job` is the first job that listed the stage.
  */
final case class StageRow(stage: Int, job: Int, name: String, wallMs: Long,
                          tasks: Int, runMs: Long, cpuMs: Long, inputBytes: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long)

/** What a body ran: its successful actions' executions (plans and
  * `tracker` phase times) in completion order, the SQL executions it
  * started, its jobs, and one row per completed stage.
  */
final case class Trace(executions: Seq[QueryExecution], sqlExecutions: Int,
                       jobs: Int, stages: Seq[StageRow])

object ActionTrace {

  /** Run `body` with one `SparkListener` and one `QueryExecutionListener`
    * attached. The listener bus is drained before they are registered, so
    * no earlier action's queued events are counted, and after `body`, so
    * all of its events are; both are unregistered even when `body` throws.
    */
  def during[A](spark: SparkSession)(body: => A): (A, Trace) = {
    val executions = new ConcurrentLinkedQueue[QueryExecution]()
    val stages = new ConcurrentLinkedQueue[StageRow]()
    val jobOf = new ConcurrentHashMap[Int, Int]()
    val sqlStarts, jobs = new AtomicInteger()
    val scheduler = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        js.stageIds.foreach(jobOf.putIfAbsent(_, js.jobId))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val (si, tm) = (sc.stageInfo, sc.stageInfo.taskMetrics)
        stages.add(StageRow(si.stageId, jobOf.getOrDefault(si.stageId, -1),
          si.name.takeWhile(_ != '\n').take(80),
          si.completionTime.zip(si.submissionTime).fold(-1L) { case (a, b) => a - b }, si.numTasks,
          tm.executorRunTime, tm.executorCpuTime / 1000000, tm.inputMetrics.bytesRead,
          tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (e.isInstanceOf[SparkListenerSQLExecutionStart]) sqlStarts.incrementAndGet()
    }
    val actions = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    GraftBus.drain(sc)
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(actions)
    try {
      val a = body
      GraftBus.drain(sc)
      (a, Trace(executions.asScala.toList, sqlStarts.get, jobs.get, stages.asScala.toList))
    } finally {
      sc.removeSparkListener(scheduler)
      spark.listenerManager.unregister(actions)
    }
  }
}
