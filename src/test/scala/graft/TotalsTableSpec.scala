package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HttpLog, TotalsTable}
import graft.streaming.HttpLogPipeline
import graft.telemetry.Observability

class TotalsTableSpec extends AnyFunSuite with SparkTestBase {

  test("monthly-partitioned totals prune partitions on time-range reads") {
    withTempDir("graft_totals") { tmp =>
      val hl = HttpLog.view(Tables.events(spark, sfDir))
      val totals = HttpLogPipeline.windowedTotals(hl)
        .select(col("window.start").as("ts_hour"), col("resource_id"),
          col("response_status"), col("cache_status"), col("remote_addr"),
          col("requests"), col("total_bytes"), col("total_time_milli"))
      TotalsTable.write(totals, tmp)

      val pruned = TotalsTable.readMonth(spark, tmp, "202401")
      val plan = pruned.queryExecution.executedPlan.toString()
      assert(plan.contains("PartitionFilters: [isnotnull(ym"), s"no partition pruning:\n$plan")
      // events are all Jan 2024, so the pruned read sees everything
      assert(pruned.count() == totals.count())
      assert(TotalsTable.readMonth(spark, tmp, "202312").count() == 0)

      // dashboard query on the pre-aggregate: totals for one (resource, month)
      val one = pruned.filter(col("resource_id") === 7)
        .groupBy("resource_id").agg(sum("total_bytes").as("b")).collect()
      val direct = hl.filter(col("resource_id") === 7)
        .agg(sum("bytes_sent")).collect().head.getLong(0)
      assert(one.head.getLong(1) == direct, "pre-aggregate must reconcile with raw logs")
    }
  }

  test("observed metrics report rows, bytes, server errors in-stream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamLog]
    val observed = Observability.observedLogs(ms.toDF())
    val q = observed.writeStream.format("memory").queryName("obs_sink")
      .outputMode("append").start()
    try {
      ms.addData(
        StreamLog(java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1, 200, "HIT", "1.2.3.4", 100, 5, 1),
        StreamLog(java.sql.Timestamp.valueOf("2024-01-01 01:01:00"), 1, 503, "MISS", "1.2.3.5", 50, 9, 2))
      q.processAllAvailable()
      val m = q.lastProgress.observedMetrics.get(Observability.MetricsName)
      assert(m != null, "no observed metrics in progress")
      assert(m.getAs[Long]("rows") == 2L)
      assert(m.getAs[Long]("bytes") == 150L)
      assert(m.getAs[Long]("server_errors") == 1L)
    } finally q.stop()
  }
}
