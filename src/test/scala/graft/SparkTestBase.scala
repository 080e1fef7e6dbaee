package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Shared local session for specs (reused across suites via getOrCreate). */
trait SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local("4")
  val sfDir = "/root/testdata/sf0.001"

  /** Every node an action ran: AQE's final plans, its query stages, and
    * the cached plans under in-memory scans (a cache fills inside the
    * action that first reads it).
    */
  def executedNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan)
    case q: QueryStageExec => executedNodes(q.plan)
    case m: InMemoryTableScanExec => executedNodes(m.relation.cachedPlan)
    case other => other.children.flatMap(executedNodes)
  })

  /** Temp dir deleted after the body — specs writing indexes/sinks must not
    * accumulate parquet trees in /tmp across runs.
    */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
