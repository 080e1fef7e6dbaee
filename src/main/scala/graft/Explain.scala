package graft

/** Dumps `explain("formatted")` for every registered query — the plan-review
  * loop for SURVEY.md §4 (pushdown, broadcast, whole-stage codegen spans).
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSet else Set.empty[String]
    val spark = GraftSession.local("4")
    Queries.all
      .filter(q => names.isEmpty || names(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try println(q.fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
