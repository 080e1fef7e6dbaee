package graft

/** In-JVM interleaved A/B for optimization work: times the named bench
  * queries with a boolean runtime SQL conf flipped per rep (ABAB order),
  * same session, cleared cache per rep — so box drift lands on both variants
  * and the min-of-reps difference is tree-attributable. Usage:
  *
  *   runMain graft.AbProbe <spark.conf> <query...>
  *   (e.g. spark.sql.optimizer.canChangeCachedPlanOutputPartitioning c06_clean_corpus)
  *
  * Variant A is the conf's value in the [[GraftSession]] session at startup
  * (the committed behavior), variant B its negation; the report prints both
  * values. The conf must be a `spark.*` key whose session value is `true` or
  * `false`, else the probe exits with a usage error. A plan shape that is
  * not a conf is compared across commits (Bench's same-box A/B), not behind
  * an in-tree switch. Diagnostic only — not part of the driver contract.
  */
object AbProbe {
  private def usageExit(why: String): Nothing = {
    System.err.println(s"usage: AbProbe <spark.* boolean conf> <query...> ($why)")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) usageExit("missing arguments")
    val prop = args.head
    if (!prop.startsWith("spark.")) usageExit(s"$prop is not a spark.* conf")
    val names = args.tail.toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps  = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "5").toInt
    val spark = GraftSession.local()
    val valA = spark.conf.getOption(prop).map(_.trim.toLowerCase) match {
      case Some(v @ ("true" | "false")) => v
      case other => usageExit(s"$prop is ${other.getOrElse("unset")} in this session, not true/false")
    }
    val valB = (!valA.toBoolean).toString

    val qs = Queries.all.filter(q => q.bench && names(q.name))
    def run(q: Q): Double = Bench.timedPass(spark)(q.fn(spark, sfDir))
    def setA(): Unit = spark.conf.set(prop, valA)
    def setB(): Unit = spark.conf.set(prop, valB)
    qs.foreach { q =>
      // warm both variants (codegen/JIT for each plan shape)
      setA(); run(q)
      setB(); run(q)
      val ta = scala.collection.mutable.ArrayBuffer.empty[Double]
      val tb = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to reps) {
        setA(); ta += run(q)
        setB(); tb += run(q)
      }
      setA()
      def fmt(xs: Seq[Double]) =
        f"min=${xs.min}%.3f med=${xs.sorted.apply(xs.size / 2)}%.3f all=[${xs.map(x => f"$x%.3f").mkString(",")}]"
      println(s"${q.name}  A $prop=$valA: ${fmt(ta.toSeq)}")
      println(s"${q.name}  B $prop=$valB: ${fmt(tb.toSeq)}")
      println(f"${q.name}  ratio(min A/B)=${ta.min / tb.min}%.3f")
    }
    spark.stop()
  }
}
