package e2ebench

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <work dir>`
  *
  * Prints one line per metric and check, then, as the last line, the result
  * object: end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`. Exits 2 when any output disagrees with the generator's
  * truth.
  */
object Main {
  val workloads: Map[String, (Env, Long, Int, Boolean) => Result] = Map(
    "ingest_backlog" -> IngestRun.backlog,
    "ingest_live" -> IngestRun.live,
    "corpus_dedup" -> CorpusRun.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val run = workloads.getOrElse(opt("workload"), sys.error(s"unknown workload ${opt("workload")}"))
    val trace = opt("trace") == "1"
    val env = new Env(java.nio.file.Paths.get(opt("dir")).toAbsolutePath)
    val res = run(env, opt("seed").toLong, opt("seconds").toInt, trace)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())

    res.e2e.foreach { case (k, (v, u)) => println(f"e2e   $k%-34s ${Json.num(v)} $u") }
    res.layer.foreach { case (k, (v, u)) => println(f"layer $k%-34s ${Json.num(v)} $u") }
    println(f"e2e   ${"failed_ratio"}%-34s ${Json.num(res.failed.toDouble / res.attempted)} ratio")
    res.notes.foreach(n => println(s"note  $n"))
    res.checks.foreach { case (n, ok, d) => println(s"check ${if (ok) "ok  " else "FAIL"} $n: $d") }
    val metrics = if (trace) res.layer else res.e2e
    println(s"""{"correct": ${res.correct}, "attempted": ${res.attempted}, "failed": ${res.failed}, """ +
      s""""metrics": ${Json.metrics(metrics)}}""")
    System.out.flush()
    sys.exit(if (res.correct) 0 else 2)
  }
}
