package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.telemetry.{ActionTrace, StageRow}

/** Headline benchmark: runs the `bench = true` queries from [[Queries]] on
  * SPARK_GRAFT_SF_DIR and prints one JSON metric line. Results go
  * through the `noop` sink (every output column materialized), not
  * `count()`, which would let Catalyst prune the aggregates away.
  *
  * Every timed pass runs under [[ActionTrace]]; for each query the record of
  * the pass whose time is reported goes to [[recordFile]], so a regression
  * can be attributed from that file alone.
  *
  * Same-box A/B: when `bench_ab.ref` exists at the repo root (or
  * SPARK_GRAFT_AB_REF names a git ref; "off" disables), the previous tree is
  * compiled once in a throwaway git worktree and benched in subprocesses
  * INTERLEAVED with this tree: the rep budget is split across
  * SPARK_GRAFT_AB_WINDOWS windows (default 3 → reps 2/2/1), each running the
  * prev tree first (a fresh JVM with its own warm pass) and then as many
  * in-process passes, so box drift lands on both trees of a window. The
  * `{"metric":"ab",...}` line carries the per-window current/prev ratios
  * (`w`) and their median (`ratio`), and is printed just before the primary
  * `{"metric":"total",...}` line, which is always LAST: its reader parses a
  * bounded 2000-char log tail. The current tree keeps one JVM across
  * windows, so later windows can flatter it by JIT warmth; window 0 is the
  * most symmetric reading. A missing ref, failed compile or timed-out
  * window records an `error` field (or a -1 ratio) and never blocks the
  * primary benchmark.
  */
object Bench {

  /** Default per-query rep budget (SPARK_GRAFT_BENCH_REPS), and a ceiling: a
    * 6th per-query sample pushes the worst-case tail pair to 2044 chars, past
    * the 2000-char tail capture. BenchLineSpec derives its worst-case
    * sample arrays from this constant, so raising it without shrinking the
    * line fails the budget pin.
    */
  private[graft] val defaultBenchReps = 5

  /** Clamp-max A/B window count: the worst-case width of the ab line's `w`
    * ratio array, which BenchLineSpec pins against the tail budget.
    */
  private[graft] val maxAbWindows = 5

  /** The timed pass every harness main shares: clear the cache, force `df`
    * through the `noop` sink, return the seconds. The cleared cache keeps
    * operators that persist intermediates (the dedup family) from being
    * served a previous run's blocks via canonical-plan cache matching, so
    * the timing measures the computation, not a cache read; in-run persists
    * still count as part of the operator's real cost. `df` is built inside
    * the timed window, as building it may already collect or run jobs.
    */
  private[graft] def timedPass(spark: SparkSession)(df: => DataFrame): Double = {
    spark.sharedState.cacheManager.clearCache()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One query's operator record: its executions (tracker phase ms and the
    * executed plan), its SQL executions, jobs, stages and tasks, and the
    * stage rows those totals sum.
    */
  private[graft] final case class QueryRecord(
      query: String, seconds: Double, sqlExecutions: Int, jobs: Int, stages: Int,
      tasks: Int, executions: Seq[ExecutionRecord], stageRows: Seq[StageRow])
  private[graft] final case class ExecutionRecord(phasesMs: Map[String, Long], plan: String)

  /** The operator record's fixed place, relative to the repo root. */
  private[graft] val recordFile = "target/bench_record.json"

  /** One [[timedPass]] of `q` under [[ActionTrace]], whose bus drains sit
    * outside the timed window. The pass's record replaces the query's entry
    * in `best` when its time is the query's lowest so far, so `best` ends
    * holding the record of the reported (minimum) pass.
    */
  private[graft] def recordedPass(spark: SparkSession, sfDir: String, q: Q,
                                  best: collection.mutable.Map[String, QueryRecord]): Double = {
    val (sec, t) = ActionTrace.during(spark)(timedPass(spark)(q.fn(spark, sfDir)))
    if (best.get(q.name).forall(sec < _.seconds))
      best(q.name) = QueryRecord(q.name, sec, t.sqlExecutions, t.jobs, t.stages.size,
        t.stages.map(_.tasks).sum, t.executions.map(qe => ExecutionRecord(
          qe.tracker.phases.map { case (k, p) => k -> p.durationMs }, qe.executedPlan.toString)),
        t.stages)
    sec
  }

  private[graft] def writeRecord(path: Path, sfDir: String, records: Seq[QueryRecord]): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, Serialization.write(Map("sf" -> sfDir, "queries" -> records))(DefaultFormats))
  }

  /** Run `cmd` in `cwd`: (exit code, or −1 on timeout; captured stdout). */
  private def runCmd(cmd: Seq[String], cwd: java.io.File,
                     env: Map[String, String], timeoutSec: Long): (Int, String) = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(cwd)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val outF = java.io.File.createTempFile("graft_ab", ".out")
    pb.redirectOutput(outF)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) { p.destroyForcibly(); p.waitFor() }
    val out = new String(Files.readAllBytes(outF.toPath), "UTF-8")
    outF.delete()
    (if (done) p.exitValue() else -1, out)
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  // Matches build.sbt's jdk17AddOpens (spark-submit would inject these;
  // the bare `java` subprocess needs them spelled out).
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** A/B preparation outcome: disabled, failed (carrying the ready-made
    * error fragment for the ab line), or a compiled prev-tree worktree.
    */
  private sealed trait AbPrep
  private case object AbOff extends AbPrep
  private final case class AbFail(fragment: String) extends AbPrep
  private final case class AbReady(sha: String, wt: java.io.File) extends AbPrep

  // error detail capped at 120 chars so even the ab ERROR line stays
  // co-resident with the primary line in the driver's tail window (the
  // full detail is on stderr either way)
  private def failFragment(ref: String, stage: String, detail: String): String =
    s""""ref":"${jsonEscape(ref)}",""" +
      s""""error":"${jsonEscape(s"$stage: ${detail.take(120)}")}""""

  /** Resolve the A/B ref, check it out into a throwaway worktree and compile
    * it ONCE — the per-window runs reuse the compiled classes.
    */
  private def abPrepare(repoRoot: java.io.File): AbPrep = {
    val ref = sys.env.get("SPARK_GRAFT_AB_REF")
      .orElse {
        val f = new java.io.File(repoRoot, "bench_ab.ref")
        if (f.exists) Some(new String(Files.readAllBytes(f.toPath), "UTF-8").trim)
        else None
      }
      .filter(r => r.nonEmpty && r != "off" && r != "none")
      .getOrElse { return AbOff }
    val (rcSha, shaOut) =
      runCmd(Seq("git", "rev-parse", ref), repoRoot, Map.empty, 60)
    if (rcSha != 0) return AbFail(failFragment(ref, "rev-parse", shaOut))
    val sha = shaOut.trim
    val wt = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_ab_${ProcessHandle.current().pid()}")
    val (rcWt, wtOut) = runCmd(
      Seq("git", "worktree", "add", "--detach", wt.getAbsolutePath, sha),
      repoRoot, Map.empty, 120)
    if (rcWt != 0) return AbFail(failFragment(sha.take(12), "worktree", wtOut))
    val (rcC, cOut) = runCmd(Seq("sbt", "-batch", "compile"), wt, Map.empty, 900)
    if (rcC != 0) {
      runCmd(Seq("git", "worktree", "remove", "--force", wt.getAbsolutePath),
        repoRoot, Map.empty, 120)
      return AbFail(failFragment(sha.take(12), "compile",
        cOut.linesIterator.toSeq.takeRight(5).mkString(" | ")))
    }
    AbReady(sha, wt)
  }

  /** One prev-tree window: bench the compiled worktree in a fresh subprocess
    * with `reps` timed passes (plus its own warm pass). Returns the window's
    * suite total (that subprocess's sum of per-query rep-minima) and the
    * per-query map, or the failure detail.
    */
  private def abWindow(wt: java.io.File, sfDir: String, cpus: String,
                       reps: Int): Either[String, (Double, Map[String, Double])] = {
    val cp = s"${wt.getAbsolutePath}/target/scala-2.13/classes:/opt/spark/jars/*"
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    val cmd = Seq("java") ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      s"-Xmx$mem", "-cp", cp, "graft.Bench")
    val (rcB, bOut) = runCmd(cmd, wt,
      Map("SPARK_GRAFT_SF_DIR" -> sfDir, "SPARK_GRAFT_CPUS" -> cpus,
        "SPARK_GRAFT_AB_REF" -> "off",
        "SPARK_GRAFT_BENCH_REPS" -> reps.toString), 1800)
    val line = bOut.linesIterator.find(_.contains("\"metric\":\"total\""))
      .getOrElse { return Left(s"exit $rcB, no metric line") }
    val total = "\"value\":([-0-9.eE+]+)".r.findFirstMatchIn(line)
      .map(_.group(1).toDouble)
      .getOrElse { return Left("no value field") }
    val qMap = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(line).map(_.group(1))
      .map { body =>
        "\"([^\"]+)\":(-?[0-9.eE+]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
      .getOrElse(Map.empty[String, Double])
    Right((total, qMap))
  }

  /** Split the total rep budget across A/B windows, front-loaded (5 over 3
    * → 2/2/1), with the window count clamped to [1, min(maxAbWindows, reps)].
    */
  private[graft] def distributeReps(reps: Int, windows: Int): Seq[Int] = {
    val w = math.max(1, math.min(windows, math.min(maxAbWindows, reps)))
    val base = reps / w
    val extra = reps % w
    Seq.tabulate(w)(i => base + (if (i < extra) 1 else 0))
  }

  /** Upper median (same convention as the primary line's per-query median);
    * -1 when no non-negative samples exist.
    */
  private[graft] def medianOf(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.sorted.apply(ok.size / 2)
  }

  /** The compact ab SUCCESS fragment: 12-char sha, best-prev total (sum of
    * per-query minima across all prev windows), the per-window current/prev
    * ratios, and their median. A 1-rep window's "min" has no noise rejection
    * (it produced the off-scale ratio in every recorded 2/2/1 run), so such
    * windows stay visible in `w` but leave the median whenever a ≥2-rep
    * window succeeded. BenchLineSpec pins the worst-case width.
    */
  private[graft] def abFragmentFields(sha: String, prevTotal: Double,
                                      ratios: Seq[Double],
                                      repPlan: Seq[Int]): String = {
    val eligible = ratios.zip(repPlan).collect { case (r, n) if n >= 2 => r }
    val forMedian = if (eligible.exists(_ >= 0)) eligible else ratios
    s""""ref":"${jsonEscape(sha.take(12))}",""" +
      s""""prev_tree_same_box":${fmt(prevTotal)},""" +
      s""""w":${ratios.map(fmt).mkString("[", ",", "]")},""" +
      s""""ratio":${fmt(medianOf(forMedian))}"""
  }

  /** The ab_detail line: per-window prev/current suite totals, the per-query
    * best-prev map, and the per-window rep plan (`"rep_plan"`), which shows
    * which windows were eligible for the headline median. It is printed
    * early, not tail-adjacent, so it costs no tail budget.
    */
  private[graft] def abDetailLine(sha: String, prevTotals: Seq[Double],
                                  curTotals: Seq[Double], repPlan: Seq[Int],
                                  perQ: Seq[(String, Double)]): String = {
    val pw = prevTotals.map(fmt).mkString("[", ",", "]")
    val cw = curTotals.map(fmt).mkString("[", ",", "]")
    val rp = repPlan.mkString("[", ",", "]")
    val pq = perQ.sortBy(_._1)
      .map { case (k, v) => "\"" + jsonEscape(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"ab_detail","ref":"${jsonEscape(sha.take(12))}","rep_plan":$rp,""" +
      s""""prev_windows":$pw,"cur_windows":$cw,"queries":$pq}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repoRoot = new java.io.File(".").getCanonicalFile
    // resolve + checkout + compile the prev tree BEFORE the timed windows,
    // so the per-window subprocess cost is JVM+session startup only
    val prep: AbPrep = try abPrepare(repoRoot)
      catch { case e: Throwable =>
        AbFail(s""""error":"${jsonEscape(e.toString.take(120))}"""")
      }
    try {
      val spark = GraftSession.local(cpus)

      val headline = Queries.all.filter(_.bench)
      // warm each query once (codegen compile, JIT, file index), then time
      // rotated full passes and keep the per-query min: one contended
      // wall-clock window (GC, other tenants, writeback) then degrades at
      // most one of a query's samples instead of all of them back-to-back.
      // A failing query reports -1, never a flattering near-zero timing.
      def timed(q: Q)(pass: => Double): Double =
        try pass
        catch { case e: Throwable => System.err.println(s"[bench] ${q.name} failed: $e"); -1.0 }
      val warmed = headline.filter(q => timed(q)(timedPass(spark)(q.fn(spark, sfDir))) >= 0)
      val best = collection.mutable.Map.empty[String, QueryRecord]
      val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", defaultBenchReps.toString).toInt
      val nWin = sys.env.getOrElse("SPARK_GRAFT_AB_WINDOWS", "3").toInt
      // with A/B live the rep budget is split across interleaved windows
      // (see the object scaladoc); without it, one block
      val plan: Seq[Int] = prep match {
        case AbReady(_, _) => distributeReps(reps, nWin)
        case _             => Seq(math.max(reps, 0))
      }
      val samples = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
      val prevWins = scala.collection.mutable.ListBuffer.empty[Either[String, (Double, Map[String, Double])]]
      val curWins  = scala.collection.mutable.ListBuffer.empty[Double]
      var rep = 0
      for (winReps <- plan) {
        prep match {
          case AbReady(_, wt) =>
            prevWins += (try abWindow(wt, sfDir, cpus, winReps)
              catch { case e: Throwable => Left(e.toString) })
          case _ => ()
        }
        val winSamples = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
        for (_ <- 0 until winReps) {
          val shift   = if (warmed.isEmpty) 0 else rep * warmed.length / math.max(reps, 1)
          val rotated = warmed.drop(shift) ++ warmed.take(shift)
          rotated.foreach { q =>
            val t = timed(q)(recordedPass(spark, sfDir, q, best))
            samples(q.name) = t :: samples(q.name)
            winSamples(q.name) = t :: winSamples(q.name)
          }
          rep += 1
        }
        // the window's suite total mirrors the subprocess's: per-query min
        // within the window, failures excluded
        curWins += warmed.iterator.map { q =>
          val ts = winSamples(q.name)
          if (ts.isEmpty || ts.exists(_ < 0)) -1.0 else ts.min
        }.filter(_ >= 0).sum
      }

      val ab: Option[String] = prep match {
        case AbOff        => None
        case AbFail(frag) => Some(frag)
        case AbReady(sha, _) =>
          val oks = prevWins.collect { case Right(x) => x }.toSeq
          if (oks.isEmpty) {
            val detail = prevWins.collectFirst { case Left(d) => d }.getOrElse("no windows ran")
            Some(failFragment(sha.take(12), "bench", detail))
          } else {
            // per-query min across all prev windows → the best-prev total
            val perQ = oks.flatMap(_._2.toSeq)
              .groupMapReduce(_._1)(_._2)((a, b) =>
                if (a < 0) b else if (b < 0) a else math.min(a, b))
            val prevTotal = perQ.values.filter(_ >= 0).sum
            val ratios = prevWins.toSeq.zip(curWins.toSeq).map {
              case (Right((p, _)), c) if p > 0 && c > 0 => c / p
              case _                                    => -1.0
            }
            // the full per-window detail goes out now on its own line; it is
            // too long to share the 2000-char tail window with the primary line
            val prevTotals = prevWins.map {
              case Right((p, _)) => p
              case Left(_)       => -1.0
            }.toSeq
            println(abDetailLine(sha, prevTotals, curWins.toSeq, plan, perQ.toSeq))
            Some(abFragmentFields(sha, prevTotal, ratios, plan))
          }
      }

      // headline number per query = min of the samples (the least-contended
      // run). The line also carries every per-pass sample (in run order) and
      // the median, so a regression is adjudicable from the artifact alone:
      // min ≈ median → the query got slower; min ≪ median → contention.
      val results = headline.map { q =>
        val ts = samples(q.name).reverse // prepended during runs → reverse to run order
        val t  = if (ts.isEmpty || ts.exists(_ < 0)) -1.0 else ts.min
        (q.name, t, ts)
      }
      tailLines(results, ab, sfDir).foreach(println)
      try writeRecord(new java.io.File(repoRoot, recordFile).toPath, sfDir,
        results.collect { case (n, t, _) if t >= 0 => best(n) })
      catch { case e: Throwable => System.err.println(s"[bench] $recordFile not written: $e") }
      spark.stop()
    } finally {
      prep match {
        case AbReady(_, wt) =>
          runCmd(Seq("git", "worktree", "remove", "--force", wt.getAbsolutePath),
            repoRoot, Map.empty, 120)
        case _ => ()
      }
    }
  }

  /** Adaptive number rendering, ≤7 chars up to 27 h: 0.1 ms resolution below
    * 100 s, 0.1 s above. The bound is what lets BenchLineSpec prove the tail
    * pair always fits the tail window. Locale.ROOT: a comma-decimal
    * default locale would emit `1,2345` and break the JSON.
    */
  private[graft] def fmt(d: Double): String =
    if (d < 0) "-1"
    else if (d >= 100) String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
    else String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** The driver-facing tail lines: the compact A/B line first, the primary
    * line LAST. The reader parses a bounded 2000-char log tail and the PAIR
    * must fit it together: the primary measured 1804 chars worst-case on the
    * 14-query set, so the ab line stays ref+total+window ratios (~115 chars)
    * and error details are capped at 120 chars. BenchLineSpec pins the ≤2000
    * budget against the current headline set with worst-case numeric widths,
    * so growing the `bench = true` set past the window fails a spec.
    */
  private[graft] def tailLines(results: Seq[(String, Double, List[Double])],
                               ab: Option[String], sfDir: String): Seq[String] = {
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val sampleJson = results.map { case (k, _, ts) =>
      "\"" + k + "\":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val medianJson = results.map { case (k, _, ts) =>
      val m = if (ts.isEmpty || ts.exists(_ < 0)) -1.0 else ts.sorted.apply(ts.size / 2)
      "\"" + k + "\":" + fmt(m)
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    ab.map(f => s"""{"metric":"ab",$f}""").toSeq :+
      (s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""samples":$sampleJson,"median":$medianJson,"sf":"$sfDir"}""")
  }
}
