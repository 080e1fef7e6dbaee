package graft

/** Headline benchmark: runs the `bench = true` queries from [[Queries]] on
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Results are forced through the `noop` sink (full materialization of every
  * output column) rather than `count()`, which would let Catalyst prune the
  * aggregates away and under-report.
  *
  * A/B guard rail (r11, after two rounds of box-speed drift made raw
  * round-over-round totals uninterpretable): when `bench_ab.ref` exists at
  * the repo root (or SPARK_GRAFT_AB_REF is set to a git ref; "off"
  * disables), the PREVIOUS round's tree is checked out into a throwaway
  * git worktree, compiled once, and benched in subprocesses in the SAME
  * wall-clock window — and the result is emitted as its OWN self-contained
  * `{"metric":"ab",...}` JSON line immediately BEFORE the primary
  * `{"metric":"total",...}` line, which stays in exactly the r10 shape
  * and is always the LAST line printed. (r11 spliced the A/B fragment
  * into the middle of the single metric line; that pushed the line head
  * past the driver's bounded tail-capture window and BENCH_r11 came back
  * `parsed: null` — the primary line must be terminal and short, per the
  * r11 verdict task #2 / ADVICE high finding.)
  *
  * INTERLEAVED WINDOWS (r17, verdict task #3): r16 measured the sequential
  * prev-block-then-current-block A/B's noise floor and it was wide — two
  * trees with byte-identical `src/main` read 0.79×–0.92× apart, because
  * each tree's entire suite sat in its own multi-minute wall-clock window
  * and the box drifted between them. The fix is the same instrument that
  * closed the r15 c07 watch: interleave. The total rep budget (default 5)
  * is split across SPARK_GRAFT_AB_WINDOWS windows (default 3 → reps
  * 2/2/1; since r18 the 1-rep tail window — which has no in-window noise
  * rejection and produced the off-scale ratio in every recorded r17 run —
  * stays visible in `w` but is excluded from the headline median; the
  * budget could not simply grow to 6 → 2/2/2 because a 6th per-query
  * sample overflows the driver's 2000-char tail capture, see
  * BenchLineSpec); each window runs the prev tree FIRST (a fresh subprocess doing
  * its own warm pass + that window's reps), then the SAME number of
  * current-tree passes in-process, so box drift lands on both trees of a
  * window instead of on one whole block. The ab line then carries the
  * per-window current/prev ratios (`"w":[...]`) and their median
  * (`"ratio"`) next to the best-prev total — a real regression moves ALL
  * windows' ratios; box drift moves them in both directions. Per-window
  * prev-first ordering keeps the old conservative bias (prev benefits
  * from any box warm-up within a window). One asymmetry is accepted and
  * documented rather than hidden: the current tree keeps one JVM across
  * windows while prev gets a fresh JVM (with its own warm pass) per
  * window, so later windows' ratios can flatter the current tree by
  * residual JIT warmth — window 0 is the most warmth-symmetric reading,
  * and the per-window spread makes the effect visible instead of baked
  * into a single number. Every A/B step is failure-isolated: a missing
  * ref, failed compile, or timed-out window records an `error` field on
  * the ab line (or a -1 window ratio) and never blocks the primary
  * benchmark.
  */
object Bench {

  /** Default per-query rep budget (SPARK_GRAFT_BENCH_REPS) — and a CEILING,
    * not just a default: the r18 session measured that a 6th per-query
    * sample pushes the worst-case tail pair to 2044 chars > the driver's
    * 2000-char capture. BenchLineSpec derives its worst-case sample arrays
    * from THIS constant (r18 ADVICE: a hardcoded 5 in the spec would let
    * the default drift to 6 while the pin kept passing), so raising the
    * default without shrinking the line fails the budget pin instead of
    * silently zeroing a round's benchmark artifact.
    */
  private[graft] val defaultBenchReps = 5

  /** Clamp-max A/B window count in [[distributeReps]] — also the worst-case
    * width of the ab line's `w` ratio array that BenchLineSpec pins against
    * the tail budget.
    */
  private[graft] val maxAbWindows = 5

  /** Run `cmd` in `cwd`, stdout captured, stderr inherited; kills on
    * timeout. Returns (exitCode, stdout) with exitCode −1 on timeout.
    */
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
    val out = new String(java.nio.file.Files.readAllBytes(outF.toPath), "UTF-8")
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
        if (f.exists)
          Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim)
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

  /** Split the total rep budget across A/B windows, front-loaded (the
    * defaults 5 over 3 → 2/2/1). Window count is clamped to
    * [1, min(5, reps)] — at least one rep per window, and at most 5 windows
    * so the ab line's per-window ratio array stays inside the tail budget
    * BenchLineSpec pins. The default split's 1-rep tail window is
    * structurally degenerate as a ratio source; [[abFragmentFields]] keeps
    * sub-2-rep windows out of the headline median (r18, verdict task #3).
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
    * per-query minima across all prev windows — the same semantics the
    * pre-r17 single-block `prev_tree_same_box` had), the per-window
    * current/prev ratio array, and the median ratio. BenchLineSpec pins the
    * worst-case width against the tail window.
    *
    * r18 (verdict task #3): a 1-rep window's "per-query min" is a single
    * sample with no noise rejection, and it produced the off-scale ratio in
    * every recorded r17 run (0.4444 / 0.4645 / 0.8303). Such windows stay
    * VISIBLE in `w` (a silent drop would hide that the run was degenerate)
    * but are excluded from the headline `ratio` median whenever at least
    * one ≥2-rep window succeeded; if none did, the median falls back to all
    * windows rather than reporting -1 on a run that has usable data. Which
    * windows were median-eligible is reconstructible from the artifact: the
    * ab_detail line records the per-window rep plan (r18 ADVICE — see
    * [[abDetailLine]]).
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
    * best-prev map — and, since r19 (r18 ADVICE), the per-window rep plan
    * (`"rep_plan"`). Without it a consumer of the JSON could not tell the
    * headline `ratio` (a median over the ≥2-rep windows) apart from the
    * all-1-rep degenerate fallback when env vars override the 2/2/1 default:
    * `w` alone shows the ratios, but only the rep plan shows which windows
    * were ELIGIBLE for the median. This line is emitted early (not
    * tail-adjacent), so the extra field costs no tail budget — the compact
    * ab line stays untouched.
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
      def run(q: Q): Boolean =
        try { q.fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable => System.err.println(s"[bench] ${q.name} failed: $e"); false }
      // warm each query once (codegen compile, JIT, file index), then time
      // rotated full passes and keep the per-query min — one slow run from
      // CI-machine contention (GC, other tenants, writeback) otherwise
      // dominates the reported number (observed swings up to 3×). The passes
      // are INTERLEAVED: each pass runs the whole suite in a rotated order, so
      // a single contended wall-clock window degrades at most one of a query's
      // samples instead of all of them back-to-back. A failing query
      // reports -1, never a flattering near-zero timing.
      // Every timed run starts from a CLEARED cache: operators that persist
      // intermediates (the dedup family) would otherwise be served a previous
      // run's blocks via canonical-plan cache matching and the "timing" would
      // measure a cache read, not the computation. In-run persists still count
      // — they're part of the operator's real cost.
      def timed(q: Q): Double = {
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        if (run(q)) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val warmed = headline.filter(run)
      // 5 passes (r8, was 3): the r7 driver session showed a single contended
      // wall-clock window can poison 2 of 3 samples (sum-of-medians 43.5 s vs
      // sum-of-mins 24.8 on identical code); two more rotated passes cost
      // ~1 min and make the per-query min far more robust to box noise.
      // The budget stays 5 in r18: raising it to 6 (for a 2/2/2 A/B split)
      // would add a 6th entry to every per-query samples array and push the
      // worst-case tail pair to 2044 chars > the driver's 2000-char capture
      // (BenchLineSpec measured it) — the r17 1-rep-tail-window problem is
      // fixed in abFragmentFields instead (>=2-rep windows feed the median).
      val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", defaultBenchReps.toString).toInt
      val nWin = sys.env.getOrElse("SPARK_GRAFT_AB_WINDOWS", "3").toInt
      // with A/B live the rep budget is split across interleaved windows
      // (see the object scaladoc); without it, one block exactly as before
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
            val t = timed(q)
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
            // per-query min across all prev windows → the best-prev total,
            // same semantics as the pre-r17 single-block field
            val perQ = oks.flatMap(_._2.toSeq)
              .groupMapReduce(_._1)(_._2)((a, b) =>
                if (a < 0) b else if (b < 0) a else math.min(a, b))
            val prevTotal = perQ.values.filter(_ >= 0).sum
            val ratios = prevWins.toSeq.zip(curWins.toSeq).map {
              case (Right((p, _)), c) if p > 0 && c > 0 => c / p
              case _                                    => -1.0
            }
            // the full per-window detail goes out IMMEDIATELY on its own line
            // — it is too long to share the driver's 2000-char tail window
            // with the primary line, so the tail-adjacent ab line (emitted
            // later, just before the primary) stays compact
            val prevTotals = prevWins.map {
              case Right((p, _)) => p
              case Left(_)       => -1.0
            }.toSeq
            println(abDetailLine(sha, prevTotals, curWins.toSeq, plan, perQ.toSeq))
            Some(abFragmentFields(sha, prevTotal, ratios, plan))
          }
      }

      // headline number per query = min of the samples (the least-contended
      // run). The JSON also carries ALL per-pass samples (in run order) and
      // the median, so a driver-box regression is adjudicable from the
      // artifact alone: min ≈ median → the query really got slower;
      // min ≪ median → one or two passes hit machine contention, the min is
      // the honest number. Without the samples, a 1.8× swing with zero code
      // change (r5's c02) is unfalsifiable.
      val results = headline.map { q =>
        val ts = samples(q.name).reverse // prepended during runs → reverse to run order
        val t  = if (ts.isEmpty || ts.exists(_ < 0)) -1.0 else ts.min
        (q.name, t, ts)
      }
      tailLines(results, ab, sfDir).foreach(println)
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
    * 100 s, 0.1 s above — a benchmark doesn't need 17 significant digits,
    * and the bound is what lets BenchLineSpec prove the tail pair always
    * fits the driver's window even with 4-integer-digit contended timings.
    * Locale.ROOT everywhere (r12 ADVICE): the default-locale f-interpolator
    * would emit `1,2345` on a comma-decimal locale and break the JSON.
    */
  private[graft] def fmt(d: Double): String =
    if (d < 0) "-1"
    else if (d >= 100) String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
    else String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** The driver-facing tail lines: the compact A/B line first, the primary
    * line LAST and in exactly the r10 shape — the driver parses a bounded
    * 2000-char log tail (r11 verdict task #2 after BENCH_r11 came back
    * unparseable), and the PAIR must fit it together: the primary measured
    * 1804 chars worst-case on the 14-query set, so the ab line here stays
    * ref+total+window-ratios only (~115 chars; the full per-window detail
    * went out earlier on its own ab_detail line) and error details are
    * capped at 120 chars. BenchLineSpec pins the ≤2000 budget against the
    * CURRENT headline set with worst-case numeric widths, so growing the
    * `bench = true` set past what the tail window holds fails a spec
    * instead of silently zeroing the round's benchmark artifact.
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
