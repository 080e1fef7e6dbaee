package e2ebench

/** Summary statistics with the reporting rules the benchmark states. */
object Stats {

  /** Samples that must lie strictly beyond a reported tail percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1), reported only when at least
    * [[MinBeyond]] samples rank above it; otherwise None.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    val rank = math.ceil(p * n - 1e-9).toInt // 1-based
    if (n == 0 || rank < 1 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** The p95 when the samples support it, else the largest sample; the
    * label says which was reported.
    */
  def tail(xs: Seq[Double]): (String, Double) =
    percentile(xs, 0.95) match {
      case Some(v) => ("p95", v)
      case None    => (s"max of ${xs.size}", xs.max)
    }

  /** The steady-state rule. Per-unit times (a micro-batch, a pass) fall
    * while the JIT compiles and caches fill. Warm-up ends after the first
    * unit `u` (0-based, u >= 5) at which the median of units u-2..u is no
    * more than 10% below the median of units u-5..u-3, i.e. the per-unit
    * time has stopped falling. Returns that unit's index, or None while the
    * times are still falling.
    */
  def steadyAfter(times: Seq[Double]): Option[Int] =
    (5 until times.size).find { u =>
      median(times.slice(u - 2, u + 1)) >= 0.9 * median(times.slice(u - 5, u - 2))
    }
}
