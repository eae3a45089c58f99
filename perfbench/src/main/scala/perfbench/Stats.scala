package perfbench

/** The benchmark's own arithmetic: the percentile rule and interval
  * unions. [[selfCheck]] pins each rule on hand-computed cases and runs
  * at the start of every benchmark run, so a broken rule fails the run
  * instead of skewing its numbers. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = nearestRank(p, s.size).max(1).min(s.size)
    s(rank - 1)
  }

  /** ceil(p% of n), immune to the float error in e.g. 99.9 / 100 * 10000. */
  def nearestRank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail percentiles the benchmark may report, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0)

  /** The highest percentile of [[TailLadder]] with at least ten samples
    * strictly above its rank, or None when there are too few samples
    * (fewer than 100 for p90). */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find { p =>
      n - nearestRank(p, n) >= 10
    }

  /** Total length of the union of half-open intervals [a, b). */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    val s = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    s.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Clip intervals to the window [a, b). */
  def clip(iv: Seq[(Double, Double)], a: Double, b: Double): Seq[(Double, Double)] =
    iv.map { case (x, y) => (math.max(x, a), math.min(y, b)) }
      .filter { case (x, y) => y > x }

  /** Self time: the span minus the part of it its child spans cover. */
  def selfTime(span: (Double, Double), children: Seq[(Double, Double)]): Double =
    (span._2 - span._1) - unionLength(clip(children, span._1, span._2))

  /** Driver-only time: the span minus the part of it covered by jobs. */
  def driverOnly(span: (Double, Double), jobs: Seq[(Double, Double)]): Double =
    selfTime(span, jobs)

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  /** Hand-computed cases for every rule above; returns the failures. */
  def selfCheck(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def expect(name: String, ok: Boolean): Unit = if (!ok) bad += name
    val ten = (1 to 10).map(_.toDouble)
    expect("median of 1..10 is 5", near(median(ten), 5.0))
    expect("p90 of 1..10 is 9", near(percentile(ten, 90), 9.0))
    expect("p100 is the max", near(percentile(ten, 100), 10.0))
    expect("single sample median", near(median(Seq(3.0)), 3.0))
    expect("no tail below 100 samples", tailPercentile(99).isEmpty)
    expect("p90 at 100 samples", tailPercentile(100).contains(90.0))
    expect("p95 at 200 samples", tailPercentile(200).contains(95.0))
    expect("p99 at 1000 samples", tailPercentile(1000).contains(99.0))
    expect("p99.9 at 10000 samples", tailPercentile(10000).contains(99.9))
    expect("union of overlapping intervals",
      near(unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))), 4.0))
    expect("union of nested intervals",
      near(unionLength(Seq((0.0, 10.0), (2.0, 3.0))), 10.0))
    expect("union of touching intervals",
      near(unionLength(Seq((0.0, 1.0), (1.0, 2.0))), 2.0))
    expect("self time subtracts the union of children",
      near(selfTime((0.0, 10.0), Seq((1.0, 3.0), (2.0, 4.0), (8.0, 12.0))), 5.0))
    expect("self time ignores children outside the span",
      near(selfTime((0.0, 10.0), Seq((11.0, 12.0))), 10.0))
    expect("driver-only time subtracts job intervals",
      near(driverOnly((0.0, 10.0), Seq((-1.0, 2.0), (4.0, 5.0))), 7.0))
    bad.result()
  }
}
