package graft.perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Percentiles a tail may be reported at, lowest first. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples that must lie strictly above a reported tail percentile. */
  val MinBeyond = 10

  final case class Tail(pct: Double, value: Double, n: Int, beyond: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `pct`
    * percent of the samples at or below it. */
  def percentile(xs: Seq[Double], pct: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(pct / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  /** The highest percentile on [[TailLadder]] that has at least
    * [[MinBeyond]] samples strictly above it. When the sample is too
    * small for any of them, the median is reported instead, and the
    * returned `pct`/`beyond` say so. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    def at(p: Double) = {
      val v = percentile(xs, p)
      Tail(p, v, xs.length, xs.count(_ > v))
    }
    TailLadder.reverseIterator.map(at).find(_.beyond >= MinBeyond)
      .getOrElse(Tail(50.0, median(xs), xs.length, xs.count(_ > median(xs))))
  }
}
