package perfbench

/** Seeded splitmix64 generator: the only source of randomness in a run. */
final class Rng(seed: Long) {
  private var s = Rng.mix(seed ^ 0x5DEECE66DL)
  def long(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
  def unit(): Double = (long() >>> 11) * 1.1102230246251565e-16
  def int(n: Int): Int = ((long() >>> 33) % n).toInt
  def pick[A](xs: IndexedSeq[A]): A = xs(int(xs.length))
  def shuffle[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = int(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}

object Rng {
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles the tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.5, 99, 98, 95, 90, 80, 75)

  /** The tail percentile for a run of `n` samples: the highest ladder
    * percentile with at least 10 samples beyond it, so the tail is never
    * one or two outliers. Below 40 samples there is no such rung and the
    * median is reported. */
  def tailPercentile(n: Int): Double =
    TailLadder.find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9).getOrElse(50.0)
}
