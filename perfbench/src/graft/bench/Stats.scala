package graft.bench

/** The harness's arithmetic, kept free of Spark so [[SelfTest]] can pin it. */
object Stats {

  /** Linear-interpolated quantile (the "type 7" definition numpy and R
    * use by default) of an unsorted sample; NaN for an empty one. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    if (xs.isEmpty) return Double.NaN
    val s = xs.toArray.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** One open-loop request: when it was due, when the generator sent it,
    * when its answer was complete, and when its connection became free
    * (the previous request on it completed). Times are `System.nanoTime`. */
  final case class Timed(dueNs: Long, sendNs: Long, doneNs: Long, freeNs: Long) {
    /** Latency as a user sees it: from the due time, so a stall also
      * charges the requests queued behind it. */
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    /** How late the generator sent a request it had a free connection
      * for; NaN when the connection was still busy at the due time
      * (that wait is backlog caused by the program, not generator lag). */
    def generatorLagMs: Double =
      if (freeNs <= dueNs) math.max(0L, sendNs - dueNs) / 1e6 else Double.NaN
  }

  /** Seeded Poisson arrival schedule: `n` due offsets (ns from the start)
    * at `ratePerS` mean requests per second. */
  def poissonSchedule(n: Int, ratePerS: Double, rng: java.util.Random): Array[Long] = {
    val out = new Array[Long](n)
    var t = 0.0
    var i = 0
    while (i < n) {
      t += -math.log(1.0 - rng.nextDouble()) / ratePerS
      out(i) = (t * 1e9).toLong
      i += 1
    }
    out
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
