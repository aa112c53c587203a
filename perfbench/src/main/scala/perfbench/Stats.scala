package perfbench

/** The summary statistics the benchmark reports. Pure functions, so each
  * one has a unit test of its own (StatsSpec). */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between closest
    * ranks (numpy's default). NaN for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Geometric mean of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.forall(_ > 0), "geomean needs positive values")
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children counted once, a child
    * sticking out of its parent clipped to the parent). Keyed by span id. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent.nonEmpty).groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startS, s.startS), math.min(c.endS, s.endS)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0.0
      var (curA, curB) = (Double.NaN, Double.NaN)
      ivs.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> math.max(0.0, s.durationS - covered)
    }.toMap
  }

  /** Freshness of each landed file: the end of the micro-batch that made
    * its rows visible minus the time the file was scheduled to land.
    * Files that no batch took are left out (the caller counts them). */
  def freshness(scheduledS: Map[String, Double], batchOfFile: Map[String, Long],
      batchEndS: Map[Long, Double]): Seq[Double] =
    scheduledS.toSeq.sortBy(_._1).flatMap { case (f, due) =>
      batchOfFile.get(f).flatMap(batchEndS.get).map(_ - due)
    }
}
