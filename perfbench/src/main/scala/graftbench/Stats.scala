package graftbench

/** Summary statistics and span arithmetic for the benchmark's reports. */
object Stats {

  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `q` percentile of `xs`, reported only when at least
    * [[MinBeyond]] samples lie above its rank; with fewer, the sample
    * cannot support it and the answer is None. */
  def percentile(xs: Iterable[Double], q: Double): Option[Double] = {
    val s = xs.toIndexedSeq.sorted
    val rank = math.max(1, math.ceil(q * s.size - 1e-9).toInt) // q * n may land a hair above a whole rank
    if (s.size - rank >= MinBeyond) Some(s(rank - 1)) else None
  }

  val MinBeyond = 10

  /** The highest of `qs` that `xs` supports, with its value. */
  def highestTail(xs: Iterable[Double], qs: Seq[Double] = Seq(0.999, 0.99, 0.9))
      : Option[(Double, Double)] =
    qs.sorted.reverse.iterator.flatMap(q => percentile(xs, q).map(q -> _))
      .nextOption()

  /** One traced interval. `op` is shared by every span of one operation;
    * `parent` is 0 for an operation's root. Times are epoch nanoseconds. */
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      start: Long, end: Long) {
    def dur: Long = end - start
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (overlapping children counted
    * once, children clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent != 0).groupBy(_.parent)
    spans.map { p =>
      val iv = kids.getOrElse(p.id, Nil)
        .map(c => (math.max(c.start, p.start), math.min(c.end, p.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- iv) {
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      p.id -> (p.dur - covered)
    }.toMap
  }

  /** Total self time per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}
