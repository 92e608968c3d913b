package perfbench

/** The harness's own arithmetic, kept free of Spark so it can be tested
  * on synthetic inputs. */
object Stats {

  /** Share of the wall interval [start, end) in which no interval of
    * `busy` is open: the time an operation spent with no task running
    * (scheduling, barriers, work outside tasks). Intervals may overlap,
    * nest or stick out of the wall interval; they are clipped and
    * merged first. Units are whatever the caller uses (milliseconds for
    * Spark task times). */
  def idleFraction(start: Long, end: Long, busy: Seq[(Long, Long)]): Double = {
    if (end <= start) return 0.0
    val clipped = busy
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start - covered).toDouble / (end - start)
  }
}
