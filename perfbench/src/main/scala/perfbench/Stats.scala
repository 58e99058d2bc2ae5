package perfbench

/** The summary arithmetic every reported figure goes through. */
object Stats {

  /** Nearest-rank percentile: the smallest sample that has at least a
    * share `q` of all samples at or below it. `q` is in (0, 1].
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile rank $q outside (0, 1]")
    val s = xs.sorted
    s(math.ceil(q * s.size - 1e-9).toInt.max(1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Share of the available core time that tasks spent running:
    * task seconds / (wall seconds x cores). 1.0 means every core ran a task
    * for the whole wall time.
    */
  def busyShare(taskS: Double, wallS: Double, cores: Int): Double = {
    require(wallS > 0 && cores > 0, s"busy share needs wall > 0 and cores > 0")
    taskS / (wallS * cores)
  }
}
