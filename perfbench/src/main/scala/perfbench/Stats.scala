package perfbench

/** The statistics every reported figure goes through. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of all samples at or below it. Failed operations enter as
    * +Infinity, so a failure counts as missing every latency limit and
    * can only push a percentile up.
    */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = samples.sorted
    sorted(math.ceil(p / 100.0 * sorted.size).toInt - 1)
  }

  /** Median: the middle sample, or the mean of the two middle ones. */
  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val sorted = samples.sorted
    val n = sorted.size
    if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }
}

/** One timed call into the program: a query (built, then executed) or
  * one pipeline run. `error` is set when the call threw or its output
  * failed the check; such an operation stays in every total.
  */
final case class Op(
    name: String,
    group: String,
    startNs: Long,
    builtNs: Long,
    endNs: Long,
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def buildS: Double = (builtNs - startNs) / 1e9
  def executeS: Double = (endNs - builtNs) / 1e9
  /** Wall time of the call; +Infinity when it failed. */
  def latencyS: Double = if (ok) (endNs - startNs) / 1e9 else Double.PositiveInfinity
}

object Op {

  /** Times `build`, then `execute`, which runs what was built; then
    * `check`s the result, untimed, returning an error message when the
    * output is wrong. A throw from any step, or a failed check, yields
    * a failed operation.
    */
  def run[A, B](name: String, group: String)(build: => A)(execute: A => B)(
      check: B => Option[String]): Op = {
    val t0 = System.nanoTime()
    var built = -1L
    var end = -1L
    val error =
      try {
        val a = build
        built = System.nanoTime()
        val b = execute(a)
        end = System.nanoTime()
        check(b)
      } catch {
        case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
      }
    if (end < 0) end = System.nanoTime()
    Op(name, group, t0, if (built < 0) end else built, end, error)
  }

  /** The check for a query: its row count must equal the recorded one. */
  def checkCount(expected: Option[Long])(n: Long): Option[String] = expected match {
    case Some(e) if e == n => None
    case Some(e) => Some(s"count $n, expected $e")
    case None => Some(s"count $n, none recorded")
  }
}

/** The order in which a pass runs its queries. */
object Order {

  /** A permutation of `names`, fixed by (seed, pass). The names are
    * sorted first, so the result does not depend on the order the
    * caller holds them in.
    */
  def permute(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names.sorted)
}
