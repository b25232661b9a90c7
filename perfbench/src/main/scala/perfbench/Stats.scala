package perfbench

/** Order statistics and the result line.
  *
  * Percentiles use the nearest-rank rule, and a percentile is only
  * reported when at least `MinBeyond` samples lie above it, so a p90 needs
  * at least 100 samples. A failed operation enters every distribution as
  * +Infinity: it is slower than any limit a user could set.
  */
object Stats {
  val MinBeyond = 10

  /** A percentile together with the samples it was taken from. */
  final case class Pct(value: Double, n: Int, beyond: Int)

  /** Nearest-rank percentile `q` of `xs`, or None when fewer than
    * `minBeyond` samples lie above the chosen rank.
    */
  def percentile(xs: Seq[Double], q: Double, minBeyond: Int = MinBeyond): Option[Pct] = {
    require(q > 0 && q < 1, s"percentile q must lie in (0, 1), got $q")
    val n = xs.size
    if (n == 0) None
    else {
      val rank = math.ceil(q * n).toInt.max(1) // 1-based
      val beyond = n - rank
      if (beyond < minBeyond) None
      else Some(Pct(xs.sorted.apply(rank - 1), n, beyond))
    }
  }

  /** Plain median (average of the two middle values for even sizes), for
    * small sets of whole-run figures where no tail is claimed.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples, got $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}".r

  def validName(name: String): Boolean = NamePattern.matches(name)
  def validUnit(unit: String): Boolean = UnitPattern.matches(unit)

  final case class Metric(name: String, value: Double, unit: String)

  def jsonString(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** A number as JSON, with every digit the double carries. A failed
    * operation's +Infinity is written as `Infinity`, which Python's json
    * module reads back as float("inf").
    */
  def jsonNumber(v: Double): String =
    if (v.isPosInfinity) "Infinity"
    else {
      require(!v.isNaN && !v.isNegInfinity, s"not a reportable number: $v")
      v.toString
    }

  /** The benchmark's last stdout line. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val bad = metrics.filterNot(m => validName(m.name) && validUnit(m.unit))
    require(bad.isEmpty, s"invalid metric names or units: ${bad.map(m => m.name -> m.unit)}")
    val dup = metrics.groupBy(_.name).collect { case (n, ms) if ms.size > 1 => n }
    require(dup.isEmpty, s"duplicate metric names: $dup")
    val body = metrics
      .map(m => s"${jsonString(m.name)}:{\"value\":${jsonNumber(m.value)},\"unit\":${jsonString(m.unit)}}")
      .mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }
}
