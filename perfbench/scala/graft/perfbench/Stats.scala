package graft.perfbench

/** Order statistics and the metric record the benchmark reports. */
object Stats {

  /** Metric names are restricted so every consumer can key on them. */
  val NamePattern: scala.util.matching.Regex = "[A-Za-z0-9_.-]+".r

  final case class Metric(name: String, value: Double, unit: String) {
    require(NamePattern.matches(name), s"bad metric name: $name")
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile (p in [0, 100]): the smallest sample with at
    * least p% of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(math.max(rank, 1), s.size) - 1)
  }

  /** Samples a reported tail percentile must have beyond its rank. */
  val TailBeyond = 10

  /** The tail the benchmark reports: the highest whole percentile p whose
    * nearest-rank value still has at least [[TailBeyond]] samples strictly
    * above its rank. None when the sample has fewer than `TailBeyond` + 1
    * values (then not even p1 qualifies). Returns (p, value).
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    (100 to 1 by -1)
      .find(q => n - math.max(math.ceil(q / 100.0 * n).toInt, 1) >= TailBeyond)
      .map(p => p -> percentile(xs, p.toDouble))
  }

  /** max / median of a positive sample (1.0 for an empty one). */
  def skew(xs: Seq[Double]): Double =
    if (xs.isEmpty) 1.0 else xs.max / math.max(median(xs), 1e-9)
}

/** Minimal JSON writer for the benchmark's own output. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
