package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Render nested Scala values (Map / Seq / String / numbers / Boolean). */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  /** Harrell-Davis estimate of the q-th percentile (q in [0, 100)): a
    * Beta-weighted mean of all order statistics. With a few samples (eight
    * appends, a dozen warm queries) it varies less from run to run than a
    * single interpolated order statistic. Past a few hundred samples the
    * two agree, and the interpolated one is much cheaper. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else if (xs.size > 500) {
      val s = xs.sorted
      val r = (q / 100.0) * (s.length - 1)
      val lo = r.toInt
      s(lo) + (s(math.min(lo + 1, s.length - 1)) - s(lo)) * (r - lo)
    } else {
      val s = xs.sorted
      val n = s.length
      val p = q / 100.0
      val w = new org.apache.commons.math3.distribution.BetaDistribution(p * (n + 1), (1 - p) * (n + 1))
      var acc, prev = 0.0
      (1 to n).foreach { i =>
        val c = w.cumulativeProbability(i.toDouble / n)
        acc += (c - prev) * s(i - 1)
        prev = c
      }
      acc
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Files2 {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

}
