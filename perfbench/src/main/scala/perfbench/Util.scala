package perfbench

/** Minimal JSON writer for the result line and the run records. */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  def weightedMean(xs: Seq[(Double, Double)]): Double =
    xs.map { case (x, w) => x * w }.sum / xs.map(_._2).sum
  /** The smallest value at which the cumulative weight reaches half. */
  def weightedMedian(xs: Seq[(Double, Double)]): Double = {
    val s = xs.sortBy(_._1)
    val half = s.map(_._2).sum / 2
    s.scanLeft((Double.NaN, 0.0)) { case ((_, acc), (x, w)) => (x, acc + w) }
      .drop(1).find(_._2 >= half).map(_._1).getOrElse(Double.NaN)
  }
}

/** A failed or wrong operation, with its cause. */
final case class Failure(op: String, cause: String)
object Failure {
  def of(op: String, t: Throwable): Failure =
    Failure(op, s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}".take(500))
}

/** JVM-wide GC and JIT time so far, for the run record. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** The process's peak resident set so far, in MiB (`VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")) finally src.close()
    line.getOrElse(sys.error("no VmHWM in /proc/self/status"))
      .stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toDouble / 1024
  }
}
