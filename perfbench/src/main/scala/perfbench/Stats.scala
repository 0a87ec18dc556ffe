package perfbench

/** Small numeric and JSON helpers shared by the workloads. */
object Stats {

  /** Linear-interpolated percentile (q in [0, 1]); NaN on no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest of `qs` that leaves at least ten samples above it, so a
    * tail is never read off a handful of points. */
  def supportedTail(n: Int, qs: Seq[Double]): Double =
    qs.sorted.reverse.find(q => n * (1 - q) >= 10).getOrElse(0.5)

  def msSince(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e6

  /** Time `body`, returning (result, milliseconds). */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, msSince(t0))
  }

  /** Peak resident set size of this JVM in MiB (VmHWM), or NaN. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    } catch { case _: Exception => Double.NaN }

  /** Sum of the heap pools' peak usage in MiB: the heap this JVM used,
    * beside the resident memory it was given. */
  def peakHeapMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)
  }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite number as JSON (non-finite values become null). */
  def jsonNum(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")

  def jsonArr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
