package perfbench

import scala.io.Source
import scala.util.Try

/** The host's regime over one run: a fixed CPU spin timed before and
  * after, the hypervisor steal share of CPU time from /proc/stat, and the
  * load average. A diagnostic only: no metric is rescaled by it. */
final class Host {
  private val stat0 = Host.procStat()
  private val load0 = Host.loadavg()
  private val spin0 = Host.spin()

  def record(): Map[String, Any] = {
    val spin1 = Host.spin()
    val stat1 = Host.procStat()
    val load1 = Host.loadavg()
    val steal = (stat0, stat1) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => 0.0
    }
    val cpus = Runtime.getRuntime.availableProcessors
    // A spin that slows by a fifth within one run, visible steal, or a
    // load well above this run's own threads marks a shared or throttled host.
    val suspect = spin1 > 1.2 * spin0 || spin0 > 1.2 * spin1 || steal > 0.05 ||
      load1.exists(_ > cpus + 1)
    Map("spin_before_s" -> spin0, "spin_after_s" -> spin1, "steal_share" -> steal,
      "loadavg_start" -> load0.getOrElse(-1.0), "loadavg_end" -> load1.getOrElse(-1.0),
      "cpus" -> cpus, "regime_suspect" -> suspect)
  }
}

object Host {
  @volatile private var sink = 0L

  /** Seconds for a fixed integer loop on one core. */
  def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x12345678L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }

  /** (all jiffies, steal jiffies) from the aggregate cpu line. */
  def procStat(): Option[(Long, Long)] = Try {
    val src = Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }.toOption

  def loadavg(): Option[Double] = Try {
    val src = Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ")(0).toDouble finally src.close()
  }.toOption
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples); with ten or fewer samples none has,
    * and the maximum is given with percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Minimal JSON rendering for the result and detail records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
