package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Op accounting shared by the workloads. An op that throws, or whose
  * result fails its check, is counted as failed and never contributes a
  * latency sample.
  */
final class Ops {
  var attempted = 0
  var failed = 0
  private val notes = mutable.ArrayBuffer[String]()

  /** Run one op; `None` if it threw. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Record a failure of an op already counted as attempted. */
  def fail(why: String): Unit = {
    failed += 1
    note(why)
  }

  /** A check outside any op (e.g. the final table) that did not hold. */
  var checksPassed = true
  def check(ok: Boolean, why: => String): Unit =
    if (!ok) { checksPassed = false; note(why) }

  private def note(why: String): Unit = {
    System.err.println(s"perfbench: $why")
    if (notes.size < 20) notes += why.take(300)
  }
  def problems: Seq[String] = notes.toSeq
}

object Stats {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(t0))
  }

  /** Linear-interpolated percentile, the same rule as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
  /** Median, or 0 when a traced window produced no sample. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The highest of p75/p90/p95/p99 with at least ten samples above it,
    * or None when even p75 has fewer.
    */
  def upper(xs: Seq[Double]): Option[(String, Double)] =
    Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => s"p$p" -> pct(xs, p))

  /** Summary of one latency series for the detail line. */
  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else Map("n" -> xs.size, "p50" -> median(xs)) ++
      upper(xs).map { case (k, v) => Map(k -> v) }.getOrElse(Map.empty)

  /** VmHWM of this JVM in MB (peak resident set). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}

object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def apply(v: Any): String = org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])
}
