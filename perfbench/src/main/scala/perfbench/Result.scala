package perfbench

import scala.collection.mutable

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Wall seconds and the process's CPU seconds spent in `body`. */
  def measured(body: => Unit): Sample = {
    val c0 = os.getProcessCpuTime
    val (_, wall) = timed(body)
    Sample(wall, (os.getProcessCpuTime - c0) / 1e9)
  }

  /** Runs `body` back to back until `seconds` have passed and it ran at
    * least `atLeast` times; returns each run's sample.
    */
  def loop(seconds: Double, atLeast: Int)(body: => Sample): Seq[Sample] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Sample]
    var n = 0
    while (n < atLeast || (System.nanoTime() - t0) / 1e9 < seconds) { out += body; n += 1 }
    out.result()
  }
}

/** One timed unit of work: wall seconds and process CPU seconds. */
final case class Sample(wall: Double, cpu: Double)

/** What one run reports: the metrics the run mode asks for, the
  * workload's named end-to-end figures for the human-readable report,
  * and every checked operation. An operation that throws or whose output
  * does not match its expectation counts as failed.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def reported(name: String, value: Double, unit: String): Unit = report(name) = (value, unit)

  /** Runs one checked operation; returns whether it passed. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val passed =
      try ok
      catch { case e: Throwable => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false }
    if (!passed) {
      failed += 1
      if (!failures.exists(_.startsWith(what + ":"))) failures += s"$what: output mismatch"
    }
    passed
  }

  def json: String = {
    def figures(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> figures(metrics).toMap,
      "report" -> figures(report).toMap,
      "failures" -> failures.take(50).toSeq))
  }
}
