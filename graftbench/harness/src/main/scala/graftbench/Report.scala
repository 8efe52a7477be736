package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** What one run hands back to run.py: the op log, failures, per-phase
  * samples and the metric values, written once as JSON at the end. */
final class Report {
  val ops = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0
  /** Epoch nanoseconds at which the first timed op started. */
  var firstTimedNs = 0L

  def timedStart(): Unit = if (firstTimedNs == 0) {
    val i = java.time.Instant.now()
    firstTimedNs = i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Count one op and run its output checks; a thrown op or a failed check
    * is a failed op. */
  def attempt(name: String)(body: => Unit): Unit = {
    ops += name
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      System.err.println(f"[graftbench] op $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] op $name failed: $e")
        failures += s"$name: ${e.getMessage}"
    }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"check failed: $what")

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  def sample(metric: String, v: Long): Unit = sample(metric, v.toDouble)

  def median(metric: String): Double = Report.median(samples.getOrElse(metric, Nil).toSeq)

  def write(path: Path, extra: Map[String, Any] = Map.empty): Unit = {
    val body = Map[String, Any](
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "ops" -> ops.toSeq, "metrics" -> metrics.toMap,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap) ++ extra
    Files.write(path, Report.json(body).getBytes(StandardCharsets.UTF_8))
  }
}

object Report {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${json(x)}" }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
