package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

object Timed {
  /** Wall seconds of `body`, with its value. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }
}

/** Order statistics over measured samples; 0 when there is no sample
  * (every operation failed, which the run reports as failed).
  */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON rendering for the flat records the benchmark writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")

  def writeLines(path: Path, lines: Iterable[String]): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** A named interval recorded around one layer call in a traced run. */
final case class Span(id: Int, parent: Option[Int], name: String,
    startS: Double, endS: Double) {
  def seconds: Double = endS - startS
}

/** In-memory span recorder, on only inside [[recording]]. Spans nest
  * through a stack, so a call made inside another span records that span
  * as its parent. Nothing is written until [[dump]], which keeps file I/O
  * out of every timing.
  */
final class Tracer(val runId: String) {
  private val origin = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private var on = false

  private def now: Double = (System.nanoTime() - origin) / 1e9

  /** Records the spans opened while `body` runs. */
  def recording[A](body: => A): A = {
    on = true
    try body finally on = false
  }

  def span[A](name: String)(body: => A): A = if (!on) body else {
    val id = nextId; nextId += 1
    val parent = open.headOption
    open = id :: open
    val t0 = now
    try body
    finally {
      open = open.tail
      done += Span(id, parent, name, t0, now)
    }
  }

  def spans: Seq[Span] = done.toSeq

  def dump(path: Path): Unit = Json.writeLines(path, done.sortBy(_.id).map {
    s => Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_s" -> s.startS, "end_s" -> s.endS)
  })
}
