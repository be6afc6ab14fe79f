package graft.perfbench

import scala.collection.mutable

/** Minimal JSON rendering for the run record (maps, sequences, numbers,
  * strings, booleans, options). */
object Json {
  def render(v: Any): String = v match {
    case null | None       => "null"
    case Some(x)           => render(x)
    case s: String         => quote(s)
    case b: Boolean        => b.toString
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int            => n.toString
    case n: Long           => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]   => xs.map(render).mkString("[", ",", "]")
    case other             => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }
}

object Dist {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** highest percentile with at least ten samples beyond it: the 11th
    * largest value, or the maximum when there are fewer than 11 samples.
    * Under 22 samples that percentile falls below the median, so the tail
    * never reads below the median. Returns (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 11) (s.last, 100.0, n)
    else if (s(n - 11) < median(s)) (median(s), 50.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Fixed in-JVM host probe, recorded before and after every run: memory-copy
  * bandwidth over 64 MiB and a fixed integer compute loop. The figures
  * describe the host window only; they never select or discard a run. */
object HostProbe {
  def run(): Map[String, Double] = {
    val words = 8 << 20
    val src = Array.tabulate(words)(_.toLong)
    val dst = new Array[Long](words)
    val copies = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      System.arraycopy(src, 0, dst, 0, words)
      (System.nanoTime() - t0) / 1e9
    }
    val gbPerS = words * 8.0 / copies.min / 1e9
    val t0 = System.nanoTime()
    var h = dst(words - 1)
    var i = 0
    while (i < 50000000) { h = graft.corpus.Corpus.splitmix64(h); i += 1 }
    val computeMs = (System.nanoTime() - t0) / 1e6
    Map("copy_gb_per_s" -> gbPerS, "compute_ms" -> computeMs, "checksum" -> (h & 0xFFFF).toDouble)
  }
}

final case class Span(name: String, op: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder of a traced run; written out when the run ends. */
final class Tracer {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def span[A](name: String, op: String, parent: String = "")(f: => A): A = {
    val s = System.nanoTime()
    try f finally spans += Span(name, op, parent, s, System.nanoTime())
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => Json.render(Map("name" -> s.name, "op" -> s.op,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
