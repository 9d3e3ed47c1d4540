package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** `--key value` command-line arguments. */
final class Args(argv: Array[String]) {
  private val kv: Map[String, String] = argv.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
}

/** Pre-rendered JSON, embedded verbatim by [[Json.render]]. */
final case class RawJson(text: String)

/** Minimal JSON writer for the harness's raw result files. */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case RawJson(t) => t
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON-renderable: $other")
  }

  def write(path: Path, v: Any): Unit = Files.write(path, render(v).getBytes(UTF_8))
}

/** Wall clock in epoch microseconds with `nanoTime` resolution, so spans
  * recorded here line up with the epoch-millisecond timestamps Spark puts
  * on streaming progress and with the generator process's stamps.
  */
object Clock {
  private val originUs = System.currentTimeMillis() * 1000L
  private val originNs = System.nanoTime()
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L
}

/** In-memory span recorder. Spans are kept until the run ends and written
  * to the trace side file; nothing is recorded when tracing is off.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  private def current: Int = stack.headOption.getOrElse(-1)

  def span[A](name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val start = Clock.nowUs
      spans += Span(id, current, name, start, start, attrs)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endUs = Clock.nowUs)
      }
    }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)
  }
}

object Tracer {
  private final case class Span(id: Int, parent: Int, name: String,
      startUs: Long, endUs: Long, attrs: Map[String, Any])
}

/** The load generator's seeded, skewed word vocabulary: `size` distinct
  * lowercase words, drawn with Zipf(1.0) weights so a few words are hot
  * and the long tail gives the state store many keys.
  */
final class Vocab(seed: Long, size: Int) {
  val words: Array[String] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](size)
    var i = 0
    while (i < size) {
      val len = 3 + rnd.nextInt(6)
      val w = new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }
  val bytes: Array[Array[Byte]] = words.map(_.getBytes(UTF_8))
  private val cdf: Array[Double] = {
    val c = new Array[Double](size)
    var acc = 0.0
    var i = 0
    while (i < size) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
    c.map(_ / acc)
  }
  def draw(rnd: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(size - 1, if (i >= 0) i else -i - 1)
  }
}
