package graftbench

import scala.collection.mutable.ArrayBuffer

/** Seeded, stateless pseudo-random draws (splitmix64). Stateless so that a
  * Spark task generating row `i` and a plain-Scala loop computing the
  * expected answer for row `i` read the same value without sharing state.
  */
object Rng {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Draw `i` of stream `stream` under `seed`. */
  def draw(seed: Long, stream: Long, i: Long): Long =
    mix(mix(mix(seed) ^ stream) + i)

  /** Uniform in [0, n). */
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(draw(seed, stream, i), n)

  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (draw(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  /** Fisher-Yates permutation of `xs` driven by `(seed, stream)`. */
  def shuffle[T](xs: Seq[T], seed: Long, stream: Long): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = below(seed, stream, i, i + 1).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

/** Minimal JSON rendering for the raw result file (no dependency beyond
  * the JDK). Values passed to [[obj]]/[[arr]] are already rendered.
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 || Character.isSurrogate(c) => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def opt(s: Option[String]): String = s.fold("null")(str)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** One traced interval: workload -> pass -> op -> {build, result, action}. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def json: String = Json.obj("id" -> Json.num(id.toLong), "parent" -> Json.num(parent.toLong),
    "name" -> Json.str(name), "start_ns" -> Json.num(startNs), "end_ns" -> Json.num(endNs))
}

/** Keeps spans in memory; the run writes them out once, at the end. When
  * disabled, [[open]] and [[close]] record nothing.
  */
final class Tracer(enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val open_ = scala.collection.mutable.Map.empty[Int, (Int, String, Long)]
  private var next = 1
  def open(parent: Int, name: String): Int =
    if (!enabled) 0
    else { val id = next; next += 1; open_(id) = (parent, name, System.nanoTime()); id }
  def close(id: Int): Unit = open_.remove(id).foreach { case (p, n, t0) =>
    spans += Span(id, p, n, t0, System.nanoTime())
  }
  def all: Seq[Span] = spans.toSeq
}

/** Times the calls an op makes into the engine, split by layer. The op
  * wraps its TaskGraph construction (or `QueryDef.fn`) in [[build]] and its
  * `TaskGraph.result` call in [[result]]; the harness times the action.
  */
final class OpClock(tracer: Tracer, parent: Int) {
  var buildNs = 0L
  var resultNs = 0L
  private def timed[T](name: String, f: => T)(add: Long => Unit): T = {
    val span = tracer.open(parent, name)
    val t0 = System.nanoTime()
    try f finally { add(System.nanoTime() - t0); tracer.close(span) }
  }
  def build[T](f: => T): T = timed("build", f)(buildNs += _)
  def result[T](f: => T): T = timed("result", f)(resultNs += _)
}
