package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed layer call: `op` is the operation (request, build, append) it
  * belongs to, `parent` the span that caused it (0 = root). Times are
  * `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Switched off, `span` is a plain call: the
  * untraced runs pay one branch per layer call. Spans are kept in memory and written
  * once at exit. Nesting follows the calling thread; spans observed from
  * Spark events (which run on other threads) are added afterwards with an
  * explicit parent via [[add]]. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var op: Long = 0L
  /** Per-operation switch: a traced run alternates traced and untraced
    * operations to measure the tracing overhead. */
  @volatile var on: Boolean = enabled

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      val myOp = op
      stack.set(id :: stack.get)
      val s = System.nanoTime()
      try f
      finally {
        val e = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, myOp, name, s, e) }
      }
    }

  def add(parent: Long, op: Long, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      spans += Span(nextId.getAndIncrement(), parent, op, name, startNs, endNs)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children — the concurrent search
    * legs — count once). */
  def selfNs: Map[Long, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Out.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample (NaN when empty). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  /** The lower middle value for an even count. */
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Minimal JSON output: values are Double, Long, Int, Boolean, String,
  * Iterable, or Map (a ListMap keeps insertion order). */
object Out {
  def str(s: String): String = {
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
    b.toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
