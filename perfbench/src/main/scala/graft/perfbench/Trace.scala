package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced call into a layer: `parent` is the id of the span that was
  * open on the same thread when this one started (-1 for a root), `req`
  * the request / pass / batch the call served. Times are nanoTime.
  */
final case class Span(id: Int, parent: Int, name: String, req: Long,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled, `span` only runs its body — the
  * untraced runs pay one branch per call. Enabled, spans are buffered and
  * written out once, when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val ids = new java.util.concurrent.atomic.AtomicInteger()

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(-1)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        buf.synchronized { buf += Span(id, parent, name, req, t0, t1) }
      }
    }

  def spans: Seq[Span] = buf.synchronized(buf.toList)
}

object Trace {
  /** Self time of every span: its duration minus the part of its
    * interval that its child spans cover (overlapping children counted
    * once, children clipped to the parent's interval).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = 0L; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Tail percentile rule: the highest percentile that still has at
    * least 10 samples beyond it, i.e. q = 1 − 10/n (rounded down to a
    * whole percent); with fewer than 20 samples no tail above the median
    * qualifies and the median is reported. Returns (percent, value).
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    require(n > 0, "no samples")
    val pct = if (n < 20) 50 else 100 * (n - 10) / n // integer floor
    (pct, percentile(xs, pct))
  }

  /** Nearest-rank percentile (the sample at rank ceil(p/100 · n)). */
  def percentile(xs: Seq[Double], pct: Int): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(pct / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Minimal JSON rendering for the result and stamp lines. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
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
    (b += '"').toString
  }
}

/** The last stdout line of a run. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)]) {
  def line: String = {
    // a median past half the ops failing is +inf: report the largest
    // finite number (the run is then also not correct)
    val m = scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
      n -> scala.collection.immutable.ListMap(
        "value" -> (if (v.isInfinite) Double.MaxValue else v), "unit" -> u) }: _*)
    Json.render(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed, "metrics" -> m))
  }
}
