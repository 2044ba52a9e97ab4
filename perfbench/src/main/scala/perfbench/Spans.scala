package perfbench

/** One traced interval: a statement, a planning phase, a Spark job or
  * a stage. `parent` is the id of the span that caused it (0 = none).
  * Times are wall-clock milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = math.max(0.0, endMs - startMs)
}

object Spans {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its direct children cover. */
  def selfMs(span: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == span.id).map(c => (c.startMs, c.endMs))
    span.durMs - covered(span.startMs, span.endMs, kids)
  }

  def toJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
      s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}"""
}
