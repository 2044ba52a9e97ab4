package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Pure helpers the benchmark's figures rest on; `HelpersSpec` pins each. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The nearest-rank `q`-quantile, reported only when at least
    * `minBeyond` samples lie above its rank: a tail read from fewer
    * samples is one or two outliers, not a percentile. */
  def tail(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val s = xs.sorted
    val rank = math.ceil(q * s.length).toInt // 1-based nearest rank
    if (s.isEmpty || s.length - rank < minBeyond) None else Some(s(rank - 1))
  }

  /** Share of the true neighbours found; `truth` is the exact top-k. */
  def recall(got: Seq[Long], truth: Seq[Long]): Double = {
    require(truth.nonEmpty, "recall against an empty truth set")
    got.toSet.intersect(truth.toSet).size.toDouble / truth.size
  }
}

/** Order-insensitive digest of a query result: every row is rendered
  * with its columns in name order (the order `tools/check.py` compares
  * in), hashed to 64 bits, and the row hashes are summed. A sum is
  * blind to row order but not to a missing, extra or repeated row. */
object ResultHash {

  def render(v: Any): String = v match {
    case null => "␀"
    case d: Double if d == 0.0 => "0.0" // -0.0 and 0.0 compare equal
    case f: Float if f == 0.0f => "0.0"
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => render(r.toSeq)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def rowHash(cells: Seq[Any]): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    val d = md.digest(cells.map(render).mkString("␟")
      .getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** `rows` hold cells in `columns` order; returns "<rows>:<hex sum>". */
  def of(columns: Seq[String], rows: Iterable[Seq[Any]]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(order.map(r)); n += 1 }
    s"$n:${java.lang.Long.toHexString(sum)}"
  }
}
