package perfbench

import java.util.SplittableRandom

/** Seeded clustered vectors for the `items(id, cat, v VECTOR(dim))`
  * table. Coordinates are rounded to four decimals so that the SQL
  * literal the engine parses denotes exactly the double the oracle
  * holds. */
final class Corpus(seed: Long, val dim: Int, clusters: Int, val cats: Int) {
  private val rnd = new SplittableRandom(seed)
  private val centers = Array.fill(clusters, dim)(rnd.nextDouble(-1.0, 1.0))

  // a row's id is its slot in these buffers
  val catOf = scala.collection.mutable.ArrayBuffer.empty[Int]
  val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]

  private def gauss(): Double = { // Box-Muller on the seeded stream
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  private def round4(x: Double): Double = math.rint(x * 1e4) / 1e4

  /** Append `n` rows drawn around random centres; returns their slots. */
  def grow(n: Int): Range = {
    val from = vecs.length
    for (_ <- 0 until n) {
      val c = centers(rnd.nextInt(clusters))
      catOf += rnd.nextInt(cats)
      vecs += Array.tabulate(dim)(d => round4(c(d) + 0.15 * gauss()))
    }
    from until vecs.length
  }

  /** A query near the stored row in `slot`. */
  def queryNear(slot: Int): Array[Double] =
    vecs(slot).map(x => round4(x + 0.05 * gauss()))

  /** Exact top-k ids by L2 distance, ties to the lower id: the plain
    * Scala oracle, independent of the engine. */
  def exactTopK(q: Array[Double], k: Int, cat: Option[Int] = None): Seq[Long] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    var i = 0
    while (i < vecs.length) {
      if (cat.forall(_ == catOf(i))) {
        val v = vecs(i)
        var s = 0.0; var d = 0
        while (d < dim) { val t = v(d) - q(d); s += t * t; d += 1 }
        heap.enqueue((s, i.toLong))
        if (heap.size > k) heap.dequeue()
      }
      i += 1
    }
    heap.toSeq.sorted.map(_._2)
  }
}

object Sql {
  def num(x: Double): String = java.math.BigDecimal.valueOf(x).toPlainString
  def vec(v: Array[Double]): String = v.map(num).mkString("ARRAY [", ", ", "]")
}
