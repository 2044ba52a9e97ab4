package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a tail is reported only with ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(hundred, 0.9).contains(90.0))
    assert(Stats.tail(hundred.tail, 0.9).isEmpty) // 99 samples: nine beyond
    assert(Stats.tail((1 to 20).map(_.toDouble), 0.5).contains(10.0))
    assert(Stats.tail(Nil, 0.5).isEmpty)
  }

  test("self time subtracts the union of direct children only") {
    val parent = Span(1, 0, "statement", "s", 0, 100)
    val spans = Seq(parent,
      Span(2, 1, "phase", "a", 10, 30),
      Span(3, 1, "job", "b", 20, 40), // overlaps a: counted once
      Span(4, 1, "job", "c", 90, 120), // clipped to the parent's end
      Span(5, 3, "stage", "d", 0, 100)) // a grandchild: ignored
    assert(Spans.covered(0, 100, Seq((10.0, 30.0), (20.0, 40.0), (90.0, 120.0))) == 40.0)
    assert(Spans.selfMs(parent, spans) == 60.0)
    assert(Spans.selfMs(spans(2), spans) == 0.0)
    assert(Spans.selfMs(Span(9, 0, "job", "empty", 5, 5), spans) == 0.0)
  }

  test("recall counts found true neighbours, in any order") {
    assert(Stats.recall(Seq(3L, 1L, 2L, 11L), Seq(1L, 2L, 3L, 4L)) == 0.75)
    assert(Stats.recall(Seq(4L, 3L, 2L, 1L), Seq(1L, 2L, 3L, 4L)) == 1.0)
    assert(Stats.recall(Nil, Seq(1L)) == 0.0)
  }

  test("the result hash ignores row and column order but not content") {
    val cols = Seq("b", "a")
    val rows = Seq(Seq[Any](1, "x"), Seq[Any](2, null), Seq[Any](3, "z"))
    val h = ResultHash.of(cols, rows)
    assert(ResultHash.of(cols, rows.reverse) == h)
    assert(ResultHash.of(Seq("a", "b"), rows.map(_.reverse)) == h)
    assert(ResultHash.of(cols, rows.tail) != h)
    assert(ResultHash.of(cols, rows :+ rows.head) != h)
    assert(ResultHash.of(cols, rows.updated(0, Seq[Any](1, "y"))) != h)
    assert(ResultHash.of(Seq("d"), Seq(Seq[Any](-0.0))) == ResultHash.of(Seq("d"), Seq(Seq[Any](0.0))))
    assert(ResultHash.of(Seq("v"), Seq(Seq[Any](Seq(1.5, 2.0)))) != ResultHash.of(Seq("v"), Seq(Seq[Any](Seq(2.0, 1.5)))))
  }

  test("the oracle returns the exact top-k, filtered by category") {
    val c = new Corpus(7, dim = 4, clusters = 3, cats = 2)
    c.grow(300)
    val q = c.queryNear(17)
    def dist(i: Int) = c.vecs(i).zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
    val brute = c.vecs.indices.sortBy(i => (dist(i), i)).take(10).map(_.toLong)
    assert(c.exactTopK(q, 10) == brute)
    val only1 = c.vecs.indices.filter(c.catOf(_) == 1)
      .sortBy(i => (dist(i), i)).take(10).map(_.toLong)
    assert(c.exactTopK(q, 10, Some(1)) == only1)
  }

  test("the same seed gives the same corpus and SQL literals round-trip") {
    val a = new Corpus(3, 8, 2, 2); a.grow(5)
    val b = new Corpus(3, 8, 2, 2); b.grow(5)
    assert(a.vecs.map(_.toSeq) == b.vecs.map(_.toSeq))
    a.vecs.flatten.foreach(x => assert(BigDecimal(Sql.num(x)).toDouble == x))
  }

  test("BENCHMARK.json lists exactly the per-layer metrics the traced run reports") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    val layer = json.get("per_layer")
    val listed = (0 until layer.size).map(i => layer.get(i).get("name").asText)
    assert(listed == PerLayer.names)
    assert((0 until layer.size).map(i => layer.get(i).get("unit").asText) ==
      PerLayer.names.map(PerLayer.unit))
    assert(listed.size <= 128)
  }
}
