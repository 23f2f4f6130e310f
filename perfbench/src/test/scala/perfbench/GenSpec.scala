package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical inputs") {
    assert(Gen.upload(7L, 500).text == Gen.upload(7L, 500).text)
    assert(Gen.corpus(7L, 200, 10, 4) == Gen.corpus(7L, 200, 10, 4))
    assert(Gen.unitVectors(7L, 50, 64).map(_.toSeq) == Gen.unitVectors(7L, 50, 64).map(_.toSeq))
    assert(Gen.distinctIds(7L, 100, 8) == Gen.distinctIds(7L, 100, 8))
  }

  test("another seed gives other inputs of the same size") {
    val (a, b) = (Gen.upload(7L, 500), Gen.upload(8L, 500))
    assert(a.text != b.text && a.rows == b.rows)
    val (c, d) = (Gen.corpus(7L, 200, 10, 4), Gen.corpus(8L, 200, 10, 4))
    assert(c.docs != d.docs && c.docs.size == d.docs.size && c.planted.size == d.planted.size)
  }

  test("uploads carry the reference's CSV edge cases") {
    val u = Gen.upload(3L, 2000)
    assert(u.naCells > 0 && u.multilineCells > 0)
    assert(u.text.contains("\"quoted, with comma\""))
    assert(u.text.contains("\"she said \"\"hi\"\"\""))
    assert(u.text.contains(",,"))
  }

  test("planted copies differ from their originals in one non-stopword") {
    val c = Gen.corpus(5L, 300, 20, 4)
    val text = c.docs.map(d => d._1 -> d._2).toMap
    c.planted.foreach { case (a, b) =>
      val (wa, wb) = (text(a).split(' ').take(text(b).split(' ').length), text(b).split(' '))
      assert(wa.zip(wb).count { case (x, y) => x != y } == 1)
      assert(Gen.Stopwords.forall(wb.contains))
    }
  }
}
