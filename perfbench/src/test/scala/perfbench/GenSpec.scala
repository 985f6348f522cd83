package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("one seed reproduces a byte-identical digest") {
    assert(new Gen(7).digest == new Gen(7).digest)
  }

  test("another seed gives another digest") {
    assert(new Gen(7).digest != new Gen(8).digest)
  }

  test("search queries are distinct, so none can be a history hit") {
    val qs = new Gen(7).searchQueries
    assert(qs.distinct.length == qs.length)
  }

  test("injected duplicates and re-fetch groups use each original once") {
    val (_, inj) = new Gen(7).curate
    val originals = inj.exactDups.map(_._1) ++ inj.nearDups.map(_._1) ++ inj.refetches.map(_.head)
    assert(originals.distinct.length == originals.length)
  }

  test("typing queries share one shape: equal length, one heavy initial") {
    val g = new Gen(7)
    assert(g.typingPool.map(_.length).distinct.size == 1)
    val heavy = g.typingPool.flatMap(_.split(" ")).filter(w => Gen.HeadInitials(w.head))
    assert(heavy == Seq(g.typingPool.head.split(" ").head) && heavy.head.head == 's')
  }
}
