package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long): Array[Byte] = {
    val (docs, embs) = Gen.corpus(seed, 300, 120)
    val bench = (0 until 5).map(i => Gen.doc(new java.util.SplittableRandom(seed), i.toLong))
    Gen.canonical(docs ++ embs ++ Gen.requests(seed, 3) ++ Gen.golden(seed, docs, 50) ++
      Gen.changes(seed, docs, bench, 300L, 4, 40))
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7L).sameElements(inputs(7L)))
  }

  test("different seeds give different inputs") {
    assert(!inputs(7L).sameElements(inputs(8L)))
  }

  test("request blocks keep their composition whatever the seed") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val rs = Gen.requests(seed, 1)
      assert(rs.size == 40)
      assert(rs.count(_.kind == "keyword") == 16)
      assert(rs.count(_.kind == "vector") == 12)
      assert(rs.count(_.kind == "hybrid") == 12)
      assert(Gen.Modes.forall(m => rs.count(_.mode == m) == 10))
      assert(rs.count(_.filterLang.nonEmpty) == 6)
      assert(rs.count(_.asOf.nonEmpty) == 2)
      assert(rs.filter(_.asOf.nonEmpty).forall(r => Set("refreshed", "quantized")(r.mode)))
      val two = Gen.requests(seed, 1, Seq("exact", "pruned"))
      assert(two.count(_.mode == "exact") == 20 && two.count(_.filterLang.nonEmpty) == 6)
      assert(two.forall(_.asOf.isEmpty))
    }
  }

  test("change batches have the stated mix and continue the id space") {
    val (docs, _) = Gen.corpus(3L, 500, 0)
    val cs = Gen.changes(3L, docs, docs.take(5), 500L, 3, 100)
    cs.foreach { c =>
      assert(c.added.size == 60 && c.changed.size == 25 && c.removed.size == 15)
    }
    assert(cs.flatMap(_.added).map(_.id) == (500L until 680L))
  }
}
