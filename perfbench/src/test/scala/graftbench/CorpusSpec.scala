package graftbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  test("planted families sit at a known Jaccard, loose pairs far below") {
    val docs = Corpus.build(new Corpus.Gen(3), 0L, families = 5, variants = 3, loose = 5,
      singles = 5)
    assert(docs.map(_.id) == (0L until 35L))
    val planted = Corpus.plantedPairs(docs)
    val tight = planted.filter(p => docs(p._1.toInt).family < 20)
    assert(tight.size == 5 * 6)
    tight.foreach(p => assert(p._3 >= 75.0 / 81 - 1e-9))
    planted.filterNot(tight.contains).foreach(p => assert(p._3 < 0.5))
  }

  test("jaccard over word 3-shingles") {
    assert(Corpus.jaccard("a b c d", "a b c d") == 1.0)
    assert(Corpus.jaccard("a b c d", "a b c e") == 1.0 / 3)
    assert(Corpus.jaccard("a b", "a b") == 0.0)
  }
}
