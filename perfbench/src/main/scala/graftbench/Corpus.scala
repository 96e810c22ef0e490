package graftbench

/** Seeded text corpus with planted near-duplicate families.
  *
  * Documents are space-separated words from a large vocabulary, so two
  * unrelated documents share no word 3-gram in practice. A family is a
  * base document plus variants that each put a different word at the
  * same position of the base, so every in-family pair differs in one
  * word: Jaccard 75/81 on word 3-shingles of 80-word documents. Loose
  * pairs differ in twelve words, well below any dedup threshold, yet
  * still share long word runs. */
final case class Doc(id: Long, text: String, family: Long)

object Corpus {
  val Vocabulary = 20000
  val Words = 80

  final class Gen(seed: Long) {
    private val rnd = new java.util.Random(seed)
    def word(): String = s"w${rnd.nextInt(Vocabulary)}"
    def fresh(): Array[String] = Array.fill(Words)(word())
    /** `base` with the word at each of `positions` replaced. */
    def variant(base: Array[String], positions: Seq[Int]): Array[String] = {
      val out = base.clone()
      positions.foreach(p => out(p) = word())
      out
    }
    /** `k` distinct positions at least 3 apart. */
    def positions(k: Int): Seq[Int] =
      rnd.ints(0, Words / 3).distinct().limit(k.toLong).toArray.toSeq.map(_ * 3 + 1)
    def nextInt(n: Int): Int = rnd.nextInt(n)
  }

  /** `families` tight families of `1 + variants` docs, `loose` loose
    * pairs and `singles` unrelated docs, ids from `firstId`. */
  def build(gen: Gen, firstId: Long, families: Int, variants: Int, loose: Int,
      singles: Int): Seq[Doc] = {
    val out = Seq.newBuilder[Doc]
    var id = firstId
    def add(words: Array[String], fam: Long): Unit = {
      out += Doc(id, words.mkString(" "), fam); id += 1
    }
    (0 until families).foreach { _ =>
      val base = gen.fresh()
      val fam = id
      val at = gen.positions(1)
      add(base, fam)
      (0 until variants).foreach(_ => add(gen.variant(base, at), fam))
    }
    (0 until loose).foreach { _ =>
      val base = gen.fresh()
      val fam = id
      add(base, fam)
      add(gen.variant(base, gen.positions(12)), fam)
    }
    (0 until singles).foreach { _ => add(gen.fresh(), id) }
    out.result()
  }

  /** Distinct word k-shingles, split on single spaces like the dedup
    * operators tokenize. */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val w = text.split(" ", -1)
    (0 to w.length - k).map(i => w.slice(i, i + k).mkString(" ")).toSet
  }

  def jaccard(a: String, b: String, k: Int = 3): Double = {
    val (x, y) = (shingles(a, k), shingles(b, k))
    val inter = x.intersect(y).size
    val union = x.size + y.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Every in-family pair (a < b) with its exact Jaccard. */
  def plantedPairs(docs: Seq[Doc]): Seq[(Long, Long, Double)] =
    docs.groupBy(_.family).values.toSeq.flatMap { fam =>
      val s = fam.sortBy(_.id)
      for { i <- s.indices; j <- (i + 1) until s.length }
        yield (s(i).id, s(j).id, jaccard(s(i).text, s(j).text))
    }
}
