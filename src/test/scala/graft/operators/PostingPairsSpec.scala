package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArraySort, Expression, LambdaFunction}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The shared posting-pair step ([[PostingPairs]]): pair expansion,
  * df cap, smaller-set score and the index version-stamp check. */
class PostingPairsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def lists(ls: Seq[Long]*): DataFrame = {
    val s = spark
    import s.implicits._
    ls.zipWithIndex.map { case (l, k) => (k, l) }.toDF("k", "ds")
  }

  private def pairsOf(df: DataFrame): Map[Int, Seq[(Long, Long)]] =
    df.select(col("k"),
        explode(PostingPairs.orderedPairs(col("ds"))).as("p"))
      .select(col("k"), col("p.doc_a"), col("p.doc_b"))
      .collect().toSeq
      .groupBy(_.getInt(0))
      .map { case (k, rs) => k -> rs.map(r => (r.getLong(1), r.getLong(2))) }

  test("orderedPairs emits every i < j pair of the sorted list, in sort order") {
    val inputs = Seq(Seq(5L, 1L, 4L), Seq(9L, 3L, 7L, 2L, 8L),
      (1L to 12L).reverse)
    val got = pairsOf(lists(inputs: _*))
    inputs.zipWithIndex.foreach { case (l, k) =>
      val sorted = l.sorted
      val m = l.size
      val want = for (i <- 0 until m; j <- i + 1 until m)
        yield (sorted(i), sorted(j))
      assert(got(k).size == m * (m - 1) / 2)
      assert(got(k) == want, s"list $k")
      assert(got(k).forall { case (a, b) => a <= b })
    }
  }

  test("orderedPairs: duplicated entries pair with themselves; short lists emit nothing") {
    val got = pairsOf(lists(Seq(3L, 1L, 3L), Seq(6L), Seq.empty[Long]))
    assert(got(0) == Seq((1L, 3L), (1L, 3L), (3L, 3L)))
    assert(!got.contains(1) && !got.contains(2))
  }

  test("orderedPairs binds the sorted list once: no ArraySort inside a lambda body") {
    def sortInLambda(e: Expression): Boolean = e match {
      case l: LambdaFunction => l.function.exists(_.isInstanceOf[ArraySort])
      case _ => e.children.exists(sortInLambda)
    }
    def exprs(df: DataFrame): Seq[Expression] =
      df.queryExecution.analyzed.collect { case n => n.expressions }.flatten
    def planSortsInLambda(df: DataFrame): Boolean =
      exprs(df).exists(sortInLambda)
    val shared = lists(Seq(2L, 1L))
      .select(explode(PostingPairs.orderedPairs(col("ds"))).as("p"))
    assert(exprs(shared).exists(_.exists(_.isInstanceOf[ArraySort])),
      shared.queryExecution.analyzed.toString)
    assert(!planSortsInLambda(shared), shared.queryExecution.analyzed.toString)
    // the guard sees the bare shape it exists to keep out
    val ds = array_sort(col("ds"))
    val bare = lists(Seq(2L, 1L)).select(explode(flatten(transform(ds,
      (x, i) => transform(slice(ds, i + lit(2),
          greatest(size(ds) - i - 1, lit(0))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
    assert(planSortsInLambda(bare))
  }

  test("capDf keeps exactly the keys with df <= maxDf (row and distinct-doc counts)") {
    val s = spark
    import s.implicits._
    // key -> (doc) rows; doc 1 holds key 20 twice
    val rows = Seq((10, 1L), (10, 2L), (20, 1L), (20, 1L), (20, 2L),
      (30, 1L), (30, 2L), (30, 3L), (40, 4L)).toDF("key", "doc_id")
    def keys(df: DataFrame): Set[Int] =
      df.select("key").distinct().as[Int].collect().toSet
    def rowsOf(df: DataFrame): Seq[(Int, Long)] =
      df.as[(Int, Long)].collect().toSeq.sorted
    assert(rowsOf(PostingPairs.capDf(rows, Seq("key"), 0)) == rowsOf(rows))
    val byRows = PostingPairs.capDf(rows, Seq("key"), 2)
    assert(keys(byRows) == Set(10, 40))
    assert(rowsOf(byRows) == rowsOf(rows.filter(col("key").isin(10, 40))))
    val byDocs = PostingPairs.capDf(rows, Seq("key"), 2, distinctDocs = true)
    assert(keys(byDocs) == Set(10, 20, 40))
    assert(rowsOf(byDocs) ==
      rowsOf(rows.filter(col("key").isin(10, 20, 40))))
  }

  test("overlapFrac scores shared counts over the smaller set, per side key") {
    val s = spark
    import s.implicits._
    val counts = Seq((1L, 2L, 0, 1, 3L), (1L, 3L, 0, 0, 1L))
      .toDF("doc_a", "doc_b", "win_a", "win_b", "c")
    val sizes = Seq((1L, 0, 4L), (2L, 1, 6L), (3L, 0, 3L), (2L, 0, 1L))
      .toDF("doc_id", "win", "n")
    val got = PostingPairs.overlapFrac(counts, sizes, "n", 0.5,
        by = Seq("win"), keep = Seq("win_a", "win_b"))
      .as[(Long, Long, Int, Int, Double)].collect().toSet
    // (1,2): 3 / min(4, 6); (1,3): 1 / min(4, 3) = 0.333333 < 0.5
    assert(got == Set((1L, 2L, 0, 1, 0.75)))
  }

  test("requireFpVersion rejects unstamped and stale indexes, naming the builder") {
    val s = spark
    import s.implicits._
    val current = Seq((1L, 2L, 7)).toDF("lm", "doc_id", "fp_ver")
    PostingPairs.requireFpVersion(current, 7, "demo", "demoIndex")
    val missing = intercept[IllegalArgumentException] {
      PostingPairs.requireFpVersion(current.drop("fp_ver"), 7, "demo",
        "demoIndex")
    }
    assert(missing.getMessage.contains("no fp_ver column"))
    assert(missing.getMessage.contains("rebuild it with demoIndex"))
    val stale = intercept[IllegalArgumentException] {
      PostingPairs.requireFpVersion(
        current.unionByName(Seq((3L, 4L, 6)).toDF("lm", "doc_id", "fp_ver")),
        7, "demo", "demoIndex")
    }
    assert(stale.getMessage.contains("built by fingerprint version 6"))
    assert(stale.getMessage.contains("rebuild it with demoIndex"))
  }

  test("index screens no other spec builds an index for reject unstamped and stale indexes") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload")
    val stamp = Multimodal.AffineFrameFpVersion
    val frames = Seq((1L, 2L, 0, 0, stamp - 1))
      .toDF("lm", "doc_id", "ax", "ay", "fp_ver")
    val chunks = Seq((0, 1L, 2L, 0, 3L, Multimodal.PHashFpVersion - 1))
      .toDF("chunk", "ckey", "doc_id", "win", "ph", "fp_ver")
    val screens: Seq[(String, DataFrame => Unit)] = Seq(
      "imageAffineFrameIndex" -> (i =>
        Multimodal.dedupAgainstImageAffineFrameIndexSqueezeFan(media, i)),
      "imageAffineFrameIndex" -> (i =>
        Multimodal.dedupAgainstImageAffineFrameIndexChiral(media, i)),
      "imageAffineFrameAnchorIndex" -> (i =>
        Multimodal.dedupAgainstImageAffineFrameIndexVerified(media, i)),
      "pHashCropWindowIndex" -> (i =>
        Multimodal.dedupAgainstPHashCropIndex(media, i)))
    screens.foreach { case (builder, screen) =>
      val index = if (builder.startsWith("pHash")) chunks else frames
      val stale = intercept[IllegalArgumentException](screen(index))
      assert(stale.getMessage.contains("built by fingerprint version"),
        builder)
      assert(stale.getMessage.contains(s"rebuild it with $builder"))
      val missing = intercept[IllegalArgumentException](
        screen(index.drop("fp_ver")))
      assert(missing.getMessage.contains("fp_ver"), builder)
      assert(missing.getMessage.contains(builder))
    }
  }
}
