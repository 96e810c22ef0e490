package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 continuation: ANAMORPHIC video dedup (m156/m157/st113) —
  * the aspect-hypothesis fan pooled per sampled frame. A 4:3 master
  * re-ripped at 16:9 stretches every frame's x by 4/3, blinding the
  * plain and rotation-invariant video constellation tiers alike. */
class Round11oSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def corpus = {
    val s = spark
    import s.implicits._
    ((0L until 6L).map(id => (id, Multimodal.syntheticAviBlobs(id, 6))) ++
      Seq(
        20L -> Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(0, 6), 0.75),
        21L -> Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(1, 6), 4.0 / 3.0),
        22L -> Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(2, 6), 0.75, fromFrame = 2),
        23L -> Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(3, 6), 4.0 / 3.0)
      ) ++
      Seq(140L, 141L).map(id =>
        (id, Multimodal.syntheticAviBlobs(id, 6))))
      .toDF("doc_id", "payload")
  }

  test("plain and rot video constellation tiers are both blind to anamorphic re-rips") {
    implicit val s: SparkSession = spark
    val plain = Multimodal.videoScalePairs(corpus, minMatch = 0.3,
        maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plain.isEmpty,
      s"similarity-invariant video tier must miss squeezes: " +
        s"${plain.toSeq}")
    val rot = Multimodal.videoRotScalePairs(corpus, minMatch = 0.2,
        maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rot.isEmpty,
      s"rotation-invariant video tier must miss squeezes: " +
        s"${rot.toSeq}")
  }

  test("video aspect fan lands both directions incl. the trim compound; screen works on the plain index") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val pairs = Multimodal.videoScalePairsAspect(corpus,
        minMatch = 0.3, maxDf = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected anamorphic pairs: ${pairs.toSeq}")
    assert(pairs.forall(p =>
      if (p._1 == 0L || p._1 == 2L) p._3 == 2 else p._3 == 1),
      s"wrong undoing hypothesis: ${pairs.toSeq}")
    val masters = (0L until 6L).map(id =>
      (id, Multimodal.syntheticAviBlobs(id, 6))).toDF("doc_id", "payload")
    val index = Multimodal.videoScaleLandmarkIndex(masters)
    val probes = Seq(
      20L -> Multimodal.aviAspectDib(
        Multimodal.syntheticAviBlobs(0, 6), 0.75),
      130L -> Multimodal.syntheticAviBlobs(130L, 6))
      .toDF("doc_id", "payload")
    val plainScreen = Multimodal.dedupAgainstVideoScaleIndex(probes,
        index, minMatch = 0.3)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(plainScreen == Set((20L, true), (130L, true)),
      s"plain video screen must be blind to squeezes: $plainScreen")
    val fan = Multimodal.dedupAgainstVideoScaleIndexAspect(probes,
        index, minMatch = 0.3)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(fan == Set((20L, false), (130L, true)),
      s"unexpected video aspect screen verdicts: $fan")
    val stale = intercept[IllegalArgumentException] {
      Multimodal.dedupAgainstVideoScaleIndexAspect(probes,
        index.withColumn("fp_ver", lit(Multimodal.PeakFpVersion)))
    }
    assert(stale.getMessage.contains("rebuild it with videoScaleLandmarkIndex"))
    val unstamped = intercept[IllegalArgumentException] {
      Multimodal.dedupAgainstVideoScaleIndexAspect(probes,
        index.drop("fp_ver"))
    }
    assert(unstamped.getMessage.contains("no fp_ver column"))
  }
}
