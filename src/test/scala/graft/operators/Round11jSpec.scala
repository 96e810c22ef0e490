package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 continuation: the FULL image similarity compound —
  * rotated/mirrored AND cropped at any offset AND uniformly rescaled
  * (m145/m146/st107). The dihedral ANGLE fan over constellation codes:
  * distances are dihedral-invariant, so the 8 readouts cost no extra
  * decode or peak detection — only the direction angles and the
  * chirality bit transform per readout. */
class Round11jSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Compound probe: crop+resize then dihedral re-encode. */
  private def compound(id: Long, x0: Int, y0: Int, x1: Int, y1: Int,
      outW: Int, outH: Int, orient: Int): Array[Byte] =
    Multimodal.pngDihedral(
      Multimodal.pngCropResize(Multimodal.syntheticPngBlobs(id),
        x0, y0, x1, y1, outW, outH), orient)

  /** The m145 fixture: blob masters + compound probes covering a
    * quarter turn, the half turn, a mirrored turn, and a pure mirror,
    * each at a different crop rect and scale factor — plus decoys. */
  private def corpus = {
    val s = spark
    import s.implicits._
    ((0L until 8L).map(id => (id, Multimodal.syntheticPngBlobs(id))) ++
      Seq(
        20L -> compound(0, 20, 12, 116, 108, 128, 128, 1),
        21L -> compound(1, 8, 16, 104, 112, 112, 112, 2),
        22L -> compound(2, 16, 16, 112, 112, 80, 80, 5),
        23L -> compound(3, 24, 8, 120, 104, 144, 144, 4)
      ) ++
      Seq(140L, 141L).map(id => (id, Multimodal.syntheticPngBlobs(id))))
      .toDF("doc_id", "payload")
  }

  test("orient-0 oriented codes are bit-identical to the natural codes") {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.syntheticPngBlobs(0)))
    val cells = Multimodal.coarsePeakCells(Multimodal.lumaPlane(img),
      img.getWidth, img.getHeight, 4, 6)
    val natural = Multimodal.constellationCodes(
      cells, 16, 8, 0.15, 24).toSet
    val oriented = Multimodal.constellationCodesOriented(
      cells, 16, 8, 0.15, 24).toSeq
    assert(oriented.filter(_._1 == 0).map(_._2).toSet == natural,
      "orient-0 readout must equal the natural constellation codes")
    // and the 8 readouts are genuinely distinct views (reflections
    // flip chirality, rotations shift angle bins)
    assert((0 until 8).forall(o =>
      oriented.count(_._1 == o) == natural.size))
  }

  test("plain constellation tier and exact dihedral peak tier are both blind to the full compound") {
    implicit val s: SparkSession = spark
    val plain = Multimodal.imageScalePairs(corpus, minMatch = 0.4,
        maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plain.isEmpty,
      s"plain (rotation-variant) scale tier must miss dihedral " +
        s"compounds: ${plain.toSeq}")
    val exact = Multimodal.imagePeakPairsDihedral(corpus,
        minMatch = 0.05, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.isEmpty,
      s"exact-pixel dihedral peak tier must miss resampled " +
        s"compounds: ${exact.toSeq}")
  }

  test("dihedral constellation tier lands every compound probe; decoys stay below threshold") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.imageScalePairsDihedral(corpus,
        minMatch = 0.4, maxDf = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected compound pairs: ${pairs.toSeq}")
    assert(pairs.forall(_._4 >= 0.48),
      s"true pairs must score >= 0.48: ${pairs.toSeq}")
    assert(pairs.forall(_._3 != 0),
      s"a dihedral-transformed probe must land at a NON-identity " +
        s"readout: ${pairs.toSeq}")
    val loose = Multimodal.imageScalePairsDihedral(corpus,
        minMatch = 0.1, maxDf = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .filterNot(p => Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L))
        .contains((p._1, p._2)))
    assert(loose.forall(_._4 <= 0.25),
      s"noise pairs must stay <= 0.25: ${loose.toSeq}")
  }

  test("dihedral index screen catches compounds the plain screen keeps; stamp enforced") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 8L).map(id =>
      (id, Multimodal.syntheticPngBlobs(id))).toDF("doc_id", "payload")
    val index = Multimodal.imageScaleLandmarkIndex(masters)
    val probes = Seq(
      20L -> compound(0, 20, 12, 116, 108, 128, 128, 1),
      21L -> compound(1, 8, 16, 104, 112, 112, 112, 5),
      130L -> Multimodal.syntheticPngBlobs(130L))
      .toDF("doc_id", "payload")
    // the plain screen (orient-0 probes only) keeps the rotated ones
    val plain = Multimodal.dedupAgainstImageScaleIndex(probes, index,
        minMatch = 0.4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(plain == Set((20L, true), (21L, true), (130L, true)),
      s"plain screen must be blind to dihedral compounds: $plain")
    // the dihedral fan catches them against the SAME index
    val fan = Multimodal.dedupAgainstImageScaleIndexDihedral(probes,
        index, minMatch = 0.4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(fan == Set((20L, false), (21L, false), (130L, true)),
      s"unexpected dihedral screen verdicts: $fan")
    val foreign = index.withColumn("fp_ver",
      lit(Multimodal.PeakFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.dedupAgainstImageScaleIndexDihedral(probes, foreign)
        .collect()
    }
    assert(e.getMessage.contains("rebuild"))
    val unstamped = intercept[IllegalArgumentException] {
      Multimodal.dedupAgainstImageScaleIndexDihedral(probes, index.drop("fp_ver"))
    }
    assert(unstamped.getMessage.contains("no fp_ver column"))
  }
}
