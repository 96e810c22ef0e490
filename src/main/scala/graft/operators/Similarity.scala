package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / vector similarity operators over an
  * embedding column (array<float>).
  *
  * Numeric determinism: dot products are computed as a left-to-right
  * fold of float-by-float products widened to double. float*float is
  * exact in double (24+24 mantissa bits < 53), and a fixed fold order
  * makes the sum bit-stable — so results can be hash-compared against
  * an oracle computing the same fold. Emitted cosines are rounded to 6
  * decimals to absorb any remaining last-bit noise.
  */
object Similarity {

  /** Left-to-right double fold of sum(a[i]*b[i]). */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  def cosine(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** Brute-force cosine top-k: every query row against every corpus row.
    * The query side is broadcast (small), so the corpus scan stays
    * pipelined with no shuffle — the correct baseline at any scale where
    * queries are few; for corpus-x-corpus use `cosineLshBuckets`. */
  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val scored = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Left-to-right double fold over float vectors — the same operation
    * order as the `cosine` Column expression and the DuckDB oracle's
    * list_sum fold, but as a tight primitive loop. */
  private def dotKernel(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = a.length
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Embedding near-duplicate pairs above a cosine threshold — exact
    * all-pairs, computed as a broadcast-loop: the corpus vectors are
    * broadcast once (id, vector, norm) and each partition streams its
    * rows against them in a primitive-array kernel.
    *
    * TEST-SCALE ONLY: quadratic by nature, and the broadcast side holds
    * the whole corpus — `maxRows` hard-fails beyond the ceiling instead
    * of OOMing the driver. The 100 TB-scale path is `cosineDupPairsLsh`
    * (SRP-bucketed); this is the exact baseline and per-bucket verifier. */
  def cosineDupPairs(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxRows: Int = 1000000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
    // limit BEFORE collect: the driver never receives more than the
    // ceiling + 1 rows even when the corpus is far larger
    val collected = rows.limit(maxRows + 1).collect()
    require(collected.length <= maxRows,
      s"cosineDupPairs is the exact test-scale baseline (corpus > $maxRows rows); " +
        "use cosineDupPairsLsh for large corpora")
    val side = collected.sortBy(_._1)
      .map { case (id, v) => val a = v.toArray; (id, a, math.sqrt(dotKernel(a, a))) }
    val bc = spark.sparkContext.broadcast(side)
    rows.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (idA, vaSeq) =>
        val va = vaSeq.toArray
        val na = math.sqrt(dotKernel(va, va))
        val out = Seq.newBuilder[(Long, Long, Double)]
        var j = 0
        while (j < all.length) {
          val (idB, vb, nb) = all(j)
          if (idB > idA) {
            val raw = dotKernel(va, vb) / (na * nb)
            // round-then-threshold, matching the oracle's WHERE on the
            // rounded value (boundary values round up into the set)
            if (raw >= threshold - 1e-6) {
              val r = round6(raw)
              if (r >= threshold) out += ((idA, idB, r))
            }
          }
          j += 1
        }
        out.result()
      }
    }.toDF("id_a", "id_b", "cos_sim")
  }

  /** Sign-random-projection (hyperplane) LSH bucket key: `nBits` signs of
    * dot(v, plane_j). Plane coordinates are md5-derived uniforms in
    * [-1, 1) — a pure function of (seed, j, i), so the buckets are
    * identical across runs, cluster sizes, JVMs, AND engines (the DuckDB
    * oracle replays the exact derivation; a JVM RNG would not be
    * portable). Uniform instead of Gaussian coordinates leaves the SRP
    * guarantee intact: the distribution is symmetric around 0, which is
    * all the sign test needs. Same-bucket vectors are cosine-close with
    * high probability; at scale this is the corpus-x-corpus candidate
    * generator (shuffle on the bucket key replaces the quadratic cross
    * join). */
  def srpBucket(vec: Column, dim: Int, nBits: Int = 16, seed: Long = 42L): Column = {
    // kernel UDF: a nBits x dim expression tree would dominate runtime in
    // janino compilation alone; the (memoized) planes are deterministic
    // from `seed` and derived identically inside each executor
    val f = udf((v: Seq[Float]) => {
      val planes = srpPlanes(nBits, dim, seed)
      var bucket = 0L
      var j = 0
      while (j < nBits) {
        val p = planes(j)
        var dot = 0.0
        var i = 0
        // min(dim, |v|): a vector shorter than the declared dim hashes
        // on its own components instead of crashing the task (the skew
        // guard calls this with a caller-supplied dim)
        val lim = math.min(dim, v.length)
        while (i < lim) { dot += v(i).toDouble * p(i); i += 1 }
        if (dot >= 0) bucket |= (1L << j)
        j += 1
      }
      bucket
    })
    f(vec)
  }

  /** SRP bits for a corpus of `n` vectors targeting ~`targetBucket`
    * members per bucket: the smallest b with 2^b * targetBucket >= n,
    * floored at 6 (recall at tiny corpora) and capped at 48. Integer
    * arithmetic only — a float log2 could round differently across
    * engines at exact powers of two, and the oracle replays this
    * derivation in SQL (length(bin(m-1))). A fixed bucket count is the
    * scale-killer the derived form removes: with constant bits the
    * per-bucket candidate count grows quadratically in n; with
    * bits ~ log2(n) it stays ~linear. */
  def deriveSrpBits(n: Long, targetBucket: Int = 8): Int = {
    val m = (n + targetBucket - 1) / targetBucket // ceil(n / target)
    val bits = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(48, math.max(6, bits))
  }

  private val planesCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]

  /** plane(j)(i) = 2 * (first53bits(md5("srp:seed:j:i")) / 2^53) - 1.
    * Every step (integer → double, scale, shift) is exact in IEEE754, so
    * any engine deriving from the same md5 gets bit-identical planes. */
  private def srpPlanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] =
    planesCache.computeIfAbsent((nBits, dim, seed), _ => {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nBits, dim) { (j, i) =>
        val d = md.digest(s"srp:$seed:$j:$i".getBytes("UTF-8"))
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        2.0 * ((h >>> 11).toDouble / 9007199254740992.0) - 1.0
      }
    })

  /** The K lowest-id vectors as a bounded plan: orderBy + limit compiles
    * to TakeOrderedAndProject (per-partition top-K, then a K-row merge on
    * the driver) — the driver receives K·dim floats, never the corpus.
    * Package-visible so the spec can assert the plan stays limited. */
  private[operators] def seedFrame(corpus: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(k)

  private def seedVectors(corpus: DataFrame, k: Int,
      idCol: String, vecCol: String): Array[(Long, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    seedFrame(corpus, k, idCol, vecCol).as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }
  }

  /** Centroid set for the IVF operators: explicit (trained) centroids
    * when given, else the deterministic K-lowest-id seed vectors. The
    * driver only ever holds K·dim doubles either way. */
  private def centroidSet(corpus: DataFrame, k: Int, idCol: String, vecCol: String,
      centroids: Option[Array[(Long, Array[Double])]]): Array[(Long, Array[Double])] =
    centroids.getOrElse(seedVectors(corpus, k, idCol, vecCol)
      .map { case (id, v) => (id, v.map(_.toDouble)) })

  /** The deterministic seed centroid set (K lowest-id vectors) in the
    * explicit-`centroids` parameter shape — lets a STREAMING frame run
    * `ivfAssign` (whose default derivation needs a batch action on the
    * corpus; here the index side stays batch, the assignment side
    * streams). */
  def seedCentroids(corpus: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[(Long, Array[Double])] =
    seedVectors(corpus, k, idCol, vecCol).map { case (id, v) => (id, v.map(_.toDouble)) }

  /** `ivfTrain` output shaped for the `centroids` parameter of
    * `ivfAssign`/`ivfSearch`: trained centroid j gets id j. */
  def trainedCentroids(corpus: DataFrame, k: Int = 8, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[(Long, Array[Double])] =
    ivfTrain(corpus, k, iters, idCol, vecCol)._1.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }

  /** IVF-style coarse quantization: assign every vector to its nearest
    * of K centroid vectors — trained centroids when `centroids` is
    * given (see `trainedCentroids`), else a deterministic sample (the
    * vectors with the K lowest ids); the index structure and probe path
    * are identical either way. Distances are rounded left-to-right
    * double folds, ties broken by centroid id, so assignment is
    * engine-reproducible. */
  def ivfAssign(corpus: DataFrame, k: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centroidSet(corpus, k, idCol, vecCol, centroids)
    val bc = spark.sparkContext.broadcast(cents)
    corpus.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Seq[Float])]
      .map { case (id, vSeq) =>
        val v = vSeq.toArray
        var bestId = -1L
        var bestDist = Double.MaxValue
        bc.value.foreach { case (cid, c) =>
          var d = 0.0
          var i = 0
          while (i < v.length) {
            val diff = v(i).toDouble - c(i)
            d += diff * diff
            i += 1
          }
          val r = round6(d)
          if (r < bestDist || (r == bestDist && cid < bestId)) {
            bestDist = r; bestId = cid
          }
        }
        (id, bestId, bestDist)
      }.toDF(idCol, "centroid_id", "dist_sq")
  }

  /** Lloyd k-means refinement of the IVF coarse quantizer: iterate
    * assign (broadcast centroids, primitive kernel) → per-cluster mean
    * (posexplode over dims, one partial-agg'd groupBy — fully
    * distributed; the driver only ever holds the K centroid vectors,
    * K·dim doubles). Seeded from the K lowest-id vectors, matching
    * `ivfAssign`'s deterministic seed. Returns (centroid vectors, mean
    * squared distance per iteration) — the cost trace is monotonically
    * non-increasing (Lloyd's guarantee), which the spec asserts.
    * Production IVF at scale trains once on a sample, then assigns the
    * full corpus with the trained centroids. */
  def ivfTrain(corpus: DataFrame, k: Int = 8, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Double]], Seq[Double]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
    var cents: Array[Array[Double]] = seedVectors(corpus, k, idCol, vecCol)
      .map(_._2.map(_.toDouble))
    val costs = Seq.newBuilder[Double]
    (0 until iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(cents)
      val assigned = vecs.map { case (_, vSeq) =>
        val v = vSeq.toArray
        var bestId = -1
        var bestDist = Double.MaxValue
        var c = 0
        while (c < bc.value.length) {
          val cent = bc.value(c)
          var d = 0.0
          var i = 0
          while (i < v.length) {
            val diff = v(i).toDouble - cent(i); d += diff * diff; i += 1
          }
          if (d < bestDist) { bestDist = d; bestId = c }
          c += 1
        }
        (bestId, bestDist, vSeq)
      }.toDF("cid", "dist", "v").persist()
      costs += assigned.agg(avg(col("dist"))).head().getDouble(0)
      // new centroid = per-cluster per-dimension mean (empty clusters
      // keep their previous centroid)
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
      assigned.unpersist(blocking = false)
      val next = cents.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next
    }
    (cents, costs.result())
  }

  /** (qid, qv, centroid_id): each query keyed to its `nprobe` nearest
    * centroid lists — the shared probe ladder of `ivfSearch` and
    * `ivfSearchQuantized`. Centroid distances are computed against the
    * broadcast centroid set (K·dim doubles), ties broken by centroid
    * id, distances rounded — engine-reproducible like `ivfAssign`. */
  private def probeLists(corpus: DataFrame, queries: DataFrame,
      nCentroids: Int, nprobe: Int, idCol: String, vecCol: String,
      centroids: Option[Array[(Long, Array[Double])]],
      liveCentroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .crossJoin(liveCentroids)
    val w0 = Window.partitionBy(col("qid")).orderBy(col("cdist"), col("centroid_id"))
    val spark = corpus.sparkSession
    val cents = centroidSet(corpus, nCentroids, idCol, vecCol, centroids)
    val bc = spark.sparkContext.broadcast(cents.toMap)
    val cdist = udf((qv: Seq[Float], cid: Long) => {
      val c = bc.value(cid)
      var d = 0.0
      var i = 0
      while (i < qv.length) { val x = qv(i).toDouble - c(i); d += x * x; i += 1 }
      round6(d)
    })
    probes.withColumn("cdist", cdist(col("qv"), col("centroid_id")))
      .withColumn("probe_rank", row_number().over(w0))
      .filter(col("probe_rank") <= nprobe)
      .select(col("qid"), col("qv"), col("centroid_id"))
  }

  /** IVF probe search: score queries only against vectors whose
    * centroid is one of the query's `nprobe` nearest lists — the
    * sub-linear ANN path (per-query work ∝ probed lists, not corpus). */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 8, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = corpus.join(
      ivfAssign(corpus, nCentroids, idCol, vecCol, centroids)
        .select(col(idCol), col("centroid_id")),
      Seq(idCol))
    val probed = probeLists(corpus, queries, nCentroids, nprobe, idCol, vecCol,
      centroids, assigned.select(col("centroid_id")).distinct())
    val scored = probed.join(assigned, Seq("centroid_id"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        round(cosine(col("qv"), col(vecCol)), 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF probe search over int8-QUANTIZED codes — the FAISS IVF+SQ8
    * memory shape for billion-vector corpora: the probed lists scan
    * 1-byte-per-dimension codes instead of 4-byte floats, and the
    * per-vector scales cancel in the cosine exactly as in
    * `knnQuantized`, so scoring is integer dot products through one
    * sqrt/divide. The probe ladder itself runs on the float query
    * against the K float centroids (K·dim doubles — negligible).
    *
    * Here the codes and the coarse assignment are derived from the
    * float corpus inline (this sandbox stores only float vectors); a
    * production deployment precomputes both at ingest and never ships
    * the floats to the searchers — the spec asserts the 4x storage
    * reduction on the materialized codes. Code norms are projected once
    * per VECTOR before the probe join (never recomputed per pair). */
  def ivfSearchQuantized(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 8, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codes = quantizeInt8(corpus, idCol, vecCol)
      .select(col("vec_id"), col("qvec").as("cq"),
        sqrt(intDot(col("qvec"), col("qvec")).cast("double")).as("cnrm"))
    val assigned = codes.join(
      ivfAssign(corpus, nCentroids, idCol, vecCol, centroids)
        .select(col(idCol).as("vec_id"), col("centroid_id")), Seq("vec_id"))
    val probed = probeLists(corpus, queries, nCentroids, nprobe, idCol, vecCol,
        centroids, assigned.select(col("centroid_id")).distinct())
      .select(col("qid"), col("centroid_id"))
    val qcodes = quantizeInt8(queries, idCol, vecCol)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"),
        sqrt(intDot(col("qvec"), col("qvec")).cast("double")).as("qnrm"))
    val denom = col("cnrm") * col("qnrm")
    val scored = probed.join(broadcast(qcodes), Seq("qid"))
      .join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        when(denom === 0.0, lit(0.0))
          .otherwise(round(intDot(col("qq"), col("cq")).cast("double") / denom, 6))
          .as("qcos_sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qcos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Same-bucket candidate pairs across `tables` independent SRP hash
    * tables, generated from posting lists: ONE pass keys every vector
    * with its `tables` bucket ids (posexplode), one groupBy builds the
    * (table, bucket) member lists, and each sorted list expands to its
    * ordered pairs ([[PostingPairs.orderedPairs]]). Two shuffles
    * total for all tables, versus `tables` hash joins that each
    * re-hash the corpus; per-bucket work is |bucket|², which the
    * caller bounds by deriving nBits from the corpus size. */
  private[operators] def srpCandidates(base: DataFrame, dim: Int, nBits: Int,
      tables: Int, seed: Long): DataFrame = {
    val keyed = base.select(col("vec_id"), posexplode(
        array((0 until tables).map(t => srpBucket(col("v"), dim, nBits, seed + t)): _*))
        .as(Seq("tbl", "bucket")))
    PostingPairs.postings(keyed, Seq("tbl", "bucket"), col("vec_id"))
      .select(explode(PostingPairs.orderedPairs(col("ds"), "id_a", "id_b"))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      // a duplicated vec_id puts equal ids adjacent in the sorted list;
      // the old strict `x.vec_id < y.vec_id` join never emitted (a,a)
      // self-pairs, so neither do we
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
  }

  /** Corpus×corpus embedding near-dup pairs, SRP-bucketed: candidates
    * are same-bucket pairs in ANY of `tables` independent hash tables
    * (seeds seed..seed+tables-1), verified by exact cosine >= threshold.
    * The scale companion of `cosineDupPairs`: candidates come from
    * posting lists over the bucket key — never a quadratic cross
    * join — and the union of tables drives recall toward 1 for
    * genuinely-near pairs (cos 0.9 ≈ 26°: one 6-bit table catches
    * ~42%, four catch ~92%). Low-threshold sweeps remain
    * recall-limited by design.
    *
    * nBits <= 0 (the default) derives the bucket count from the corpus
    * size via `deriveSrpBits` — the knob that keeps expected bucket
    * membership (and so per-bucket quadratic work) CONSTANT as the
    * corpus grows, making total candidate volume ~linear in N. A fixed
    * bucket count would grow candidates ~N²/2^bits. */
  def cosineDupPairsLsh(corpus: DataFrame, threshold: Double, dim: Int,
      nBits: Int = 0, tables: Int = 4, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the bucket count is a PLANNING input (the plan's shape depends on
    // it): an EXACT count, not Catalyst's stats.rowCount — under CBO
    // that statistic can be a filter-selectivity estimate, which would
    // silently diverge from the oracle's count(*)-based derivation and
    // from the constant-occupancy contract. Parquet counts are
    // metadata-only, so this never scans data.
    val bits = if (nBits > 0) nBits else deriveSrpBits(corpus.count())
    // norms once per VECTOR, not per pair — the verify join then does
    // one dot product per candidate (same doubles, 3x less work)
    val base = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nrm"))
    val cand = srpCandidates(base, dim, bits, tables, seed)
    cand
      .join(base.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(base.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Persisted SRP bucket INDEX of an embedding corpus — the
    * [[graft.operators.TextDedup.minHashBandIndex]] analog for the
    * embedding modality: hash the corpus ONCE, write this table
    * (bucketed by (tbl, bucket) in production so probes read only
    * matching buckets), and screen every ingest batch with
    * [[dedupAgainstSrpIndex]]. One row per (table, vector):
    * `(tbl, bucket, vec_id, v, nrm)` — the vector and its norm ride
    * along so candidate verification never touches the corpus table.
    * `nBits` is a BUILD-time choice ([[deriveSrpBits]] of the corpus
    * size); record it with the table — probes must hash with the same
    * planes. */
  def srpBucketIndex(corpus: DataFrame, dim: Int, nBits: Int,
      tables: Int = 4, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        l2Norm(col(vecCol)).as("nrm"))
      .select(col("vec_id"), col("v"), col("nrm"), posexplode(
        array((0 until tables).map(t =>
          srpBucket(col("v"), dim, nBits, seed + t)): _*))
        .as(Seq("tbl", "bucket")))
      .select(col("tbl"), col("bucket"), col("vec_id"), col("v"), col("nrm"))

  /** Screen an ingest batch of embeddings against a pre-built
    * [[srpBucketIndex]]: the batch hashes with the SAME planes
    * (nBits/seed from index build), equi-joins the index on
    * (tbl, bucket), verifies each candidate with one exact cosine
    * against the vector carried IN the index row, and reports
    * (vec_id, kept, dup_src = lowest matching corpus vector). Corpus
    * cost is paid once at build; each increment costs one batch hash
    * pass + a candidate-scoped join — the t69 incremental contract,
    * embedding-side. */
  def dedupAgainstSrpIndex(newVecs: DataFrame, index: DataFrame,
      threshold: Double, dim: Int, nBits: Int, tables: Int = 4,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val probes = Materialize.eager(
      newVecs.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        l2Norm(col(vecCol)).as("nrm")))
    val keyed = probes.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(array((0 until tables).map(t =>
        srpBucket(col("v"), dim, nBits, seed + t)): _*))
        .as(Seq("tbl", "bucket")))
    val dup = keyed.join(
        index.select(col("tbl"), col("bucket"), col("vec_id").as("src"),
          col("v").as("cv"), col("nrm").as("cn")),
        Seq("tbl", "bucket"))
      .dropDuplicates("vec_id", "src")
      .filter(round(dotProduct(col("v"), col("cv")) / (col("nrm") * col("cn")), 6)
        >= threshold)
      .groupBy(col("vec_id")).agg(min(col("src")).as("dup_src"))
    probes.select(col("vec_id")).join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_src").isNull.as("kept"),
        col("dup_src"))
  }

  /** SemDeDup-style semantic dedup: coarse-cluster the corpus with the
    * IVF quantizer, then compare cosine ONLY within each cluster — the
    * published recipe for embedding-level dedup at corpus scale
    * (per-cluster work is |cluster|², never |corpus|²; clusters are the
    * shuffle key). Complements `cosineDupPairsLsh`: k-means clusters
    * give coherent semantic buckets where SRP gives random directional
    * ones. Recall is bounded by cluster purity — near-dups split across
    * a cluster boundary are missed, the documented SemDeDup trade.
    *
    * `dim` sizes the skew guard's SRP planes; pass the embedding length
    * (shorter vectors hash on their own components, longer ones on the
    * first `dim`). */
  def semanticDupPairs(corpus: DataFrame, threshold: Double, nCentroids: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, maxCluster: Int = 5000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // one row per (cluster, sub-bucket), pairs generated in a
    // primitive-array kernel: a relational self-join would carry both
    // 64-float vectors through the join for every candidate pair
    // (measured 9-17s at sf0.1 for either the HOF-expression or UDF dot
    // product; this shape is ~1s). Cluster membership is the shuffle
    // key; the skew guard below caps how many rows any one
    // aggregation task can receive.
    semanticClusterKeys(corpus, nCentroids, idCol, vecCol, dim, maxCluster)
      .groupBy(col("centroid_id"), col("_sub"))
      .agg(collect_list(struct(col("vid"), col("v"))).as("ms"))
      .as[(Long, Long, Seq[(Long, Seq[Float])])]
      .flatMap { case (cid, _, ms) =>
        val sorted = ms.sortBy(_._1).toArray
        val vecs = sorted.map(_._2.toArray)
        val norms = vecs.map(v => math.sqrt(dotKernel(v, v)))
        val out = Seq.newBuilder[(Long, Long, Long, Double)]
        var i = 0
        while (i < sorted.length) {
          var j = i + 1
          while (j < sorted.length) {
            val raw = dotKernel(vecs(i), vecs(j)) / (norms(i) * norms(j))
            // round-then-threshold, matching the oracle's WHERE on the
            // rounded value
            if (raw >= threshold - 1e-6) {
              val r = round6(raw)
              if (r >= threshold) out += ((sorted(i)._1, sorted(j)._1, cid, r))
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("id_a", "id_b", "centroid_id", "cos_sim")
  }

  /** Cluster keys for `semanticDupPairs` with a count-first skew guard:
    * cluster sizes are one cheap map-side-combinable aggregation; any
    * cluster larger than `maxCluster` is split into ~size/maxCluster
    * SRP sub-buckets (masking a 16-bit SRP key to b low bits IS the
    * b-plane bucket, so sub-buckets nest deterministically). Without
    * the guard, one skewed cluster = one task holding the whole
    * cluster's vectors — the collect_list OOM the K≈√N contract only
    * promises away on well-behaved data. Pairs split across sub-buckets
    * of an oversized cluster are missed — the same recall trade
    * SemDeDup already makes at cluster boundaries, paid only when the
    * guard actually triggers. The cluster assignment is computed twice
    * (sizes + keys) to keep the operator lazy; a production run over a
    * persisted corpus would checkpoint the assignment first. */
  private[operators] def semanticClusterKeys(corpus: DataFrame, nCentroids: Int,
      idCol: String, vecCol: String, dim: Int, maxCluster: Int,
      seed: Long = 1042L): DataFrame = {
    val assigned = corpus.join(
      ivfAssign(corpus, nCentroids, idCol, vecCol)
        .select(col(idCol), col("centroid_id")), Seq(idCol))
      .select(col("centroid_id"), col(idCol).cast("long").as("vid"),
        col(vecCol).as("v"))
    val bits = least(lit(16),
      ceil(log(2.0, ceil(col("_csz").cast("double") / maxCluster)))).cast("int")
    val sizes = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("_csz"))
      .select(col("centroid_id"), bits.as("_bits"))
    assigned.join(broadcast(sizes), Seq("centroid_id"))
      .withColumn("_sub",
        when(col("_bits") > 0,
          pmod(srpBucket(col("v"), dim, 16, seed),
            pow(lit(2.0), col("_bits")).cast("long")))
          .otherwise(lit(0L)))
      .drop("_bits")
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * storage/bandwidth path for billion-vector corpora (4 bytes → 1 byte
    * per dimension). scale = max|x| / 127; q_i = floor(x_i/scale + 0.5)
    * (round-half-up — exact and identical across engines, unlike
    * banker's rounding). Pure column expressions: codegen'd, no shuffle,
    * deterministic — the quantized corpus is reproducible bit-for-bit.
    * Zero vectors quantize to zeros with scale 0 (guarded division). */
  def quantizeInt8(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // scale materializes as its own projection FIRST: referenced inside
    // the per-element lambdas below, an inline subexpression would be
    // re-evaluated (array_max over the vector) for every element
    val withScale = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      (array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0))
        .as("scale"))
    val q = transform(col("v"), x =>
      when(col("scale") === 0.0, lit(0L))
        .otherwise(floor(x.cast("double") / col("scale") + lit(0.5)))
        .cast("int"))
    withScale.select(col("vec_id"), col("scale"),
      q.as("qvec"),
      // worst-case reconstruction error — the quality signal a
      // quantized-index builder thresholds on
      array_max(zip_with(col("v"), q, (x, qi) =>
        abs(x.cast("double") - qi.cast("double") * col("scale")))).as("max_abs_err"))
  }

  /** Integer dot product of two int vectors, accumulated in long. */
  private def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L),
      (acc, v) => acc + v)

  /** Brute-force cosine top-k over int8-QUANTIZED vectors — the search
    * side of the `quantizeInt8` storage path (1 byte/dim corpora). The
    * per-vector scales CANCEL in the cosine: cos_q(a,b) =
    * (s_a·s_b·dot(qa,qb)) / (s_a·|qa| · s_b·|qb|) = dot(qa,qb)/(|qa||qb|),
    * so scoring needs only the int8 codes — integer dot products (exact
    * in long) through one sqrt/divide, bit-stable across engines. Result
    * ranks approximate the float ranks within quantization error (the
    * spec measures recall vs `knnBrute`); zero-quantized vectors score 0
    * (guarded divide). Same broadcast-queries shape as `knnBrute` — the
    * corpus scan stays pipelined, no shuffle. Norms are projected once
    * per VECTOR before the join (a norm inside the post-join projection
    * would re-fold the 64-element aggregate for every (query, corpus)
    * pair — the cosineDupPairsLsh lesson).
    *
    * `preQuantized = true` reads `corpus` as ALREADY holding codes in
    * column `qvec` (the `quantizeInt8` output, e.g. loaded from a
    * 1-byte-per-dim store) — the storage path where the 4x scan-byte
    * reduction is real; the default quantizes the float corpus inline
    * (this sandbox's tables store only floats). */
  def knnQuantized(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      preQuantized: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codes =
      if (preQuantized) corpus.select(col(idCol).as("vec_id"), col("qvec"))
      else quantizeInt8(corpus, idCol, vecCol).select(col("vec_id"), col("qvec"))
    val qc = codes.select(col("vec_id"), col("qvec").as("cq"),
      sqrt(intDot(col("qvec"), col("qvec")).cast("double")).as("cnrm"))
    val qq = quantizeInt8(queries, idCol, vecCol)
      .select(col("vec_id").as("qid"), col("qvec").as("qv"),
        sqrt(intDot(col("qvec"), col("qvec")).cast("double")).as("qnrm"))
    val denom = col("cnrm") * col("qnrm")
    val scored = qc.join(broadcast(qq), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        when(denom === 0.0, lit(0.0))
          .otherwise(round(intDot(col("qv"), col("cq")).cast("double") / denom, 6))
          .as("qcos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("qcos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Product-quantization codebooks: for each of `m` subspaces of
    * `dim/m` dimensions, the sub-vectors of the `codebookSize`
    * lowest-id corpus vectors (the `ivfAssign` seed convention —
    * deterministic, oracle-replayable; a production index trains each
    * codebook with per-subspace k-means, the `ivfTrain` analog).
    * Returned as C(s)(e)(j) doubles; the driver holds
    * m·codebookSize·subDim doubles (= one codebook per subspace). */
  private def codebooksFromSeeds(seeds: Array[(Long, Array[Float])],
      m: Int, dim: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    Array.tabulate(m, seeds.length, subDim) { (s, e, j) =>
      seeds(e)._2(s * subDim + j).toDouble
    }
  }

  private def pqCodebooks(corpus: DataFrame, m: Int, codebookSize: Int, dim: Int,
      idCol: String, vecCol: String): Array[Array[Array[Double]]] =
    codebooksFromSeeds(seedVectors(corpus, codebookSize, idCol, vecCol), m, dim)

  /** Product quantization encode: each vector becomes `m` codebook
    * indices (one byte each at codebookSize <= 256) — 64-dim float
    * (256 B) compresses to 8 B, the memory shape that fits a
    * billion-vector index in RAM (FAISS PQ). Assignment per subspace is
    * the nearest codebook entry by rounded L2, ties to the lower entry
    * index — engine-reproducible like `ivfAssign`. */
  def pqEncode(corpus: DataFrame, m: Int = 8, codebookSize: Int = 16,
      dim: Int = 64, idCol: String = "vec_id", vecCol: String = "embedding",
      codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val subDim = dim / m
    val bc = spark.sparkContext.broadcast(codebooks.getOrElse(
      pqCodebooks(corpus, m, codebookSize, dim, idCol, vecCol)))
    corpus.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Seq[Float])]
      .map { case (id, vSeq) =>
        val v = vSeq.toArray
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) {
          var bestE = -1
          var bestD = Double.MaxValue
          var e = 0
          while (e < codebookSize) {
            val c = bc.value(s)(e)
            var d = 0.0
            var j = 0
            while (j < subDim) {
              val x = v(s * subDim + j).toDouble - c(j); d += x * x; j += 1
            }
            val r = round6(d)
            if (r < bestD) { bestD = r; bestE = e }
            e += 1
          }
          codes(s) = bestE
          s += 1
        }
        (id, codes.toSeq)
      }.toDF("vec_id", "codes")
  }

  /** Standard ADC precomputation: per QUERY, lut(s)(e) = dot(q_s, C_s[e])
    * (left-to-right fold — the same value the naive per-pair refold
    * produced), plus sqrt of the query's full-dim self-dot. Queries
    * collect to the driver under a hard guard — they are few by the ANN
    * contract, and the tables are what make per-pair scoring O(m)
    * lookups instead of O(dim) refolds (the cosineDupPairsLsh
    * norms-once lesson applied to PQ). */
  private def adcQueryTables(queries: DataFrame, cb: Array[Array[Array[Double]]],
      idCol: String, vecCol: String, maxQueries: Int)
      : Map[Long, (Array[Array[Double]], Double)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val rows = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].limit(maxQueries + 1).collect()
    require(rows.length <= maxQueries,
      s"ADC search: > $maxQueries query vectors; batch the query side")
    rows.map { case (qid, qvSeq) =>
      val qv = qvSeq.toArray
      val lut = Array.tabulate(cb.length, cb(0).length) { (s, e) =>
        val c = cb(s)(e)
        var dotc = 0.0
        var j = 0
        while (j < c.length) { dotc += qv(s * c.length + j).toDouble * c(j); j += 1 }
        dotc
      }
      var qsq = 0.0
      var i = 0
      while (i < qv.length) { qsq += qv(i).toDouble * qv(i).toDouble; i += 1 }
      qid -> ((lut, math.sqrt(qsq)))
    }.toMap
  }

  /** ADC cosine kernel over the per-query tables and the (global)
    * per-entry norm table: O(m) per scored pair, pinned-order folds —
    * bit-identical to folding the sub-vectors per pair. */
  private def adcCosUdf(spark: org.apache.spark.sql.SparkSession,
      cb: Array[Array[Array[Double]]],
      tables: Map[Long, (Array[Array[Double]], Double)]) = {
    val normsq = cb.map(_.map { c =>
      var csq = 0.0
      var j = 0
      while (j < c.length) { csq += c(j) * c(j); j += 1 }
      csq
    })
    val bcT = spark.sparkContext.broadcast(tables)
    val bcN = spark.sparkContext.broadcast(normsq)
    udf((qid: Long, cs: Seq[Int]) => {
      val (lut, qnrm) = bcT.value(qid)
      val nsqT = bcN.value
      var adc = 0.0
      var nsq = 0.0
      var s = 0
      while (s < lut.length) {
        adc += lut(s)(cs(s))
        nsq += nsqT(s)(cs(s))
        s += 1
      }
      val denom = qnrm * math.sqrt(nsq)
      if (denom == 0.0) 0.0 else round6(adc / denom)
    })
  }

  /** IVF + PQ: the full billion-vector index shape (FAISS IVFPQ) — the
    * coarse quantizer routes each query to its `nprobe` nearest
    * centroid lists, and the probed lists score by ADC over 8-byte PQ
    * codes. Per-query work ∝ probed-list size; per-vector memory = m
    * bytes + a centroid id. Index build (assignment + codes) derives
    * from the float corpus inline here; production precomputes both. */
  def ivfSearchPq(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 8, nprobe: Int = 2,
      m: Int = 8, codebookSize: Int = 16, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    // ONE seed scan feeds both the coarse centroids and the PQ
    // codebooks (naively composed, pqEncode/ivfAssign/probeLists would
    // each re-derive it — four TakeOrdered corpus passes per call)
    val seeds = seedVectors(corpus, math.max(nCentroids, codebookSize), idCol, vecCol)
    val cents = centroids.getOrElse(
      seeds.take(nCentroids).map { case (id, v) => (id, v.map(_.toDouble)) })
    val cb = codebooksFromSeeds(seeds.take(codebookSize), m, dim)
    val assigned = pqEncode(corpus, m, codebookSize, dim, idCol, vecCol, Some(cb))
      .join(ivfAssign(corpus, nCentroids, idCol, vecCol, Some(cents))
        .select(col(idCol).as("vec_id"), col("centroid_id")), Seq("vec_id"))
    val probed = probeLists(corpus, queries, nCentroids, nprobe, idCol, vecCol,
      Some(cents), assigned.select(col("centroid_id")).distinct())
    val adcCos = adcCosUdf(spark, cb,
      adcQueryTables(queries, cb, idCol, vecCol, maxQueries = 1000000))
    val scored = probed.join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        adcCos(col("qid"), col("codes")).as("adc_cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** FAISS-style REFINE/RERANK stage completing the IVFPQ recipe
    * (IndexRefineFlat): [[ivfSearchPq]] orders a candidate pool of
    * `candK` per query by ADC — cheap (m byte lookups per pair) but
    * approximate, so quantization error can misorder near-ties — then
    * ONLY those candidates are re-scored with the exact float vectors
    * and the top `k` by exact cosine survive. Recall at k can only
    * improve over taking ivfSearchPq's own top-k: the exact pass
    * re-sorts a superset of it under the true metric. Cost: candK
    * exact 4·dim-byte scores per query on top of the ADC scan — the
    * standard accuracy/IO dial, still never touching the full corpus
    * with floats. */
  def ivfSearchPqRerank(corpus: DataFrame, queries: DataFrame, k: Int,
      candK: Int = 20, nCentroids: Int = 8, nprobe: Int = 2,
      m: Int = 8, codebookSize: Int = 16, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(candK >= k, s"candidate pool candK=$candK must cover k=$k")
    val cand = ivfSearchPq(corpus, queries, candK, nCentroids, nprobe,
        m, codebookSize, dim, idCol, vecCol)
      .select(col("qid"), col("vec_id"))
    val cv = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("cv"))
    val qv = queries.select(col(idCol).cast("long").as("qid"),
      col(vecCol).as("qv"))
    val exact = cand.join(cv, Seq("vec_id")).join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: approximate
    * cos(q, x) from the codes alone — dot(q, x) ~ sum_s of
    * dot(q_s, C_s[code_s]) and |x| ~ sqrt(sum_s |C_s[code_s]|^2), both
    * LEFT-TO-RIGHT folds over ascending subspaces so the oracle's
    * ordered list_sum replays them bit-for-bit. Per-query dot tables
    * and the per-entry norm table are precomputed ONCE
    * (`adcQueryTables`), so scoring a pair is m lookups, not an O(dim)
    * refold. The scan reads m bytes per vector instead of 4·dim;
    * queries stay float (asymmetric = only the corpus side is
    * quantized, the better-recall PQ variant).
    * Completes the ANN storage ladder: SQ8 (`knnQuantized`), IVF+SQ8
    * (`ivfSearchQuantized`), PQ+ADC here, and the probe-routed
    * composition in `ivfSearchPq`. */
  def knnPq(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, codebookSize: Int = 16, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    val cb = pqCodebooks(corpus, m, codebookSize, dim, idCol, vecCol)
    val codes = pqEncode(corpus, m, codebookSize, dim, idCol, vecCol, Some(cb))
    val q = queries.select(col(idCol).cast("long").as("qid"))
    val adcCos = adcCosUdf(spark, cb,
      adcQueryTables(queries, cb, idCol, vecCol, maxQueries = 1000000))
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        adcCos(col("qid"), col("codes")).as("adc_cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** ANN top-k restricted to same-SRP-bucket candidates (the scale path;
    * recall < 1 by design, traded for a bucket-local join). */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nBits: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bq = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      srpBucket(col(vecCol), dim, nBits).as("bucket"))
    val bc = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
      srpBucket(col(vecCol), dim, nBits).as("bucket"))
    val scored = bc.join(broadcast(bq), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Diversity-aware subset selection — the D4 recipe (Tirumala et al.
    * 2023: after SemDeDup, prune the most PROTOTYPICAL points): assign
    * every vector to its nearest centroid (`ivfAssign` — broadcast
    * centroids, one map pass, no shuffle), rank each cluster by
    * distance-to-centroid DESCENDING, and keep the top `keepFrac` of
    * each cluster — the farthest-from-center (most diverse) points
    * survive, the redundant core is dropped.
    *
    * Shape at scale: the only shuffle is the cluster key for the
    * ranking window; per-cluster sort is ~N/K rows. If clusters
    * outgrow a sort partition, the same quota can be taken via the
    * bounded-histogram selection (`tokenBudgetSelect` precedent) — the
    * window form is kept here because ranks themselves are part of the
    * output contract. */
  def diversitySelect(corpus: DataFrame, keepFrac: Double, k: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keepFrac > 0 && keepFrac <= 1, "keepFrac must be in (0, 1]")
    val assigned = ivfAssign(corpus, k, idCol, vecCol)
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(col("dist_sq").desc, col(idCol))
    val cw = Window.partitionBy(col("centroid_id"))
    assigned
      .withColumn("_rank", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(cw))
      .select(col(idCol), col("centroid_id"), col("dist_sq"),
        col("_rank").cast("long").as("rank"),
        (col("_rank") <= ceil(lit(keepFrac) * col("_n")).cast("long")).as("kept"))
  }
}
