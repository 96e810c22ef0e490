package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The posting-list pair step shared by every near-dup scorer and
  * index screen: rows keyed by a code (shingle, chunk, landmark,
  * bucket) are df-capped ([[capDf]]), grouped into per-code posting
  * lists ([[postings]]), each list is sorted once and expanded into
  * its ordered pairs ([[orderedPairs]]), and pair counts are scored
  * over the smaller of the two documents' sets ([[overlapFrac]]).
  * Index screens guard their input with [[requireFpVersion]].
  *
  * A code shared by m documents emits m(m-1)/2 pairs, which is why
  * the df cap runs BEFORE the posting lists are built: a hot code is
  * dropped while its rows are still a map-side-combinable count, and
  * its giant list never materializes in one aggregation row. */
object PostingPairs {

  /** `rows` without the codes whose document frequency over `keys`
    * exceeds `maxDf` (0 = uncapped, `rows` unchanged): a count
    * aggregation, `df <= maxDf`, then a `left_semi` join back on
    * `keys`. df counts rows, or DISTINCT `doc_id`s when
    * `distinctDocs` — the variant for tables carrying several rows
    * per (doc, code), such as orientation or window fan-outs. */
  def capDf(rows: DataFrame, keys: Seq[String], maxDf: Int,
      distinctDocs: Boolean = false): DataFrame =
    if (maxDf <= 0) rows
    else rows.join(
      rows.groupBy(keys.map(col): _*)
        .agg((if (distinctDocs) countDistinct(col("doc_id"))
          else count(lit(1))).as("df"))
        .filter(col("df") <= maxDf).select(keys.map(col): _*),
      keys, "left_semi")

  /** Per-code posting lists: `item` collected into `ds` per `keys`
    * group; lists of fewer than two entries carry no pair and are
    * dropped. */
  def postings(rows: DataFrame, keys: Seq[String], item: Column): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(collect_list(item).as("ds"))
      .filter(size(col("ds")) >= 2)

  /** Every ordered pair of a posting list: the list sorted ascending,
    * then one struct(`a` = x, `b` = y) per pair of positions i < j,
    * m(m-1)/2 of them. A duplicated entry yields an equal pair, which
    * callers filter where their lists can repeat a doc.
    *
    * The SORTED list is bound once as a lambda variable (the
    * one-element array + transform + unwrap shape of
    * [[TextDedup.wordShingles]]): higher-order function bodies are
    * interpreted, so an `array_sort` subtree referenced inside the
    * pair lambda would re-sort the whole list for every element. */
  def orderedPairs(list: Column, a: String = "doc_a",
      b: String = "doc_b"): Column =
    element_at(transform(array(array_sort(list)), { ds =>
      flatten(transform(ds, (x, i) =>
        transform(slice(ds, i + lit(2), greatest(size(ds) - i - 1, lit(0))),
          y => struct(x.as(a), y.as(b)))))
    }), 1)

  /** Shared-code count `c` per (doc_a, doc_b) over doc-id posting
    * lists in `ds` ([[postings]] of `col("doc_id")`). */
  def pairCounts(lists: DataFrame, c: String = "c"): DataFrame =
    lists.select(explode(orderedPairs(col("ds"))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as(c))

  /** `pairs` (doc_a, doc_b, …) with each side's set size from `sizes`
    * (doc_id, `by`…, `n`) joined on as `na` / `nb`. `by` names extra
    * per-side size keys, matched as `<key>_a` / `<key>_b` in
    * `pairs`. */
  def withSizes(pairs: DataFrame, sizes: DataFrame, n: String,
      by: Seq[String] = Nil): DataFrame =
    Seq("a", "b").foldLeft(pairs) { (df, side) =>
      val keys = s"doc_$side" +: by.map(k => s"${k}_$side")
      val sized = (col("doc_id") +: by.map(col)).zip(keys)
        .map { case (c, k) => c.as(k) } :+ col(n).as(s"n$side")
      df.join(sizes.select(sized: _*), keys)
    }

  /** The smaller-set overlap of a [[withSizes]] row: shared count `c`
    * over the smaller of the two sets. */
  val smallerFrac: Column =
    col("c").cast("double") / least(col("na"), col("nb"))

  /** Pairs whose shared count `c` covers at least `minMatch` of the
    * smaller set: (doc_a, doc_b, `keep`…, match_frac), match_frac
    * rounded to 6 places. */
  def overlapFrac(pairs: DataFrame, sizes: DataFrame, n: String,
      minMatch: Double, by: Seq[String] = Nil,
      keep: Seq[String] = Nil): DataFrame =
    withSizes(pairs, sizes, n, by)
      .select((Seq(col("doc_a"), col("doc_b")) ++ keep.map(col)) :+
        round(smallerFrac, 6).as("match_frac"): _*)
      .filter(col("match_frac") >= minMatch)

  /** Fail-fast stamp check of a persisted fingerprint index: an
    * unstamped (no `fp_ver` column) or cross-version index throws
    * with a rebuild instruction naming `builder`, instead of
    * compiling, running and matching nothing. The stale probe is one
    * `limit(1)` job over a constant column — parquet min/max stats
    * prune it to a metadata read on a real deployment. `detail`
    * explains the version number where it encodes more than the
    * fingerprint function. */
  def requireFpVersion(index: DataFrame, ver: Int, family: String,
      builder: String, detail: String = ""): Unit = {
    require(index.columns.contains("fp_ver"),
      s"$family index has no fp_ver column: it predates fingerprint " +
        s"version $ver$detail — rebuild it with $builder before screening")
    val stale = index.filter(col("fp_ver") =!= lit(ver)).limit(1).collect()
    require(stale.isEmpty,
      s"$family index built by fingerprint version " +
        s"${stale.headOption.map(_.getAs[Any]("fp_ver")).orNull}, " +
        s"current is $ver$detail — rebuild it with $builder before " +
        "screening (cross-version fingerprints never match)")
  }
}
