package graft.hic

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Fragment-side operators (SURVEY.md A1, A12, A23). */
object Fragments {
  /** A1: mappability filter — fragments with hitCount ≥ threshold. */
  def mappable(frags: DataFrame, thr: Long): DataFrame =
    frags.filter(col("hitCount") >= thr)

  /** BH's M for both models (A12): possible pairs, NOT observed rows. */
  final case class PossiblePairs(intraInRange: Long, interAll: Long)

  /** What the one pass of [[possiblePairsWithChroms]] yields: the
    * possible pairs and the loci's chromosome names.
    */
  final case class LociCensus(possible: PossiblePairs, chroms: Seq[String])

  /** The distinct (chr, mid) loci of a fragment table. */
  def loci(frags: DataFrame): DataFrame =
    frags.select(col("chr"), col("mid")).distinct()

  /** A12: BH's M for both models — the number of *possible* pairs, not
    * the observed rows — counted in ONE pass over loci that are already
    * distinct ([[loci]]); the only census of the library, shared by the
    * FitHiC front end and the q_hic_* queries. Intra: unordered pairs on
    * one chromosome with distance in [low, up]; an empty range
    * (`low > up`) holds none. Inter: Σ_{c1<c2} n_c1·n_c2.
    *
    * The loci are grouped by chromosome on the RDD side; per chromosome,
    * n_c and, for each locus, the loci at [mid + max(low, 1), mid + up]
    * counted by binary search over the sorted mids — O(n log n), each
    * unordered intra pair in range counted once, at its left end, and no
    * pair materialized. The inter count is (T² − Σ n_c²) / 2 over the
    * ≤ #chromosomes rows the driver collects, which also carry the
    * chromosome names.
    */
  def possiblePairsWithChroms(loci: DataFrame, low: Long,
      up: Long): LociCensus = {
    val lo = math.max(low, 1L) // a pair needs two distinct loci
    val hi = math.min(up, Long.MaxValue / 2)
    val perChr = GraftColumnBridge.collectRows(
        loci.select(col("chr"), col("mid")))(rows => rows
      .map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          "possiblePairs: null chr or mid in the fragment loci")
        (r.getUTF8String(0).toString, r.getLong(1))
      }
      .groupByKey()
      .map { case (chr, ms) =>
        val mids = ms.toArray
        java.util.Arrays.sort(mids)
        // mids are distinct: [a, b] holds from(b + 1) - from(a) of them
        def from(x: Long): Int = {
          val i = java.util.Arrays.binarySearch(mids, x)
          if (i >= 0) i else -i - 1
        }
        var fwd = 0L
        if (lo <= hi)
          for (m <- mids) fwd += from(m + hi + 1) - from(m + lo)
        (chr, mids.length.toLong, fwd)
      })
    val t = perChr.map(_._2).sum
    LociCensus(PossiblePairs(perChr.map(_._3).sum,
      (t * t - perChr.map(c => c._2 * c._2).sum) / 2), perChr.map(_._1).toSeq)
  }

  /** A23: fixed-size binning of chromosome sizes → fragment skeleton
    * (chr, extraField=0, mid, hitCount=0, mappable=1).
    */
  def fixedSizeFragments(spark: SparkSession, chromSizes: Seq[(String, Long)],
      resolution: Long): DataFrame = {
    import spark.implicits._
    chromSizes.toDF("chr", "size")
      // sequence(start, stop, step>0) THROWS on start > stop, so a
      // chromosome shorter than resolution/2 + 1 (chrM at 16.5 kb under
      // a 50 kb grid) would crash the whole job; it gets ZERO bins —
      // the DuckDB twin's generate_series(start > stop) = empty
      // behavior, and explode drops the empty array
      .select(col("chr"),
        explode(when(col("size") - 1 >= lit(resolution / 2),
          sequence(lit(resolution / 2), col("size") - 1,
            lit(resolution)))
          .otherwise(array().cast("array<bigint>"))).as("mid"))
      .select(col("chr"), lit(0L).as("extraField"), col("mid"),
        lit(0L).as("hitCount"), lit(1).as("mappable"))
  }

  /** A24: aggregate raw read pairs (already bin-assigned mids) to contact
    * counts, canonicalizing end order (chr1,mid1) ≤ (chr2,mid2).
    */
  def aggregateContacts(readPairs: DataFrame): DataFrame = {
    val canon = readPairs.select(
      when(col("chr1") < col("chr2") ||
        (col("chr1") === col("chr2") && col("mid1") <= col("mid2")),
        struct(col("chr1"), col("mid1"), col("chr2"), col("mid2")))
        .otherwise(struct(col("chr2").as("chr1"), col("mid2").as("mid1"),
          col("chr1").as("chr2"), col("mid1").as("mid2"))).as("k"))
      .select("k.chr1", "k.mid1", "k.chr2", "k.mid2")
    canon.groupBy("chr1", "mid1", "chr2", "mid2")
      .agg(count(lit(1)).as("contactCount"))
  }
}
