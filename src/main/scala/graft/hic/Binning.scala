package graft.hic

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ops.GlobalOrder

/** Equal-occupancy binning (SURVEY.md A13–A14): order contacts by genomic
  * distance, split into `nBins` bins of ≈ equal total contact mass, compute
  * per-bin summary stats. The global sort+cumsum never collapses to one
  * partition ([[GlobalOrder]]); bin assignment is pure integer arithmetic
  * (`(cum−1)·nBins div total`), so it is reproducible bit-for-bit in any
  * engine.
  */
object Binning {
  /** One row per bin: binIdx, pairCount, sumCount, sumDist, minDist,
    * maxDist.
    */
  private val binSchema: StructType = StructType(
    StructField("binIdx", IntegerType, nullable = false) +:
      Seq("pairCount", "sumCount", "sumDist", "minDist", "maxDist")
        .map(StructField(_, LongType, nullable = false)))

  /** Input must have columns dist (long), contactCount (long) plus
    * `tieCols` completing a total order. Output: [[collectBins]]'s rows
    * as a local DataFrame (the bins are computed eagerly).
    */
  def equalOccupancy(contacts: DataFrame, nBins: Int,
      tieCols: Seq[String]): DataFrame =
    contacts.sparkSession.createDataFrame(
      java.util.Arrays.asList(collectBins(contacts, nBins, tieCols): _*),
      binSchema)

  /** Materialize the bins (binIdx-ordered) and release the internal cache
    * — the form every statistical consumer (Pipeline, spline queries,
    * the stream refit) wants. An input with no rows, or whose counts sum
    * to ≤ 0, has no bins; otherwise Σ sumCount over the bins is the
    * input's total count N, so no consumer runs its own aggregate.
    *
    * No groupBy exchange: the pass runs partition-local over the ranged
    * layout, so each task folds its rows into ≤ nBins partial summaries
    * (bins are contiguous in the global order — a partition overlaps
    * ~nBins/P + 1 of them) and the driver merges O(P + nBins) partials
    * with exact integer arithmetic. One narrow job after the offset job,
    * bit-identical output at any partitioning. The running sum and the
    * bin index are computed inside the task from the partition's offset
    * and the grand total, so no per-call value is baked into generated
    * code: every pass, refit and stream batch reuses the same classes.
    */
  def collectBins(contacts: DataFrame, nBins: Int, tieCols: Seq[String],
      assumeRanged: Boolean = false): Array[Row] = {
    val r = GlobalOrder.ranged(contacts, col("dist") +: tieCols.map(col),
      Some("contactCount"), assumeRanged)
    try {
      val total = r.stats.total
      // no mass, no bins: the bin index divides by the total
      if (r.stats.rows == 0 || total <= 0) return Array.empty
      val offs = r.stats.offsets
      val distIdx = r.layout.schema.fieldIndex("dist")
      val countIdx = r.layout.schema.fieldIndex("contactCount")
      val partials = GraftColumnBridge.collectRows(r.layout)(
        _.mapPartitionsWithIndex { (pid, it) =>
          // binIdx is non-decreasing within a partition (the layout is
          // cum-ordered), so an open accumulator per current bin suffices
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long, Long, Long, Long)]
          var cum = offs.getOrElse(pid, (0L, 0L))._2
          // zero-count rows before any mass get a negative bin (cum = 0,
          // and the division truncates toward zero as SQL's does); they
          // are still a bin, so openness is a flag, not a bin sentinel
          var open = false
          var bin = 0
          var cnt = 0L; var sumC = 0L; var sumD = 0L
          var minD = Long.MaxValue; var maxD = Long.MinValue
          def flush(): Unit = if (open)
            out += ((bin, cnt, sumC, sumD, minD, maxD))
          it.foreach { row =>
            require(!row.isNullAt(distIdx) && !row.isNullAt(countIdx),
              "equalOccupancy: null dist or contactCount")
            val c = row.getLong(countIdx)
            val d = row.getLong(distIdx)
            cum += c
            // the SQL form's ((cum - 1) * nBins) div total, overflow-checked
            // as ANSI long arithmetic is
            val b = (Math.multiplyExact(cum - 1, nBins.toLong) / total).toInt
            if (!open || b != bin) {
              flush(); bin = b; open = true
              cnt = 0L; sumC = 0L; sumD = 0L
              minD = Long.MaxValue; maxD = Long.MinValue
            }
            cnt += 1; sumC += c; sumD += d
            if (d < minD) minD = d
            if (d > maxD) maxD = d
          }
          flush()
          out.iterator
        })
      partials.groupBy(_._1).toArray.sortBy(_._1).map { case (bin, ps) =>
        new GenericRowWithSchema(Array[Any](bin,
          ps.map(_._2).sum, ps.map(_._3).sum, ps.map(_._4).sum,
          ps.map(_._5).min, ps.map(_._6).max), binSchema): Row
      }
    } finally r.cleanup()
  }
}
