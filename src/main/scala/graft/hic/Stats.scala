package graft.hic

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.BhStep
import graft.ops.{Caches, GlobalOrder}

/** Statistical kernels of the significance pipeline (SURVEY.md A18–A19). */
object Stats {
  /** The most distinct p values BH keeps as driver-side steps. The steps
    * ride the scoring plan's task binary as two double arrays, 16 bytes a
    * step, after the driver has merged and sorted them: 2^15 steps are
    * 512 KiB, half the task size at which Spark starts to warn. A larger
    * prefix is walked over a p-ordered layout instead.
    */
  private[graft] val MaxSteps: Int = 1 << 15

  /** q as a step function of p: `qs(i)` is the q of every row whose p is
    * `ps(i)` (distinct, ascending), and every other row's q is 1.0.
    */
  final case class Steps(ps: Array[Double], qs: Array[Double])

  /** BH's output: `scored` is the input with the q column `qCol` added;
    * `steps` holds q as a step function of p whenever it fits the driver.
    */
  final case class Bh(scored: DataFrame, pCol: String, qCol: String,
      steps: Option[Steps]) {
    /** The largest p whose q lies below `qThr` (≤ 1), or −1 when there is
      * none. q is non-decreasing in p and tied p share one q, so the rows
      * with q < `qThr` are exactly those with p at or below this value.
      * Every such row has q < 1, so it is a step when there are steps;
      * otherwise one narrow pass over `scored` finds it.
      */
    def largestPBelow(qThr: Double): Double = {
      require(qThr <= 1.0, s"bhQ: q threshold must be <= 1, got $qThr")
      steps match {
        case Some(s) =>
          val i = s.qs.lastIndexWhere(_ < qThr)
          if (i >= 0) s.ps(i) else -1.0
        case None =>
          val pIdx = scored.schema.fieldIndex(pCol)
          val qIdx = scored.schema.fieldIndex(qCol)
          GraftColumnBridge.collectRows(scored)(_.mapPartitions { it =>
            var pMax = -1.0
            it.foreach { r =>
              if (r.getDouble(qIdx) < qThr)
                pMax = math.max(pMax, r.getDouble(pIdx))
            }
            Iterator.single(pMax)
          }).max
      }
    }
  }

  /** Benjamini–Hochberg q-values (SURVEY A19), scalable.
    *
    * q_i = min(1, min_{j ≥ i}(p_j · M / j)) with i the ascending p-rank
    * (ties broken by `tieCols`) and M the number of tests (FitHiC uses the
    * *possible* pair count, not the observed rows — pass it via `mOpt`;
    * it defaults to the row count, which the first job yields).
    *
    * Almost every q is exactly 1.0, and the ones that are not form a
    * step function of p, so BH runs as two narrow jobs and one projection:
    *  1. A histogram of p by binary exponent (`Math.getExponent`), which
    *     also rejects a null or NaN p. With C(≤ b) the rows in buckets up
    *     to b and e_b bucket b's lower edge, every row of a bucket with
    *     C(≤ b) ≤ e_b · M has p · M / rank ≥ 1, even in floating point
    *     (e_b is a power of 2, so e_b · M is exact). The cut is the lowest
    *     bucket above which every bucket passes: every row at or above it
    *     gets q = 1.0, and every row below it (the prefix) keeps its
    *     global rank, since every smaller p is in the prefix too.
    *  2. The prefix's distinct p values and their counts, collected. The
    *     driver computes each step with the arithmetic of the walk below,
    *     `p * m / rank` at the tie's last rank, a running min from the top
    *     and `min(1.0, ·)`, so the doubles are bit-identical to it.
    * q is then [[BhStep]] over the p column, a codegen'd lookup.
    *
    * The step lookup matches the exact p bits, so every job must see the
    * same p: an input that does not only filter and project cached data
    * ([[GlobalOrder.readsCachesOnly]]) is persisted and registered with
    * [[Caches]]. Past `maxSteps` distinct prefix p values, or with a
    * negative or −0.0 p in the prefix (a tie of those is no step: its
    * p · M / rank does not fall with the rank), the rows are walked over
    * a p-descending layout instead ([[walk]]).
    */
  def bhQ(df: DataFrame, pCol: String, tieCols: Seq[String], qCol: String,
      mOpt: Option[Long] = None): Bh =
    bhQ(df, pCol, tieCols, qCol, mOpt, MaxSteps)

  /** [[bhQ]] with the step bound as a parameter, so a test can force the
    * walk.
    */
  private[graft] def bhQ(df: DataFrame, pCol: String, tieCols: Seq[String],
      qCol: String, mOpt: Option[Long], maxSteps: Int): Bh = {
    val persisted = !GlobalOrder.readsCachesOnly(df)
    val src = if (persisted) Caches.register(df.persist()) else df
    val pIdx = src.schema.fieldIndex(pCol)
    // job 1: rows per p bucket, sparse per partition
    val hist = new Array[Long](MaxBucket - MinBucket + 1)
    GraftColumnBridge.collectRows(src)(_.mapPartitions { it =>
      val counts = new Array[Long](MaxBucket - MinBucket + 1)
      it.foreach { r =>
        // fail with intent, not an unboxing NPE or a NaN that poisons
        // the running min: a null p would sort to the lowest ranks, and a
        // NaN p's q would depend on the partition count
        require(!r.isNullAt(pIdx),
          s"bhQ: null $pCol — p-values must be non-null numbers")
        val p = r.getDouble(pIdx)
        require(!p.isNaN, s"bhQ: NaN $pCol — p-values must be non-null numbers")
        counts(bucket(p) - MinBucket) += 1
      }
      Iterator.single(counts.indices.filter(counts(_) > 0)
        .map(i => (i, counts(i))).toArray)
    }).foreach(_.foreach { case (i, c) => hist(i) += c })
    val m = mOpt.getOrElse(hist.sum)
    // C(≤ b) for each bucket, then the cut from the top down
    val cum = hist.scanLeft(0L)(_ + _).tail
    var cut = hist.length
    var b = hist.length - 1
    while (b >= 0 && (hist(b) == 0 ||
        cum(b).toDouble <= edge(b + MinBucket) * m.toDouble)) {
      if (hist(b) > 0) cut = b
      b -= 1
    }
    val prefixRows = if (b >= 0) cum(b) else 0L
    val cutBucket = cut + MinBucket
    // job 2: the prefix's distinct p bits and their counts; a partition
    // with more than maxSteps of them stops early and reports null
    val perPart =
      if (prefixRows == 0) Array.empty[Array[(Long, Long)]]
      else GraftColumnBridge.collectRows(src)(_.mapPartitions { it =>
        val counts = new scala.collection.mutable.LongMap[Long]
        while (it.hasNext && counts.size <= maxSteps) {
          val p = it.next().getDouble(pIdx)
          if (bucket(p) < cutBucket) {
            val k = java.lang.Double.doubleToRawLongBits(p)
            counts.update(k, counts.getOrElse(k, 0L) + 1)
          }
        }
        Iterator.single(if (counts.size > maxSteps) null else counts.toArray)
      })
    val overflow = perPart.contains(null)
    val merged = new scala.collection.mutable.LongMap[Long]
    if (!overflow) perPart.foreach(_.foreach { case (k, c) =>
      merged.update(k, merged.getOrElse(k, 0L) + c)
    })
    // a set sign bit is a negative or −0.0 p
    if (overflow || merged.size > maxSteps ||
        merged.keysIterator.exists(_ < 0)) {
      val scored = walk(src, pCol, tieCols, qCol, m)
      if (persisted) src.unpersist()
      return Bh(scored, pCol, qCol, None)
    }
    val steps = merged.toArray.map { case (k, c) =>
      (java.lang.Double.longBitsToDouble(k), c)
    }.sortBy(_._1)
    val ps = steps.map(_._1)
    val qs = new Array[Double](ps.length)
    // the last rank of each tie, counting down from the prefix's top
    var rank = prefixRows
    var run = Double.MaxValue
    for (i <- ps.indices.reverse) {
      run = math.min(run, ps(i) * m / rank)
      qs(i) = math.min(1.0, run)
      rank -= steps(i)._2
    }
    require(rank == 0, "bhQ: the input changed between its passes")
    Bh(src.withColumn(qCol, BhStep.column(ps, qs)(col(pCol))), pCol, qCol,
      Some(Steps(ps, qs)))
  }

  /** p's bucket: its binary exponent, with zero, subnormal and negative p
    * in the bottom bucket and infinite p in the top one.
    */
  private val MinBucket = java.lang.Double.MIN_EXPONENT - 1
  private val MaxBucket = java.lang.Double.MAX_EXPONENT + 1
  private def bucket(p: Double): Int =
    if (p >= java.lang.Double.MIN_NORMAL) Math.getExponent(p) else MinBucket

  /** The lower edge of bucket `b`: 0 for the bottom bucket, which holds
    * rows a cut must keep in the prefix, and 2^b otherwise.
    */
  private def edge(b: Int): Double =
    if (b == MinBucket) 0.0 else Math.scalb(1.0, b)

  /** BH by walking every row: ONE range exchange on (p DESC, tieCols
    * DESC), the exact reverse of the ascending rank order, into a sorted
    * cache ([[GlobalOrder.ranged]], whose first job counts each
    * partition's rows). The row at 1-based scan position k then has rank
    * N − k + 1, and the suffix min over j ≥ i is a forward running min, as
    * in R's `p.adjust`. Two narrow passes follow: the per-partition min of
    * p·M/rank (job), and the final forward scan that runs inside the
    * consumer's own job, seeded per partition with the min over every
    * partition before it (the larger p values). The scan streams, so a
    * task holds O(1) rows at any partition size.
    */
  private def walk(df: DataFrame, pCol: String, tieCols: Seq[String],
      qCol: String, m: Long): DataFrame = {
    val r = GlobalOrder.ranged(df, col(pCol).desc +: tieCols.map(col(_).desc),
      None)
    // the passes key their offsets by the layout's partition index
    // (mapPartitionsWithIndex, see GlobalOrder.ranged) and read Catalyst
    // rows straight off the cache — no external-Row conversion, no
    // per-schema encoder class
    val ranged = r.layout
    val pIdx = ranged.schema.fieldIndex(pCol)
    val n = r.stats.rows
    // rank of the partition's first row, plus one (ranks count down)
    val rankEnds: Map[Int, Long] = r.stats.offsets.map { case (pid, (k, _)) =>
      pid -> (n - k + 1)
    }
    // job 2: per-partition min of p·M/rank
    val partMins = GraftColumnBridge.collectRows(ranged)(
      _.mapPartitionsWithIndex { (pid, it) =>
        var rank = rankEnds.getOrElse(pid, 0L)
        var mn = Double.MaxValue
        it.foreach { r =>
          rank -= 1
          val v = r.getDouble(pIdx) * m / rank
          if (v < mn) mn = v
        }
        Iterator.single((pid, mn))
      }).sortBy(_._1)
    // seed(pid) = min of p·M/rank over every earlier partition, which
    // holds the larger p values (ranks j ≥ i)
    var run = Double.MaxValue
    val seeds: Map[Int, Double] = partMins.map { case (pid, mn) =>
      val s = pid -> run; run = math.min(run, mn); s
    }.toMap
    // final narrow pass: forward running min from the partition's seed.
    // Each output row is the scan's row joined to one mutable q cell
    val outSchema = ranged.schema.add(qCol, DoubleType, nullable = false)
    GraftColumnBridge.mapRows(ranged, outSchema)(
      _.mapPartitionsWithIndex { (pid, it) =>
        var rank = rankEnds.getOrElse(pid, 0L)
        var run = seeds.getOrElse(pid, Double.MaxValue)
        val qRow = new SpecificInternalRow(Seq(DoubleType))
        val joined = new JoinedRow
        it.map { row =>
          rank -= 1
          run = math.min(run, row.getDouble(pIdx) * m / rank)
          qRow.setDouble(0, math.min(1.0, run))
          joined(row, qRow): InternalRow
        }
      })
  }
}
