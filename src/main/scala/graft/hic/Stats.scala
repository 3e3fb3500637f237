package graft.hic

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.ops.GlobalOrder

/** Statistical kernels of the significance pipeline (SURVEY.md A18–A19). */
object Stats {
  /** Benjamini–Hochberg q-values (SURVEY A19), scalable.
    *
    * q_i = min(1, min_{j ≥ i}(p_j · M / j)) with i the ascending p-rank and
    * M the number of tests (FitHiC uses *possible* pair count, not observed
    * rows — pass it via `mOpt`; defaults to the observed row count, which
    * the offset job already yields — no separate count() runs either way).
    *
    * Shape (SURVEY §7.3 #3): ONE range exchange on (p DESC, tieCols DESC),
    * the exact reverse of the ascending rank order, into a sorted cache
    * ([[GlobalOrder.ranged]], whose first job counts each partition's
    * rows). The row at 1-based scan position k then has rank N − k + 1,
    * and the suffix min over j ≥ i is a forward running min, as in R's
    * `p.adjust`. Two narrow passes follow: the per-partition min of
    * p·M/rank (job), and the final forward scan that runs inside the
    * consumer's own job, seeded per partition with the min over every
    * partition before it (the larger p values). The scan streams, so a
    * task holds O(1) rows at any partition size. No single-partition
    * window, and no `Window.partitionBy(pid)` either: that would
    * hash-exchange the full table a second time.
    *
    * `assumeRanged = true` promises `df` is ALREADY range-partitioned and
    * sorted descending on (pCol, tieCols) AND cheap to re-traverse (e.g.
    * a narrow filter over the output of an earlier `bhQ` on the same
    * columns — the GlobalOrder.ranged contract): the exchange, its
    * sampling pass, and the internal persist are all skipped, and the
    * passes run directly over the caller's layout. A frame whose layout
    * does not match the promise silently misranks every row — callers
    * must guarantee it structurally.
    */
  def bhQ(df: DataFrame, pCol: String, tieCols: Seq[String], qCol: String,
      mOpt: Option[Long] = None,
      assumeRanged: Boolean = false): DataFrame = {
    val r = GlobalOrder.ranged(df, col(pCol).desc +: tieCols.map(col(_).desc),
      None, assumeRanged)
    // the passes key their offsets by the layout's partition index
    // (mapPartitionsWithIndex, see GlobalOrder.ranged) and read Catalyst
    // rows straight off the cache — no external-Row conversion, no
    // per-schema encoder class
    val ranged = r.layout
    val pIdx = ranged.schema.fieldIndex(pCol)
    val n = r.stats.rows
    val m = mOpt.getOrElse(n)
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
          // fail with intent, not an unboxing NPE deep in a task: a null p
          // would otherwise have silently sorted to the lowest ranks
          require(!r.isNullAt(pIdx),
            s"bhQ: null $pCol at rank $rank — p-values must be non-null")
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
