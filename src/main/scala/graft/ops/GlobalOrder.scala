package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Scalable global-order primitives: total-order rank and running sum
  * without ever collapsing to a single partition (SURVEY.md §7.3 #3).
  *
  * Pattern: range-repartition + sort on the order key and CACHE that
  * layout — the physical partition order then IS the global order, so
  * every per-partition quantity (row offsets, running-sum offsets) comes
  * from one tiny mapPartitions summary collected to the driver
  * (O(numPartitions) rows), and rank/cumsum are assigned in a second
  * *narrow* pass over the same cache. No `Window.partitionBy` anywhere:
  * a window keyed on the partition id would hash-exchange the full table
  * a second time for data that is already laid out correctly, and a
  * naive `Window.orderBy` with no partitionBy would funnel everything
  * through one task. At cluster scale the one range exchange is the only
  * full shuffle.
  */
object GlobalOrder {
  /** Partition-id column appended when `keepPid = true`, for callers that
    * continue partition-local work aligned with the global order.
    */
  val PID = "__go_pid"

  private val CUMV = "__go_cumv"

  /** Per-partition layout stats of the ranged cache: `offsets(pid)` =
    * (rows before pid, cum-sum before pid); `rows`/`total` are the grand
    * count and cum-column sum — callers that need them must NOT run their
    * own aggregation job.
    */
  final case class RangeStats(offsets: Map[Int, (Long, Long)], rows: Long,
      total: Long)

  /** Adds `rankCol` — the 1-based global row number by `orderCols`
    * (LongType) — and, if `cum` is given, a column holding the inclusive
    * global running sum of `cum._1` (cast to long) named `cum._2`.
    * `orderCols` must define a total order (include a unique tiebreak).
    * Null cum values contribute 0 and the output is non-nullable — this
    * DIVERGES from SQL's `SUM(...) OVER` (null until the first non-null):
    * callers mirroring a SQL-window oracle must pre-coalesce nulls.
    */
  def rankAndCumsum(df: DataFrame, orderCols: Seq[Column], rankCol: String,
      cum: Option[(Column, String)] = None,
      keepPid: Boolean = false): DataFrame =
    rankAndCumsumCleanable(df, orderCols, rankCol, cum, keepPid)._1

  /** As [[rankAndCumsum]], plus a cleanup thunk that unpersists the
    * internal range-partitioned cache. Call it once a DOWNSTREAM cache
    * over the result has been materialized (recompute stays correct —
    * everything is deterministic — it just re-reads the source), so
    * long pipelines don't stack persisted copies (a real concern at
    * cluster scale, not at test SF).
    */
  def rankAndCumsumCleanable(df: DataFrame, orderCols: Seq[Column],
      rankCol: String, cum: Option[(Column, String)] = None,
      keepPid: Boolean = false): (DataFrame, () => Unit) = {
    val (out, _, cleanup) =
      rankAndCumsumWithStats(df, orderCols, rankCol, cum, keepPid)
    (out, cleanup)
  }

  /** The range-partitioned, sorted layout with the per-partition
    * [[RangeStats]] its first pass collected; narrow passes read it
    * through `GraftColumnBridge.collectRows`/`mapRows`. When `cum` is
    * given its long value is the schema's last column.
    */
  final case class Ranged(layout: DataFrame, stats: RangeStats,
      cleanup: () => Unit)

  /** Lay `df` out in `orderCols` order and gather [[RangeStats]] in one
    * narrow job.
    *
    * `assumeRanged = true` promises that `df` is ALREADY range-partitioned
    * and sorted on `orderCols` (e.g. a narrow, layout-preserving filter —
    * a broadcast join — over a previously ranged cache): the exchange, its
    * sampling pass, and the internal persist are all skipped, and the
    * narrow passes run directly over the caller's layout. Handing over a
    * frame whose layout does NOT match the promise silently corrupts the
    * global order — callers must guarantee it structurally (explicit
    * broadcast hints, never AQE luck).
    */
  def ranged(df: DataFrame, orderCols: Seq[Column], cum: Option[Column],
      assumeRanged: Boolean = false): Ranged = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    // the range exchange SAMPLES its child before shuffling — persist the
    // source so the upstream plan runs once, not twice; released as soon
    // as the ranged cache is materialized by the stats job below (callers
    // that already cached the input keep ownership of their cache)
    val preCached = assumeRanged ||
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val src = if (preCached) df else df.persist()
    val base =
      if (assumeRanged) src
      else src.repartitionByRange(n, orderCols: _*)
        .sortWithinPartitions(orderCols: _*)
    val withCum = cum match {
      case Some(c) => base.withColumn(CUMV, c.cast("long"))
      case None => base
    }
    val layout =
      if (assumeRanged) withCum // backed by the caller's cache
      else Caches.register(withCum.persist())
    val hasCum = cum.isDefined
    val cumIdx = layout.schema.fields.length - 1 // CUMV is last when present
    // Partition indices MUST come from the RDD partition object
    // (mapPartitionsWithIndex), never TaskContext.getPartitionId(): the
    // narrow passes over these rows execute fused inside the CONSUMER's
    // stage, and a consumer that renumbers partitions (a union's child
    // offset, a coalesce) would hand them shifted task ids — wrong
    // offsets for every partition (see Stats.bhQ for the live instance of
    // this bug).
    // job 1 (materializes the cache): tiny per-partition summaries — no
    // shuffle, no window
    val stats = GraftColumnBridge.collectRows(layout)(
      _.mapPartitionsWithIndex { (pid, it) =>
        var cnt = 0L
        var s = 0L
        it.foreach { r =>
          cnt += 1
          if (hasCum && !r.isNullAt(cumIdx)) s += r.getLong(cumIdx)
        }
        Iterator.single((pid, cnt, s))
      }).sortBy(_._1)
    if (!preCached) src.unpersist()
    var accN = 0L
    var accS = 0L
    val offs: Map[Int, (Long, Long)] = stats.map { case (pid, cnt, s) =>
      val row = pid -> (accN, accS); accN += cnt; accS += s; row
    }.toMap
    val cleanup: () => Unit =
      if (assumeRanged) () => () else () => { layout.unpersist(); () }
    Ranged(layout, RangeStats(offs, accN, accS), cleanup)
  }

  /** As [[rankAndCumsumCleanable]], also returning the per-partition
    * [[RangeStats]] gathered by the offset job — the grand total comes
    * for free here, so consumers never run a separate full-table
    * aggregate. `assumeRanged` as on [[ranged]].
    */
  def rankAndCumsumWithStats(df: DataFrame, orderCols: Seq[Column],
      rankCol: String, cum: Option[(Column, String)] = None,
      keepPid: Boolean = false, assumeRanged: Boolean = false)
      : (DataFrame, RangeStats, () => Unit) = {
    val r = ranged(df, orderCols, cum.map(_._1), assumeRanged)
    val offs = r.stats.offsets
    val hasCum = cum.isDefined
    val cumIdx = r.layout.schema.fields.length - 1
    // pass 2 (narrow, runs inside the consumer's job): local scan of the
    // sorted cache attaching rank = local index + row offset etc. The
    // extra values ride in one mutable row joined to the layout's row —
    // no per-row copy of the base columns, no boxing
    val extra = StructType(Seq(StructField(rankCol, LongType, false)) ++
      cum.map { case (_, name) => StructField(name, LongType, false) } ++
      (if (keepPid) Seq(StructField(PID, IntegerType, false)) else Nil))
    val nExtra = extra.length
    val out = GraftColumnBridge.mapRows(r.layout,
        StructType(r.layout.schema ++ extra))(
      _.mapPartitionsWithIndex { (pid, it) =>
        val (roff, soff) = offs.getOrElse(pid, (0L, 0L))
        val add = new SpecificInternalRow(extra.map(_.dataType))
        val joined = new JoinedRow
        var i = 0L
        var s = 0L
        it.map { row =>
          i += 1
          add.setLong(0, roff + i)
          if (hasCum) {
            if (!row.isNullAt(cumIdx)) s += row.getLong(cumIdx)
            add.setLong(1, soff + s)
          }
          if (keepPid) add.setInt(nExtra - 1, pid)
          joined(row, add): InternalRow
        }
      })
    (if (hasCum) out.drop(CUMV) else out, r.stats, r.cleanup)
  }
}
