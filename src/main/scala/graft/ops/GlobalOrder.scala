package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  * full shuffle. Every ordered layout of the library is built here
  * ([[sortedLayout]]).
  */
object GlobalOrder {
  /** Per-partition layout stats of the ranged cache: `offsets(pid)` =
    * (rows before pid, cum-sum before pid); `rows`/`total` are the grand
    * count and cum-column sum — callers that need them must NOT run their
    * own aggregation job.
    */
  final case class RangeStats(offsets: Map[Int, (Long, Long)], rows: Long,
      total: Long)

  /** Adds `rankCol` — the 1-based global row number by `orderCols`
    * (LongType) — and, if `cum` is given, a column holding the inclusive
    * global running sum of the LongType column `cum._1` named `cum._2`.
    * `orderCols` must define a total order (include a unique tiebreak).
    * Null cum values contribute 0 and the output is non-nullable — this
    * DIVERGES from SQL's `SUM(...) OVER` (null until the first non-null):
    * callers mirroring a SQL-window oracle must pre-coalesce nulls.
    */
  def rankAndCumsum(df: DataFrame, orderCols: Seq[Column], rankCol: String,
      cum: Option[(String, String)] = None): DataFrame =
    rankAndCumsumWithStats(df, orderCols, rankCol, cum)._1

  /** The range-partitioned, sorted layout with the per-partition
    * [[RangeStats]] its first pass collected; narrow passes read it
    * through `GraftColumnBridge.collectRows`/`mapRows`.
    */
  final case class Ranged(layout: DataFrame, stats: RangeStats,
      cleanup: () => Unit)

  /** `df` range-partitioned on `orderCols` into the session's shuffle
    * partition count, sorted within each partition, persisted and
    * registered with [[Caches]]: the physical partition order is the
    * global order. Lazy: the caller's first job materializes it.
    */
  private[graft] def sortedLayout(df: DataFrame,
      orderCols: Seq[Column]): DataFrame =
    Caches.register(df
      .repartitionByRange(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .persist())

  /** True when `df` only filters and projects cached data: its plan, with
    * cached data substituted, holds nothing but Project, Filter and alias
    * nodes over InMemoryRelation leaves. Computing such an input twice
    * costs two cache scans, which is what a persisted copy would cost.
    */
  private[graft] def readsCachesOnly(df: DataFrame): Boolean = {
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: InMemoryRelation => true
      case _: Project | _: Filter | _: SubqueryAlias => narrow(p.children.head)
      case _ => false
    }
    narrow(df.queryExecution.withCachedData)
  }

  /** Lay `df` out in `orderCols` order and gather [[RangeStats]] in one
    * narrow job. `cum`, when given, names a LongType column of `df` whose
    * per-partition sums the stats carry; any other type is rejected.
    *
    * The range exchange SAMPLES its input before shuffling, so the input
    * runs twice. Unless it [[readsCachesOnly]], it is persisted for the
    * sampling pass and released as soon as the stats job has built the
    * layout.
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
  def ranged(df: DataFrame, orderCols: Seq[Column], cum: Option[String],
      assumeRanged: Boolean = false): Ranged = {
    cum.foreach { c =>
      val t = df.schema(c).dataType
      require(t == LongType,
        s"GlobalOrder: cum column $c must be bigint, got ${t.simpleString}")
    }
    val copyInput = !assumeRanged && !readsCachesOnly(df)
    val src = if (copyInput) df.persist() else df
    val layout =
      if (assumeRanged) df // backed by the caller's cache
      else sortedLayout(src, orderCols)
    val cumIdx = cum.fold(-1)(layout.schema.fieldIndex)
    // Partition indices MUST come from the RDD partition object
    // (mapPartitionsWithIndex), never TaskContext.getPartitionId(): the
    // narrow passes over these rows execute fused inside the CONSUMER's
    // stage, and a consumer that renumbers partitions (a union's child
    // offset, a coalesce) would hand them shifted task ids — wrong
    // offsets for every partition. (Found live: pass 2 of the BH
    // refinement union had its ranks restarted per partition.)
    // job 1 (materializes the cache): tiny per-partition summaries — no
    // shuffle, no window
    val stats = GraftColumnBridge.collectRows(layout)(
      _.mapPartitionsWithIndex { (pid, it) =>
        var cnt = 0L
        var s = 0L
        it.foreach { r =>
          cnt += 1
          if (cumIdx >= 0 && !r.isNullAt(cumIdx)) s += r.getLong(cumIdx)
        }
        Iterator.single((pid, cnt, s))
      }).sortBy(_._1)
    if (copyInput) src.unpersist()
    var accN = 0L
    var accS = 0L
    val offs: Map[Int, (Long, Long)] = stats.map { case (pid, cnt, s) =>
      val row = pid -> (accN, accS); accN += cnt; accS += s; row
    }.toMap
    val cleanup: () => Unit =
      if (assumeRanged) () => () else () => { layout.unpersist(); () }
    Ranged(layout, RangeStats(offs, accN, accS), cleanup)
  }

  /** As [[rankAndCumsum]], also returning the per-partition
    * [[RangeStats]] gathered by the offset job — the grand total comes
    * for free here, so consumers never run a separate full-table
    * aggregate. The ranged cache is registered with [[Caches]], which
    * releases it at its next drain.
    */
  def rankAndCumsumWithStats(df: DataFrame, orderCols: Seq[Column],
      rankCol: String, cum: Option[(String, String)] = None)
      : (DataFrame, RangeStats) = {
    val r = ranged(df, orderCols, cum.map(_._1))
    val offs = r.stats.offsets
    val cumIdx = cum.fold(-1)(c => r.layout.schema.fieldIndex(c._1))
    // pass 2 (narrow, runs inside the consumer's job): local scan of the
    // sorted cache attaching rank = local index + row offset etc. The
    // extra values ride in one mutable row joined to the layout's row —
    // no per-row copy of the base columns, no boxing
    val extra = StructType(Seq(StructField(rankCol, LongType, false)) ++
      cum.map { case (_, name) => StructField(name, LongType, false) })
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
          if (cumIdx >= 0) {
            if (!row.isNullAt(cumIdx)) s += row.getLong(cumIdx)
            add.setLong(1, soff + s)
          }
          joined(row, add): InternalRow
        }
      })
    (out, r.stats)
  }
}
