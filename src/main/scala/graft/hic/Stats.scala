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
    * Shape (SURVEY §7.3 #3): ONE range exchange on (p, tieCols) into a
    * sorted cache ([[GlobalOrder.ranged]], whose first job counts each
    * partition's rows), then two more narrow passes over it — the
    * per-partition min of p·M/rank (job), and the final backward
    * suffix-min walk that runs inside the consumer's own job. No
    * single-partition window, and no `Window.partitionBy(pid)` either:
    * that would hash-exchange the full table a second time. Per-task
    * memory for the backward walk is one CHUNK (256Ki rows), not one
    * partition — a mis-sized shuffle partitioning costs extra chunks,
    * never an executor OOM.
    *
    * `assumeRanged = true` promises `df` is ALREADY range-partitioned and
    * sorted ascending on (pCol, tieCols) AND cheap to re-traverse (e.g. a
    * narrow filter over a previously ranged persisted cache — the
    * GlobalOrder.ranged contract): the exchange, its sampling pass, and
    * the internal persist are all skipped, and the three passes run
    * directly over the caller's layout. A frame whose layout does not
    * match the promise silently misranks every row — callers must
    * guarantee it structurally.
    */
  def bhQ(df: DataFrame, pCol: String, tieCols: Seq[String], qCol: String,
      mOpt: Option[Long] = None,
      chunkRows: Int = 1 << 18,
      assumeRanged: Boolean = false): DataFrame = {
    require(chunkRows > 0, s"chunkRows must be positive, got $chunkRows")
    val spark = df.sparkSession
    val r = GlobalOrder.ranged(df, col(pCol) +: tieCols.map(col), None,
      assumeRanged)
    // the passes key their offsets by the layout's partition index
    // (mapPartitionsWithIndex, see GlobalOrder.ranged) and read Catalyst
    // rows straight off the cache — no external-Row conversion, no
    // per-schema encoder class
    val ranged = r.layout
    val pIdx = ranged.schema.fieldIndex(pCol)
    val m = mOpt.getOrElse(r.stats.rows)
    val roffs: Map[Int, Long] = r.stats.offsets.map { case (pid, (n, _)) =>
      pid -> n
    }
    // Chunk size for the final backward walk: per-task memory is one
    // chunk of Rows (~tens of MB), NOT one partition — so a stale
    // numShufflePartitions (partitions ≫ chunk) degrades to more chunks,
    // never to an OOM. At test scale every partition is a single chunk
    // and the arithmetic (and output) is bit-identical to the unchunked
    // walk: min is associative, so seeding each chunk with the exact
    // suffix-min of everything after it reproduces the full backward scan.
    def ckey(pid: Int, chunk: Int): Long = (pid.toLong << 32) | chunk.toLong
    // job 2: per-(partition, chunk) min of p·M/rank (global rank =
    // local + offset); same single pass as the old per-partition min,
    // just finer-grained output (#chunks = rows/256Ki — driver-tiny)
    val chunkMins = GraftColumnBridge.collectRows(ranged)(
      _.mapPartitionsWithIndex { (pid, it) =>
        var i = roffs.getOrElse(pid, 0L)
        var mn = Double.MaxValue
        var inChunk = 0
        var chunk = 0
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        it.foreach { r =>
          i += 1
          // fail with intent, not an unboxing NPE deep in a task: a null p
          // would otherwise have silently sorted to rank 1 above
          require(!r.isNullAt(pIdx),
            s"bhQ: null $pCol at rank $i — p-values must be non-null")
          val v = r.getDouble(pIdx) * m / i
          if (v < mn) mn = v
          inChunk += 1
          if (inChunk == chunkRows) {
            out += ((ckey(pid, chunk), mn))
            chunk += 1; inChunk = 0; mn = Double.MaxValue
          }
        }
        if (inChunk > 0) out += ((ckey(pid, chunk), mn))
        out.iterator
      }).sortBy(-_._1)
    // tail(pid, chunk) = min of p·M/rank over all strictly-later chunks
    // (keys sort descending as (pid, chunk) — ranges are p-ascending)
    var run = Double.MaxValue
    val tails: Map[Long, Double] = chunkMins.map { case (key, mn) =>
      val t = key -> run; run = math.min(run, mn); t
    }.toMap
    val tailsBc = spark.sparkContext.broadcast(tails)
    // final narrow pass: backward suffix-min per CHUNK, seeded with the
    // exact suffix-min of all later chunks/partitions. The chunk is
    // buffered, so its rows are copied off the scan's reused row; each
    // output row is that copy joined to one mutable q cell
    val outSchema = ranged.schema.add(qCol, DoubleType, nullable = false)
    GraftColumnBridge.mapRows(ranged, outSchema)(
      _.mapPartitionsWithIndex { (pid, it) =>
        val off = roffs.getOrElse(pid, 0L)
        val qRow = new SpecificInternalRow(Seq(DoubleType))
        val joined = new JoinedRow
        it.map(_.copy()).grouped(chunkRows).zipWithIndex.flatMap {
          case (rows, cIdx) =>
            val cOff = off + cIdx.toLong * chunkRows
            val q = new Array[Double](rows.length)
            var sm = tailsBc.value.getOrElse(ckey(pid, cIdx), Double.MaxValue)
            var i = rows.length - 1
            while (i >= 0) {
              val v = rows(i).getDouble(pIdx) * m / (cOff + i + 1)
              sm = math.min(sm, v)
              q(i) = math.min(1.0, sm)
              i -= 1
            }
            rows.iterator.zipWithIndex.map { case (r, k) =>
              qRow.setDouble(0, q(k))
              joined(r, qRow): InternalRow
            }
        }
      })
  }
}
