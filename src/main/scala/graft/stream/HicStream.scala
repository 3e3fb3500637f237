package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.hic.{Binning, Spline}
import graft.ops.Caches

/** Incremental Hi-C ingestion (SURVEY.md §2.10 streaming analog of A1/A24):
  * a contact-observation stream feeds (a) stateful per-locus marginal
  * counts via `flatMapGroupsWithState` — state is one (hitCount, n_pairs)
  * pair per locus, bounded by genome size / resolution, never by stream
  * length — and (b) a micro-batch `foreachBatch` spline refit
  * ([[SplineRefitter]]) that folds each batch into a cumulative
  * distinct-pair table and re-runs the EXACT batch A14–A16 path
  * ([[graft.hic.Binning.collectBins]] → [[graft.hic.Spline.fitFromBins]]),
  * so the streaming fit is bit-identical to the batch fit over the same
  * observations.
  *
  * The column logic ([[locusUpdates]]) is shared between the streaming job
  * and the batch-equivalent declared query (q_stream_hic_marginals), the
  * same contract the q_stream_* window queries follow: Verify hash-checks
  * the batch form; StreamingSpec pins stream/batch parity with
  * MemoryStream.
  */
object HicStream {
  /** A streamed Hi-C contact observation: one (possibly partial)
    * contactCount delta for a bin pair, stamped with ingestion event time.
    */
  case class ContactEvent(ts: Timestamp, chr1: String, mid1: Long,
      chr2: String, mid2: Long, contactCount: Long)

  /** Running per-locus marginal — the streaming A24 hitCount plus the
    * number of pair-end observations folded into it.
    */
  case class LocusMarginal(chr: String, mid: Long, hitCount: Long,
      n_pairs: Long)

  /** Keyed state of [[incrementalMarginals]] — public: Spark's state
    * encoder codegen needs constructor/accessor visibility.
    */
  case class MarginalState(hitCount: Long, nPairs: Long)

  /** Shared column logic: explode each contact into its two locus ends
    * (chr, mid, contactCount[, ts]) — the input of both the stateful
    * stream and the batch marginal aggregation. Works on a batch frame
    * and on a `readStream` frame alike.
    */
  def locusUpdates(contacts: DataFrame, keepTs: Boolean = false)
      : DataFrame = {
    val extra = if (keepTs) Seq(col("ts")) else Nil
    val a = contacts.select(
      (col("chr1").as("chr") +: col("mid1").as("mid") +:
        col("contactCount") +: extra): _*)
    val b = contacts.select(
      (col("chr2").as("chr") +: col("mid2").as("mid") +:
        col("contactCount") +: extra): _*)
    a.unionByName(b)
  }

  /** The per-locus marginals of a contact table (A1/A24): hitCount =
    * Σ contactCount and n_pairs = the number of contact ends over the
    * [[locusUpdates]] of both ends — the batch form of what
    * [[incrementalMarginals]] keeps as state, and the one marginal
    * aggregate of the library (the q_hic_* fragment tables, the
    * marginal and bias queries).
    */
  def marginals(contacts: DataFrame): DataFrame =
    locusUpdates(contacts)
      .groupBy("chr", "mid")
      .agg(sum(col("contactCount")).as("hitCount"),
        count(lit(1)).as("n_pairs"))

  /** Incremental per-locus marginal counts over a contact stream:
    * `flatMapGroupsWithState` in Update mode keyed by locus. A watermark
    * on event time bounds disorder — contact observations older than the
    * watermark are dropped before they reach state (late-data discipline,
    * spec-pinned), exactly like the window aggregates in [[Events]].
    * Emits the refreshed (hitCount, n_pairs) for every locus touched by
    * the micro-batch.
    */
  def incrementalMarginals(contacts: Dataset[ContactEvent],
      watermark: String = Events.defaultWatermark): Dataset[LocusMarginal] = {
    val spark = contacts.sparkSession
    import spark.implicits._
    locusUpdates(contacts.toDF(), keepTs = true)
      .withWatermark("ts", watermark)
      .select(col("chr"), col("mid"), col("contactCount"), col("ts"))
      .as[(String, Long, Long, Timestamp)]
      .groupByKey { case (chr, mid, _, _) => (chr, mid) }
      // EventTimeTimeout (not NoTimeout): FlatMapGroupsWithStateExec only
      // applies its late-row watermark filter under event-time timeout —
      // with NoTimeout, watermark-stale deltas would still reach state.
      // No per-key timeout timestamp is ever set, so no key times out;
      // locus state is bounded by genome size, not stream length.
      .flatMapGroupsWithState[MarginalState, LocusMarginal](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case ((chr, mid), rows, state: GroupState[MarginalState]) =>
          if (state.hasTimedOut) Iterator.empty
          else {
            val prev = state.getOption.getOrElse(MarginalState(0L, 0L))
            var hits = prev.hitCount
            var n = prev.nPairs
            rows.foreach { r => hits += r._3; n += 1 }
            val next = MarginalState(hits, n)
            state.update(next)
            Iterator.single(LocusMarginal(chr, mid, hits, n))
          }
      }
  }

  /** The spline-refit micro-batch step (SURVEY §2.10: "spline refit stays
    * a micro-batch `foreachBatch` driver step"). Each batch of contact
    * observations is pre-aggregated (tiny), folded into a cumulative
    * distinct-pair table — distributed state, localCheckpoint'ed to cut
    * lineage, previous iterate released eagerly — and the null model is
    * refitted from it via the unmodified batch code path
    * (`Binning.collectBins` → `Spline.fitFromBins`), so after any prefix
    * of the stream the fit equals the batch fit over the observations
    * delivered so far (StreamingSpec pins this bit-for-bit).
    *
    * Scale shape: the cumulative table is bounded by distinct bin pairs
    * (the same bound as the batch input); the per-batch merge is one
    * shuffle over it. A production deployment would bucket the cumulative
    * table by (chr, mid1) and compact on a cadence instead of every
    * micro-batch. Every folded batch is refitted.
    * At-least-once delivery should be fronted by the dedup stage
    * ([[Events.dedup]]); counts here are treated as per-pair deltas.
    */
  final class SplineRefitter(nBins: Int, distLo: Long, distHi: Long,
      // durable-restart knob: when set, every folded batch snapshots the
      // cumulative pair table to `<stateDir>/cum_b<batchId>` (parquet,
      // _SUCCESS-gated, two newest kept) and a FRESH refitter pointed at
      // the same dir recovers the newest complete snapshot on its first
      // batch — so a query restarted from its checkpoint resumes the
      // cumulative fold exactly where the committed stream left off
      // (replayed foreachBatch ids ≤ the snapshot's are skipped, the
      // standard idempotent-sink discipline). Off by default: the
      // snapshot costs one write of the bounded pair table per batch.
      stateDir: Option[String] = None) {
    /** One refit result: the A15/A16 outputs over the cumulative table. */
    case class Fit(batchId: Long, total: Long, avgDist: Array[Double],
        rawProb: Array[Double], fittedProb: Array[Double])

    @volatile private var cum: DataFrame = _
    @volatile private var fitsRev: List[Fit] = Nil
    private var lastFolded = -1L

    def latest: Option[Fit] = fitsRev.headOption
    def refitCount: Int = fitsRev.length

    /** foreachBatch body: fold the micro-batch and refit. */
    def processBatch(batch: Dataset[ContactEvent], batchId: Long): Unit =
      synchronized {
        if (cum == null) stateDir.foreach(recover(batch.sparkSession, _))
        if (batchId <= lastFolded) return // replay of a snapshotted batch
        val delta = batch.toDF()
          .filter(col("chr1") === col("chr2")) // spline models intra only
          .groupBy(col("chr1").as("chr"), col("mid1"), col("mid2"))
          .agg(sum(col("contactCount")).as("contactCount"))
        val merged =
          if (cum == null) delta
          else cum.unionByName(delta)
            .groupBy("chr", "mid1", "mid2")
            .agg(sum(col("contactCount")).as("contactCount"))
        val next = merged.localCheckpoint(true)
        if (cum != null) Caches.releaseLocalCheckpoint(cum)
        cum = next
        lastFolded = batchId
        stateDir.foreach { d =>
          cum.write.mode("overwrite").parquet(s"$d/cum_b$batchId")
          reapSnapshots(d, keepFrom = batchId - 1)
        }
        refit(batchId)
      }

    /** Load the newest _SUCCESS-complete snapshot, if any. */
    private def recover(spark: org.apache.spark.sql.SparkSession,
        dir: String): Unit =
      snapshotIds(dir).maxOption.foreach { id =>
        cum = spark.read.parquet(s"$dir/cum_b$id").localCheckpoint(true)
        lastFolded = id
      }

    // Hadoop FS (not java.io.File): the snapshots are WRITTEN through
    // Spark/Hadoop paths, so listing/reaping must resolve the same way —
    // a stateDir with a URI scheme (file:/, hdfs:/, s3a:/) would
    // otherwise silently recover nothing and never reap
    private def hfs(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      (p, p.getFileSystem(org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration))
    }

    private def snapshotIds(dir: String): Seq[Long] = {
      val (p, fs) = hfs(dir)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.collect {
        case st if st.isDirectory &&
            st.getPath.getName.startsWith("cum_b") &&
            fs.exists(new org.apache.hadoop.fs.Path(st.getPath,
              "_SUCCESS")) =>
          st.getPath.getName.stripPrefix("cum_b").toLong
      }
    }

    private def reapSnapshots(dir: String, keepFrom: Long): Unit = {
      val (p, fs) = hfs(dir)
      snapshotIds(dir).filter(_ < keepFrom).foreach { id =>
        fs.delete(new org.apache.hadoop.fs.Path(p, s"cum_b$id"), true)
      }
    }

    /** The batch null fit over the in-range cumulative pairs; N is
      * Σ sumCount over the bins, and a table with no in-range mass has
      * no bins and adds no [[Fit]].
      */
    private def refit(batchId: Long): Unit = {
      val bins = Binning.collectBins(cum
          .withColumn("dist", abs(col("mid1") - col("mid2")))
          .filter(col("dist").between(distLo, distHi)),
        nBins, Seq("chr", "mid1", "mid2"))
      if (bins.nonEmpty) {
        val total = bins.map(_.getAs[Long]("sumCount")).sum
        val (xs, raw, fit) = Spline.fitFromBins(bins, total)
        fitsRev ::= Fit(batchId, total, xs, raw, fit)
      }
    }

    /** Release the cumulative checkpoint (call after stopping the query). */
    def close(): Unit = synchronized {
      if (cum != null) { Caches.releaseLocalCheckpoint(cum); cum = null }
    }
  }
}
