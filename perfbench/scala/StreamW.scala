package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.hic.{Binning, Spline}
import graft.stream.HicStream
import graft.stream.HicStream.{ContactEvent, LocusMarginal}

/** The Hi-C stream, run inside the suite workload: the generator's
  * contacts land as gz-TSV files, one per op, in a directory read by
  * `readStream.format("hic-tsv")`. Two queries read it:
  * `HicStream.incrementalMarginals` (keyed state) and a foreachBatch
  * `SplineRefitter.processBatch`. An op lands the next file and waits on
  * `processAllAvailable()` of both.
  *
  * Checks: after every op, the marginals sum to twice the landed contact
  * count and the latest fit covers every landed intra contact; at the end,
  * the marginals equal a batch groupBy over the landed files and the fit
  * equals `Spline.fitFromBins` over the same contacts, bit for bit.
  */
final class StreamW(spark: SparkSession, hic: String, work: String,
    tracer: Tracer) {
  import spark.implicits._

  private val nBins = 100
  private val warmFiles = 3
  private val files = Files.parts(s"$hic/stream")
  private val landing = new File(s"$work/landing")
  private val marginals = new ConcurrentHashMap[(String, Long), (Long, Long)]()
  private val refitter = new HicStream.SplineRefitter(nBins, 0L, Long.MaxValue)
  private var queries: Seq[StreamingQuery] = Nil
  private var landed = 0
  private var landedCount = 0L
  private var landedIntra = 0L
  private var landedRows = 0L

  private def land(i: Int): Unit = {
    val f = files(i)
    val tmp = new File(landing, s".${f.getName}")
    java.nio.file.Files.copy(f.toPath, tmp.toPath)
    java.nio.file.Files.move(tmp.toPath, new File(landing, f.getName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    landed = i + 1
  }

  private def settle(): Unit = queries.foreach(_.processAllAvailable())

  /** Totals of a landed file, read outside the clock. */
  private def account(i: Int): Unit = {
    var rows = 0L
    Files.foreachLine(files(i).getPath) { line =>
      val f = line.split('\t')
      val c = f(4).toLong
      rows += 1
      landedCount += c
      if (f(0) == f(2)) landedIntra += c
    }
    landedRows += rows
  }

  def setup(): Unit = {
    landing.mkdirs()
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val contacts = spark.readStream.format("hic-tsv")
      .option("kind", "contacts").load(landing.getPath)
      .select(lit(ts).as("ts"), col("chr1"), col("mid1"), col("chr2"),
        col("mid2"), col("contactCount"))
      .as[ContactEvent]
    val m = HicStream.incrementalMarginals(contacts).writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$work/ckpt_marginals")
      .foreachBatch { (ds: Dataset[LocusMarginal], _: Long) =>
        ds.collect().foreach(r =>
          marginals.put((r.chr, r.mid), (r.hitCount, r.n_pairs)))
      }.start()
    val s = contacts.writeStream
      .option("checkpointLocation", s"$work/ckpt_spline")
      .foreachBatch { (ds: Dataset[ContactEvent], id: Long) =>
        tracer.span("stream.refit")(refitter.processBatch(ds, id))
      }.start()
    queries = Seq(m, s)
    (0 until warmFiles).foreach { i => land(i); settle(); account(i) }
  }

  /** Files not landed yet. */
  def left: Int = files.size - landed

  def op(): Unit = { land(landed); settle() }

  def check(): Option[String] = {
    account(landed - 1)
    var hits = 0L
    marginals.values.forEach(v => hits += v._1)
    val fit = refitter.latest.map(_.total).getOrElse(-1L)
    if (hits != 2 * landedCount)
      Some(s"marginals sum $hits, landed ${2 * landedCount}")
    else if (fit != landedIntra)
      Some(s"fit total $fit, landed intra $landedIntra")
    else None
  }

  /** End-of-run checks: failures that concern every stream op. */
  def finish(): Seq[String] = {
    queries.foreach(_.stop())
    val batch = spark.read.format("hic-tsv").option("kind", "contacts")
      .load(landing.getPath)
    val expect = HicStream.locusUpdates(batch).groupBy("chr", "mid")
      .agg(sum("contactCount"), count(lit(1))).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    var got = Map.empty[(String, Long), (Long, Long)]
    marginals.forEach((k, v) => got += k -> v)
    val f = batch.filter(col("chr1") === col("chr2"))
      .groupBy(col("chr1").as("chr"), col("mid1"), col("mid2"))
      .agg(sum(col("contactCount")).as("contactCount"))
      .withColumn("dist", abs(col("mid1") - col("mid2")))
      .persist()
    try {
      val total = f.agg(sum(col("contactCount"))).first().getLong(0)
      val (xs, raw, fitted) = Spline.fitFromBins(
        Binning.collectBins(f, nBins, Seq("chr", "mid1", "mid2")), total)
      val live = refitter.latest
      refitter.close()
      val fitOk = live.exists(l => l.total == total &&
        java.util.Arrays.equals(l.avgDist, xs) &&
        java.util.Arrays.equals(l.rawProb, raw) &&
        java.util.Arrays.equals(l.fittedProb, fitted))
      (if (got != expect) Seq(s"stream marginals (${got.size} " +
          s"loci) differ from the batch groupBy (${expect.size} loci)")
        else Nil) ++
        (if (!fitOk) Seq("stream spline fit differs from " +
          "Spline.fitFromBins over the landed contacts") else Nil)
    } finally f.unpersist()
  }

  def info: Seq[(String, String)] = Seq(
    "files_landed" -> landed.toString,
    "contacts_landed" -> landedRows.toString,
    "state_loci" -> marginals.size.toString)
}
