package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The registered query suite on the frozen sf0.01 fixture, beside a live
  * Hi-C stream. A round is the slice, one query of each of the 19 Registry
  * modules, then `Suite.StreamOps` micro-batches of the stream (`StreamW`).
  * A query op is `fn(spark, dir).count()` then `Caches.drain()`, the calls
  * Bench makes; a stream op lands one file and waits for both streaming
  * queries to process it.
  *
  * Checks: the warm-up runs each query once as an order-insensitive
  * content digest and compares row count and digest with the pins taken
  * at HEAD; every timed query's row count must equal the pin. Stream ops
  * are checked by `StreamW`; its end-of-run checks fail every stream op.
  */
final class Suite(spark: SparkSession, sf: String,
    pins: Map[String, (Long, String)], tracer: Tracer, stream: StreamW)
    extends Workload {
  import Suite.{slice, streamKeys}
  private val fns = graft.SparkEntry.queries
  private val bad = mutable.Map.empty[String, String]
  private var rows = -1L
  PerLayer.modules.foreach { case (mod, qs) =>
    require(slice.count(qs) == 1, s"the slice needs one query of $mod")
  }

  def setup(): Unit = {
    slice.foreach { q =>
      try {
        val (n, d) = Suite.digest(fns(q)(spark, sf))
        pins.get(q) match {
          case None => bad(q) = "no pin"
          case Some((pn, _)) if pn != n => bad(q) = s"rows $n, pinned $pn"
          case Some((_, pd)) if pd != d =>
            bad(q) = s"digest $d, pinned $pd"
          case _ =>
        }
      } catch { case e: Throwable => bad(q) = e.toString.take(300) }
      finally graft.ops.Caches.drain()
    }
    stream.setup()
  }

  def nominalRoundS: Double = 8.0

  def round(r: Int): Seq[String] =
    if (stream.left < streamKeys.size) Nil else slice ++ streamKeys

  def op(key: String): Unit =
    if (streamKeys.contains(key)) stream.op()
    else {
      rows = -1L
      try rows = fns(key)(spark, sf).count()
      finally tracer.span("ops.caches_drain")(graft.ops.Caches.drain())
    }

  def check(key: String): Option[String] =
    if (streamKeys.contains(key)) stream.check()
    else bad.get(key).orElse {
      val pinned = pins.get(key).map(_._1).getOrElse(-2L)
      if (rows != pinned) Some(s"rows $rows, pinned $pinned") else None
    }

  override def finish(): Seq[(String, String)] =
    stream.finish().flatMap(e => streamKeys.map(_ -> e))

  override def info: Seq[(String, String)] =
    ("slice" -> slice.mkString(",")) +: stream.info
}

object Suite {
  /** From each Registry module, the query with the least cold time in one
    * pass over all 252 queries on this fixture (local[4]), so that the
    * set-up's cold pass and a round stay short and a round is bound by
    * per-query scheduling, not by a module's heaviest query.
    */
  val slice: Seq[String] = Seq("q_agg_unpivot", "q_dedup_bloom_exactcheck",
    "q_embed_pca_gram_check", "q_events_attribution", "q_fn_array",
    "q_graph_transitions", "q_hic_distance_filter", "q_hic_insulation",
    "q_join_theta_band", "q_pipeline_keep", "q_sample_split",
    "q_scan_filter_pushdown", "q_sort_multi", "q_subquery_not_in",
    "q_text_chunk", "q_tpch_q12", "q_tpch_q6", "q_win_rank",
    "q_stream_tumbling")

  /** Op keys of a round's stream micro-batches: the same keys every round,
    * so traced and untraced rounds pair up by key.
    */
  val StreamOps = 3
  val streamKeys: Seq[String] = (0 until StreamOps).map(i => s"stream.$i")

  /** Row count and an order-insensitive content digest: the sum of each
    * row's xxhash64 over all columns (JSON text where a type has no hash).
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val d = df.toDF(cols: _*)
    val h =
      try { val x = d.select(xxhash64(cols.map(col): _*).as("h")); x.schema; x }
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          d.select(xxhash64(to_json(struct(cols.map(col): _*))).as("h"))
      }
    val r = h.agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).first()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)
  }

  /** Pins file: `name<TAB>rows<TAB>digest` per line. */
  def readPins(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty)
      .map(_.split('\t')).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  /** Digest every registered query once, in name order, into `out`. */
  def pin(spark: SparkSession, sf: String, out: String): Unit = {
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (q, fn) =>
        val line =
          try { val (n, d) = digest(fn(spark, sf)); s"$q\t$n\t$d" }
          catch { case e: Throwable => s"$q\t-1\t${e.getClass.getName}" }
          finally graft.ops.Caches.drain()
        println(line)
        line
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("", "\n", "\n"))
  }
}
