package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.hic.FitHiCMain

/** The paper's job: each op is one `FitHiCMain.run` (two passes, intra and
  * inter, with biases) on the seeded genome, into a fresh output dir.
  *
  * The warm-up op is checked in full against the generator's truth: every
  * observed intra pair is tested in both passes, every inter pair once, and
  * planted-loop recall at q < 0.05 stays at or above the floor. Each timed
  * op's output must then be byte-identical to it (content digest).
  */
final class FithicCli(spark: SparkSession, hic: String, work: String,
    tracer: Tracer, counters: mutable.Map[String, Double]) extends Workload {
  import FithicCli.RecallFloor
  private val truth = org.json4s.jackson.JsonMethods.parse(
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"$hic/truth.json")))
  private def long(k: String) = (truth \ k) match {
    case JInt(n) => n.toLong
    case other => sys.error(s"truth.json: $k = $other")
  }
  private val intraPairs = long("intra_pairs")
  private val interPairs = long("inter_pairs")
  private val contactRows = long("contacts")
  private val loops: Set[(String, Long, Long)] =
    (truth \ "loops").children.map(_.children match {
      case List(JString(c), JInt(a), JInt(b)) => (c, a.toLong, b.toLong)
      case other => sys.error(s"truth.json: bad loop $other")
    }).toSet
  private val sig = "res5000.significances.txt.gz"
  private var n = 0
  private var out = ""
  private var reference = ""
  private var warmFailure: Option[String] = None
  private var recall = 0.0
  private var fdr = 0.0
  private var scoredRows = 0L

  private def args(dir: String) = Array("-i", s"$hic/contacts",
    "-f", s"$hic/fragments.txt.gz", "-t", s"$hic/biases.txt.gz",
    "-o", dir, "-p", "2", "-x", "All")

  private def fresh(): String = { n += 1; s"$work/fithic_out_$n" }

  def setup(): Unit = {
    val dir = fresh()
    FitHiCMain.run(spark, args(dir))
    graft.ops.Caches.drain()
    warmFailure = fullCheck(dir)
    reference = Files.digest(dir)
    Files.delete(dir)
  }

  /** Tested-pair counts against the truth, and planted-loop recall. */
  private def fullCheck(dir: String): Option[String] = {
    val p1 = Files.countLines(s"$dir/graft.spline_pass1.$sig")
    val p2 = Files.countLines(s"$dir/graft.spline_pass2.$sig")
    val inter = Files.countLines(s"$dir/graft.interOnly.$sig")
    var hits = 0
    var calls = 0
    Files.foreachLine(s"$dir/graft.spline_pass2.$sig") { line =>
      val f = line.split('\t')
      if (f(6).toDouble < 0.05) {
        calls += 1
        if (loops((f(0), f(1).toLong, f(3).toLong))) hits += 1
      }
    }
    recall = hits.toDouble / loops.size
    scoredRows = p1 + p2 + inter
    fdr = if (calls > 0) (calls - hits).toDouble / calls else 0.0
    if (p1 != intraPairs || p2 != intraPairs)
      Some(s"tested intra pairs $p1/$p2, truth $intraPairs")
    else if (inter != interPairs)
      Some(s"tested inter pairs $inter, truth $interPairs")
    else if (recall < RecallFloor)
      Some(s"planted-loop recall $recall below floor $RecallFloor")
    else None
  }

  def nominalRoundS: Double = 22.0

  /** Two CLI runs a round: the median of a run is the mean of two ops. */
  def round(r: Int): Seq[String] = Seq("cli.0", "cli.1")

  def op(key: String): Unit = {
    out = fresh()
    FitHiCMain.run(spark, args(out))
    tracer.span("ops.caches_drain")(graft.ops.Caches.drain())
  }

  def check(key: String): Option[String] = {
    // traced ops: every tested pair of both passes and the inter model is
    // one binom_sf row
    if (tracer.active) {
      counters("sources.write_mb") += Files.bytes(out) / (1024.0 * 1024.0)
      counters("functions.binom_sf_rows") += scoredRows.toDouble
    }
    val d = Files.digest(out)
    Files.delete(out)
    warmFailure.orElse(
      if (d != reference) Some(s"output digest $d differs from $reference")
      else None)
  }

  override def contacts(key: String): Long = contactRows

  override def info: Seq[(String, String)] = Seq(
    "input_contacts" -> contactRows.toString,
    "input_fragments" -> long("fragments").toString,
    "input_bytes" -> long("bytes").toString,
    "output_digest" -> reference,
    "loop_recall" -> Main.num(recall),
    "loop_recall_floor" -> Main.num(RecallFloor),
    "call_fdr" -> Main.num(fdr))
}

object FithicCli {
  // planted-loop recall at q < 0.05 on the final pass; HEAD recalls every
  // loop on seeds 1-10
  val RecallFloor = 0.9
}
