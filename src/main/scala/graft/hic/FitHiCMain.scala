package graft.hic

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** CLI entry point mirroring the reference's significance pipeline surface
  * (SURVEY.md §3.1 Entry 1): gz-TSV in, gz-TSV out, pass-numbered output
  * names `<lib>.spline_pass<k>.res<r>.significances.txt.gz`.
  *
  * Usage (bracketed values are the ACTUAL defaults — a doc default
  * that diverges from the code silently changes the null model for
  * anyone mirroring the reference pipeline):
  *   runMain graft.hic.FitHiCMain -i contacts.gz -f fragments.gz -o outdir
  *     [-t biases.gz] [-r 5000] [-p 1] [-L 0] [-U unbounded] [-b 100]
  *     [-m mappabilityThr] [-bL biasLow] [-bU biasUp] [-q qThreshold]
  *     [-x intraOnly|interOnly|All] [-l graft]
  */
object FitHiCMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** Session-agnostic body (separately callable so tests can drive the
    * full CLI surface without `main` stopping their shared session).
    */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    // strict flag/value pairing: sliding(2,2) on misaligned args (a
    // stray valueless flag) silently re-pairs everything after it —
    // '-f' becomes another flag's VALUE and the real -f vanishes.
    // Fail with the shape of the mistake instead.
    require(args.length % 2 == 0,
      s"FitHiCMain: expected -flag value pairs, got ${args.length} " +
        s"args: ${args.mkString(" ")}")
    val opts = args.sliding(2, 2).map {
      case Array(k, v) =>
        require(k.startsWith("-") &&
          (!v.startsWith("-") || v.matches("-\\d.*")),
          s"FitHiCMain: misaligned flag/value pair '$k $v'")
        k -> v
    }.toMap
    def req(flag: String): String = opts.getOrElse(flag,
      sys.error(s"FitHiCMain: required flag $flag missing"))
    val contactsPath = req("-i")
    val fragsPath = req("-f")
    val outDir = req("-o")
    val res = opts.getOrElse("-r", "5000").toLong
    val lib = opts.getOrElse("-l", "graft")
    val mode = opts.getOrElse("-x", "intraOnly")
    // an unrecognized mode would match NEITHER dispatch branch below
    // and the run would complete "successfully" with zero output
    require(Set("intraOnly", "interOnly", "All").contains(mode),
      s"FitHiCMain: -x must be intraOnly|interOnly|All, got '$mode'")
    val dflt = FitHiCConfig()
    val cfg = FitHiCConfig(
      nBins = opts.getOrElse("-b", "100").toInt,
      passes = opts.getOrElse("-p", "1").toInt,
      distLow = opts.getOrElse("-L", "0").toLong,
      distUp = opts.get("-U").map(_.toLong)
        .getOrElse(Long.MaxValue / 4),
      mappabilityThr = opts.get("-m").map(_.toLong)
        .getOrElse(dflt.mappabilityThr),
      biasLow = opts.get("-bL").map(_.toDouble).getOrElse(dflt.biasLow),
      biasUp = opts.get("-bU").map(_.toDouble).getOrElse(dflt.biasUp),
      qThreshold = opts.get("-q").map(_.toDouble)
        .getOrElse(dflt.qThreshold))

    // ingest through the DSv2 connector (graft.sources.HicTsv): same
    // schemas as the csv()-based Tsv readers (spec-differentialed), but
    // with in-reader filter pushdown/column pruning — the production
    // scan path; Tsv.read* remains the independent baseline
    def src(kind: String, path: String) =
      spark.read.format("hic-tsv").option("kind", kind).load(path)
    val frags = src("fragments", fragsPath)
    val contacts = src("contacts", contactsPath)
    val biases = opts.get("-t").map(src("biases", _))

    val sigCols = Seq("chr1", "mid1", "chr2", "mid2", "contactCount",
      "p_value", "q_value")
    // one order for every table: intra rows have chr1 == chr2, so the
    // inter order (chr1, mid1, chr2, mid2) is also their (chr1, mid1,
    // mid2) order, and all three writes share one plan. Every table is a
    // projection of the front end's layout in this order, so the order
    // plans no exchange and no sort: each write runs one task per layout
    // partition
    def writeSig(df: DataFrame, name: String): Unit =
      df.orderBy("chr1", "mid1", "chr2", "mid2")
        .select(sigCols.head, sigCols.tail: _*)
        .write.format("hic-tsv").option("kind", "significances")
        .mode("overwrite")
        .save(s"$outDir/$lib.$name.res$res.significances.txt.gz")
    val intraOn = mode == "intraOnly" || mode == "All"
    val interOn = mode == "interOnly" || mode == "All"
    // one front end for both models: the mappable set, both-ends filter,
    // classify, bias table and both possible-pair counts are built once
    val fe = Pipeline.frontEnd(frags, contacts, biases, cfg,
      intra = intraOn, inter = interOn)
    if (intraOn) {
      // per-pass spline/bin diagnostics (A26's data, sans plot): the bins
      // are already on the driver for the spline fit, in binIdx order, so
      // emitting the table costs one tiny one-task write per pass and no
      // sort
      val diags = scala.collection.mutable.ArrayBuffer
        .empty[Pipeline.PassDiagnostics]
      val intra = Pipeline.intraSignificancesFrom(fe,
        diagSink = Some(diags ++= _))
      for (pass <- 1 to cfg.passes)
        writeSig(intra.filter(col("pass") === pass), s"spline_pass$pass")
      import spark.implicits._
      for (pass <- 1 to cfg.passes)
        graft.io.Tsv.write(diags.filter(_.pass == pass).toSeq.toDF()
            .coalesce(1),
          s"$outDir/$lib.spline_pass$pass.res$res.bins.txt.gz",
          Seq("binIdx", "pairCount", "sumCount", "avgDist", "rawProb",
            "splineProb"))
    }
    if (interOn)
      writeSig(Pipeline.interSignificancesFrom(fe), "interOnly")
  }
}
