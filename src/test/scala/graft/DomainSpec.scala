package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.Binom
import graft.hic.{ChrSolver, FitHiCConfig, Kr, MergeFilter, Pipeline}
import graft.llm.{Dedup, Multimodal}

class PipelineSpec extends AnyFunSuite with Matchers with SparkTest {
  import org.apache.spark.sql.DataFrame

  /** Tiny deterministic library: 1 chromosome, 6 loci on a 5 kb grid. */
  private def fixture: (DataFrame, DataFrame) = {
    import spark.implicits._
    val mids = (0 until 6).map(i => 2500L + 5000L * i)
    val frags = mids.map(m => ("chr1", 0L, m, 10L, 1))
      .toDF("chr", "extraField", "mid", "hitCount", "mappable")
    val contacts = (for {
      i <- 0 until 6; j <- i + 1 until 6
    } yield ("chr1", mids(i), "chr1", mids(j),
      // decaying with distance, one outlier pair
      (if (i == 0 && j == 1) 40L else math.max(1L, 12L / (j - i)))))
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    (frags, contacts)
  }

  test("single-bin golden: p-values equal closed-form binomial sf") {
    val (frags, contacts) = fixture
    val cfg = FitHiCConfig(nBins = 1, passes = 1, distLow = 0,
      distUp = 1000000L)
    val out = Pipeline.intraSignificances(frags, contacts, None, cfg)
      .collect()
    val n = contacts.agg(sum("contactCount")).first().getLong(0)
    val pairCount = contacts.count()
    val prior = n.toDouble / pairCount / n // (sum/pairs)/N, single bin
    out.foreach { r =>
      val k = r.getAs[Long]("contactCount")
      r.getAs[Double]("p_value") shouldBe
        (Binom.sf(k, n, prior) +- 1e-12)
    }
    // M = possible pairs = observed pairs here (full grid in range)
    out.length shouldBe pairCount
  }

  test("q-values are valid BH outputs; outlier pair is most significant") {
    val (frags, contacts) = fixture
    val out = Pipeline.intraSignificances(frags, contacts, None,
        FitHiCConfig(nBins = 3, passes = 1, distLow = 0, distUp = 1000000L))
      .collect()
    out.foreach { r =>
      r.getAs[Double]("q_value") should be <= 1.0
      r.getAs[Double]("q_value") should be >=
        0.0
    }
    val best = out.minBy(_.getAs[Double]("p_value"))
    (best.getAs[Long]("mid1"), best.getAs[Long]("mid2")) shouldBe
      (2500L, 7500L) // the planted outlier
  }

  test("refinement pass 2 rescores all pairs against the cleaned null") {
    val (frags, contacts) = fixture
    val out = Pipeline.intraSignificances(frags, contacts, None,
      FitHiCConfig(nBins = 3, passes = 2, distLow = 0, distUp = 1000000L,
        qThreshold = 0.5))
    val byPass = out.groupBy("pass").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    byPass(1) shouldBe byPass(2) // ALL pairs scored in both passes
  }

  test("endsMappable fast path ≡ default when frags are the contacts' " +
      "own marginals (intra and inter)") {
    import spark.implicits._
    val (_, contacts) = fixture
    // frags derived AS the contact set's marginals — the precondition
    // the declared hic queries assert (every end present, hitCount ≥ 1)
    val marg = contacts.select(col("chr1").as("chr"),
        col("mid1").as("mid"), col("contactCount"))
      .unionByName(contacts.select(col("chr2").as("chr"),
        col("mid2").as("mid"), col("contactCount")))
      .groupBy("chr", "mid").agg(sum("contactCount").as("hitCount"))
    val cfg = FitHiCConfig(nBins = 3, passes = 2, distLow = 0,
      distUp = 1000000L, qThreshold = 0.5)
    val slow = Pipeline.intraSignificances(marg, contacts, None, cfg)
    val fast = Pipeline.intraSignificances(marg, contacts, None, cfg,
      endsMappable = true)
    fast.except(slow).count() shouldBe 0
    slow.except(fast).count() shouldBe 0
    val inter = Seq(("c1", 2500L, "c2", 2500L, 4L),
      ("c1", 2500L, "c2", 7500L, 3L))
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    val margI = inter.select(col("chr1").as("chr"), col("mid1").as("mid"),
        col("contactCount"))
      .unionByName(inter.select(col("chr2").as("chr"),
        col("mid2").as("mid"), col("contactCount")))
      .groupBy("chr", "mid").agg(sum("contactCount").as("hitCount"))
    val slowI = Pipeline.interSignificances(margI, inter, None,
      FitHiCConfig())
    val fastI = Pipeline.interSignificances(margI, inter, None,
      FitHiCConfig(), endsMappable = true)
    fastI.except(slowI).count() shouldBe 0
    slowI.except(fastI).count() shouldBe 0
  }

  test("endsMappable is rejected above a mappability threshold of 1") {
    // marginals guarantee hitCount >= 1 only: a threshold above that makes
    // the assertion unprovable, and skipping the mappability probes would
    // return unfiltered contacts
    val (frags, contacts) = fixture
    val cfg = FitHiCConfig(mappabilityThr = 2L)
    an[IllegalArgumentException] should be thrownBy
      Pipeline.intraSignificances(frags, contacts, None, cfg,
        endsMappable = true)
    an[IllegalArgumentException] should be thrownBy
      Pipeline.interSignificances(frags, contacts, None, cfg,
        endsMappable = true)
  }

  test("a bad config cannot be built, and no job starts from one") {
    val (frags, contacts) = fixture
    // gz-TSV inputs the CLI could read, written before jobs are counted
    val dir = graft.io.Scratch.sub("fithic_bad_config")
    graft.io.Tsv.write(frags, s"$dir/frags.gz",
      graft.io.Tsv.fragmentSchema.fieldNames)
    graft.io.Tsv.write(contacts, s"$dir/contacts.gz",
      graft.io.Tsv.contactSchema.fieldNames)
    def cli(flags: String*): Unit = graft.hic.FitHiCMain.run(spark,
      Array("-i", s"$dir/contacts.gz", "-f", s"$dir/frags.gz",
        "-o", s"$dir/out") ++ flags)
    val jobs = jobsStartedBy {
      for ((field, build) <- Seq[(String, () => Any)](
          "passes" -> (() => FitHiCConfig(passes = 0)),
          "distLow" -> (() => FitHiCConfig(distLow = 3000L, distUp = 2000L)),
          "nBins" -> (() => FitHiCConfig(nBins = 0)),
          "biasLow" -> (() => FitHiCConfig(biasLow = 3.0, biasUp = 2.0)),
          "nBins" -> (() => cli("-b", "0")),
          "biasLow" -> (() => cli("-bL", "3", "-bU", "2")),
          "passes" -> (() => cli("-x", "interOnly", "-p", "0"))))
        withClue(s"$field: ") {
          val e = the[IllegalArgumentException] thrownBy build()
          e.getMessage should include(field)
        }
    }
    jobs shouldBe empty
  }

  test("distLow > distUp is rejected before any query starts") {
    val (frags, contacts) = fixture
    val jobs = jobsStartedBy {
      val e = the[IllegalArgumentException] thrownBy
        Pipeline.intraSignificances(frags, contacts, None,
          FitHiCConfig(distLow = 3000L, distUp = 2000L))
      e.getMessage should include("distLow")
      an[IllegalArgumentException] should be thrownBy
        Pipeline.interSignificances(frags, contacts, None,
          FitHiCConfig(distLow = 3000L, distUp = 2000L))
    }
    jobs shouldBe empty
  }

  test("a qThreshold outside [0, 1] cannot be built") {
    // above 1 every pass-1 row would be an outlier, and pass 2 would fail
    // late on an empty null; a q threshold is a q-value, so it lies in
    // [0, 1] and the refinement p* is always one of BH's steps
    val (frags, contacts) = fixture
    val dir = graft.io.Scratch.sub("fithic_bad_q")
    graft.io.Tsv.write(frags, s"$dir/frags.gz",
      graft.io.Tsv.fragmentSchema.fieldNames)
    graft.io.Tsv.write(contacts, s"$dir/contacts.gz",
      graft.io.Tsv.contactSchema.fieldNames)
    val jobs = jobsStartedBy {
      for (q <- Seq(1.5, -0.01, Double.NaN)) withClue(s"qThreshold $q: ") {
        val e = the[IllegalArgumentException] thrownBy
          FitHiCConfig(qThreshold = q)
        e.getMessage should include("qThreshold")
      }
      val e = the[IllegalArgumentException] thrownBy
        graft.hic.FitHiCMain.run(spark, Array("-i", s"$dir/contacts.gz",
          "-f", s"$dir/frags.gz", "-o", s"$dir/out", "-p", "2", "-q", "2"))
      e.getMessage should include("qThreshold")
    }
    jobs shouldBe empty
    for (q <- Seq(0.0, 1.0)) FitHiCConfig(qThreshold = q).qThreshold shouldBe q
  }

  test("every job of the front end carries the caller's job tags") {
    import spark.implicits._
    val (frags, contacts) = fixture
    val biases = Seq(("chr1", 2500L, 1.2)).toDF("chr", "mid", "bias")
    def run(): Unit = Pipeline.intraSignificances(frags, contacts,
      Some(biases), FitHiCConfig(nBins = 3, passes = 2, distLow = 0,
        distUp = 1000000L)).collect()
    // an untagged call first, so any worker thread the library uses
    // already exists before the tag is set
    run()
    val tag = "pipeline-caller-tag"
    val jobs = jobsStartedBy {
      spark.sparkContext.addJobTag(tag)
      try run() finally spark.sparkContext.removeJobTag(tag)
    }
    jobs should not be empty
    jobs.foreach { j =>
      withClue(s"job ${j.jobId}: ") {
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(",")) should contain(tag)
      }
    }
  }

  /** One chromosome, 40 loci on a 5 kb grid, every pair up to 8 loci
    * apart with a count set by the distance alone (so p-values tie within
    * a distance), plus planted outliers: two tied ones at one locus
    * apart, and single ones at one and two loci apart.
    */
  private def tiedFixture: (DataFrame, DataFrame) = {
    import spark.implicits._
    val mids = (0 until 40).map(i => 2500L + 5000L * i)
    val frags = mids.map(m => ("chr1", 0L, m, 10L, 1))
      .toDF("chr", "extraField", "mid", "hitCount", "mappable")
    val planted = Map((5, 6) -> 60L, (15, 16) -> 60L, (25, 26) -> 45L,
      (30, 32) -> 40L)
    val contacts = (for {
      i <- 0 until 40; j <- i + 1 until math.min(i + 9, 40)
    } yield ("chr1", mids(i), "chr1", mids(j),
      planted.getOrElse((i, j), math.max(1L, 12L / (j - i)))))
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    (frags, contacts)
  }

  test("pass 2's threshold null bins exactly as an anti-join of pass 1's " +
      "q < qThreshold keys, with and without ties at the threshold p") {
    val (frags, contacts) = tiedFixture
    val keys = Seq("chr1", "mid1", "chr2", "mid2")
    val base = FitHiCConfig(nBins = 10, passes = 1, distLow = 0,
      distUp = 1000000L)
    // pass 1 does not depend on the threshold
    val pass1 = Pipeline.intraSignificances(frags, contacts, None, base)
      .collect()
    val pq = pass1.map(r =>
      (r.getAs[Double]("p_value"), r.getAs[Double]("q_value")))
    // each threshold just above a q value: the p of its largest
    // significant row, and how many rows share that p
    val cuts = pq.map(_._2).distinct.sorted.filter(_ < 1.0).map { q =>
      val pStar = pq.filter(_._2 <= q).map(_._1).max
      (Math.nextUp(q), pq.count(_._1 == pStar))
    }
    val single = cuts.find(_._2 == 1).map(_._1)
    val tied = cuts.find(_._2 > 1).map(_._1)
    single should not be empty
    tied should not be empty
    val pairs = graft.hic.Contacts.classify(contacts, base.distLow,
        base.distUp).filter(col("cls") === "intraInRange")
    val n = pairs.agg(sum("contactCount")).first().getLong(0)
    for (thr <- Seq(single.get, tied.get)) withClue(s"qThreshold $thr: ") {
      val diags = scala.collection.mutable.ArrayBuffer
        .empty[Pipeline.PassDiagnostics]
      Pipeline.intraSignificances(frags, contacts, None,
        base.copy(passes = 2, qThreshold = thr),
        diagSink = Some(diags ++= _)).count()
      val outliers = pass1.filter(_.getAs[Double]("q_value") < thr)
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3)))
      outliers should not be empty
      import spark.implicits._
      val explicit = graft.hic.Binning.collectBins(
        pairs.join(outliers.toSeq.toDF(keys: _*), keys, "left_anti"),
        base.nBins, keys)
      val (xs, raw, fitted) = graft.hic.Spline.fitFromBins(explicit, n)
      diags.filter(_.pass == 2).toSeq shouldBe explicit.indices.map(i =>
        Pipeline.PassDiagnostics(2, explicit(i).getAs[Int]("binIdx"),
          explicit(i).getAs[Long]("pairCount"),
          explicit(i).getAs[Long]("sumCount"), xs(i), raw(i), fitted(i)))
    }
  }

  test("an empty refinement null fails naming its pass, before that " +
      "pass scores") {
    val (frags, contacts) = fixture
    // every pass-1 q is below the threshold, so every pair is an outlier
    // and pass 2 has nothing to bin: M is the observed pair count here,
    // so every q is at most the largest p, which is below 1
    val cfg = FitHiCConfig(nBins = 3, passes = 2, distLow = 0,
      distUp = 1000000L, qThreshold = 1.0)
    def scoring(jobs: Seq[org.apache.spark.scheduler.SparkListenerJobStart])
        : Int = jobs.count(_.stageInfos.maxBy(_.stageId).details
      .contains("Pipeline$.score("))
    val onePass = jobsStartedBy(
      Pipeline.intraSignificances(frags, contacts, None, cfg.copy(passes = 1)))
    var message = ""
    val twoPasses = jobsStartedBy {
      message = (the[IllegalArgumentException] thrownBy
        Pipeline.intraSignificances(frags, contacts, None, cfg)).getMessage
    }
    message should include("pass 2")
    scoring(onePass) should be > 0
    scoring(twoPasses) shouldBe scoring(onePass)
  }

  test("a failing bias table surfaces from the inter model with no " +
      "inter contacts") {
    // the single-chromosome fixture takes the inter model's nothing-to-
    // score branch, which must still await the bias table
    import spark.implicits._
    val (frags, contacts) = fixture
    val noBiasColumn = Seq(("chr1", 2500L)).toDF("chr", "mid")
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      Pipeline.interSignificances(frags, contacts, Some(noBiasColumn),
        FitHiCConfig())
  }

  test("bias factors scale priors (inter model)") {
    import spark.implicits._
    val frags = Seq(("c1", 0L, 2500L, 5L, 1), ("c2", 0L, 2500L, 5L, 1),
      ("c2", 0L, 7500L, 5L, 1))
      .toDF("chr", "extraField", "mid", "hitCount", "mappable")
    val contacts = Seq(("c1", 2500L, "c2", 2500L, 4L),
      ("c1", 2500L, "c2", 7500L, 4L))
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    val out = Pipeline.interSignificances(frags, contacts, None,
      FitHiCConfig()).collect()
    out.length shouldBe 2
    // equal counts + uniform prior → equal p-values
    out.map(_.getAs[Double]("p_value")).distinct.length shouldBe 1
  }
}

class FitHiCMainSpec extends AnyFunSuite with Matchers with SparkTest {
  import org.apache.spark.sql.DataFrame

  /** gz-TSV fixture library on disk: 30 loci (first 10 with hitCount 1,
    * rest 10), near-diagonal contacts with one extreme outlier, and a
    * bias table whose two non-unit factors (0.25, 4.0) sit OUTSIDE the
    * default [0.5, 2.0] clamp.
    */
  private lazy val fixtureDir: String = {
    import spark.implicits._
    val dir = graft.io.Scratch.sub("fithic_cli_fixture")
    val mids = (0 until 30).map(i => 2500L + 5000L * i)
    val frags = mids.zipWithIndex.map { case (m, i) =>
      ("c1", 0L, m, if (i < 10) 1L else 10L, 1) }
      .toDF(graft.io.Tsv.fragmentSchema.fieldNames: _*)
    val contacts = (for {
      i <- 0 until 30; j <- i + 1 until math.min(i + 6, 30)
    } yield ("c1", mids(i), "c1", mids(j),
      if (i == 20 && j == 21) 500L else math.max(1L, 6L / (j - i))))
      .toDF(graft.io.Tsv.contactSchema.fieldNames: _*)
    val biases = mids.zipWithIndex.map { case (m, i) =>
      ("c1", m, if (i == 22) 0.25 else if (i == 25) 4.0 else 1.0) }
      .toDF(graft.io.Tsv.biasSchema.fieldNames: _*)
    graft.io.Tsv.write(frags, s"$dir/frags.gz",
      graft.io.Tsv.fragmentSchema.fieldNames)
    graft.io.Tsv.write(contacts, s"$dir/contacts.gz",
      graft.io.Tsv.contactSchema.fieldNames)
    graft.io.Tsv.write(biases, s"$dir/biases.gz",
      graft.io.Tsv.biasSchema.fieldNames)
    dir
  }

  private def cli(extra: String*): String = {
    val out = graft.io.Scratch.sub("fithic_cli_out")
    graft.hic.FitHiCMain.run(spark, Array("-i", s"$fixtureDir/contacts.gz",
      "-f", s"$fixtureDir/frags.gz", "-o", out, "-l", "t") ++ extra)
    out
  }

  private def sig(out: String, pass: Int): DataFrame =
    spark.read
      .schema("chr1 STRING, mid1 LONG, chr2 STRING, mid2 LONG, " +
        "contactCount LONG, p_value DOUBLE, q_value DOUBLE")
      .option("sep", "\t")
      .csv(s"$out/t.spline_pass$pass.res5000.significances.txt.gz")

  private def pMap(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(1), r.getLong(3)) -> r.getDouble(5))
      .toMap

  test("-m mappability threshold drops pairs touching low-hit fragments") {
    val all = sig(cli(), 1)
    val thr = sig(cli("-m", "5"), 1)
    all.count() should be > thr.count()
    // every surviving pair touches only hitCount≥5 loci (index ≥ 10)
    thr.filter(col("mid1") < 2500L + 5000L * 10).count() shouldBe 0
  }

  test("-bL/-bU widen the bias clamp so out-of-range factors apply") {
    // default clamp [0.5,2.0] neutralizes the 0.25/4.0 biases → identical
    // to a run without a bias table; widened bounds change the scores
    val noBias = pMap(sig(cli(), 1))
    val clamped = pMap(sig(cli("-t", s"$fixtureDir/biases.gz"), 1))
    val widened = pMap(sig(cli("-t", s"$fixtureDir/biases.gz",
      "-bL", "0.1", "-bU", "5.0"), 1))
    clamped shouldBe noBias
    widened should not be clamped
  }

  test("-q refinement threshold gates the pass-2 outlier exclusion") {
    // q=0: nothing qualifies as an outlier (strict <, and the planted
    // outlier's q underflows to exactly 0.0) → pass 2 re-fits the same
    // null → identical scores; default q=0.05 removes the outlier →
    // pass 2 differs from pass 1
    val strict = cli("-p", "2", "-q", "0")
    pMap(sig(strict, 2)) shouldBe pMap(sig(strict, 1))
    val dflt = cli("-p", "2")
    pMap(sig(dflt, 2)) should not be pMap(sig(dflt, 1))
  }

  test("per-pass bins diagnostics emit the fitted monotone null curve") {
    val out = cli("-p", "2")
    def bins(pass: Int) = spark.read
      .schema("binIdx INT, pairCount LONG, sumCount LONG, " +
        "avgDist DOUBLE, rawProb DOUBLE, splineProb DOUBLE")
      .option("sep", "\t")
      .csv(s"$out/t.spline_pass$pass.res5000.bins.txt.gz")
      .orderBy("binIdx").collect()
    for (pass <- 1 to 2) {
      val b = bins(pass)
      b.length should be > 0
      // knots ascend in distance; the fitted prior is non-increasing
      // (the PAVA contract) and a genuine probability
      val dist = b.map(_.getDouble(3))
      dist.zip(dist.tail).foreach { case (x, y) => x should be <= y }
      val fit = b.map(_.getDouble(5))
      fit.zip(fit.tail).foreach { case (x, y) => x should be >= y }
      fit.foreach { p => p should (be > 0.0 and be <= 1.0) }
    }
    // pass 2 refits without the planted outlier → a different curve
    bins(1).map(_.getDouble(5)).toSeq should not be
      bins(2).map(_.getDouble(5)).toSeq
  }

  /** A two-chromosome gz-TSV genome that reaches every stage of
    * `-t -p 2 -x All`: per chromosome 30 loci with near-diagonal contacts
    * and one planted outlier (pass 2 refits without it), inter contacts
    * between the chromosomes, and a bias table over both.
    */
  private lazy val genomeDir: String = {
    import spark.implicits._
    val dir = graft.io.Scratch.sub("fithic_cli_genome")
    val chrs = Seq("c1", "c2")
    val mids = (0 until 30).map(i => 2500L + 5000L * i)
    val frags = for (c <- chrs; m <- mids) yield (c, 0L, m, 10L, 1)
    val intra = for {
      c <- chrs; i <- 0 until 30; j <- i + 1 until math.min(i + 6, 30)
    } yield (c, mids(i), c, mids(j),
      if (i == 10 && j == 11) 400L else math.max(1L, 8L / (j - i)))
    val inter = for (i <- 0 until 30 by 3; j <- 0 until 30 by 4)
      yield ("c1", mids(i), "c2", mids(j), 1L + (i + j) % 3)
    val biases = for (c <- chrs; (m, i) <- mids.zipWithIndex)
      yield (c, m, if (i % 7 == 0) -1.0 else 0.8 + 0.02 * i)
    graft.io.Tsv.write(frags.toDF(graft.io.Tsv.fragmentSchema.fieldNames: _*),
      s"$dir/frags.gz", graft.io.Tsv.fragmentSchema.fieldNames)
    graft.io.Tsv.write((intra ++ inter)
        .toDF(graft.io.Tsv.contactSchema.fieldNames: _*),
      s"$dir/contacts.gz", graft.io.Tsv.contactSchema.fieldNames)
    graft.io.Tsv.write(biases.toDF(graft.io.Tsv.biasSchema.fieldNames: _*),
      s"$dir/biases.gz", graft.io.Tsv.biasSchema.fieldNames)
    dir
  }

  /** The id the next Spark job gets (a marker job's own id + 1). */
  private def nextJobId(): Int = {
    val marker = spark.sparkContext.parallelize(Seq(1), 1).countAsync()
    scala.concurrent.Await.ready(marker, scala.concurrent.duration.Duration.Inf)
    marker.jobIds.head + 1
  }

  /** Each output table's name and its parts' decompressed bytes. */
  private def contents(out: String): Seq[(String, Seq[Byte])] = {
    def parts(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else f.listFiles().toSeq.filter(p => p.isFile &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .sortBy(_.getName)
    new java.io.File(out).listFiles().toSeq.sortBy(_.getName).map { t =>
      t.getName -> parts(t).flatMap { p =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.FileInputStream(p))
        try in.readAllBytes().toSeq finally in.close()
      }
    }
  }

  /** The executed plan of every SQL execution that ends while `body`
    * runs (final adaptive plans).
    */
  private def executedPlans(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val lastJobEnd = new java.util.concurrent.atomic.AtomicInteger(-1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        lastJobEnd.accumulateAndGet(j.jobId, math.max)
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          // the event's QueryExecution is private[sql]: read it reflectively
          Option(end.getClass.getMethod("qe").invoke(end)).foreach(qe =>
            plans.add(qe.asInstanceOf[QueryExecution].executedPlan))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the bus delivers in order: once a marker job's end arrives, so
      // has every event posted before it
      val marker = nextJobId() - 1
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (lastJobEnd.get < marker && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** Every node of `p`, through adaptive plans, query stages and reused
    * exchanges, and into the plans that built its cached data when
    * `intoCaches`.
    */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan,
      intoCaches: Boolean): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, intoCaches)
      case s: QueryStageExec => nodes(s.plan, intoCaches)
      case m: InMemoryTableScanExec =>
        if (intoCaches) nodes(m.relation.cachedPlan, intoCaches) else Nil
      case r: ReusedExchangeExec => nodes(r.child, intoCaches)
      case other =>
        (other.children ++ other.subqueries).flatMap(nodes(_, intoCaches))
    })
  }

  test("a repeated -t -p 2 -x All op fits Spark's default codegen cache " +
      "and its job budget") {
    // the gate is meaningless under an enlarged cache: it holds at the
    // default every caller's session has
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe "100"
    def op(): (String, Long, Int) = {
      val c0 = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      val j0 = nextJobId()
      val out = graft.io.Scratch.sub("fithic_cli_gate")
      graft.hic.FitHiCMain.run(spark, Array("-i", s"$genomeDir/contacts.gz",
        "-f", s"$genomeDir/frags.gz", "-t", s"$genomeDir/biases.gz",
        "-o", out, "-l", "t", "-p", "2", "-x", "All"))
      graft.ops.Caches.drain()
      val jobs = nextJobId() - 1 - j0
      (out, org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount - c0, jobs)
    }
    var first = ""
    val plans = executedPlans { first = op()._1 }
    // every significance table is a projection of the front end's
    // position-ordered layout: its write plans no exchange and no sort
    val writes = plans.flatMap(nodes(_, intoCaches = false)).collect {
      case w: org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec => w
    }
    writes.size shouldBe 3
    writes.foreach { w =>
      nodes(w, intoCaches = false).collect {
        case x: org.apache.spark.sql.execution.exchange.Exchange => x
        case x: org.apache.spark.sql.execution.SortExec => x
      } shouldBe empty
    }
    // every lookup the op plans joins on one packed long key, so each
    // builds a LongHashedRelation, not a paged UnsafeHashedRelation
    val bhjs = plans.flatMap(nodes(_, intoCaches = true)).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    bhjs should not be empty
    bhjs.foreach { j =>
      val buildKeys = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.leftKeys
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.rightKeys
      }
      buildKeys.map(_.dataType) shouldBe
        Seq(org.apache.spark.sql.types.LongType)
    }
    val (second, compiles, jobs) = op()
    // every class the op needs is still cached from the first run: the
    // op's generated-code working set fits the 100-entry cache
    compiles shouldBe 0L
    // the job census of the CLI op (75 before the shared front end, 53
    // before the lookups moved to the front end and the threshold null,
    // 46 while BH walked a p-ordered layout and each write re-sorted)
    jobs should be <= 32
    val a = contents(first)
    a.map(_._1) should contain allOf ("t.interOnly.res5000.significances.txt.gz",
      "t.spline_pass2.res5000.significances.txt.gz")
    a.foreach(t => t._2 should not be empty)
    contents(second) shouldBe a
  }
}

class BiasSpec extends AnyFunSuite with Matchers with SparkTest {
  test("withBiases clamps -1 and out-of-range factors to 1.0") {
    import spark.implicits._
    val contacts = Seq(("c1", 2500L, "c1", 7500L, 5L),
      ("c1", 7500L, "c1", 12500L, 5L), ("c1", 2500L, "c1", 17500L, 5L))
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    val biases = Seq(("c1", 2500L, 1.2), ("c1", 7500L, -1.0),
      ("c1", 12500L, 9.9) /* out of [0.5,2] */, ("c1", 17500L, 0.8))
      .toDF("chr", "mid", "bias")
    val out = graft.hic.Contacts.withBiases(contacts, biases, 0.5, 2.0)
      .select("mid1", "mid2", "bias1", "bias2").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    out((2500L, 7500L)) shouldBe ((1.2, 1.0))   // -1 → excluded → 1.0
    out((7500L, 12500L)) shouldBe ((1.0, 1.0))  // -1 and 9.9 both → 1.0
    out((2500L, 17500L)) shouldBe ((1.2, 0.8))  // in-range pass through
  }
  test("missing bias rows default to factor 1.0") {
    import spark.implicits._
    val contacts = Seq(("c1", 2500L, "c1", 99999L, 5L))
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    val biases = Seq(("c1", 2500L, 1.5)).toDF("chr", "mid", "bias")
    val r = graft.hic.Contacts.withBiases(contacts, biases, 0.5, 2.0)
      .select("bias1", "bias2").first()
    r.getDouble(0) shouldBe 1.5
    r.getDouble(1) shouldBe 1.0
  }
}

class BroadcastBudgetSpec extends AnyFunSuite with Matchers {
  test("SPARK_GRAFT_BC_BUDGET_MB: default 64 MB; nonpositive or " +
      "unparseable values fail loudly") {
    import graft.ops.Warehouse.broadcastBudgetBytes
    broadcastBudgetBytes(None) shouldBe (64L << 20)
    broadcastBudgetBytes(Some(" 128 ")) shouldBe (128L << 20)
    for (bad <- Seq("0", "-5", "64MB", "", "1e3", "99999999999999999"))
      withClue(bad) {
        an[IllegalArgumentException] should be thrownBy
          broadcastBudgetBytes(Some(bad))
      }
  }
}

class ApproxDistinctSpec extends AnyFunSuite with Matchers with SparkTest {
  test("approx_count_distinct within 10% of exact on events") {
    val e = Tables(spark, "/root/testdata/sf0.01", "events")
    val rows = e.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("a"),
        countDistinct(col("user_id")).as("x"))
      .collect()
    rows.length should be > 0
    rows.foreach { r =>
      val (a, x) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      math.abs(a - x) / x should be <= 0.1
    }
  }

  test("hll sketches: per-group estimates near exact; union-merged " +
    "estimate near the global exact count") {
    val dir = "/root/testdata/sf0.01"
    val e = Tables(spark, dir, "events")
    val exact = e.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("x")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = e.select("user_id").distinct().count()
    val rows = Registry.all("q_agg_hll_sketch").fn(spark, dir).collect()
    rows.length shouldBe exact.size + 1
    rows.foreach { r =>
      val truth = if (r.getString(0) == "__all") exactAll
        else exact(r.getString(0))
      math.abs(r.getLong(1).toDouble - truth) / truth should be <= 0.1
    }
    // the merged row counts every event exactly once
    rows.find(_.getString(0) == "__all").get.getLong(2) shouldBe e.count()
  }

  test("approx quantile sketch: rank error within the accuracy bound") {
    val dir = "/root/testdata/sf0.01"
    val ps = Seq(0.5, 0.9, 0.99)
    val exact = Tables(spark, dir, "orders")
      .withColumn("tp_c", graft.ops.Cols.cents(col("o_totalprice")))
      .select("o_orderpriority", "tp_c").collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted).toMap
    val rows = Registry.all("q_agg_approx_quantile").fn(spark, dir)
      .collect()
    rows.length shouldBe exact.size
    rows.foreach { r =>
      val sorted = exact(r.getString(0))
      val n = sorted.length.toDouble
      r.getLong(1) shouldBe sorted.length.toLong
      // one scalar column per declared percentile — a drifting ps list
      // must fail here, not zip-truncate the rank-law loop silently
      r.length shouldBe 2 + ps.length
      val ests = Seq(r.getLong(2), r.getLong(3), r.getLong(4))
      ps.zip(ests).foreach { case (p, est) =>
        // GK guarantee: the estimate's RANK is within n/accuracy of p·n
        val rank = sorted.count(_ <= est).toDouble
        math.abs(rank - p * n) should be <= (n / 1000.0 + 1.0)
      }
    }
  }
}

class KrSpec extends AnyFunSuite with Matchers with SparkTest {
  test("balancing drives scaled row sums toward uniform") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val n = 12
    val contacts = (for {
      i <- 0 until n; j <- i until n
    } yield ("c1", 2500L + 5000L * i, 2500L + 5000L * j,
      rnd.nextInt(30).toLong + 1L))
      .map { case (c, m1, m2, w) => (c, m1, c, m2, w) }
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    val bias = Kr.biases(contacts, trimPercentile = 0.0, iterations = 30)
    val b = bias.filter(col("bias") =!= -1.0)
      .collect().map(r => r.getAs[Long]("mid") -> r.getAs[Double]("bias"))
      .toMap
    b.size shouldBe n
    // scaled row sums: Σ_j w_ij/(b_i b_j) should be ≈ equal across i
    val w = Array.ofDim[Double](n, n)
    contacts.collect().foreach { r =>
      val i = ((r.getAs[Long]("mid1") - 2500) / 5000).toInt
      val j = ((r.getAs[Long]("mid2") - 2500) / 5000).toInt
      w(i)(j) += r.getAs[Long]("contactCount").toDouble
      if (i != j) w(j)(i) += r.getAs[Long]("contactCount").toDouble
    }
    val rowSums = (0 until n).map { i =>
      (0 until n).map { j =>
        w(i)(j) / (b(2500L + 5000L * i) * b(2500L + 5000L * j))
      }.sum
    }
    val mean = rowSums.sum / n
    rowSums.foreach(rs => math.abs(rs - mean) / mean should be < 0.05)
  }
  test("in-task and distributed KR paths agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val contacts = (for {
      i <- 0 until 15; j <- i until 15
      if rnd.nextDouble() < 0.7
    } yield ("c1", 2500L + 5000L * i, "c1", 2500L + 5000L * j,
      rnd.nextInt(40).toLong + 1L))
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    // nonzero trim: both paths use the same exact interpolated percentile
    // formula, so trim membership must agree too (not just the
    // Sinkhorn/loner/normalization core)
    def collect(maxEdges: Long) = ChrSolver.maxEdges.withValue(maxEdges) {
      Kr.biases(contacts, trimPercentile = 0.1, iterations = 15)
        .collect().map(r => r.getAs[Long]("mid") -> r.getAs[Double]("bias"))
        .toMap
    }
    val inTask = collect(Long.MaxValue) // everything routed in-task
    val dist = collect(0L) // everything routed distributed
    inTask.keySet shouldBe dist.keySet
    inTask.foreach { case (mid, b) =>
      // identical semantics, different float-accumulation order
      math.abs(b - dist(mid)) should be < 1e-9
    }
  }

  test("a call routing one chromosome in-task and one distributed agrees " +
      "with the all-in-task run") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def chr(name: String, n: Int) = for {
      i <- 0 until n; j <- i until n
      if rnd.nextDouble() < 0.7
    } yield (name, 2500L + 5000L * i, name, 2500L + 5000L * j,
      rnd.nextInt(40).toLong + 1L)
    val contacts = (chr("big", 15) ++ chr("small", 7))
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    // edges per chromosome: 2·pairs − diagonals
    val edges = contacts.groupBy("chr1")
      .agg((count(lit(1)) * 2 -
        sum(when(col("mid1") === col("mid2"), 1L).otherwise(0L))).as("ne"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    edges("small") should be < edges("big")
    val iterations = 15
    def collect(maxEdges: Long) = {
      var bias = Map.empty[(String, Long), Double]
      val jobs = jobsStartedBy {
        val rows = ChrSolver.maxEdges.withValue(maxEdges) {
          Kr.biases(contacts, trimPercentile = 0.1, iterations = iterations)
            .collect().map(r => (r.getString(0), r.getLong(1)) ->
              r.getDouble(2))
        }
        bias = rows.toMap
        bias.size shouldBe rows.length // each locus from one path only
      }
      (bias, jobs.size)
    }
    val (inTask, inTaskJobs) = collect(Long.MaxValue)
    // the cap sits between the two: "small" fits a task, "big" does not
    val (mixed, mixedJobs) = collect(edges("small"))
    mixedJobs should be > inTaskJobs + iterations // big ran distributed
    mixed.keySet shouldBe inTask.keySet
    mixed.filter(_._2 == -1.0).keySet shouldBe
      inTask.filter(_._2 == -1.0).keySet
    inTask.foreach { case (k, b) =>
      math.abs(b - mixed(k)) should be < 1e-9
    }
    // the in-task chromosome runs the same kernel either way
    mixed.filter(_._1._1 == "small") shouldBe
      inTask.filter(_._1._1 == "small")
  }

  test("trimmed low-coverage loci get bias -1") {
    import spark.implicits._
    val contacts = (Seq(("c1", 2500L, "c1", 7500L, 100L),
      ("c1", 2500L, "c1", 12500L, 90L), ("c1", 7500L, "c1", 12500L, 80L),
      ("c1", 2500L, "c1", 17500L, 1L))) // locus 17500 nearly isolated
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    // both routing paths must trim it (identical exact interpolated
    // percentile on both sides)
    for (maxEdges <- Seq(Long.MaxValue, 0L)) {
      ChrSolver.maxEdges.withValue(maxEdges) {
        Kr.biases(contacts, trimPercentile = 0.3, iterations = 5)
          .filter(col("mid") === 17500L).first()
          .getAs[Double]("bias") shouldBe -1.0
      }
    }
  }
}

class RangedReuseSpec extends AnyFunSuite with Matchers with SparkTest {
  test("binning a broadcast-anti-filtered ranged cache equals re-ranging") {
    // gates assumeRanged binning, which the Pipeline refinement uses
    // over a narrow filter of its dist-ranged cache: a layout-preserving
    // narrow operator (here a broadcast anti-join) over the ranged cache
    // must keep the layout exactly, so assumeRanged binning and a fresh
    // range exchange produce identical bins
    val dir = "/root/testdata/sf0.001"
    val keys = Seq("chr1", "mid1", "chr2", "mid2")
    val c = hic.ContactsView(spark, dir)
      .filter(col("dist").between(50000L, 5000000L))
      .select(col("chr").as("chr1"), col("mid1"), col("chr").as("chr2"),
        col("mid2"), col("contactCount"), col("dist"))
      .persist()
    val outliers = c.filter(pmod(col("mid1") + col("mid2"), lit(100000L))
      === 2500L).select(keys.map(col): _*)
    val distOrder = col("dist") +: keys.map(col)
    val ranged = c
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        distOrder: _*)
      .sortWithinPartitions(distOrder: _*)
      .persist()
    val viaReuse = hic.Binning.collectBins(
      ranged.join(broadcast(outliers), keys, "left_anti"), 50, keys,
      assumeRanged = true)
    val viaRerange = hic.Binning.collectBins(
      c.join(outliers, keys, "left_anti"), 50, keys)
    viaReuse.length shouldBe viaRerange.length
    viaReuse.zip(viaRerange).foreach { case (a, b) => a shouldBe b }
    c.unpersist(); ranged.unpersist()
  }
}

class ConnectedComponentsSpec extends AnyFunSuite with Matchers
    with SparkTest {
  test("min-label propagation finds components of chain/triangle/isolated") {
    import spark.implicits._
    // components: chain 1-2-3-4 (diameter 3, needs >1 iteration),
    // triangle 10-11-12, isolated vertex 20
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L)).toDF("doc_a", "doc_b")
    val got = llm.Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
  }

  test("non-convergence within maxIters fails loudly, never silently") {
    import spark.implicits._
    // maxDriverEdges=0 forces the distributed path and contractFloor=2
    // stops the contraction before the one-task exact stage, so the
    // min-label completion loop runs: a chain split across ≥2 partitions
    // needs ≥2 propagation rounds over the reduced forest — maxIters=1
    // must throw rather than return split clusters that look valid
    val vertices = (1L to 12L).toDF("doc_id")
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    an[IllegalArgumentException] should be thrownBy
      llm.Dedup.connectedComponents(vertices, pairs, maxIters = 1,
        maxDriverEdges = 0L, contractFloor = 2).collect()
  }

  test("driver union-find and distributed propagation agree exactly") {
    import spark.implicits._
    // chains, a triangle, a star, isolated vertices — both paths must
    // produce identical (doc_id, cluster) labelings
    val vertices = (1L to 30L).toDF("doc_id")
    val pairs = ((1L until 8L).map(i => (i, i + 1)) ++
      Seq((10L, 11L), (11L, 12L), (10L, 12L)) ++
      (21L to 25L).map(i => (20L, i))).toDF("doc_a", "doc_b")
    val fast = llm.Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = llm.Dedup.connectedComponents(vertices, pairs,
      maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fast shouldBe dist
    // and the floor>1 variant (contraction + min-label completion — the
    // escape hatch for vertex sets too big for one task) agrees too
    val floored = llm.Dedup.connectedComponents(vertices, pairs,
      maxDriverEdges = 0L, contractFloor = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fast shouldBe floored
    fast(8L) shouldBe 1L // chain end reached its min label
    fast(25L) shouldBe 20L // star leaves take the hub's min
    fast(30L) shouldBe 30L // isolated
  }
}

class SimilaritySpec extends AnyFunSuite with Matchers with SparkTest {
  private def embeddings = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0L until 30L).map { id =>
      (id, (id % 3).toInt, Array.fill(8)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "label", "embedding")
  }

  test("IVF with a single cell reduces to exact brute-force top-3") {
    val e = embeddings
    val got = llm.Similarity
      .annIvfTop3(e, nProbes = 5, k = 1, iters = 2, probeClusters = 1)
      .orderBy("probe", "rn").collect()
      .map(r => (r.getAs[Long]("probe"), r.getAs[Int]("rn"),
        r.getAs[Long]("nb")))
    // brute force with the identical quantized-integer cosine
    val vecs = e.collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(x => {
          val v = x.toDouble * 1e7
          if (v >= 0) Math.floor(v + 0.5).toLong
          else Math.ceil(v - 0.5).toLong
        }).toArray
    }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / math.sqrt(a.map(x => x * x).sum.toDouble *
        b.map(x => x * x).sum.toDouble)
    }
    val expected = (0L until 5L).flatMap { p =>
      vecs.keys.filter(_ != p).toSeq
        .map(nb => (nb, cos(vecs(p), vecs(nb))))
        .sortBy { case (nb, c) => (-c, nb) }
        .take(3).zipWithIndex
        .map { case ((nb, _), i) => (p, i + 1, nb) }
    }
    got.toSeq shouldBe expected
  }

  test("IVF output is deterministic across runs") {
    def run() = llm.Similarity
      .annIvfTop3(embeddings, nProbes = 6, k = 4, iters = 3)
      .orderBy("probe", "rn").collect().map(_.toSeq).toSeq
    run() shouldBe run()
  }

  test("LSH exhaustive mode is the exact Euclidean top-3") {
    val e = embeddings
    val got = llm.Similarity
      .annTop3(e, nProbes = 5, euclidThreshold = 1e12, exhaustive = true)
      .orderBy("probe", "rn").collect()
      .map(r => (r.getAs[Long]("probe"), r.getAs[Int]("rn"),
        r.getAs[Long]("nb")))
    val vecs = e.collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray
    }.toMap
    def euclid(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val expected = (0L until 5L).flatMap { p =>
      vecs.keys.filter(_ != p).toSeq
        .map(nb => (nb, euclid(vecs(p), vecs(nb))))
        .sortBy { case (nb, d) => (d, nb) }
        .take(3).zipWithIndex
        .map { case ((nb, _), i) => (p, i + 1, nb) }
    }
    got.toSeq shouldBe expected
  }

  test("LSH hash-path rows appear in the exhaustive relation " +
      "with identical distances") {
    val e = embeddings
    def rows(exhaustive: Boolean) = llm.Similarity
      .annTop3(e, nProbes = 5, euclidThreshold = 1e12,
        exhaustive = exhaustive)
      .collect()
      .map(r => (r.getAs[Long]("probe"), r.getAs[Long]("nb")) ->
        r.getAs[Double]("euclid")).toMap
    val lsh = rows(exhaustive = false)
    val full = rows(exhaustive = true)
    lsh.nonEmpty shouldBe true
    // a pruned top-3 can rank differently, but every LSH (probe, nb)
    // surviving to the top-3 must carry the exact distance the complete
    // path computed for that pair — the distance kernels are the same fn
    lsh.foreach { case (pair, d) =>
      full.get(pair).foreach(_ shouldBe d)
    }
    // with an unreachable threshold and 4 hash tables over 30 vectors,
    // rank-1 neighbors collide in practice for this seed: the two paths
    // agree on every probe's nearest neighbor
    val nn1 = (0L until 5L).map { p =>
      full.collect { case ((pp, nb), d) if pp == p => (d, nb) }.min._2
    }
    val lshTop = llm.Similarity
      .annTop3(e, nProbes = 5, euclidThreshold = 1e12)
      .filter(col("rn") === 1).orderBy("probe").collect()
      .map(_.getAs[Long]("nb")).toSeq
    lshTop shouldBe nn1
  }
}

/** Golden/differential pin for the Fisher χ² tail
  * ([[graft.functions.FisherCombine.pValue]]): for even dof 2k the
  * survival function has the closed form e^{−x/2}·Σ_{i<k}(x/2)^i/i! —
  * the same identity the q_hic_fisher_tail_check DuckDB oracle uses.
  */
class FisherTailSpec extends AnyFunSuite with Matchers {
  private def closedForm(x: Double, k: Int): Double = {
    val h = x / 2.0
    var term = 1.0
    var sum = 1.0
    for (i <- 1 until k) { term *= h / i; sum += term }
    math.exp(-h) * sum
  }

  test("pValue equals the even-dof closed form across a parameter sweep") {
    for (k <- Seq(1, 2, 5, 10, 25); x <- Seq(0.1, 1.0, 5.0, 10.0, 20.0,
        50.0, 100.0)) {
      val got = graft.functions.FisherCombine.pValue(x, k.toLong)
      val want = closedForm(x, k)
      // pValue = 1 − CDF: absolute precision bottoms out at ~ulp(1.0)
      // (the 1−cdf cancellation), so deep tails are pinned absolutely
      // and moderate values relatively
      math.abs(got - want) should be <=
        math.max(1e-14, 1e-12 * want)
    }
  }

  test("pValue edge cases and monotonicity") {
    graft.functions.FisherCombine.pValue(5.0, 0L) shouldBe 1.0
    graft.functions.FisherCombine.pValue(0.0, 3L) shouldBe 1.0 +- 1e-12
    val ps = (1 to 40).map(i =>
      graft.functions.FisherCombine.pValue(i * 2.5, 5L))
    ps.sliding(2).foreach { case Seq(a, b) => b should be <= a }
    ps.last should be < 1e-6
  }
}

class MergeFilterSpec extends AnyFunSuite with Matchers with SparkTest {
  test("adjacent runs merge; gaps split") {
    import spark.implicits._
    val sig = Seq(
      ("c1", 2500L, "c1", 12500L, 5L),
      ("c1", 2500L, "c1", 17500L, 6L), // adjacent to 12500
      ("c1", 2500L, "c1", 32500L, 7L), // gap
      ("c1", 7500L, "c1", 12500L, 8L)) // different mid1
      .toDF("chr1", "mid1", "chr2", "mid2", "contactCount")
    val runs = MergeFilter.mergeAdjacent(sig, 5000L)
      .orderBy("mid1", "mid2_start").collect()
    runs.length shouldBe 3
    val first = runs(0)
    first.getAs[Long]("mid2_start") shouldBe 12500L
    first.getAs[Long]("mid2_end") shouldBe 17500L
    first.getAs[Long]("n_bins") shouldBe 2L
    first.getAs[Long]("sumCount") shouldBe 11L
  }
}

class DedupSpec extends AnyFunSuite with Matchers with SparkTest {
  private def docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      (1L, base, "en", "s", base.length.toLong),
      (2L, base, "en", "s", base.length.toLong), // exact dup of 1
      (3L, base.replace("lazy", "sleepy"), "en", "s", 0L), // near dup
      (4L, "completely different words entirely unrelated content here now",
        "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("exact duplicates are MinHash near-duplicates (distance 0)") {
    val pairs = Dedup.minhashPairs(docs, maxDist = 0.95).collect()
    val exact = pairs.find(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L)
    exact should not be empty
    exact.get.getAs[Double]("jaccard_dist") shouldBe 0.0
    // near-dup found, unrelated doc not paired with 1 at low distance
    pairs.exists(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 3L) shouldBe true
  }
  test("simhash: identical docs at hamming 0; near dups close") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 20).collect()
    val exact = pairs.find(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L)
    exact should not be empty
    exact.get.getAs[Int]("hamming") shouldBe 0
  }
  test("ngram jaccard: identical docs = 1.0; disjoint docs absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.0).collect()
    pairs.find(r => r.getAs[Long]("doc_a") == 1L &&
        r.getAs[Long]("doc_b") == 2L)
      .get.getAs[Double]("jaccard") shouldBe 1.0
    pairs.exists(r => r.getAs[Long]("doc_b") == 4L) shouldBe false
  }

  test("ngram jaccard candidate cap keeps all exact-dup pairs") {
    import spark.implicits._
    // one 3-clone cluster, a hub document sharing a weak overlap with
    // many satellites (the pathological candidate fan-out), an unrelated
    // doc; satellites share their tail with the hub only
    val hubBase = "alpha beta gamma delta epsilon zeta eta theta"
    val clones = (1L to 3L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog", "en", "s", 0L))
    val hub = Seq((10L, hubBase, "en", "s", 0L))
    val sats = (11L to 22L).map(i =>
      (i, s"unique$i words$i only$i " + hubBase, "en", "s", 0L))
    val other = Seq((99L, "entirely different content nothing shared here",
      "en", "s", 0L))
    val d = (clones ++ hub ++ sats ++ other)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def pairSet(k: Int) =
      Dedup.ngramJaccardPairs(d, 3, 0.0, maxCandidatesPerDoc = k)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
    val uncapped = pairSet(Int.MaxValue)
    val capped = pairSet(3)
    // the cap only removes rows, never invents them
    capped.subsetOf(uncapped) shouldBe true
    // it actually bounded the quadratic fan-out: the 12 satellites all
    // pair with each other (66 sat-sat candidates), and only pairs in
    // some endpoint's top-3 survive. (Hub-sat pairs all survive via the
    // satellites' own top-3 — union semantics keeps a pair its weaker
    // endpoint still values, which is exactly the recall-preserving
    // behavior the knob documents.)
    capped.size should be < uncapped.size
    def satSat(s: Set[(Long, Long, Double)]) =
      s.count { case (a, b, _) => a >= 11L && a <= 22L && b >= 11L &&
        b <= 22L }
    satSat(capped) should be < satSat(uncapped)
    // every exact-duplicate pair (jaccard == 1.0) survives: clones rank
    // first for their endpoints by maximal intersection
    val exactPairs = uncapped.filter(_._3 == 1.0)
    exactPairs.nonEmpty shouldBe true
    exactPairs.subsetOf(capped) shouldBe true
  }
}

class MultimodalSpec extends AnyFunSuite with Matchers with SparkTest {
  test("binary lift + mapPartitions feature extraction round-trips") {
    import spark.implicits._
    val docs = Seq((1L, "hello world", "en", "img", 11L),
      (2L, "abc", "en", "aud", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = Multimodal.extractFeatures(Multimodal.asMedia(docs))
      .collect().sortBy(_.media_id)
    feats.length shouldBe 2
    feats(0).n_bytes shouldBe 11
    feats(0).channels shouldBe 3
    // deterministic stub: same payload → same pseudo-dimensions
    val again = Multimodal.extractFeatures(Multimodal.asMedia(docs))
      .collect().sortBy(_.media_id)
    again.map(f => (f.width, f.height, f.checksum)) shouldBe
      feats.map(f => (f.width, f.height, f.checksum))
  }

  test("resize plan: fits the box, never upscales, keeps aspect within " +
      "floor error, sizes the output payload exactly") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val box = 224
    val rs = Multimodal.resizePlan(
      Multimodal.extractFeatures(Multimodal.asMedia(docs)), box).collect()
    rs.nonEmpty shouldBe true
    rs.exists(_.downscaled) shouldBe true
    rs.foreach { r =>
      if (r.downscaled) {
        math.max(r.out_w, r.out_h) shouldBe box
        // floor error bound: |ow/oh − w/h| comes only from two floors
        math.abs(r.out_w.toLong * r.height - r.out_h.toLong * r.width)
          .toDouble should be <= math.max(r.width, r.height).toDouble
      } else {
        r.out_w shouldBe r.width
        r.out_h shouldBe r.height
      }
      r.out_w should be <= r.width
      r.out_h should be <= r.height
      r.out_bytes shouldBe r.out_w.toLong * r.out_h * 3
    }
  }
}

class CdcLawSpec extends AnyFunSuite with Matchers with SparkTest {
  import graft.ops.Warehouse
  private val dir = "/root/testdata/sf0.001"

  // the result as a comparable state on the WRITTEN columns: one
  // (key, bal_c) per surviving row (the unwritten `name` column follows
  // partial-update semantics — see applyCdc's scaladoc — so it is
  // excluded from the sequencing law by design, not by accident)
  private def state(df: org.apache.spark.sql.DataFrame) =
    df.select("key", "bal_c").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  // a merge RESULT re-shaped as a base for the next day's changeset
  private def asBase(df: org.apache.spark.sql.DataFrame) =
    df.select("key", "name", "bal_c")

  test("sequencing law: day-by-day application equals the collapsed union") {
    val base = Warehouse.cdcBase(spark, dir)
    val changes = Warehouse.cdcChanges(spark, dir)
    val cut = changes.agg(
      org.apache.spark.sql.functions.expr("percentile_approx(tus, 0.5)"))
      .head().getLong(0)
    val day1 = changes.filter(col("tus") <= cut)
    val day2 = changes.filter(col("tus") > cut)
    // both days non-trivial, or the law test is vacuous
    day1.count() should be > 0L
    day2.count() should be > 0L
    val sequential =
      Warehouse.applyCdc(asBase(Warehouse.applyCdc(base, day1)), day2)
    val collapsed = Warehouse.applyCdc(base, changes)
    state(sequential) shouldBe state(collapsed)
    graft.ops.Caches.drain()
  }

  test("full-column upsert closes the partial-update caveat: split " +
      "batches equal the collapsed union on ALL columns") {
    val base = Warehouse.cdcBase(spark, dir)
    val changes = Warehouse.cdcChangesFullFrom(
      graft.Tables(spark, dir, "events"))
    val cut = changes.agg(
      org.apache.spark.sql.functions.expr("percentile_approx(tus, 0.5)"))
      .head().getLong(0)
    val day1 = changes.filter(col("tus") <= cut)
    val day2 = changes.filter(col("tus") > cut)
    day1.count() should be > 0L
    day2.count() should be > 0L
    // includes the delete-then-update-across-batches keys applyCdc's
    // partial form documents as divergent on `name`; with every column
    // in the changeset the states match on name TOO (only the action
    // label may differ, by design)
    def stateAll(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "name", "bal_c").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
    val sequential = Warehouse.applyCdcFull(
      asBase(Warehouse.applyCdcFull(base, day1)), day2)
    val collapsed = Warehouse.applyCdcFull(base, changes)
    stateAll(sequential) shouldBe stateAll(collapsed)
    // replay idempotence carries over to the full-column form
    val twice = Warehouse.applyCdcFull(asBase(collapsed), changes)
    stateAll(twice) shouldBe stateAll(collapsed)
    graft.ops.Caches.drain()
  }

  test("large-changeset fallback: cap-forced shuffle branch is " +
      "broadcast-free and state-identical, both variants") {
    val base = Warehouse.cdcBase(spark, dir)
    // cap 0 forces the shuffle joins — the backfill/initial-load shape
    // where the changeset is comparable to the base and must not
    // broadcast-build
    val partial = Warehouse.applyCdc(base,
      Warehouse.cdcChanges(spark, dir), maxBroadcastKeys = 0L)
    val pPlan = partial.queryExecution.executedPlan.toString
    pPlan should not include "BroadcastHashJoin"
    pPlan should include("SortMergeJoin")
    state(partial) shouldBe
      state(Warehouse.applyCdc(base, Warehouse.cdcChanges(spark, dir)))
    val full = Warehouse.applyCdcFull(base,
      Warehouse.cdcChangesFullFrom(graft.Tables(spark, dir, "events")),
      maxBroadcastKeys = 0L)
    full.queryExecution.executedPlan.toString should
      not include "BroadcastHashJoin"
    def all(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "name", "bal_c", "action").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).sorted.toSeq
    all(full) shouldBe all(Warehouse.applyCdcFull(base,
      Warehouse.cdcChangesFullFrom(graft.Tables(spark, dir, "events"))))
    graft.ops.Caches.drain()
  }

  test("replay idempotence: applying the same changeset twice changes nothing") {
    val base = Warehouse.cdcBase(spark, dir)
    val changes = Warehouse.cdcChanges(spark, dir)
    val once = Warehouse.applyCdc(base, changes)
    val twice = Warehouse.applyCdc(asBase(once), changes)
    state(twice) shouldBe state(once)
    // and a replayed key can never double-apply into duplicates
    twice.groupBy("key").count()
      .filter(col("count") > 1).count() shouldBe 0L
    graft.ops.Caches.drain()
  }

  private def scd2Base = Warehouse.cdcBase(spark, dir)
    .withColumn("vf_us", org.apache.spark.sql.functions.lit(0L))
    .withColumn("vt_us",
      org.apache.spark.sql.functions.lit(Warehouse.Scd2OpenUs))

  private def scd2Rows(df: org.apache.spark.sql.DataFrame) =
    df.select("key", "name", "bal_c", "vf_us", "vt_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq

  test("scd2 current-projection law: the open versions equal the " +
      "full-column upsert's surviving rows") {
    val changes = Warehouse.cdcChangesFullFrom(graft.Tables(spark, dir,
      "events"))
    val hist = Warehouse.applyCdcScd2(scd2Base, changes)
    val current = hist.filter(col("vt_us") === Warehouse.Scd2OpenUs)
      .select("key", "name", "bal_c").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val upsert = Warehouse
      .applyCdcFull(Warehouse.cdcBase(spark, dir), changes)
      .select("key", "name", "bal_c").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    current shouldBe upsert
    graft.ops.Caches.drain()
  }

  test("scd2 replay is a strict no-op: every row kept, history identical") {
    val changes = Warehouse.cdcChangesFullFrom(graft.Tables(spark, dir,
      "events"))
    val once = Warehouse.applyCdcScd2(scd2Base, changes)
    val replay = Warehouse.applyCdcScd2(
      once.select("key", "name", "bal_c", "vf_us", "vt_us"), changes)
    replay.filter(col("action") =!= "kept").count() shouldBe 0L
    scd2Rows(replay) shouldBe scd2Rows(once)
    graft.ops.Caches.drain()
  }

  test("compact scd2 fold + append-only log reconstructs the " +
      "full-history fold") {
    val changes = Warehouse.cdcChangesFullFrom(graft.Tables(spark, dir,
      "events"))
    val cut = changes.agg(
      org.apache.spark.sql.functions.expr("percentile_approx(tus, 0.5)"))
      .head().getLong(0)
    val day1 = changes.filter(col("tus") <= cut)
    val day2 = changes.filter(col("tus") > cut)
    day1.count() should be > 0L
    day2.count() should be > 0L
    val cols = Seq("key", "name", "bal_c", "vf_us", "vt_us")
    val full = Warehouse.applyCdcScd2(
      Warehouse.applyCdcScd2(scd2Base, day1)
        .select(cols.head, cols.tail: _*), day2)
    val (c1, log1) = Warehouse.applyCdcScd2Compact(scd2Base, day1)
    val (c2, log2) = Warehouse.applyCdcScd2Compact(c1, day2)
    // the compact state is key-bounded: open rows + tombstones only
    c2.count() should be < full.count()
    val recon = log1.unionByName(log2)
      .unionByName(c2.filter(col("vt_us") === Warehouse.Scd2OpenUs))
    scd2Rows(recon) shouldBe scd2Rows(full)
    graft.ops.Caches.drain()
  }

  test("merge-on-read: readback equals the copy-on-write merge, base " +
      "files are immutable, compaction is invisible") {
    val root = Warehouse.mergeOnReadLayout(spark, dir)
    def baseSig = new java.io.File(s"$root/base").listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).sorted
    val sig0 = baseSig
    sig0 should not be empty
    def all(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "name", "bal_c").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
    val mor = all(Warehouse.mergeOnReadScan(spark, root))
    val cow = all(Warehouse.applyCdcFull(Warehouse.cdcBase(spark, dir),
      Warehouse.cdcChangesFullFrom(graft.Tables(spark, dir, "events"))))
    mor shouldBe cow
    // reading reconciled state never touched a base byte
    baseSig shouldBe sig0
    // and the merge job itself wrote only sidecars: every base file
    // predates the deletion-vector files it reconciles against
    val dvFiles = new java.io.File(s"$root/dv").listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
    dvFiles should not be empty
    sig0.map(_._3).max should be <= dvFiles.map(_.lastModified).min
    // deferred copy-on-write: the compacted root reads identically with
    // EMPTY sidecars
    val croot = Warehouse.compactMergeOnRead(spark, root)
    all(Warehouse.mergeOnReadScan(spark, croot)) shouldBe mor
    spark.read.parquet(s"$croot/dv").count() shouldBe 0L
    spark.read.parquet(s"$croot/delta").count() shouldBe 0L
    graft.ops.Caches.drain()
  }

  test("scd2 interval sanity: versions nest without overlap, closes " +
      "pair with opens") {
    val changes = Warehouse.cdcChangesFullFrom(graft.Tables(spark, dir,
      "events"))
    val hist = Warehouse.applyCdcScd2(scd2Base, changes)
    val rows = hist.select("key", "vf_us", "vt_us", "action").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    rows.foreach { case (_, vf, vt, _) => vf should be < vt }
    // at most one open version per key; closed-by-update rows abut the
    // version that replaced them (vt == successor vf)
    rows.groupBy(_._1).foreach { case (_, vs) =>
      vs.count(_._3 == Warehouse.Scd2OpenUs) should be <= 1
      val sorted = vs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, vt1, _), (_, vf2, _, _)) => vt1 shouldBe vf2
        case _ =>
      }
    }
    // every opened row was preceded by a close of the same key at the
    // same instant (bootstrap keys) or is a brand-new key
    val byAction = rows.groupBy(_._4)
    byAction("opened").foreach { case (k, vf, _, _) =>
      val closes = byAction.getOrElse("closed", Array.empty)
        .filter(c => c._1 == k && c._3 == vf)
      val isNewKey = !rows.exists(r => r._1 == k && r._4 != "opened")
      (closes.nonEmpty || isNewKey) shouldBe true
    }
    graft.ops.Caches.drain()
  }
}

/** Laws of the signed-delta incremental join-view maintenance
  * (Warehouse.ivmJoinView): the maintained state must equal a
  * from-scratch recompute at ANY cut/retraction parameters (the declared
  * query's DuckDB oracle pins one point; these pin the algebra), and
  * groups whose weight drains to zero must leave the view.
  */
class IvmLawSpec extends AnyFunSuite with Matchers with SparkTest {
  import graft.ops.Warehouse
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq

  test("incremental maintenance equals recompute at shifted cuts and " +
      "retract rates") {
    for ((cut, m) <- Seq(("1997-01-01", 7L), ("1996-07-01", 2L))) {
      val inc = rows(Warehouse.ivmJoinView(spark, dir, cut, m))
      inc should not be empty
      inc shouldBe rows(Warehouse.ivmJoinRecompute(spark, dir, cut, m))
    }
  }

  test("zero-weight groups leave the view: retracting every old order " +
      "at a beyond-the-data cut drains the view to empty") {
    // cut beyond the corpus: no arrivals on either side; retractMod=1
    // cancels EVERY order, so the signed fold must cancel MV0 exactly
    Warehouse.ivmJoinView(spark, dir, "2099-01-01", 1L)
      .count() shouldBe 0L
  }

  private def rows3L(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq

  test("non-invertible MAX: group-scoped recompute equals full " +
      "recompute, including groups whose retracted row held the max") {
    for ((cut, m) <- Seq(("1998-01-01", 13L), ("1997-01-01", 5L))) {
      val inc = rows3L(Warehouse.ivmMinmaxView(spark, dir, cut, m))
      inc should not be empty
      inc shouldBe rows3L(Warehouse.ivmMinmaxRecompute(spark, dir, cut, m))
    }
    // the challenge case genuinely occurs in this corpus: at least one
    // group's max CHANGES when retractions apply — the row a signed
    // fold could never reconstruct from the aggregate alone
    val noRetract = rows3L(Warehouse.ivmMinmaxRecompute(
        spark, dir, "1998-01-01", Long.MaxValue))
      .map(r => r._1 -> r._3).toMap
    val withRetract = rows3L(Warehouse.ivmMinmaxRecompute(
        spark, dir, "1998-01-01", 13L))
      .map(r => r._1 -> r._3).toMap
    withRetract.exists { case (k, mx) =>
      noRetract.get(k).exists(_ != mx) } shouldBe true
  }

  private def rows2L(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("count-distinct via support counts: incremental equals " +
      "recompute at shifted cuts, and both crossing classes occur") {
    for ((cut, m) <- Seq(("1998-01-01", 13L), ("1997-01-01", 5L))) {
      val inc = rows2L(Warehouse.ivmDistinctView(spark, dir, cut, m))
      inc should not be empty
      inc shouldBe rows2L(Warehouse.ivmDistinctRecompute(spark, dir,
        cut, m))
    }
    // the corpus must genuinely exercise BOTH support-crossing classes
    // at the default parameters, or the oracle match would be vacuous:
    // (a) a 1→0 crossing — some supplier LOSES a distinct part to the
    // retraction; (b) a surviving-support retraction — some supplier
    // loses rows but NO distinct parts (multiplicity absorbed it)
    val cut = graft.ops.Cols.ts("1998-01-01")
    val li = graft.Tables(spark, dir, "lineitem")
    val noRe = rows2L(Warehouse.ivmDistinctRecompute(spark, dir,
      "1998-01-01", Long.MaxValue)).toMap
    val withRe = rows2L(Warehouse.ivmDistinctRecompute(spark, dir,
      "1998-01-01", 13L)).toMap
    withRe.exists { case (k, n) =>
      noRe.get(k).exists(_ > n) } shouldBe true
    val retractedSupps = li
      .filter(col("l_shipdate") < cut && col("l_orderkey") % 13 === 0)
      .select("l_suppkey").distinct()
      .collect().map(_.getLong(0)).toSet
    retractedSupps.exists(k =>
      withRe.get(k) == noRe.get(k)) shouldBe true
  }

  test("iterative fold composes: two-batch maintenance equals the " +
      "one-shot recompute at shifted split points") {
    for ((c0, c1, m) <- Seq(("1997-07-01", "1998-01-01", 13L),
        ("1996-01-01", "1997-01-01", 7L))) {
      val fold = rows(Warehouse.ivmJoinFold(spark, dir, c0, c1, m))
      fold should not be empty
      fold shouldBe rows(Warehouse.ivmJoinRecompute(spark, dir, c0, m))
    }
  }

  test("distinct fold composes state AND view: the RESOLVED merge-on-" +
      "read support state equals a from-scratch support recompute, " +
      "the view equals the recompute, at shifted splits, and each " +
      "batch's state write is the delta-bounded sidecar (never a " +
      "base rewrite)") {
    for ((c0, c1, m) <- Seq(("1997-07-01", "1998-01-01", 13L),
        ("1996-01-01", "1997-01-01", 7L))) {
      val (view, st) = Warehouse.ivmDistinctFoldWithState(
        spark, dir, c0, c1, m)
      // snapshot the base's file set BEFORE forcing the fold: the
      // O(delta) claim is that maintenance never writes the base
      def baseFiles() = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(st.base))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(p => p.toString ->
              java.nio.file.Files.getLastModifiedTime(p).toMillis)
            .toMap
        } finally s.close()
      }
      val before = baseFiles()
      val v = rows2L(view)
      v should not be empty
      v shouldBe rows2L(Warehouse.ivmDistinctRecompute(spark, dir,
        c0, m))
      baseFiles() shouldBe before // the base is never rewritten
      st.sidecars should have size 2
      // the STATE law: resolved(base ⊎ sidecars) ≡ from-scratch
      // (supp, part, cnt)
      val cut = graft.ops.Cols.ts(c0)
      val expected = graft.Tables(spark, dir, "lineitem")
        .filter(!(col("l_shipdate") < cut &&
          col("l_orderkey") % m === 0))
        .groupBy("l_suppkey", "l_partkey")
        .agg(count(lit(1)).as("cnt"))
      val got = Warehouse.resolveSupport(spark, st.base, st.sidecars)
        .select("l_suppkey", "l_partkey", "cnt")
      got.count() shouldBe expected.count()
      got.exceptAll(expected).count() shouldBe 0L
      // COMPACTION invisibility: the folded base resolves to the same
      // table with zero sidecars left
      val compacted = Warehouse.compactSupport(spark, st.base,
        st.sidecars, graft.io.Scratch.sub("ivm_law_compact"))
      val gotC = spark.read.parquet(compacted)
        .select("l_suppkey", "l_partkey", "cnt")
      gotC.count() shouldBe expected.count()
      gotC.exceptAll(expected).count() shouldBe 0L
    }
    // cap-forced FALLBACK branch through the MoR step (shuffle semi
    // with the Bloom prefilter on the base — the backfill shape):
    // view parity with the recompute, so a drift between the Bloom's
    // build and probe key expressions (a false-negative source) can't
    // slip through as a silent row drop
    val (viewFb, stFb) = Warehouse.ivmDistinctFoldWithState(
      spark, dir, "1997-07-01", "1998-01-01", 13L,
      maxBroadcastKeys = 0L)
    rows2L(viewFb) shouldBe rows2L(Warehouse.ivmDistinctRecompute(
      spark, dir, "1997-07-01", 13L))
    stFb.sidecars should have size 2
    graft.ops.Caches.drain()
  }

  test("an empty sidecar delta is left out of the support state, which " +
      "still resolves and compacts to the from-scratch support") {
    // a second cut beyond the corpus: no row ships on or after it, so
    // sidecar 2's delta is empty and the partitioned write makes no
    // directory for it
    val (c0, c1, m) = ("1997-07-01", "2099-01-01", 13L)
    val st = Warehouse.ivmDistinctSidecars(spark, dir, c0, c1, m)
    st.sidecars should have size 1
    val cut = graft.ops.Cols.ts(c0)
    val expected = graft.Tables(spark, dir, "lineitem")
      .filter(!(col("l_shipdate") < cut && col("l_orderkey") % m === 0))
      .groupBy("l_suppkey", "l_partkey")
      .agg(count(lit(1)).as("cnt"))
    val got = Warehouse.resolveSupport(spark, st.base, st.sidecars)
      .select("l_suppkey", "l_partkey", "cnt")
    got.count() shouldBe expected.count()
    got.exceptAll(expected).count() shouldBe 0L
    val compacted = spark.read.parquet(Warehouse.compactSupport(spark,
        st.base, st.sidecars, graft.io.Scratch.sub("ivm_law_compact_empty")))
      .select("l_suppkey", "l_partkey", "cnt")
    compacted.count() shouldBe expected.count()
    compacted.exceptAll(expected).count() shouldBe 0L
    graft.ops.Caches.drain()
  }

  test("support compaction rewrites ONLY the buckets a key-local " +
      "delta touches: untouched bucket files carry over byte-" +
      "identical (same inode), touched buckets are new files") {
    import spark.implicits._
    // a standing base over every supplier...
    val basePath = graft.io.Scratch.sub("ivm_bucket_base")
    graft.Tables(spark, dir, "lineitem")
      .groupBy("l_suppkey", "l_partkey")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("b", Warehouse.supportBucket(col("l_suppkey")))
      .write.partitionBy("b").mode("overwrite").parquet(basePath)
    // ...and a delta touching exactly ONE supplier (the production
    // key-local shape: one tenant's daily upsert)
    val oneSupp = graft.Tables(spark, dir, "lineitem")
      .select("l_suppkey").distinct().orderBy("l_suppkey")
      .head().getLong(0)
    val scPath = graft.io.Scratch.sub("ivm_bucket_delta")
    Seq((oneSupp, 999999L, 3L)).toDF("l_suppkey", "l_partkey", "dw")
      .write.mode("overwrite").parquet(scPath)
    val touchedBucket = spark.range(1)
      .select(Warehouse.supportBucket(lit(oneSupp))).head().getInt(0)
    def inventory(root: String): Map[String, (Object, Long)] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map { p =>
            val rel = java.nio.file.Paths.get(root).relativize(p).toString
            val key = java.nio.file.Files.getAttribute(p, "unix:fileKey")
            rel -> (key, java.nio.file.Files.size(p))
          }.toMap
      } finally s.close()
    }
    val before = inventory(basePath)
    val out = graft.io.Scratch.sub("ivm_bucket_out")
    Warehouse.compactSupport(spark, basePath, Seq(scPath), out)
    val after = inventory(out)
    val untouchedBefore = before.filterNot(_._1.startsWith(s"b=$touchedBucket/"))
    val untouchedAfter = after.filterNot(_._1.startsWith(s"b=$touchedBucket/"))
    untouchedBefore should not be empty
    // same relative paths, same inodes (fileKey), same sizes — the
    // carried buckets are the SAME bytes, not rewrites
    untouchedAfter shouldBe untouchedBefore
    // the touched bucket was genuinely rewritten: new inodes
    val touchedAfter = after.filter(_._1.startsWith(s"b=$touchedBucket/"))
    touchedAfter should not be empty
    touchedAfter.values.map(_._1).toSet
      .intersect(before.values.map(_._1).toSet) shouldBe empty
    // and the compacted table carries the upsert
    spark.read.parquet(out)
      .filter(col("l_suppkey") === oneSupp &&
        col("l_partkey") === 999999L)
      .head().getAs[Long]("cnt") shouldBe 3L
    graft.ops.Caches.drain()
  }

  test("sketch IVM: standing-plus-delta register merge reproduces the " +
      "one-shot sketch EXACTLY, and estimates stay within HLL error " +
      "of exact") {
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    val merged = m(Warehouse.ivmSketchView(spark, dir))
    val oneShot = m(Warehouse.ivmSketchRecompute(spark, dir))
    merged should not be empty
    // the merge law is LOSSLESS (registers max-merge), so the
    // estimates must be identical, not merely close
    merged shouldBe oneShot
    val exact = graft.Tables(spark, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    merged.foreach { case (k, (est, _)) =>
      val ex = exact(k).toDouble
      withClue(s"$k: est $est vs exact $ex: ") {
        math.abs(est - ex) / ex should be <= 0.1
      }
    }
    graft.ops.Caches.drain()
  }

  test("degenerate-feed fallback: cap-forced shuffle branches equal " +
      "the broadcast branches row-for-row, broadcast-free") {
    // cap 0 forces every delta-derived build side onto the shuffle
    // path — the backfill case where the "daily" delta is
    // corpus-proportional and a broadcast build would not fit
    val forcedJoin = Warehouse.ivmJoinView(spark, dir,
      maxBroadcastKeys = 0L)
    forcedJoin.queryExecution.executedPlan.toString should not include
      "BroadcastHashJoin"
    rows(forcedJoin) shouldBe rows(Warehouse.ivmJoinView(spark, dir))
    val forcedDc = Warehouse.ivmDistinctView(spark, dir,
      maxBroadcastKeys = 0L)
    forcedDc.queryExecution.executedPlan.toString should not include
      "BroadcastHashJoin"
    rows2L(forcedDc) shouldBe
      rows2L(Warehouse.ivmDistinctView(spark, dir))
  }
}
