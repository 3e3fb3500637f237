package graft.hic

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

import graft.functions.{BinomSf, SplineInterp}
import graft.ops.Caches

/** The full Fit-Hi-C significance pipeline (SURVEY.md §3.1 Entry 1,
  * A13–A21), recomposed from the operator library as pure
  * DataFrame → DataFrame stages.
  *
  * Statistical contract (published algorithm, Ay/Bailey/Noble 2014;
  * Kaul/Bhattacharyya/Ay 2020):
  *  - null: equal-occupancy bins over intra-in-range contacts by distance;
  *    per-bin mean contact probability, isotonized non-increasing;
  *  - per-pair prior p = curve(dist) · bias1 · bias2;
  *  - p-value = P[X ≥ count], X ~ Binom(N = observedIntraInRangeSum, p);
  *  - BH q with M = possibleIntraInRangeCount (possible, NOT observed);
  *  - refinement pass k ≥ 2 re-estimates the null without the previous
  *    pass's q < threshold outliers, then re-scores ALL pairs;
  *  - inter model: uniform prior 1/possibleInterAllCount, bias-scaled,
  *    N = observedInterAllSum, own BH with M = possibleInterAllCount.
  */
final case class FitHiCConfig(
    nBins: Int = 100,
    passes: Int = 1,
    distLow: Long = 0L,
    distUp: Long = Long.MaxValue / 4,
    mappabilityThr: Long = 1L,
    biasLow: Double = 0.5,
    biasUp: Double = 2.0,
    qThreshold: Double = 0.05)

object Pipeline {
  private val keys = Seq("chr1", "mid1", "chr2", "mid2")
  private val IntraInRange = "intraInRange"
  private val InterAll = "interAll"

  /** Run `body`; if it throws while a concurrently-launched action is
    * still in flight, wait for that action to settle (success or failure)
    * before rethrowing — otherwise the detached job keeps running while
    * the caller's Caches.drain() unpersists its inputs, and its own
    * failure is silently dropped.
    */
  private def settleOnFailure[A](futs: Future[_]*)(body: => A): A =
    try body
    catch {
      case t: Throwable =>
        futs.foreach(fut => scala.util.Try(Await.ready(fut, Duration.Inf)))
        throw t
    }

  /** Per-pass null-model diagnostics (A26's data content, sans plot):
    * one row per equal-occupancy bin with its average distance, raw
    * contact probability, and the PAVA-fitted monotone prior.
    */
  final case class PassDiagnostics(pass: Int, binIdx: Int, pairCount: Long,
      sumCount: Long, avgDist: Double, rawProb: Double, splineProb: Double)

  /** The front half the intra and inter models share, built once by
    * [[frontEnd]]: `pairs` is the mapped, classified contact set holding
    * only the classes a model will read (cached — each model traverses
    * it several times); `possible` is BH's M for both models from one
    * query over the mapped loci; `biases` is the clamped bias-factor
    * table ([[Contacts.biasFactors]]), constructed and cached once. Both
    * futures run while the caller bins.
    */
  final case class FrontEnd(cfg: FitHiCConfig, pairs: DataFrame,
      possible: Future[Fragments.PossiblePairs],
      biases: Future[Option[DataFrame]])

  /** Build the shared front half for the models asked for (`intra`,
    * `inter`).
    *
    * `mkBiases` is a THUNK: bias construction that runs eager driver
    * work (the KR solve's routing count) executes on a background
    * thread, overlapping the possible-pair query and pass-1 binning
    * instead of serializing in front of the whole pipeline. The table is
    * persisted: a lazy upstream (a KR solve) must run once, not once per
    * scoring plan.
    *
    * `endsMappable = true` asserts that every contact end appears in
    * `frags` with hitCount ≥ mappabilityThr — true by construction when
    * the caller derives `frags` as the SAME contact set's marginals and
    * thr ≤ 1 (every locus's hitCount is a sum of ≥ 1 contactCounts).
    * Under the assertion the two mappability semi probes are row-level
    * no-ops, so they are skipped outright. A threshold above 1 makes the
    * assertion unprovable and is rejected.
    *
    * Every check runs before the first future starts, and a failure
    * while the rest is built settles both futures before it unwinds.
    */
  def frontEnd(frags: DataFrame, contacts: DataFrame,
      mkBiases: Option[() => DataFrame], cfg: FitHiCConfig,
      endsMappable: Boolean = false, intra: Boolean = true,
      inter: Boolean = true): FrontEnd = {
    require(!endsMappable || cfg.mappabilityThr <= 1,
      "endsMappable asserts every end has hitCount >= mappabilityThr, " +
        "which marginals only guarantee for a threshold <= 1, got " +
        cfg.mappabilityThr)
    require(!intra || cfg.passes >= 1,
      s"passes must be >= 1, got ${cfg.passes}")
    // the mapped loci feed the possible-pair query and, unless asserted
    // away, both semi joins: cached once, so the distinct runs once and
    // every reader shares the same scan
    val loci = Fragments.loci(Fragments.mappable(frags, cfg.mappabilityThr))
    val lociCache =
      if (endsMappable) loci else Caches.register(loci.persist())
    // (1) BH's M for both models: an independent lineage, launched first
    // so its job runs CONCURRENTLY with the bias solve and the binning
    // jobs
    val possible = Future(
      Fragments.possiblePairsOfLoci(lociCache, cfg.distLow, cfg.distUp))
    // (2) bias construction on a background thread: binning reads only
    // dist/count/keys, so pass-1 binning runs while a KR solve does — the
    // table is awaited only at scoring
    val biases = mkBiases match {
      case Some(mk) => Future(Some(Caches.register(Contacts.biasFactors(
        mk(), cfg.biasLow, cfg.biasUp).persist())))
      case None => Future.successful(None)
    }
    val pairs = settleOnFailure(possible, biases) {
      val filtered =
        if (endsMappable) contacts
        else Contacts.bothEndsMappable(contacts, lociCache)
      val classes = (if (intra) Seq(IntraInRange) else Nil) ++
        (if (inter) Seq(InterAll) else Nil)
      Caches.register(
        Contacts.classify(filtered, cfg.distLow, cfg.distUp)
          .filter(col("cls").isin(classes: _*))
          .persist())
    }
    FrontEnd(cfg, pairs, possible, biases)
  }

  /** Run the intra-chromosomal pipeline; returns one row per tested pair
    * and pass: chr1, mid1, chr2, mid2, contactCount, p_value, q_value,
    * pass. `diagSink`, when given, receives each pass's ≤ nBins
    * diagnostic rows (driver-side — the bins are already collected for
    * the spline fit, so this adds no Spark job).
    */
  def intraSignificances(frags: DataFrame, contacts: DataFrame,
      biases: Option[DataFrame], cfg: FitHiCConfig,
      diagSink: Option[Seq[PassDiagnostics] => Unit] = None,
      endsMappable: Boolean = false): DataFrame =
    intraSignificancesWith(frags, contacts, biases.map(b => () => b), cfg,
      diagSink, endsMappable)

  /** As [[intraSignificances]], taking the bias table as a THUNK (see
    * [[frontEnd]]); `endsMappable` as on [[frontEnd]].
    */
  def intraSignificancesWith(frags: DataFrame, contacts: DataFrame,
      mkBiases: Option[() => DataFrame], cfg: FitHiCConfig,
      diagSink: Option[Seq[PassDiagnostics] => Unit] = None,
      endsMappable: Boolean = false): DataFrame =
    intraSignificancesFrom(frontEnd(frags, contacts, mkBiases, cfg,
      endsMappable, inter = false), diagSink)

  /** The intra model over a built [[FrontEnd]]. Any failure settles the
    * front end's futures before it unwinds.
    */
  def intraSignificancesFrom(fe: FrontEnd,
      diagSink: Option[Seq[PassDiagnostics] => Unit] = None): DataFrame =
    settleOnFailure(fe.possible, fe.biases)(intraModel(fe, diagSink))

  private def intraModel(fe: FrontEnd,
      diagSink: Option[Seq[PassDiagnostics] => Unit]): DataFrame = {
    val cfg = fe.cfg
    // the dist-ranged cache serves binning only: every pass's
    // equal-occupancy binning re-bins a FILTERED view of this layout.
    // Scoring reads the front end's cache like the inter model does (bhQ
    // re-partitions on p_value regardless), so both models run one
    // scoring plan
    val src = fe.pairs.filter(col("cls") === IntraInRange)
    val distOrder = col("dist") +: keys.map(col)
    val rangedPairs = Caches.register(src
      .repartitionByRange(
        src.sparkSession.sessionState.conf.numShufflePartitions,
        distOrder: _*)
      .sortWithinPartitions(distOrder: _*)
      .persist())
    // N = observedIntraInRangeSum falls out of the pass-1 bin stats
    // (Σ sumCount over bins) — no separate full-table aggregate job
    var n = 0L
    var m = -1L
    // pass-k null = pairs minus the previous pass's outliers
    var drop = rangedPairs.sparkSession.sparkContext.broadcast(NoKeys)
    var nullSource = without(rangedPairs, drop)
    var layoutPreserved = true
    var result: DataFrame = null
    for (pass <- 1 to cfg.passes) {
      val bins = Binning.collectBins(nullSource, cfg.nBins, keys,
        assumeRanged = layoutPreserved)
      drop.unpersist() // read only by the binning jobs just run
      if (pass == 1) {
        n = bins.map(_.getAs[Long]("sumCount")).sum
        m = Await.result(fe.possible, Duration.Inf).intraInRange
      }
      require(n > 0, "no intra-in-range contacts after filtering")
      val (xs, raw, fitted) = Spline.fitFromBins(bins, n)
      diagSink.foreach { sink =>
        sink(bins.indices.map(i => PassDiagnostics(pass,
          bins(i).getAs[Int]("binIdx"), bins(i).getAs[Long]("pairCount"),
          bins(i).getAs[Long]("sumCount"), xs(i), raw(i), fitted(i))))
      }
      val scored = score(fe, IntraInRange, xs, fitted, n, m)
        .withColumn("pass", lit(pass))
      result = if (result == null) scored else result.unionByName(scored)
      if (pass < cfg.passes) {
        val outliers = scored.filter(col("q_value") < cfg.qThreshold)
          .select(keys.map(col): _*)
        // a refinement outlier set is normally a tiny fraction of the
        // pairs: its keys come to the driver and are broadcast, and the
        // next pass filters them out in a narrow pass, so the
        // dist-ranged layout survives and the next pass skips the
        // exchange. Above the cap, fall back to the scale-safe shuffle
        // anti-join + re-range.
        val keysOut = outliers.limit(OutlierCap + 1).collect()
        if (keysOut.length <= OutlierCap) {
          drop = rangedPairs.sparkSession.sparkContext
            .broadcast(keySet(keysOut))
          nullSource = without(rangedPairs, drop)
          layoutPreserved = true
        } else {
          nullSource = rangedPairs.join(outliers, keys, "left_anti")
          layoutPreserved = false
        }
      }
    }
    result
  }

  private type Key = (String, Long, String, Long)
  private val NoKeys: Set[Key] = Set.empty

  /** Outlier keys the driver holds at once: the collected `Row`s and the
    * set built from them take ~320 bytes a key on the driver (measured
    * 323 MB at 1M keys, 78 MB at 250k; the set alone ~110 bytes a key),
    * so ~32 MB at the cap.
    */
  private val OutlierCap = 100000

  /** The keys of `rows` (chr1, mid1, chr2, mid2), each chromosome name
    * held once.
    */
  private def keySet(rows: Array[org.apache.spark.sql.Row]): Set[Key] = {
    val names = scala.collection.mutable.HashMap.empty[String, String]
    def name(s: String): String = names.getOrElseUpdate(s, s)
    rows.iterator.map(r => (name(r.getString(0)), r.getLong(1),
      name(r.getString(2)), r.getLong(3))).toSet
  }

  /** `pairs` without the rows whose keys are in `drop`: a narrow filter
    * whose generated code does not depend on the set (the predicate
    * captures only the broadcast handle), so every pass bins through one
    * class, the empty set of pass 1 included.
    */
  private def without(pairs: DataFrame,
      drop: org.apache.spark.broadcast.Broadcast[Set[Key]]): DataFrame = {
    val keep = udf((c1: String, m1: Long, c2: String, m2: Long) =>
      !drop.value.contains((c1, m1, c2, m2)))
    pairs.filter(keep(keys.map(col): _*))
  }

  /** Inter-chromosomal model (A21): uniform bias-scaled prior.
    * `endsMappable` as on [[frontEnd]].
    */
  def interSignificances(frags: DataFrame, contacts: DataFrame,
      biases: Option[DataFrame], cfg: FitHiCConfig,
      endsMappable: Boolean = false): DataFrame =
    interSignificancesFrom(frontEnd(frags, contacts, biases.map(b => () => b),
      cfg, endsMappable, intra = false))

  /** The inter model over a built [[FrontEnd]]. Any failure settles the
    * front end's futures before it unwinds, and a failing bias table
    * surfaces even when there is nothing to score.
    */
  def interSignificancesFrom(fe: FrontEnd): DataFrame =
    settleOnFailure(fe.possible, fe.biases) {
      // N and M are independent lineages — M's query is already running
      val n = sumCounts(fe.pairs, InterAll)
      val m = Await.result(fe.possible, Duration.Inf).interAll
      // awaited here, so a failed bias table surfaces on both branches
      Await.result(fe.biases, Duration.Inf)
      if (n == 0) fe.pairs.filter(col("cls") === InterAll)
        .select((keys.map(col) :+ col("contactCount") :+
          lit(1.0).as("p_value") :+ lit(1.0).as("q_value")): _*)
      // the uniform prior 1/M as a one-knot curve: the lookup returns the
      // knot's value for every distance, so the inter model runs the
      // intra model's scoring plan
      else score(fe, InterAll, Array(0.0), Array(1.0 / m), n, m)
    }

  /** Σ contactCount over the rows of class `cls`: one narrow pass over the
    * cached front end's rows, with no aggregate plan to generate.
    */
  private def sumCounts(pairs: DataFrame, cls: String): Long = {
    val clsIdx = pairs.schema.fieldIndex("cls")
    val countIdx = pairs.schema.fieldIndex("contactCount")
    val want = org.apache.spark.unsafe.types.UTF8String.fromString(cls)
    GraftColumnBridge.collectRows(pairs)(_.mapPartitions { it =>
      var s = 0L
      it.foreach { r =>
        if (r.getUTF8String(clsIdx) == want) s += r.getLong(countIdx)
      }
      Iterator.single(s)
    }).sum
  }

  /** Score every front-end pair of class `cls`: prior = curve(dist) ·
    * bias1 · bias2 with the curve the piecewise-linear lookup through
    * (`xs`, `ys`); p-value = P[X ≥ contactCount], X ~ Binom(n, prior);
    * BH q with M = `m`. One plan for every pass and both models: the
    * class and the knots are reference objects and N is a `Param`, so
    * none of them is baked into the generated code.
    */
  private def score(fe: FrontEnd, cls: String, xs: Array[Double],
      ys: Array[Double], n: Long, m: Long): DataFrame = {
    val pairs = fe.pairs.filter(col("cls") === cls)
    val biased = Await.result(fe.biases, Duration.Inf) match {
      case Some(f) => Contacts.withBiasFactors(pairs, f)
      case None => pairs.withColumn("bias1", lit(1.0))
        .withColumn("bias2", lit(1.0))
    }
    // codegen'd curve lookup (graft.functions.SplineInterp): the prior
    // interpolation + binom_sf stay in ONE whole-stage-codegen span — no
    // UDF dispatch in the corpus-sized scoring pass. Inter pairs have no
    // distance; the one-knot curve ignores it
    val prior = SplineInterp.curve(xs, ys)(coalesce(col("dist"), lit(0L))) *
      col("bias1") * col("bias2")
    Stats.bhQ(biased.withColumn("prior", prior)
        .withColumn("p_value",
          BinomSf.column(col("contactCount"), n, col("prior"))),
      "p_value", keys, "q_value", Some(m), persistInput = false)
      .select((keys.map(col) :+ col("contactCount") :+ col("p_value") :+
        col("q_value")): _*)
  }
}
