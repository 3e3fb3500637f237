package graft.hic

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

import graft.functions.{BinomSf, Param, SplineInterp}
import graft.ops.{Caches, GlobalOrder}

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
  *  - BH q with M = the possible intra-in-range pair count (possible,
  *    NOT observed; [[Fragments.possiblePairsWithChroms]]);
  *  - refinement pass k ≥ 2 re-estimates the null without the previous
  *    pass's q < threshold outliers, then re-scores ALL pairs;
  *  - inter model: uniform prior 1/M_inter, bias-scaled, N = observed
  *    inter contact sum, own BH with M_inter = the possible inter pairs.
  */
final case class FitHiCConfig(
    nBins: Int = 100,
    passes: Int = 1,
    distLow: Long = 0L,
    distUp: Long = Long.MaxValue / 4,
    mappabilityThr: Long = 1L,
    biasLow: Double = 0.5,
    biasUp: Double = 2.0,
    qThreshold: Double = 0.05) {
  // a config is checked when it is built, so no bias work or Spark job
  // can start from a bad one: a zero bin count would put every row in
  // bin 0, and an empty bias clamp would turn every factor into 1.0
  require(nBins >= 1, s"nBins must be >= 1, got $nBins")
  require(passes >= 1, s"passes must be >= 1, got $passes")
  require(distLow <= distUp,
    s"distLow must be <= distUp, got [$distLow, $distUp]")
  require(biasLow <= biasUp,
    s"biasLow must be <= biasUp, got [$biasLow, $biasUp]")
  // a q-value lies in [0, 1]: above 1 every row would be an outlier and
  // the next pass would have no null to fit
  require(qThreshold >= 0.0 && qThreshold <= 1.0,
    s"qThreshold must be in [0, 1], got $qThreshold")
}

object Pipeline {
  private val keys = Seq("chr1", "mid1", "chr2", "mid2")
  private val IntraInRange = "intraInRange"
  private val InterAll = "interAll"

  /** Per-pass null-model diagnostics (A26's data content, sans plot):
    * one row per equal-occupancy bin with its average distance, raw
    * contact probability, and the PAVA-fitted monotone prior.
    */
  final case class PassDiagnostics(pass: Int, binIdx: Int, pairCount: Long,
      sumCount: Long, avgDist: Double, rawProb: Double, splineProb: Double)

  /** The front half the intra and inter models share, built once by
    * [[frontEnd]]: `pairs` is the mapped, classified contact set holding
    * only the classes a model will read, with each end's bias factor
    * (`bias1`, `bias2`; 1.0 for an end without one), laid out in
    * (chr1, mid1, chr2, mid2) order and cached
    * ([[GlobalOrder.sortedLayout]]) — each model traverses it several
    * times, and each pass's scores are a narrow map of it, so a write in
    * that order needs no exchange; `possible` holds BH's M for both
    * models, counted by one query over the mapped loci. `input` is the
    * persisted frame `pairs` is laid out from; only the layout's build
    * reads it, so each model releases it once `pairs` is materialized.
    */
  final case class FrontEnd(cfg: FitHiCConfig, pairs: DataFrame,
      possible: Fragments.PossiblePairs, input: DataFrame)

  /** Build the shared front half for the models asked for (`intra`,
    * `inter`). It is the only place that looks anything up: the contacts
    * are joined to the mappable loci and to the clamped bias factors
    * ([[Contacts.biasFactors]]) once, each through broadcast joins on one
    * packed locus key ([[graft.functions.LocusKey]]). The key's
    * chromosome dictionary comes from the possible-pair pass, which runs
    * first. Every job runs on the caller's thread, so each carries the
    * caller's local properties (job tags, SQL execution id). The keyed
    * factor table is persisted, so a lazy `biases` upstream (a KR solve)
    * runs once for both ends' joins.
    *
    * `endsMappable = true` asserts that every contact end appears in
    * `frags` with hitCount ≥ mappabilityThr — true by construction when
    * the caller derives `frags` as the SAME contact set's marginals and
    * thr ≤ 1 (every locus's hitCount is a sum of ≥ 1 contactCounts).
    * Under the assertion the two mappability semi probes are row-level
    * no-ops, so they are skipped outright. A threshold above 1 makes the
    * assertion unprovable and is rejected before any job starts.
    */
  def frontEnd(frags: DataFrame, contacts: DataFrame,
      biases: Option[DataFrame], cfg: FitHiCConfig,
      endsMappable: Boolean = false, intra: Boolean = true,
      inter: Boolean = true): FrontEnd = {
    require(!endsMappable || cfg.mappabilityThr <= 1,
      "endsMappable asserts every end has hitCount >= mappabilityThr, " +
        "which marginals only guarantee for a threshold <= 1, got " +
        cfg.mappabilityThr)
    // analysed before any job, so a malformed bias table fails first
    val factors = biases.map(Contacts.biasFactors(_, cfg.biasLow, cfg.biasUp))
    // the mapped loci feed the possible-pair query and, unless asserted
    // away, both semi joins: cached once, so the distinct runs once and
    // every reader shares the same scan
    val loci = Fragments.loci(Fragments.mappable(frags, cfg.mappabilityThr))
    val lociCache =
      if (endsMappable) loci else Caches.register(loci.persist())
    val census =
      Fragments.possiblePairsWithChroms(lociCache, cfg.distLow, cfg.distUp)
    val looked =
      if (endsMappable && factors.isEmpty) withUnitBiases(contacts)
      else lookUp(contacts, if (endsMappable) None else Some(lociCache),
        factors, census.chroms)
    val classes = (if (intra) Seq(IntraInRange) else Nil) ++
      (if (inter) Seq(InterAll) else Nil)
    // the layout's range exchange samples its input before shuffling it:
    // a persisted input is read and looked up once, not twice
    val input = Caches.register(
      Contacts.classify(looked, cfg.distLow, cfg.distUp)
        .filter(col("cls").isin(classes: _*)).persist())
    FrontEnd(cfg, GlobalOrder.sortedLayout(input, keys.map(col)),
      census.possible, input)
  }

  /** Drops the front end's persisted input once a job has read every
    * partition of `pairs`, so the layout's cache holds all its blocks.
    * Unpersisting starts no job, and a cache whose blocks are all loaded
    * outlives the cache it was built from.
    */
  private def releaseInput(fe: FrontEnd): Unit = fe.input.unpersist()

  /** `contacts` without the rows with an end outside `loci` (when given)
    * and with each end's bias factor from `factors` (1.0 without one),
    * every table looked up on packed keys over the chromosome names
    * `chroms`.
    */
  private def lookUp(contacts: DataFrame, loci: Option[DataFrame],
      factors: Option[DataFrame], chroms: Seq[String]): DataFrame = {
    val keyed = Contacts.withLocusKeys(contacts, chroms)
    val mapped = loci.fold(keyed)(l =>
      Contacts.bothEndsMappable(keyed, Contacts.keyedByLocus(l, chroms)))
    factors.fold(withUnitBiases(mapped))(f =>
        Contacts.withBiasFactors(mapped,
          Caches.register(Contacts.keyedByLocus(f, chroms).persist())))
      .drop("locus1", "locus2")
  }

  private def withUnitBiases(contacts: DataFrame): DataFrame =
    contacts.withColumn("bias1", lit(1.0)).withColumn("bias2", lit(1.0))

  /** Run the intra-chromosomal pipeline; returns one row per tested pair
    * and pass: chr1, mid1, chr2, mid2, contactCount, p_value, q_value,
    * pass. `diagSink`, when given, receives each pass's ≤ nBins
    * diagnostic rows (driver-side — the bins are already collected for
    * the spline fit, so this adds no Spark job). `endsMappable` as on
    * [[frontEnd]].
    */
  def intraSignificances(frags: DataFrame, contacts: DataFrame,
      biases: Option[DataFrame], cfg: FitHiCConfig,
      diagSink: Option[Seq[PassDiagnostics] => Unit] = None,
      endsMappable: Boolean = false): DataFrame =
    intraSignificancesFrom(frontEnd(frags, contacts, biases, cfg,
      endsMappable, inter = false), diagSink)

  /** The intra model over a built [[FrontEnd]]. */
  def intraSignificancesFrom(fe: FrontEnd,
      diagSink: Option[Seq[PassDiagnostics] => Unit] = None): DataFrame = {
    val cfg = fe.cfg
    // the dist-ranged cache serves binning only: pass 1 bins this layout
    // and every refinement pass a FILTERED view of it.
    // Scoring reads the front end's cache like the inter model does, so
    // both models run one scoring plan
    val rangedPairs = GlobalOrder.sortedLayout(
      fe.pairs.filter(col("cls") === IntraInRange),
      col("dist") +: keys.map(col))
    // N = observedIntraInRangeSum falls out of the pass-1 bin stats
    // (Σ sumCount over bins) — no separate full-table aggregate job
    var n = 0L
    // pass-k null = pairs minus the previous pass's outliers, a narrow
    // filter over the ranged layout, so no pass needs an exchange
    var nullSource = rangedPairs
    var result: DataFrame = null
    for (pass <- 1 to cfg.passes) {
      val bins = Binning.collectBins(nullSource, cfg.nBins, keys,
        assumeRanged = true)
      require(bins.nonEmpty,
        s"pass $pass: no intra-in-range contact mass to bin for the null")
      if (pass == 1) {
        n = bins.map(_.getAs[Long]("sumCount")).sum
        // binning laid out a filter of every partition of fe.pairs
        releaseInput(fe)
      }
      val (xs, raw, fitted) = Spline.fitFromBins(bins, n)
      diagSink.foreach { sink =>
        sink(bins.indices.map(i => PassDiagnostics(pass,
          bins(i).getAs[Int]("binIdx"), bins(i).getAs[Long]("pairCount"),
          bins(i).getAs[Long]("sumCount"), xs(i), raw(i), fitted(i))))
      }
      val bh = score(fe, IntraInRange, xs, fitted, n,
        fe.possible.intraInRange)
      val tagged = bh.scored.withColumn("pass", lit(pass))
      result = if (result == null) tagged else result.unionByName(tagged)
      // the outliers are the rows with q < qThreshold, which are exactly
      // the rows with p <= p*, read off BH's steps: the filter recomputes
      // p with the same columns, so the doubles match, and p* rides a
      // Param, so every refinement pass bins through one class
      if (pass < cfg.passes)
        nullSource = rangedPairs.filter(pValue(xs, fitted, n) >
          GraftColumnBridge.column(
            Param(bh.largestPBelow(cfg.qThreshold))))
    }
    result
  }

  /** Inter-chromosomal model (A21): uniform bias-scaled prior.
    * `endsMappable` as on [[frontEnd]].
    */
  def interSignificances(frags: DataFrame, contacts: DataFrame,
      biases: Option[DataFrame], cfg: FitHiCConfig,
      endsMappable: Boolean = false): DataFrame =
    interSignificancesFrom(frontEnd(frags, contacts, biases, cfg,
      endsMappable, intra = false))

  /** The inter model over a built [[FrontEnd]]. */
  def interSignificancesFrom(fe: FrontEnd): DataFrame = {
    val n = sumCounts(fe.pairs, InterAll)
    releaseInput(fe)
    val m = fe.possible.interAll
    if (n == 0) fe.pairs.filter(col("cls") === InterAll)
      .select((keys.map(col) :+ col("contactCount") :+
        lit(1.0).as("p_value") :+ lit(1.0).as("q_value")): _*)
    // the uniform prior 1/M as a one-knot curve: the lookup returns the
    // knot's value for every distance, so the inter model runs the
    // intra model's scoring plan
    else score(fe, InterAll, Array(0.0), Array(1.0 / m), n, m).scored
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

  /** p-value = P[X ≥ contactCount], X ~ Binom(n, prior), with prior =
    * curve(dist) · bias1 · bias2 and the curve the piecewise-linear
    * lookup through (`xs`, `ys`). Codegen'd (graft.functions.SplineInterp,
    * BinomSf): the lookup and binom_sf stay in ONE whole-stage-codegen
    * span, and the knots are reference objects and N a `Param`, so none
    * of them is baked into the generated code. Inter pairs have no
    * distance; the one-knot curve ignores it.
    */
  private def pValue(xs: Array[Double], ys: Array[Double], n: Long): Column =
    BinomSf.column(col("contactCount"), n,
      SplineInterp.curve(xs, ys)(coalesce(col("dist"), lit(0L))) *
        col("bias1") * col("bias2"))

  /** Score every front-end pair of class `cls` ([[pValue]]) with BH q
    * under M = `m`: keys, contactCount, p_value, q_value. One plan for
    * every pass and both models. BH's input only filters and projects the
    * front end's cache, so its passes re-read that cache rather than
    * persisting a copy, and with BH's steps on the driver the scores stay
    * a projection of the front end's position-ordered layout.
    */
  private def score(fe: FrontEnd, cls: String, xs: Array[Double],
      ys: Array[Double], n: Long, m: Long): Stats.Bh =
    Stats.bhQ(fe.pairs.filter(col("cls") === cls)
        .select((keys.map(col) :+ col("contactCount") :+
          pValue(xs, ys, n).as("p_value")): _*),
      "p_value", keys, "q_value", Some(m))
}
