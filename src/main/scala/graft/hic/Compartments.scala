package graft.hic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B compartment scores: the leading eigenvector of the per-chromosome
  * distance-normalized contact matrix (the classic Hi-C compartment call —
  * PC1 of the O/E matrix; companion analysis to [[Matrix]]'s obs/exp).
  *
  * Algorithm: per chromosome, build the sparse symmetric matrix
  * M(i,j) = O/E(i,j) − 1 over observed pairs (expected = per-(chr, dist)
  * mean, exactly q_hic_obs_exp's table), then find the ALGEBRAIC-largest
  * eigenvector (the PC1 analog) by shifted power iteration in two fixed
  * phases: (1) `estIters` plain iterations whose step NORM converges to
  * the spectral radius even when the iterate itself oscillates (an O/E−1
  * matrix can have a near-±-symmetric extreme pair — plain power
  * iteration then never settles, and a Gershgorin shift is loose enough
  * to crush the eigengap); (2) the remaining iterations on M + cI with
  * c = 1.1 × that estimate — PSD by construction, so the iteration
  * converges to λmax(M)'s eigenvector at the TIGHT gap
  * (λ₂+c)/(λmax+c). Fixed counts for both phases, canonical edge order,
  * and a deterministic sign convention (first nonzero score ≥ 0) make
  * the in-task output bit-reproducible under any partitioning.
  *
  * Each chromosome is solved independently: [[ChrSolver]] routes it to
  * the in-task kernel ([[eigenvector]]) or to the distributed
  * per-iteration matvec path ([[solveDistributed]]).
  */
object Compartments {
  /** Phase-1 length: plain iterations used only to estimate the spectral
    * radius (the shift base). The estimate approaches |λ|max from below;
    * the 1.1 margin keeps M + cI PSD anyway.
    */
  val EstIters = 15

  /** The O/E−1 symmetric edge list — the distributed leg both solve paths
    * consume (and the leg q_hic_compartments_matvec hash-pins in DuckDB):
    * [[Matrix.withExpected]]'s broadcast expected table, each undirected
    * pair both ways, the diagonal once.
    */
  def edgeList(contacts: DataFrame): DataFrame =
    ChrSolver.symmetric(Matrix.withExpected(contacts)
      .select(col("chr"), col("mid1"), col("mid2"),
        (Matrix.obsExp - lit(1.0)).as("w")))

  /** contacts: (chr, mid1, mid2, dist, contactCount) — the intra contacts
    * view. Returns (chr, bin, score): one row per bin appearing in the
    * input, scores L2-normalized per chromosome.
    */
  def scores(contacts: DataFrame, iterations: Int = 100): DataFrame = {
    require(iterations > EstIters,
      s"iterations must exceed the $EstIters estimation iterations")
    // routing counts the raw pairs: the O/E join preserves cardinality
    ChrSolver.solve(contacts, edgeList(contacts), "bin", "score")(
      eigenvector(_, iterations))(solveDistributed(_, iterations))
  }

  /** The in-task solve: both power-iteration phases on one chromosome's
    * primitive arrays.
    */
  private def eigenvector(e: ChrSolver.Edges,
      iters: Int): Array[Double] = {
    val ChrSolver.Edges(mids, ia, ja, wa) = e
    val n = mids.length
    val ne = ia.length
    val u = new Array[Double](n)
    // one matvec step (+ shift·v when c > 0); returns ||u|| and writes the
    // normalized iterate back into v unless the norm is 0
    def step(v: Array[Double], c: Double): Double = {
      java.util.Arrays.fill(u, 0.0)
      var k = 0
      while (k < ne) { u(ia(k)) += wa(k) * v(ja(k)); k += 1 }
      var nrm2 = 0.0
      var i = 0
      while (i < n) {
        if (c > 0.0) u(i) += c * v(i)
        nrm2 += u(i) * u(i)
        i += 1
      }
      val nrm = math.sqrt(nrm2)
      if (nrm > 0.0) {
        i = 0
        while (i < n) { v(i) = u(i) / nrm; i += 1 }
      }
      nrm
    }
    // phase 1: plain iterations — the step norm estimates the spectral
    // radius even when the iterate oscillates between a ±λ pair
    var v = Array.fill(n)(1.0 / math.sqrt(n.toDouble))
    var est = 0.0
    var iter = 0
    var live = true
    while (iter < EstIters && live) {
      est = step(v, 0.0)
      if (est == 0.0) live = false // M annihilated v: all-zero matrix
      iter += 1
    }
    // phase 2: shifted iterations from a fresh start — M + cI is PSD, so
    // the iterate converges to the algebraic-largest eigenvector
    if (live) {
      val c = 1.1 * est
      v = Array.fill(n)(1.0 / math.sqrt(n.toDouble))
      iter = EstIters
      while (iter < iters && live) {
        if (step(v, c) == 0.0) live = false
        iter += 1
      }
    }
    // sign convention: score at the smallest bin with a nonzero score ≥ 0
    var p = 0
    while (p < n && v(p) == 0.0) p += 1
    if (p < n && v(p) < 0.0) v.map(x => -x) else v
  }

  /** Large-chromosome path: per-iteration matvec joins. The edge list is
    * pre-partitioned on the join key so each of the fixed iterations
    * shuffles only the O(bins) vector. Float partial-merge order makes
    * this path non-bit-deterministic across partitionings (like
    * [[Kr.solveDistributed]]'s rowsums) — it only engages past the 2M-edge
    * routing cap, where the in-task path would not fit a task anyway.
    */
  private def solveDistributed(edges: DataFrame, iters: Int): DataFrame = {
    val keyed = ChrSolver.byJ(edges)
    val bins = graft.ops.Caches.register(
      keyed.select("chr", "i").distinct().persist())
    val n0 = bins.groupBy("chr").count()
    val v0 = bins.join(broadcast(n0), "chr")
      .select(col("chr"), col("i"),
        (lit(1.0) / sqrt(col("count").cast("double"))).as("s"))
    // one normalized (M + cI)·v step; shifts is the per-chr c table
    // (empty in phase 1 → coalesce to 0). Only the O(bins) vector
    // shuffles — the edge list's (chr, j) layout satisfies the join.
    def step(shifts: DataFrame)(prev: DataFrame): DataFrame = {
      val v = prev.select("chr", "i", "s")
      val u = keyed
        .join(v.select(col("chr"), col("i").as("j"), col("s").as("sj")),
          Seq("chr", "j"))
        .groupBy("chr", "i")
        .agg(sum(col("w") * col("sj")).as("mv"))
        .join(v, Seq("chr", "i"))
        .join(broadcast(shifts), Seq("chr"), "left")
        .select(col("chr"), col("i"), col("s"),
          (col("mv") + coalesce(col("c"), lit(0.0)) * col("s")).as("u"))
      val norms = u.groupBy("chr")
        .agg(sqrt(sum(col("u") * col("u"))).as("nrm"))
      u.join(broadcast(norms), "chr")
        .select(col("chr"), col("i"),
          when(col("nrm") > 0.0, col("u") / col("nrm"))
            // M annihilated v: keep the iterate (in-task kernel parity)
            .otherwise(col("s")).as("s"), col("nrm"))
    }
    val spark = edges.sparkSession
    import spark.implicits._
    // phase 1: plain iterations — keep only the final step norms (the
    // per-chr spectral-radius estimates)
    val noShift = Seq.empty[(String, Double)].toDF("chr", "c")
    val shifts = ChrSolver.iterate(v0, EstIters, "compartments_est")(
        step(noShift))
      .groupBy("chr")
      .agg((max(col("nrm")) * 1.1).as("c")) // nrm constant within a chr
    // phase 2: shifted iterations from a fresh start
    val vOut = ChrSolver.iterate(v0, iters - EstIters, "compartments_v")(
      step(shifts))
    // sign convention: flip each chromosome so its smallest nonzero-score
    // bin is positive
    val w = org.apache.spark.sql.expressions.Window.partitionBy("chr")
      .orderBy(col("i"))
    val signs = vOut.filter(col("s") =!= 0.0)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("chr"), signum(col("s")).as("sgn"))
    vOut.join(broadcast(signs), Seq("chr"), "left")
      .select(col("chr"), col("i").as("bin"),
        (col("s") * coalesce(col("sgn"), lit(1.0))).as("score"))
  }
}
